package graft.learner

import org.apache.spark.rdd.RDD

/**
 * Distributed evaluation metrics — analog of the reference's eval-metric
 * aggregation (xgboost computes metrics with a weighted allreduce; the
 * driver reads rank-0's result, reference: xgboost_ray/main.py:704-708,
 * 745-752, 1323-1328). Here all (loss, weight) metrics of one eval set
 * share one job: each task returns its partition's partial sums and the
 * driver adds them up, the same partial+final shape as the allreduce.
 *
 * AUC is computed from a fixed 4096-bucket score histogram (rank-sum
 * formula over buckets) — single pass, deterministic, no global sort;
 * exact when scores land in distinct buckets, else a tight approximation.
 * Custom metrics: pass a function (margin, label, weight) → (loss, w).
 */
object Metrics {

  /** Deterministic (loss, weight) pair-sum. `treeReduce` merges
    * partition partials in task-COMPLETION order, so repeated runs of
    * the same plan can differ in the last ulp — enough to flake golden
    * metric-history comparisons and, pathologically, flip an
    * early-stopping tie. Per-partition partials are already
    * deterministic (sequential in-partition fold); summing them on the
    * driver in PARTITION-INDEX order makes the whole metric
    * bit-reproducible. The collect is two doubles per partition —
    * O(partitions) bytes, smaller than treeReduce's own driver
    * traffic. */
  private implicit final class DetSum(private val rdd: RDD[(Double, Double)]) {
    def detSum2: (Double, Double) = {
      val parts = rdd.mapPartitionsWithIndex({ (i, it) =>
        var a = 0.0; var b = 0.0
        while (it.hasNext) { val p = it.next(); a += p._1; b += p._2 }
        Iterator.single((i, a, b))
      }, preservesPartitioning = true).collect()
      java.util.Arrays.sort(parts, Ordering.by((t: (Int, Double, Double)) => t._1))
      var a = 0.0; var b = 0.0
      var i = 0
      while (i < parts.length) { a += parts(i)._2; b += parts(i)._3; i += 1 }
      (a, b)
    }
  }

  /** One (loss, weight) metric's per-row term: adds the row's weighted
    * loss at `acc(at)` and its weight at `acc(at + 1)`. `m` is the row's
    * raw margins, `p` its transformed prediction (null when no term of
    * the pass reads it). */
  private[learner] abstract class RowTerm extends Serializable {
    def add(m: Array[Float], p: Array[Float], y: Float, wt: Float,
        acc: Array[Double], at: Int): Unit
  }

  /** A built-in term: `loss` is the row's weighted loss, the row weight
    * its weight. */
  private abstract class Weighted extends RowTerm {
    def loss(m: Array[Float], p: Array[Float], y: Float, wt: Float): Double
    final def add(m: Array[Float], p: Array[Float], y: Float, wt: Float,
        acc: Array[Double], at: Int): Unit = {
      acc(at) += loss(m, p, y, wt); acc(at + 1) += wt.toDouble
    }
  }

  /** A (loss, weight) metric: its row term, whether the term reads the
    * transformed prediction, and the finisher of (Σ loss, Σ weight). */
  private final class Pointwise(val term: RowTerm, val readsPred: Boolean,
      val finish: (Double, Double) => Double)

  private def mean(term: Weighted, readsPred: Boolean = true): Pointwise =
    new Pointwise(term, readsPred, _ / _)

  private def rootMean(term: Weighted): Pointwise =
    new Pointwise(term, true, (se, w) => math.sqrt(se / w))

  /** Metrics computed from the whole eval set at once, each its own job:
    * the bucketed-histogram AUCs and Cox's partial likelihood. */
  private val WholeSet = Set("auc", "aucpr", "cox-nloglik")

  /** The (loss, weight) metric `name`, or None for a [[WholeSet]] one.
    * Custom metrics (E7) win over built-in names. */
  private def pointwise(name: String, obj: Objective,
      custom: Map[String, CustomMetric]): Option[Pointwise] =
    custom.get(name) match {
      case Some(cm) =>
        val fn = cm.fn
        Some(new Pointwise(new RowTerm {
          def add(m: Array[Float], p: Array[Float], y: Float, wt: Float,
              acc: Array[Double], at: Int): Unit = {
            val (loss, w) = fn(m, y, wt)
            acc(at) += loss; acc(at + 1) += w
          }
        }, false, _ / _))
      case None if WholeSet(name) => None
      case None => Some(builtin(name, obj))
    }

  /** The table of built-in (loss, weight) metrics. */
  private def builtin(name: String, obj: Objective): Pointwise = name match {
    case "rmse" =>
      rootMean((_, p, y, wt) => { val d = p(0) - y; d.toDouble * d * wt })
    case "mae" =>
      mean((_, p, y, wt) => math.abs(p(0) - y).toDouble * wt)
    case "logloss" =>
      mean((_, pr, y, wt) => {
        val p = clamp(pr(0))
        -(y * math.log(p) + (1 - y) * math.log(1 - p)) * wt
      })
    case "mlogloss" =>
      // softmax over RAW margins — obj.transform would argmax to a
      // length-1 array under multi:softmax (advisor r1: AIOOBE)
      mean((m, _, y, wt) => {
        var mx = Float.NegativeInfinity
        var i = 0
        while (i < m.length) { if (m(i) > mx) mx = m(i); i += 1 }
        var s = 0.0
        val e = new Array[Double](m.length)
        i = 0
        while (i < m.length) { e(i) = math.exp(m(i) - mx); s += e(i); i += 1 }
        val p = math.min(math.max(e(y.toInt) / s, 1e-15), 1.0 - 1e-15)
        -math.log(p) * wt
      }, readsPred = false)
    case "error" => // binary misclassification at p=0.5
      mean((_, p, y, wt) =>
        if ((if (p(0) > 0.5f) 1f else 0f) != y) wt.toDouble else 0.0)
    case t if t.startsWith("error@") => // binary error at threshold t
      // (xgboost error@t: classify positive when prediction > t)
      val th = t.stripPrefix("error@").toDouble
      mean((_, p, y, wt) =>
        if ((if (p(0) > th) 1f else 0f) != y) wt.toDouble else 0.0)
    case "gamma-deviance" => // 2·mean(ln(p/y) + y/p − 1), xgboost's
      // epsilon-guarded form (labels and predictions floored at 1e-16)
      val deviance: Weighted = (_, pr, y, wt) => {
        val p = pr(0).toDouble + 1e-16
        val yy = y.toDouble + 1e-16
        (math.log(p / yy) + yy / p - 1.0) * wt
      }
      new Pointwise(deviance, true, (d, w) => 2.0 * d / w)
    case "merror" => // multiclass: argmax != label
      mean((_, p, y, wt) => {
        var best = 0; var i = 1
        while (i < p.length) { if (p(i) > p(best)) best = i; i += 1 }
        // softmax objective already argmaxes to length-1
        val cls = if (p.length == 1) p(0) else best.toFloat
        if (cls != y) wt.toDouble else 0.0
      })
    case "rmsle" => // √(Σw·(ln1p(ŷ)−ln1p(y))²/Σw); preds below −1
      // floor just above it (xgboost validates labels ≥ −1 but lets an
      // unbounded regressor's prediction produce NaN — floor instead)
      rootMean((_, pr, y, wt) => {
        require(y >= -1f, s"rmsle needs labels >= -1, got $y")
        val p = math.max(pr(0).toDouble, -1.0 + 1e-15)
        val d = math.log1p(p) - math.log1p(y.toDouble)
        d * d * wt
      })
    case "mape" => // mean absolute percentage error (zero-safe floor)
      mean((_, p, y, wt) => {
        val d = math.abs(p(0) - y).toDouble /
          math.max(math.abs(y.toDouble), 1e-10)
        d * wt
      })
    case "poisson-nloglik" => // lnΓ(y+1) + p − y·ln p (p = predicted rate)
      mean((_, pr, y, wt) => {
        val p = math.max(pr(0).toDouble, 1e-16)
        (org.apache.commons.math3.special.Gamma.logGamma(y + 1.0)
          + p - math.log(p) * y) * wt
      })
    case "gamma-nloglik" => // unit-shape gamma NLL: y/p + ln p
      mean((_, pr, y, wt) => {
        val p = math.max(pr(0).toDouble, 1e-16)
        (y / p + math.log(p)) * wt
      })
    case t if t.startsWith("tweedie-nloglik") =>
      // −y·p^{1−ρ}/(1−ρ) + p^{2−ρ}/(2−ρ); ρ from "tweedie-nloglik@1.5"
      val rho = t.split('@') match {
        case Array(_, r) => r.toDouble
        case _ => 1.5
      }
      require(rho > 1.0 && rho < 2.0, s"tweedie power out of (1,2): $rho")
      mean((_, pr, y, wt) => {
        val p = math.max(pr(0).toDouble, 1e-16)
        val a = y * math.exp((1.0 - rho) * math.log(p)) / (1.0 - rho)
        val b = math.exp((2.0 - rho) * math.log(p)) / (2.0 - rho)
        (-a + b) * wt
      })
    case t if t.startsWith("mphe") =>
      // mean pseudo-Huber error δ²(√(1+(z/δ)²) − 1); δ from "mphe@0.5"
      val d = t.split('@') match {
        case Array(_, s) => s.toDouble
        case _ => 1.0
      }
      require(d > 0, s"mphe slope must be positive: $d")
      mean((_, p, y, wt) => {
        val z = (p(0) - y).toDouble
        d * d * (math.sqrt(1.0 + (z / d) * (z / d)) - 1.0) * wt
      })
    case t if t.startsWith("quantile") =>
      // mean pinball loss: α·(y−p)⁺ + (1−α)·(p−y)⁺; α from "quantile@0.9".
      // VECTOR form "quantile@0.1,0.9" (xgboost 2.x quantile_alpha list):
      // output slot c scores against its own α_c, averaged across slots
      // — the multi-quantile training loss, so early stopping / cv / grid
      // search optimize what the booster actually fits
      val alphas: Array[Double] = t.split('@') match {
        case Array(_, a) => a.split(',').map(_.toDouble)
        case _ => Array(0.5)
      }
      require(alphas.forall(a => a > 0 && a < 1),
        s"quantile alpha out of (0,1): ${alphas.mkString(",")}")
      // strict arity: slot c of the prediction vector scores against
      // α_c, so a mismatched list would silently pair the wrong α with
      // a slot (or drop slots). Fail loudly instead.
      require(alphas.length == math.max(obj.numOutputs, 1),
        s"metric '$t' carries ${alphas.length} alpha(s) but the " +
          s"objective ${obj.name} produces " +
          s"${math.max(obj.numOutputs, 1)} output(s) — list one alpha " +
          "per output, in output order")
      mean((_, p, y, wt) => {
        var pin = 0.0
        var c = 0
        val k = math.min(alphas.length, p.length)
        while (c < k) {
          val err = (y - p(c)).toDouble
          pin += (if (err >= 0) alphas(c) * err else (alphas(c) - 1.0) * err)
          c += 1
        }
        pin / k * wt
      })
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** rows: (raw margins, label, weight). One metric of [[computeAll]]. */
  def compute(name: String, obj: Objective,
      rows: RDD[(Array[Float], Float, Float)],
      custom: Map[String, CustomMetric] = Map.empty): Double =
    computeAll(Seq(name), obj, rows, custom).head

  /** The value of each metric of `names` over one eval set's rows, in
    * `names` order. Every (loss, weight) metric accumulates in ONE job:
    * each task sums each metric's row terms in row order, and the driver
    * sums the partition partials in partition-index order, so the values
    * are bit-reproducible whatever order the tasks finish in. Each
    * [[WholeSet]] metric runs a job of its own. */
  def computeAll(names: Seq[String], obj: Objective,
      rows: RDD[(Array[Float], Float, Float)],
      custom: Map[String, CustomMetric] = Map.empty): Seq[Double] = {
    val plan = names.map(pointwise(_, obj, custom))
    val terms = plan.flatten.toArray
    val sums = new Array[Double](terms.length * 2)
    if (terms.nonEmpty) {
      val parts = new Array[Array[Double]](rows.getNumPartitions)
      rows.sparkContext.runJob(rows,
        TaskFns.metricPass(obj, terms.map(_.term), terms.exists(_.readsPred)),
        (i: Int, part: Array[Double]) => parts(i) = part)
      parts.foreach { part =>
        var j = 0
        while (j < sums.length) { sums(j) += part(j); j += 1 }
      }
    }
    var next = 0
    names.zip(plan).map {
      case (_, Some(pw)) =>
        next += 1
        pw.finish(sums(2 * next - 2), sums(2 * next - 1))
      case ("auc", None) => auc(rows, obj)
      case ("aucpr", None) => aucpr(rows, obj)
      case (_, None) => obj match { // cox-nloglik: Breslow partial NLL
        case cox: Objectives.CoxPh => cox.nloglik(rows)
        case other => throw new IllegalArgumentException(
          s"cox-nloglik needs the survival:cox objective, got " +
            other.name)
      }
    }
  }

  /** Jobs [[computeAll]] runs for `names`: one for all (loss, weight)
    * metrics, plus one per [[WholeSet]] metric. */
  def jobs(names: Seq[String],
      custom: Map[String, CustomMetric] = Map.empty): Int = {
    val whole = names.count(n => !custom.contains(n) && WholeSet(n))
    whole + (if (whole < names.length) 1 else 0)
  }

  def defaultMetric(objective: String): String = objective match {
    case "reg:squarederror" | "reg:linear" => "rmse"
    case "reg:absoluteerror" => "mae"
    case "binary:logistic" | "binary:logitraw" => "logloss"
    case "binary:hinge" => "error"
    case "multi:softprob" => "mlogloss"
    case "multi:softmax" => "merror"
    case "rank:pairwise" => "auc"
    case "rank:ndcg" => "ndcg"
    case "rank:map" => "map"
    case "count:poisson" => "poisson-nloglik"
    case "reg:gamma" => "gamma-nloglik"
    case "reg:tweedie" => "tweedie-nloglik@1.5"
    case "reg:pseudohubererror" => "mphe"
    case "reg:quantileerror" => "quantile@0.5"
    // vector form carries its αs in the objective name (save/load)
    case q if q.startsWith("reg:quantileerror@") =>
      "quantile@" + q.stripPrefix("reg:quantileerror@")
    case "survival:aft" => "aft-nloglik"
    case "survival:cox" => "cox-nloglik"
    case _ => "rmse"
  }

  /** Parameter-aware default metric: the @-suffixed metrics must carry
    * the TRAINED knob (quantile α, huber δ, tweedie ρ) or early
    * stopping and grid search would optimize the wrong loss. */
  def defaultMetric(objective: String, p: TrainParams): String =
    objective match {
      case "reg:quantileerror" =>
        if (p.quantileAlphas.nonEmpty)
          s"quantile@${p.quantileAlphas.mkString(",")}"
        else s"quantile@${p.quantileAlpha}"
      case "reg:pseudohubererror" => s"mphe@${p.huberSlope}"
      case "reg:tweedie" => s"tweedie-nloglik@${p.tweedieVariancePower}"
      case o => defaultMetric(o)
    }

  /** true ⇔ larger metric value is better (for early stopping). */
  def maximize(name: String,
      custom: Map[String, CustomMetric] = Map.empty): Boolean =
    custom.get(name).map(_.isMaximize)
      .getOrElse(name == "auc" || name == "aucpr" ||
        name == "interval-regression-accuracy" || isGroupMetric(name))

  /** The metrics a booster evaluates per eval set, in history order:
    * `evalMetric`, or the objective's default when neither it nor a
    * custom metric is set, then every custom metric not named yet. */
  def resolveNames(p: TrainParams, objective: String): Seq[String] = {
    val base =
      if (p.evalMetric.nonEmpty) p.evalMetric
      else if (p.customMetrics.nonEmpty) Nil
      else Seq(defaultMetric(objective, p))
    base ++ p.customMetrics.map(_.name).filterNot(base.contains)
  }

  /** Duplicate eval set names would collapse into one history entry and
    * interleave two metric series — early stopping (which reads the last
    * set's last value) would then compare alternating datasets. */
  def requireDistinctEvalNames(names: Seq[String]): Unit =
    require(names.distinct.size == names.size,
      s"duplicate eval set names: ${names.mkString(", ")}")

  /** xgboost's early-stopping rule, shared by the tree and linear
    * boosters: watch the LAST eval set's LAST metric and stop once
    * `earlyStoppingRounds` rounds pass without beating its best value
    * (off when <= 0: never stops, reports no best). */
  final class EarlyStop(p: TrainParams, names: Seq[String]) {
    private val rounds = p.earlyStoppingRounds
    private val larger =
      maximize(names.last, p.customMetrics.map(m => m.name -> m).toMap)
    private var best = Double.NaN
    private var bestRound = -1

    /** Records `round` of `history` (eval set → metric → values, in
      * eval-set order); true when training should stop. */
    def update(round: Int, history: collection.Map[String,
        collection.Map[String, collection.Seq[Double]]]): Boolean =
      rounds > 0 && history.nonEmpty && {
        val cur = history.last._2(names.last).last
        val better = best.isNaN || (if (larger) cur > best else cur < best)
        if (better) { best = cur; bestRound = round }
        !better && round - bestRound >= rounds
      }

    def bestIteration: Int = if (rounds > 0) bestRound else -1
    def bestScore: Double = if (rounds > 0) best else Double.NaN
  }

  /** True for per-query-group ranking metrics: ndcg[@k], map[@k]
    * (NOT mape, which is pointwise). */
  def isGroupMetric(name: String): Boolean =
    name == "ndcg" || name.startsWith("ndcg@") ||
      name == "map" || name.startsWith("map@")

  /** True for metrics consuming (lower, upper) survival bounds instead
    * of a point label (xgboost's survival eval surface). */
  def isBoundsMetric(name: String): Boolean =
    name == "aft-nloglik" || name == "interval-regression-accuracy"

  /**
   * Survival metrics over (margins, lower, upper, weight) rows:
   *  - `aft-nloglik` (the survival:aft default): weighted mean NLL
   *    under the TRAINED distribution/sigma ([[Objectives.Aft.nloglik]]).
   *  - `interval-regression-accuracy`: weighted fraction of rows whose
   *    predicted time exp(margin) lands inside [lower, upper]
   *    (NaN/missing upper = +∞).
   * Same deterministic partition-ordered summation as every pointwise
   * metric.
   */
  def computeBounds(name: String, obj: Objective,
      rows: RDD[(Array[Float], Float, Float, Float)]): Double =
    name match {
      case "aft-nloglik" =>
        val aft = obj match {
          case a: Objectives.Aft => a
          case other => throw new IllegalArgumentException(
            s"aft-nloglik needs the survival:aft objective, got " +
              other.name)
        }
        val (ll, w) = rows.map { case (m, lo, up, wt) =>
          (aft.nloglik(m(0), lo, up) * wt, wt.toDouble)
        }.detSum2
        ll / w
      case "interval-regression-accuracy" =>
        val (hit, w) = rows.map { case (m, lo, up, wt) =>
          val t = math.exp(m(0).toDouble)
          val hi = if (up.isNaN) Double.PositiveInfinity else up.toDouble
          (if (t >= lo && t <= hi) wt.toDouble else 0.0, wt.toDouble)
        }.detSum2
        hit / w
      case other => throw new IllegalArgumentException(
        s"unknown bounds metric $other")
    }

  /**
   * ndcg[@k] / map[@k] over qid groups (the xgboost ranking metrics the
   * reference forwards; ranking conformance test
   * tests/test_end_to_end.py:374-425 checks rank quality).
   *
   * Rows are (score, label, weight, qid) and must be qid-CONTIGUOUS
   * within partitions — the layout the trainer guarantees for rank
   * objectives (Sharding.sortByQid, groups never straddle partitions) —
   * so one mapPartitions pass scores every group with ZERO shuffle and
   * memory bounded by the largest single group; the reduce carries one
   * (weighted sum, weight) pair per partition.
   *
   * Conventions (documented divergences where xgboost is ambiguous):
   * group weight = the group's first row weight (xgboost's per-group
   * ranking weight); groups with no positive label score 1.0 (they
   * cannot be mis-ranked); score ties keep row order (stable sort);
   * ndcg gain is exponential (2^rel − 1), the xgboost default.
   */
  def computeGroup(name: String,
      rows: RDD[(Float, Float, Float, Long)]): Double = {
    val (base, kOpt) = name.split('@') match {
      case Array(b, kk) => (b, Some(kk.toInt))
      case _ => (name, None)
    }
    require(base == "ndcg" || base == "map" || name == "auc",
      s"unknown group metric $name")
    val (s, w) = rows.mapPartitions { it =>
      var sum = 0.0
      var wsum = 0.0
      val buf = scala.collection.mutable.ArrayBuffer[(Float, Float)]()
      var qid = 0L
      var open = false
      var gw = 1.0f
      def flush(): Unit = if (buf.nonEmpty) {
        val arr = buf.toArray
        val k = kOpt.getOrElse(arr.length)
        if (base == "auc") {
          // groups that are all-positive or all-negative have no
          // rankable pairs — excluded from the mean (xgboost likewise
          // skips groups whose AUC is undefined)
          val v = aucOf(arr)
          if (v >= 0) { sum += v * gw; wsum += gw }
        } else {
          val v = if (base == "ndcg") ndcgOf(arr, k) else apOf(arr, k)
          sum += v * gw
          wsum += gw
        }
        buf.clear()
      }
      it.foreach { case (score, rel, wt, q) =>
        if (!open || q != qid) { flush(); qid = q; gw = wt; open = true }
        buf += ((score, rel))
      }
      flush()
      Iterator((sum, wsum))
    }.detSum2
    if (w == 0) 0.0 else s / w
  }

  /** Exact one-group Mann-Whitney AUC with midrank tie handling over
    * (score, rel) rows, binary relevance rel > 0; −1 when undefined
    * (no positive or no negative row). */
  private def aucOf(arr: Array[(Float, Float)]): Double = {
    val sorted = arr.sortBy(_._1)
    val n = sorted.length
    var i = 0
    var rankSumPos = 0.0; var npos = 0.0; var nneg = 0.0
    while (i < n) {
      var j = i
      while (j < n && sorted(j)._1 == sorted(i)._1) j += 1
      val midrank = (i + 1 + j).toDouble / 2.0 // mean of ranks i+1..j
      var t = i
      while (t < j) {
        if (sorted(t)._2 > 0f) { rankSumPos += midrank; npos += 1 }
        else nneg += 1
        t += 1
      }
      i = j
    }
    if (npos == 0 || nneg == 0) -1.0
    else (rankSumPos - npos * (npos + 1) / 2.0) / (npos * nneg)
  }

  /** Relevances in ranked order: stable sort by score descending. */
  private def rankedRels(arr: Array[(Float, Float)]): Array[Float] =
    arr.zipWithIndex
      .sortBy { case ((score, _), i) => (-score.toDouble, i) }
      .map(_._1._2)

  private def ndcgOf(arr: Array[(Float, Float)], k: Int): Double = {
    val ln2 = math.log(2.0)
    def dcg(rs: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(k, rs.length)
      while (i < n) {
        s += (math.pow(2.0, rs(i)) - 1.0) * ln2 / math.log(i + 2.0)
        i += 1
      }
      s
    }
    val ideal = dcg(arr.map(_._2).sorted(Ordering[Float].reverse))
    if (ideal == 0.0) 1.0 else dcg(rankedRels(arr)) / ideal
  }

  /** Average precision at k with binary relevance (rel > 0). Matches
    * xgboost's `map[@k]`: precision terms are summed over the top-k
    * positions only, but the divisor is the group's UNCAPPED positive
    * count — a group with more positives than k can never reach 1.0
    * (e.g. 2 positives, map@1 with the top doc relevant = 0.5).
    * Groups with no positives score 1.0 (xgboost's default; the `map-`
    * variant is not implemented). */
  private def apOf(arr: Array[(Float, Float)], k: Int): Double = {
    val rels = rankedRels(arr)
    val n = math.min(k, rels.length)
    var hits = 0
    var s = 0.0
    var i = 0
    while (i < n) {
      if (rels(i) > 0f) { hits += 1; s += hits.toDouble / (i + 1) }
      i += 1
    }
    val totalPos = rels.count(_ > 0f)
    if (totalPos == 0) 1.0 else s / totalPos
  }

  private val Buckets = 4096

  /** Bucketed rank-sum AUC: one treeAggregate over (score, label, w). */
  /** True when `obj.transform`'s positive-class score is ALREADY a
    * probability in [0,1]. The score→bucket mapping must be a single
    * MONOTONE function decided per OBJECTIVE, not per row — a per-row
    * "identity inside [0,1], sigmoid outside" rule (review r9) is
    * non-monotone across the boundary (sigmoid(1.2)=0.77 < 0.9) and
    * mis-ranks pairs that straddle it. Unbounded scores (raw margins,
    * regression outputs, rank scores) all sigmoid-squash instead:
    * monotone, so ranking metrics are unaffected by the squash. */
  private def probOutput(obj: Objective): Boolean =
    obj.name == "binary:logistic" || obj.name == "multi:softprob"

  /** One-pass bucketed (positive, negative) score histogram shared by
    * [[auc]] and [[aucpr]]. */
  private def scoreHistogram(rows: RDD[(Array[Float], Float, Float)],
      obj: Objective): (Array[Double], Array[Double]) = {
    val isProb = probOutput(obj)
    rows.treeAggregate(
      (new Array[Double](Buckets), new Array[Double](Buckets)))(
      seqOp = { case ((pos, neg), (m, y, wt)) =>
        val t = obj.transform(m)
        val s = if (t.length > 1) t(t.length - 1) else t(0)
        val p = if (isProb) math.min(math.max(s.toDouble, 0.0), 1.0)
          else 1.0 / (1.0 + math.exp(-s))
        val b = math.min((p * Buckets).toInt, Buckets - 1)
        if (y > 0.5f) pos(b) += wt else neg(b) += wt
        (pos, neg)
      },
      combOp = { case ((p1, n1), (p2, n2)) =>
        var i = 0
        while (i < Buckets) { p1(i) += p2(i); n1(i) += n2(i); i += 1 }
        (p1, n1)
      })
  }

  private def auc(rows: RDD[(Array[Float], Float, Float)],
      obj: Objective): Double = {
    val (pos, neg) = scoreHistogram(rows, obj)
    var negBelow = 0.0; var rankSum = 0.0; var p = 0.0; var n = 0.0
    var i = 0
    while (i < Buckets) {
      rankSum += pos(i) * (negBelow + 0.5 * neg(i))
      negBelow += neg(i); p += pos(i); n += neg(i)
      i += 1
    }
    if (p == 0 || n == 0) 0.5 else rankSum / (p * n)
  }

  /** Area under the precision-recall curve (xgboost `aucpr`), on the
    * SAME one-pass bucketed score histogram as [[auc]]: scan buckets
    * from the highest score down, trapezoid between successive
    * (recall, precision) points, starting at (0, 1) by the usual
    * convention. Histogram resolution (Buckets) bounds the
    * interpolation error identically to auc's tie handling. */
  private def aucpr(rows: RDD[(Array[Float], Float, Float)],
      obj: Objective): Double = {
    val (pos, neg) = scoreHistogram(rows, obj)
    val totalPos = pos.sum
    if (totalPos == 0) return 0.0
    var tp = 0.0; var fp = 0.0
    var prevRecall = 0.0; var prevPrec = 1.0
    var area = 0.0
    var b = Buckets - 1
    while (b >= 0) {
      if (pos(b) != 0 || neg(b) != 0) {
        tp += pos(b); fp += neg(b)
        val recall = tp / totalPos
        val prec = tp / (tp + fp)
        area += (recall - prevRecall) * 0.5 * (prec + prevPrec)
        prevRecall = recall; prevPrec = prec
      }
      b -= 1
    }
    area
  }

  private def clamp(p: Float): Double =
    math.min(math.max(p.toDouble, 1e-15), 1.0 - 1e-15)
}
