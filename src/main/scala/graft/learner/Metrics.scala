package graft.learner

import org.apache.spark.rdd.RDD

/**
 * Distributed evaluation metrics — analog of the reference's eval-metric
 * aggregation (xgboost computes metrics with a weighted allreduce; the
 * driver reads rank-0's result, reference: xgboost_ray/main.py:704-708,
 * 745-752, 1323-1328). Every metric of every model of one eval set sums
 * in ONE job, [[computeAll]]'s pass: a metric is a [[Term]] with a fixed
 * slot range in one per-partition `Array[Double]`, each task sums its
 * rows in row order and the driver adds the partials in partition-index
 * order — the allreduce's partial+final shape, bit-reproducible however
 * the tasks finish. A (loss, weight) term, survival bounds included,
 * takes 2 slots; a group term (`ndcg[@k]`, `map[@k]`, rank-objective
 * `auc`) scores each qid group as it ends, 2 slots; the bucketed
 * `auc`/`aucpr` term is a 4096-bucket (positive, negative) score
 * histogram, 2 × 4096 slots (rank-sum over buckets: no global sort,
 * exact when scores land in distinct buckets, else a tight
 * approximation). `cox-nloglik` needs a global risk table first, so it
 * alone runs jobs of its own ([[Objectives.CoxPh.nloglik]]).
 * Custom metrics: pass a function (margin, label, weight) → (loss, w).
 */
object Metrics {

  /** One row of an eval set as every [[Term]] reads it: model `model`'s
    * raw margins `m`, its label `y` (the lower bound of a survival row),
    * weight, upper bound (`y` when uncensored) and qid. */
  private[graft] final class EvalRow(val model: Int, val m: Array[Float],
      val y: Float, val wt: Float, val upper: Float, val qid: Long)

  /** One metric of the pass: `slots` accumulator slots from `at` on. A
    * row term adds each row in [[add]] (`p`: the row's transformed
    * prediction, null unless some term of the pass `readsPred`); a
    * `grouped` term adds each qid group in [[group]] instead. */
  private[learner] abstract class Term(val slots: Int = 2,
      val readsPred: Boolean = false, val grouped: Boolean = false)
      extends Serializable {
    def add(r: EvalRow, p: Array[Float], acc: Array[Double],
        at: Int): Unit = ()
    /** A whole group's (score, relevance) rows, `gw` its weight. */
    def group(rows: Array[(Float, Float)], gw: Float, acc: Array[Double],
        at: Int): Unit = ()
    /** The metric's value from the summed slots. */
    def finish(sums: Array[Double], at: Int): Double
  }

  /** A built-in row's weighted loss (`p`: its prediction). */
  private abstract class Loss extends Serializable {
    def apply(r: EvalRow, p: Array[Float]): Double
  }

  /** A (Σ loss, Σ weight) term of the row weights; `fin` maps the two
    * sums to the value. */
  private class Sums(loss: Loss, readsPred: Boolean,
      fin: (Double, Double) => Double = _ / _)
      extends Term(readsPred = readsPred) {
    override def add(r: EvalRow, p: Array[Float], acc: Array[Double],
        at: Int): Unit = {
      acc(at) += loss(r, p); acc(at + 1) += r.wt.toDouble
    }
    def finish(sums: Array[Double], at: Int): Double =
      fin(sums(at), sums(at + 1))
  }

  private def mean(loss: Loss, readsPred: Boolean = true): Term =
    new Sums(loss, readsPred)

  private def rootMean(loss: Loss): Term =
    new Sums(loss, true, (se, w) => math.sqrt(se / w))

  /** The term of metric `name`, or None for `cox-nloglik`. Custom
    * metrics (E7) win over built-in names; under a rank objective `auc`
    * is the per-group AUC. */
  private def term(name: String, obj: Objective,
      custom: Map[String, CustomMetric]): Option[Term] =
    custom.get(name) match {
      case Some(cm) =>
        val fn = cm.fn
        Some(new Sums(null, false) {
          override def add(r: EvalRow, p: Array[Float], acc: Array[Double],
              at: Int): Unit = {
            val (loss, w) = fn(r.m, r.y, r.wt)
            acc(at) += loss; acc(at + 1) += w
          }
        })
      case None if name == "cox-nloglik" => None
      case None if isGroupMetric(name) || (name == "auc" && obj.needsGroups) =>
        // ndcg/map/auc walk qid groups — the rank layout keeps groups
        // partition-contiguous
        require(obj.needsGroups, s"$name needs a rank:* objective " +
          "(qid-contiguous evaluation partitions)")
        Some(groupTerm(name))
      case None => Some(builtin(name, obj))
    }

  /** The table of built-in row metrics. */
  private def builtin(name: String, obj: Objective): Term = name match {
    case "rmse" =>
      rootMean((r, p) => { val d = p(0) - r.y; d.toDouble * d * r.wt })
    case "mae" =>
      mean((r, p) => math.abs(p(0) - r.y).toDouble * r.wt)
    case "logloss" =>
      mean((r, pr) => {
        val p = clamp(pr(0)); val y = r.y
        -(y * math.log(p) + (1 - y) * math.log(1 - p)) * r.wt
      })
    case "mlogloss" =>
      // softmax over RAW margins — obj.transform would argmax to a
      // length-1 array under multi:softmax (advisor r1: AIOOBE)
      mean((r, _) => {
        val m = r.m
        var mx = Float.NegativeInfinity
        var i = 0
        while (i < m.length) { if (m(i) > mx) mx = m(i); i += 1 }
        var s = 0.0
        val e = new Array[Double](m.length)
        i = 0
        while (i < m.length) { e(i) = math.exp(m(i) - mx); s += e(i); i += 1 }
        val p = math.min(math.max(e(r.y.toInt) / s, 1e-15), 1.0 - 1e-15)
        -math.log(p) * r.wt
      }, readsPred = false)
    case "error" => // binary misclassification at p=0.5
      mean((r, p) =>
        if ((if (p(0) > 0.5f) 1f else 0f) != r.y) r.wt.toDouble else 0.0)
    case t if t.startsWith("error@") => // binary error at threshold t
      // (xgboost error@t: classify positive when prediction > t)
      val th = t.stripPrefix("error@").toDouble
      mean((r, p) =>
        if ((if (p(0) > th) 1f else 0f) != r.y) r.wt.toDouble else 0.0)
    case "gamma-deviance" => // 2·mean(ln(p/y) + y/p − 1), xgboost's
      // epsilon-guarded form (labels and predictions floored at 1e-16)
      new Sums((r, pr) => {
        val p = pr(0).toDouble + 1e-16
        val yy = r.y.toDouble + 1e-16
        (math.log(p / yy) + yy / p - 1.0) * r.wt
      }, true, (d, w) => 2.0 * d / w)
    case "merror" => // multiclass: argmax != label
      mean((r, p) => {
        var best = 0; var i = 1
        while (i < p.length) { if (p(i) > p(best)) best = i; i += 1 }
        // softmax objective already argmaxes to length-1
        val cls = if (p.length == 1) p(0) else best.toFloat
        if (cls != r.y) r.wt.toDouble else 0.0
      })
    case "rmsle" => // √(Σw·(ln1p(ŷ)−ln1p(y))²/Σw); preds below −1
      // floor just above it (xgboost validates labels ≥ −1 but lets an
      // unbounded regressor's prediction produce NaN — floor instead)
      rootMean((r, pr) => {
        require(r.y >= -1f, s"rmsle needs labels >= -1, got ${r.y}")
        val p = math.max(pr(0).toDouble, -1.0 + 1e-15)
        val d = math.log1p(p) - math.log1p(r.y.toDouble)
        d * d * r.wt
      })
    case "mape" => // mean absolute percentage error (zero-safe floor)
      mean((r, p) => {
        val d = math.abs(p(0) - r.y).toDouble /
          math.max(math.abs(r.y.toDouble), 1e-10)
        d * r.wt
      })
    case "poisson-nloglik" => // lnΓ(y+1) + p − y·ln p (p = predicted rate)
      mean((r, pr) => {
        val p = math.max(pr(0).toDouble, 1e-16)
        (org.apache.commons.math3.special.Gamma.logGamma(r.y + 1.0)
          + p - math.log(p) * r.y) * r.wt
      })
    case "gamma-nloglik" => // unit-shape gamma NLL: y/p + ln p
      mean((r, pr) => {
        val p = math.max(pr(0).toDouble, 1e-16)
        (r.y / p + math.log(p)) * r.wt
      })
    case t if t.startsWith("tweedie-nloglik") =>
      // −y·p^{1−ρ}/(1−ρ) + p^{2−ρ}/(2−ρ); ρ from "tweedie-nloglik@1.5"
      val rho = t.split('@') match {
        case Array(_, r) => r.toDouble
        case _ => 1.5
      }
      require(rho > 1.0 && rho < 2.0, s"tweedie power out of (1,2): $rho")
      mean((r, pr) => {
        val p = math.max(pr(0).toDouble, 1e-16)
        val a = r.y * math.exp((1.0 - rho) * math.log(p)) / (1.0 - rho)
        val b = math.exp((2.0 - rho) * math.log(p)) / (2.0 - rho)
        (-a + b) * r.wt
      })
    case t if t.startsWith("mphe") =>
      // mean pseudo-Huber error δ²(√(1+(z/δ)²) − 1); δ from "mphe@0.5"
      val d = t.split('@') match {
        case Array(_, s) => s.toDouble
        case _ => 1.0
      }
      require(d > 0, s"mphe slope must be positive: $d")
      mean((r, p) => {
        val z = (p(0) - r.y).toDouble
        d * d * (math.sqrt(1.0 + (z / d) * (z / d)) - 1.0) * r.wt
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
      mean((r, p) => {
        var pin = 0.0
        var c = 0
        val k = math.min(alphas.length, p.length)
        while (c < k) {
          val err = (r.y - p(c)).toDouble
          pin += (if (err >= 0) alphas(c) * err else (alphas(c) - 1.0) * err)
          c += 1
        }
        pin / k * r.wt
      })
    case "aft-nloglik" => // weighted mean NLL under the TRAINED
      // distribution/sigma ([[Objectives.Aft.nloglik]])
      val aft = obj match {
        case a: Objectives.Aft => a
        case other => throw new IllegalArgumentException(
          s"aft-nloglik needs the survival:aft objective, got " +
            other.name)
      }
      mean((r, _) => aft.nloglik(r.m(0), r.y, r.upper) * r.wt,
        readsPred = false)
    case "interval-regression-accuracy" => // weighted fraction of rows
      // whose predicted time exp(margin) lands inside [lower, upper]
      // (NaN/missing upper = +∞)
      mean((r, _) => {
        val t = math.exp(r.m(0).toDouble)
        val hi =
          if (r.upper.isNaN) Double.PositiveInfinity else r.upper.toDouble
        if (t >= r.y && t <= hi) r.wt.toDouble else 0.0
      }, readsPred = false)
    case "auc" => new ScoreHistogram(probOutput(obj), auc)
    case "aucpr" => new ScoreHistogram(probOutput(obj), aucpr)
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** rows: (raw margins, label, weight). One metric of [[computeAll]]. */
  def compute(name: String, obj: Objective,
      rows: RDD[(Array[Float], Float, Float)],
      custom: Map[String, CustomMetric] = Map.empty): Double =
    computeAll(Seq(name), obj, rows, custom).head

  /** The value of each metric of `names` over (raw margins, label,
    * weight) rows, in `names` order: [[computeAll]] for one model. The
    * rows carry no qid, so a rank objective's group metrics would score
    * each partition as one group: use [[computeGroup]] for those. */
  def computeAll(names: Seq[String], obj: Objective,
      rows: RDD[(Array[Float], Float, Float)],
      custom: Map[String, CustomMetric] = Map.empty): Seq[Double] =
    computeAll(names, obj, rows.map { case (m, y, wt) =>
      new EvalRow(0, m, y, wt, y, 0L)
    }, 1, custom)(0).toSeq

  /** The value of each metric of `names` for each of `models` models
    * over one eval set's rows: `values(g)(j)` is model g's value of
    * `names(j)`. Every metric but `cox-nloglik` sums in ONE job: each
    * task adds its rows in row order into one accumulator, model-major
    * (model g's terms from g × the terms' width on), and the driver adds
    * the partials in partition-index order, so the values are
    * bit-reproducible whatever order the tasks finish in. A group term
    * needs each qid group contiguous within a partition (the rank
    * layout: `Sharding.sortByQid`). `cox-nloglik` runs its own jobs per
    * model ([[jobs]]). */
  private[graft] def computeAll(names: Seq[String], obj: Objective,
      rows: RDD[EvalRow], models: Int,
      custom: Map[String, CustomMetric]): Array[Array[Double]] = {
    val plan = names.map(term(_, obj, custom))
    val terms = plan.flatten.toArray
    val at = terms.scanLeft(0)(_ + _.slots)
    val sums = new Array[Double](models * at.last)
    if (terms.nonEmpty) {
      val parts = new Array[Array[Double]](rows.getNumPartitions)
      rows.sparkContext.runJob(rows, TaskFns.metricPass(obj, terms, models),
        (i: Int, part: Array[Double]) => parts(i) = part)
      parts.foreach { part =>
        var j = 0
        while (j < sums.length) { sums(j) += part(j); j += 1 }
      }
    }
    Array.tabulate(models) { g =>
      var next = 0
      plan.map {
        case Some(t) =>
          next += 1
          t.finish(sums, g * at.last + at(next - 1))
        case None => obj match { // cox-nloglik: Breslow partial NLL
          case cox: Objectives.CoxPh =>
            cox.nloglik(rows.mapPartitions(TaskFns.modelRows(g)))
          case other => throw new IllegalArgumentException(
            s"cox-nloglik needs the survival:cox objective, got " +
              other.name)
        }
      }.toArray
    }
  }

  /** Jobs [[computeAll]] runs per model for `names`: the one pass for
    * every metric but `cox-nloglik`, whose Breslow NLL first reduces
    * the risk table and then sums, two jobs. */
  def jobs(names: Seq[String],
      custom: Map[String, CustomMetric] = Map.empty): Int = {
    val cox = names.count(n => !custom.contains(n) && n == "cox-nloglik")
    2 * cox + (if (cox < names.length) 1 else 0)
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
   * ndcg[@k] / map[@k] / auc over qid groups (the xgboost ranking
   * metrics the reference forwards; ranking conformance test
   * tests/test_end_to_end.py:374-425 checks rank quality) — [[computeAll]]'s
   * group term over rows of (score, label, weight, qid).
   *
   * Rows must be qid-CONTIGUOUS within partitions — the layout the
   * trainer guarantees for rank objectives (Sharding.sortByQid, groups
   * never straddle partitions) — so the pass scores every group with
   * ZERO shuffle and memory bounded by the largest single group.
   *
   * Conventions (documented divergences where xgboost is ambiguous):
   * group weight = the group's first row weight (xgboost's per-group
   * ranking weight); groups with no positive label score 1.0 (they
   * cannot be mis-ranked); score ties keep row order (stable sort);
   * ndcg gain is exponential (2^rel − 1), the xgboost default; auc
   * leaves out groups that are all-positive or all-negative (no
   * rankable pairs — xgboost likewise skips groups whose AUC is
   * undefined).
   */
  def computeGroup(name: String,
      rows: RDD[(Float, Float, Float, Long)]): Double = {
    require(isGroupMetric(name) || name == "auc",
      s"unknown group metric $name")
    // under a rank objective `auc` is a group term too
    computeAll(Seq(name), new Objectives.PairwiseRank, rows.map {
      case (score, rel, wt, q) => new EvalRow(0, Array(score), rel, wt, rel, q)
    }, 1, Map.empty)(0)(0)
  }

  /** The group term of `name`: ndcg[@k], map[@k] or auc. */
  private def groupTerm(name: String): Term = {
    val (base, kOpt) = name.split('@') match {
      case Array(b, kk) => (b, Some(kk.toInt))
      case _ => (name, None)
    }
    require(base == "ndcg" || base == "map" || name == "auc",
      s"unknown group metric $name")
    new Term(grouped = true) {
      override def group(rows: Array[(Float, Float)], gw: Float,
          acc: Array[Double], at: Int): Unit = {
        val k = kOpt.getOrElse(rows.length)
        val v =
          if (base == "auc") aucOf(rows)
          else if (base == "ndcg") ndcgOf(rows, k)
          else apOf(rows, k)
        if (base != "auc" || v >= 0) { acc(at) += v * gw; acc(at + 1) += gw }
      }
      def finish(sums: Array[Double], at: Int): Double =
        if (sums(at + 1) == 0) 0.0 else sums(at) / sums(at + 1)
    }
  }

  /** One model's open qid group in a partition of the metric pass:
    * rows add to it until the qid changes; [[flush]] scores it with
    * every group term. */
  private[learner] final class OpenGroup {
    private val rows = scala.collection.mutable.ArrayBuffer[(Float, Float)]()
    private var qid = 0L
    private var gw = 1.0f

    /** Adds `r`, first scoring the open group when `r` starts a new one. */
    def add(r: EvalRow, terms: Array[Term], acc: Array[Double],
        at: Array[Int]): Unit = {
      if (rows.isEmpty || r.qid != qid) {
        flush(terms, acc, at); qid = r.qid; gw = r.wt
      }
      rows += ((r.m(0), r.y))
    }

    /** Scores the open group, if any, into `acc` (`at`: each term's
      * first slot) and closes it. */
    def flush(terms: Array[Term], acc: Array[Double], at: Array[Int]): Unit =
      if (rows.nonEmpty) {
        val arr = rows.toArray
        var j = 0
        while (j < terms.length) {
          if (terms(j).grouped) terms(j).group(arr, gw, acc, at(j))
          j += 1
        }
        rows.clear()
      }
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

  /** The bucketed (positive, negative) score histogram of [[auc]] and
    * [[aucpr]]: positives' weights at slots [0, Buckets), negatives' at
    * [Buckets, 2 × Buckets); `value` reads the summed histogram. */
  private final class ScoreHistogram(isProb: Boolean,
      value: (Array[Double], Int) => Double)
      extends Term(2 * Buckets, readsPred = true) {
    override def add(r: EvalRow, t: Array[Float], acc: Array[Double],
        at: Int): Unit = {
      val s = if (t.length > 1) t(t.length - 1) else t(0)
      val p = if (isProb) math.min(math.max(s.toDouble, 0.0), 1.0)
        else 1.0 / (1.0 + math.exp(-s))
      val b = math.min((p * Buckets).toInt, Buckets - 1)
      acc(at + (if (r.y > 0.5f) b else Buckets + b)) += r.wt
    }
    def finish(sums: Array[Double], at: Int): Double = value(sums, at)
  }

  /** Rank-sum AUC over the histogram at `h(at …)`. */
  private def auc(h: Array[Double], at: Int): Double = {
    var negBelow = 0.0; var rankSum = 0.0; var p = 0.0; var n = 0.0
    var i = 0
    while (i < Buckets) {
      val pos = h(at + i); val neg = h(at + Buckets + i)
      rankSum += pos * (negBelow + 0.5 * neg)
      negBelow += neg; p += pos; n += neg
      i += 1
    }
    if (p == 0 || n == 0) 0.5 else rankSum / (p * n)
  }

  /** Area under the precision-recall curve (xgboost `aucpr`), on the
    * SAME bucketed score histogram as [[auc]]: scan buckets from the
    * highest score down, trapezoid between successive (recall,
    * precision) points, starting at (0, 1) by the usual convention.
    * Histogram resolution (Buckets) bounds the interpolation error
    * identically to auc's tie handling. */
  private def aucpr(h: Array[Double], at: Int): Double = {
    var totalPos = 0.0
    var i = 0
    while (i < Buckets) { totalPos += h(at + i); i += 1 }
    if (totalPos == 0) return 0.0
    var tp = 0.0; var fp = 0.0
    var prevRecall = 0.0; var prevPrec = 1.0
    var area = 0.0
    var b = Buckets - 1
    while (b >= 0) {
      val pos = h(at + b); val neg = h(at + Buckets + b)
      if (pos != 0 || neg != 0) {
        tp += pos; fp += neg
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
