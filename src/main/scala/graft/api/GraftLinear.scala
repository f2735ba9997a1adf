package graft.api

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.data.DMatrixSpec
import graft.learner.{Metrics, Objectives, RunLifetime, TrainParams}

/**
 * Distributed linear booster — the `booster="gblinear"` side of the
 * xgboost param surface the reference forwards verbatim (reference:
 * xgboost_ray/tests/test_sklearn.py:493 `test_sklearn_api_gblinear`;
 * params pass-through sklearn.py:708-719).
 *
 * Model state is K weight vectors + K biases (K = 1 for regression /
 * binary, num_class for softmax) — it BROADCASTS, so a round is
 * exactly ONE `treeAggregate` job computing per-class per-feature
 * [Σ gᵢ·xᵢⱼ, Σ hᵢ·xᵢⱼ²] (plus the bias pair [Σ gᵢ, Σ hᵢ]) with margins
 * recomputed on the fly from the broadcast weights. No cached margin
 * RDD, no shuffle, nothing persisted between rounds beyond the packed
 * input blocks ([[LinRows]] — primitive columns, near-raw footprint):
 * at 100 TB each round is a single scan-and-reduce whose merge volume
 * is K·2(d+1) doubles per partition.
 *
 * Update rule (xgboost's shotgun/parallel coordinate step with elastic
 * net, all coordinates updated from the same round's gradients):
 *   Δwⱼ = −η · T(Gⱼ + λ·wⱼ, α) / (Hⱼ + λ)
 *   Δbias = −η · G_b / H_b              (bias is not regularized)
 * where T is the L1 soft-threshold — the same `thresholdL1` the tree
 * leaf weight uses. Weights are stored as Float (rounded once per
 * round), so a single round from zero is replayable bit-exactly in
 * DuckDB with REAL casts (the `ml_linear` oracle).
 *
 * Missing features (NaN) contribute nothing to either the margin or
 * the feature's gradient sums — the sparse-ignores-absent semantics of
 * xgboost's DMatrix.
 */
object GraftLinear {

  /** Linear model: margin_c = bias_c + w_c·x (+ init/base margin). */
  final case class LinearModel(weights: Array[Array[Float]],
      bias: Array[Float], objective: String, baseScore: Double,
      /** Feature-column names in index order (r11, matrix.py:797-798
        * surface parity with the tree booster); empty = unnamed. */
      featureNames: Seq[String] = Nil) {

    def numClass: Int = weights.length
    def numFeatures: Int = weights.headOption.map(_.length).getOrElse(0)

    require(featureNames.isEmpty || featureNames.length == numFeatures,
      s"featureNames length ${featureNames.length} != numFeatures " +
        s"$numFeatures")

    private def initMargin: Float = Objectives.resolve(
      TrainParams(objective = objective,
        numClass = math.max(numClass, 2), baseScore = baseScore))
      .initMargin(baseScore)

    /**
     * Class-c margin as a pure unrolled Column expression (codegen, no
     * UDF): zero-weight features drop out of the sum at plan time.
     * `baseMargin` (NaN sentinel = absent) replaces the objective's
     * init margin per row — the same DMatrix base_margin semantics the
     * tree booster's predict honors.
     */
    def marginExpr(features: Column, cls: Int = 0,
        baseMargin: Column = lit(Float.NaN)): Column = {
      val terms = weights(cls).indices.collect {
        case j if weights(cls)(j) != 0f => termExpr(features, cls, j)
      }
      terms.foldLeft(baseExpr(cls, baseMargin))(_ + _)
    }

    /** Per-feature margin term w_cj·x_j (missing ⇒ 0) — shared by
      * [[marginExpr]] and [[GraftLinear.predictContrib]] so the margin
      * and its decomposition cannot drift apart. */
    private[api] def termExpr(features: Column, cls: Int,
        j: Int): Column =
      nanvl(coalesce(element_at(features, j + 1), lit(0f)), lit(0f))
        .cast("double") * weights(cls)(j).toDouble

    /** Init-or-per-row base margin + class bias — the margin's
      * constant part, and the contribs bias slot. */
    private[api] def baseExpr(cls: Int, baseMargin: Column): Column =
      when(isnan(baseMargin), lit(initMargin.toDouble))
        .otherwise(baseMargin.cast("double")) + bias(cls).toDouble

    /** Transformed prediction for the single-output objectives: prob
      * for logistic, identity margin otherwise. Multiclass goes
      * through [[GraftLinear.predict]], which materializes the margin
      * array once instead of re-expanding it per output element. */
    def predictExpr(features: Column,
        baseMargin: Column = lit(Float.NaN)): Column = {
      val m = marginExpr(features, 0, baseMargin)
      objective match {
        case "binary:logistic" => lit(1.0) / (lit(1.0) + exp(-m))
        case _ => m
      }
    }
  }

  /** Per-eval-set per-round metric history plus the xgboost
    * best_iteration/best_score bookkeeping (recorded when
    * `earlyStoppingRounds > 0`; the final weights are kept either way,
    * matching xgboost's gblinear behavior). */
  final case class LinearTrainResult(
      model: LinearModel,
      evalsResult: Map[String,
        Map[String, scala.collection.mutable.ArrayBuffer[Double]]],
      bestIteration: Int = -1,
      bestScore: Double = Double.NaN)

  /**
   * Train a linear booster. Supports the pointwise objectives
   * (squared/absolute error, logistic, softmax/softprob); ranking and
   * survival bounds remain tree-booster territory.
   */
  def train(df: DataFrame, spec: DMatrixSpec, params: TrainParams,
      numWorkers: Int = 0,
      initModel: Option[LinearModel] = None): LinearModel =
    trainWithEvals(df, spec, params, Nil, numWorkers, initModel).model

  /**
   * Packed per-partition chunk of prepared rows — the linear booster's
   * analog of the tree path's [[graft.learner.TrainBlock]] (same
   * footprint rationale: per-row tuple + boxed-array overhead is a
   * multiple of the 4d-byte payload at narrow widths; a block
   * amortizes every header over ~10⁵ rows). Row `i`'s features occupy
   * `xs(i*d until (i+1)*d)`; `bms(i)` is NaN where the row had no base
   * margin. qid/upper are dropped — gblinear is pointwise-only. Blocks
   * are capacity-bounded so `xs` stays ≤ 8 MB however wide the table.
   */
  private final class LinRows(val n: Int, val d: Int,
      val xs: Array[Float], val ys: Array[Float], val ws: Array[Float],
      val bms: Array[Float]) extends Serializable

  /** Pack prepared rows into [[LinRows]] blocks, preserving partition
    * row order (the treeAggregate float-sum sequence — and with it the
    * bit-exact `ml_linear` oracle replay — depends on it). Width
    * mismatches fail here with the same message the per-row seqOp
    * used. */
  private def pack(rows: RDD[GraftBoost.TrainRow]): RDD[LinRows] =
    rows.mapPartitions({ it0 =>
      val it = it0.buffered
      new Iterator[LinRows] {
        def hasNext: Boolean = it.hasNext
        def next(): LinRows = {
          val d = it.head.features.length
          val cap = math.max(1024,
            math.min(1 << 18, (2 << 20) / math.max(d, 1)))
          val xs = new Array[Float](cap * d)
          val ys = new Array[Float](cap)
          val ws = new Array[Float](cap)
          val bms = new Array[Float](cap)
          var n = 0
          while (it.hasNext && n < cap) {
            val r = it.next()
            if (r.features.length != d) throw new IllegalArgumentException(
              s"graft: feature row has ${r.features.length} element(s); " +
                s"training resolved $d features (inconsistent " +
                "pre-assembled feature widths?)")
            System.arraycopy(r.features, 0, xs, n * d, d)
            ys(n) = r.labels(0); ws(n) = r.weight; bms(n) = r.margin
            n += 1
          }
          new LinRows(n, d,
            java.util.Arrays.copyOf(xs, n * d),
            java.util.Arrays.copyOf(ys, n),
            java.util.Arrays.copyOf(ws, n),
            java.util.Arrays.copyOf(bms, n))
        }
      }
    }, preservesPartitioning = true)

  /** Row-`i` margins from the broadcast round weights — the same
    * double-accumulated dot product the training seqOp computes. */
  @inline private def evalMargins(blk: LinRows, i: Int,
      init: Float, w: Array[Array[Float]], b: Array[Float],
      k: Int): Array[Float] = {
    // same fail-fast as the training seqOp: a wrong-width eval row
    // would otherwise read silently as all-missing past the end and
    // yield quietly wrong metrics (which can misdirect early stopping)
    if (blk.d != w(0).length) throw new IllegalArgumentException(
      s"graft: eval feature row has ${blk.d} element(s); the " +
        s"trained model has ${w(0).length} features (inconsistent " +
        "pre-assembled feature widths?)")
    val bm = blk.bms(i)
    val off = i * blk.d
    val m = new Array[Float](k)
    var c = 0
    while (c < k) {
      var mc = (if (bm.isNaN) init else bm).toDouble + b(c)
      val wc = w(c)
      var j = 0
      while (j < wc.length) {
        val xv = blk.xs(off + j)
        if (!xv.isNaN) mc += wc(j).toDouble * xv
        j += 1
      }
      m(c) = mc.toFloat
      c += 1
    }
    m
  }

  /**
   * [[train]] plus per-round eval-set metrics and early stopping — the
   * xgboost `eval_set`/`early_stopping_rounds` surface under
   * `booster="gblinear"` (same rules as the tree trainer: metric names
   * from `evalMetric`/`customMetrics` else the objective's default;
   * stopping watches the LAST eval set's LAST metric). Each round, the
   * eval margins are computed ONCE per eval set from the broadcast
   * weights; with a single metric that is one reduce job, with several
   * metrics the scored margins persist for the round and each extra
   * metric is a cache-read reduce. No margin state survives the round.
   * The run is one [[graft.learner.RunLifetime]]: its rounds carry a
   * `graft-train-*` job group, and its packed rows, weight broadcasts
   * and scored margins are freed on every exit.
   */
  def trainWithEvals(df: DataFrame, spec: DMatrixSpec,
      params: TrainParams, evals: Seq[(String, DataFrame)],
      numWorkers: Int = 0,
      /** Warm start — the `xgb_model=` continued-training kwarg the
        * reference forwards (main.py:688-691, checkpoint resume
        * main.py:1212): coordinate descent continues from this model's
        * weights instead of zeros. Works for xgboost-JSON imports too
        * (a linear model is fully described by its weights). */
      initModel: Option[LinearModel] = None): LinearTrainResult = {
    val obj = Objectives.resolve(params)
    require(!obj.needsGroups && !obj.needsBounds,
      s"gblinear supports pointwise objectives; got ${obj.name}")
    // a linear model has no partition splits — treating category codes
    // as ordered magnitudes would silently learn nonsense coefficients
    require(spec.categoricalCols.isEmpty,
      "gblinear has no categorical-split mode; one-hot encode " +
        s"categorical columns (${spec.categoricalCols.mkString(", ")}) " +
        "upstream, or use the tree booster")
    spec.validate(df, requireLabel = true)
    val k = math.max(obj.numOutputs, 1)
    val customByName = params.customMetrics.map(m => m.name -> m).toMap
    val metricNames = Metrics.resolveNames(params, obj.name)
    metricNames.foreach(mn => require(
      customByName.contains(mn) || !Metrics.isGroupMetric(mn),
      s"$mn needs a rank:* objective; gblinear is pointwise"))
    Metrics.requireDistinctEvalNames(evals.map(_._1))
    val evalRows = evals.map { case (n, e) =>
      spec.validate(e, requireLabel = true)
      (n, pack(GraftBoost.prepare(e, spec, obj, numWorkers)))
    }
    val evalsResult = scala.collection.mutable.LinkedHashMap[String,
      Map[String, scala.collection.mutable.ArrayBuffer[Double]]]()
    evalRows.foreach { case (n, _) =>
      evalsResult(n) = metricNames.map(m =>
        m -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    }
    val rows = pack(GraftBoost.prepare(df, spec, obj, numWorkers))
    // persisted only once every input has been projected, so a failure
    // before the run leaves nothing cached
    RunLifetime(df.sparkSession.sparkContext, params.storageLevel,
        ownsInputs = true) { life =>
      (rows +: evalRows.map(_._2)).foreach(life.input(_))
      val head = rows.take(1)
      require(head.nonEmpty, "gblinear training data is empty")
      val d = head(0).d
      val init = obj.initMargin(params.baseScore)
      // scale_pos_weight: same binary-objective gating as the tree path
      val spw =
        if (params.scalePosWeight != 1.0 &&
          obj.name.startsWith("binary:")) params.scalePosWeight.toFloat
        else 1.0f
      initModel.foreach { m =>
        require(m.numFeatures == d,
          s"init model has ${m.numFeatures} features, data has $d")
        require(m.numClass == k,
          s"init model has ${m.numClass} output group(s), objective " +
            s"${obj.name} needs $k")
      }
      val weights = initModel.map(_.weights.map(_.clone()))
        .getOrElse(Array.fill(k)(new Array[Float](d)))
      val bias = initModel.map(_.bias.clone())
        .getOrElse(new Array[Float](k))
      val stride = 2 * d + 2 // per-class accumulator block
      val early = new Metrics.EarlyStop(params, metricNames)
      life.rounds {
        var stop = false
        var round = 0
        while (round < params.numRounds && !stop) {
          val bcW =
            life.broadcast((weights.map(_.clone()), bias.clone()))
          val acc = rows.treeAggregate(new Array[Double](k * stride))(
            seqOp = (a, blk) => {
              if (blk.d != d) throw new IllegalArgumentException(
                s"graft: feature row has ${blk.d} element(s); training " +
                  s"resolved $d features (inconsistent pre-assembled " +
                  "feature widths?)")
              val (w, b) = bcW.value
              val m = new Array[Float](k)
              val g = new Array[Float](k); val h = new Array[Float](k)
              var i = 0
              while (i < blk.n) {
                val off = i * d
                val bm = blk.bms(i)
                val y = blk.ys(i)
                var c = 0
                while (c < k) {
                  var mc = (if (bm.isNaN) init else bm).toDouble + b(c)
                  val wc = w(c)
                  var j = 0
                  while (j < d) {
                    val xv = blk.xs(off + j)
                    if (!xv.isNaN) mc += wc(j).toDouble * xv
                    j += 1
                  }
                  m(c) = mc.toFloat
                  c += 1
                }
                obj.gradHess(m, y, g, h)
                val w2 =
                  if (spw != 1.0f && y == 1.0f) blk.ws(i) * spw
                  else blk.ws(i)
                c = 0
                while (c < k) {
                  val base = c * stride
                  val gw = g(c).toDouble * w2
                  val hw = h(c).toDouble * w2
                  var j = 0
                  while (j < d) {
                    val xv = blk.xs(off + j)
                    if (!xv.isNaN && xv != 0f) {
                      a(base + 2 * j) += gw * xv
                      a(base + 2 * j + 1) += hw * xv.toDouble * xv
                    }
                    j += 1
                  }
                  a(base + 2 * d) += gw; a(base + 2 * d + 1) += hw
                  c += 1
                }
                i += 1
              }
              a
            },
            combOp = (a, c) => {
              var i = 0
              while (i < a.length) { a(i) += c(i); i += 1 }
              a
            },
            depth = 2)
          life.destroy(bcW)
          var c = 0
          while (c < k) {
            val base = c * stride
            val wc = weights(c)
            var j = 0
            while (j < d) {
              val denom = acc(base + 2 * j + 1) + params.lambda
              // a feature absent from every row has H_j = 0; with λ = 0
              // the step would be 0/0 — skip, like xgboost empty columns
              if (denom > 0) {
                val gj = acc(base + 2 * j) + params.lambda * wc(j)
                val t =
                  if (gj > params.alpha) gj - params.alpha
                  else if (gj < -params.alpha) gj + params.alpha
                  else 0.0
                wc(j) = (wc(j) - params.eta * t / denom).toFloat
              }
              j += 1
            }
            if (acc(base + 2 * d + 1) > 0)
              bias(c) = (bias(c) -
                params.eta * acc(base + 2 * d) /
                  acc(base + 2 * d + 1)).toFloat
            c += 1
          }
          if (evalRows.nonEmpty) {
            val bcE =
              life.broadcast((weights.map(_.clone()), bias.clone()))
            evalRows.foreach { case (n, er) =>
              val scored = er.mapPartitions(_.flatMap { blk =>
                val (w, b) = bcE.value
                Iterator.tabulate(blk.n)(i =>
                  new Metrics.EvalRow(0, evalMargins(blk, i, init, w, b, k),
                    blk.ys(i), blk.ws(i), blk.ys(i), 0L))
              }, preservesPartitioning = true)
              // computeAll sums every metric in one job, and cox-nloglik
              // in jobs of its own; when that is more than one job,
              // persist the scored margins for the round so the margin
              // map runs ONCE and the extra jobs pay only a cache read
              val cached =
                if (Metrics.jobs(metricNames, customByName) > 1)
                  Some(life.persist(scored))
                else None
              metricNames.zip(Metrics.computeAll(metricNames, obj,
                cached.getOrElse(scored), 1, customByName)(0)).foreach {
                case (mn, v) => evalsResult(n)(mn) += v
              }
              cached.foreach(life.release)
            }
            life.destroy(bcE)
            if (early.update(round, evalsResult)) stop = true
          }
          round += 1
        }
      }
      // carry the resolved feature names when they map 1:1 to weight
      // slots (not for a pre-assembled vector column, whose inner
      // slots are unnamed) — same convention as the tree booster
      val fNames = {
        val d = weights.headOption.map(_.length).getOrElse(0)
        if (spec.preAssembledCol(df).isDefined) Nil
        else {
          val ns = spec.resolveFeatures(df)
          if (ns.length == d) ns else Nil
        }
      }
      LinearTrainResult(
        LinearModel(weights, bias, obj.name, params.baseScore, fNames),
        evalsResult.toMap,
        bestIteration = early.bestIteration, bestScore = early.bestScore)
    }
  }

  /** Model sink/source (S12 parity for the linear booster): one
    * parquet of (cls, idx, weight) rows — idx −1 is the class bias —
    * with the objective/baseScore meta inline. */
  def save(model: LinearModel, spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    val rows = model.weights.zipWithIndex.flatMap { case (wc, c) =>
      wc.toSeq.zipWithIndex.map { case (w, i) =>
        (c, i, w.toDouble, "", 0.0,
          // feature names ride the class-0 weight rows (r11)
          if (c == 0 && model.featureNames.nonEmpty)
            model.featureNames(i)
          else "")
      } :+ ((c, -1, model.bias(c).toDouble, model.objective,
        model.baseScore, ""))
    }.toSeq
    rows.toDF("cls", "idx", "weight", "objective", "base_score",
        "fname")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): LinearModel = {
    val df = spark.read.parquet(path)
    val rows = df.collect()
    val k = rows.map(_.getInt(0)).max + 1
    val meta = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == -1).get
    val weights = (0 until k).map { c =>
      rows.filter(r => r.getInt(0) == c && r.getInt(1) >= 0)
        .sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
    }.toArray
    val bias = (0 until k).map { c =>
      rows.find(r => r.getInt(0) == c && r.getInt(1) == -1).get
        .getDouble(2).toFloat
    }.toArray
    // fname column absent in pre-r11 saves → unnamed
    val fNames =
      if (!df.schema.fieldNames.contains("fname")) Nil
      else {
        val ns = rows.filter(r => r.getInt(0) == 0 && r.getInt(1) >= 0)
          .sortBy(_.getInt(1)).map(_.getAs[String]("fname")).toSeq
        if (ns.nonEmpty && ns.forall(_.nonEmpty)) ns else Nil
      }
    LinearModel(weights, bias, meta.getString(3), meta.getDouble(4),
      fNames)
  }

  /**
   * xgboost-JSON export for the linear booster — the `booster=
   * "gblinear"` half of the model-interchange story (the tree half is
   * [[graft.learner.GraftModel.toXgbJson]]): emits xgboost's 2.x
   * gblinear schema so a model trained here loads and scores in stock
   * xgboost. Stock layout is ONE flat weight vector of
   * (num_feature + 1) × num_groups floats, feature-major with the
   * group index inner (`w[j*k + c]`) and the per-group biases in the
   * trailing block (`w[d*k + c]`) — gblinear_model.h's accessor
   * convention. Weights transport verbatim (shortest-round-trip float
   * strings reparse bit-exactly), so export→import round-trips
   * bit-for-bit.
   */
  def toXgbJson(model: LinearModel): String = {
    require(!model.objective.startsWith("custom:"),
      "custom objectives have no xgboost-side name; keep the parquet " +
        "sink or export with objective overridden")
    val k = model.numClass; val d = model.numFeatures
    val flat = new Array[Float]((d + 1) * k)
    for (c <- 0 until k) {
      for (j <- 0 until d) flat(j * k + c) = model.weights(c)(j)
      flat(d * k + c) = model.bias(c)
    }
    val numClass = if (k <= 1) 0 else k
    // per-objective param block names follow xgboost's LoadConfig
    // lookups (same table as the tree exporter): count:poisson reads
    // poisson_regression_param, reg:tweedie tweedie_regression_param —
    // values are xgboost's defaults since the fitted model does not
    // carry them (review r9: reg_loss_param for count:* failed stock
    // load)
    val objParam = model.objective match {
      case o if o.startsWith("multi:") =>
        s""""softmax_multiclass_param":{"num_class":"$numClass"}"""
      case o if o.startsWith("count:") =>
        """"poisson_regression_param":{"max_delta_step":"0.7"}"""
      case "reg:tweedie" =>
        """"tweedie_regression_param":{"tweedie_variance_power":"1.5"}"""
      case _ => """"reg_loss_param":{"scale_pos_weight":"1"}"""
    }
    val namesJson =
      graft.learner.XgbJsonStrings.stringArray(model.featureNames)
    val typesJson =
      graft.learner.XgbJsonStrings.floatTypes(model.featureNames.length)
    s"""{"learner":{"attributes":{},"feature_names":$namesJson,""" +
      s""""feature_types":$typesJson,"gradient_booster":{"model":{""" +
      s""""weights":${flat.mkString("[", ",", "]")}},""" +
      s""""name":"gblinear"},""" +
      s""""learner_model_param":{"base_score":"${model.baseScore}",""" +
      s""""boost_from_average":"1","num_class":"$numClass",""" +
      s""""num_feature":"$d","num_target":"1"},""" +
      s""""objective":{"name":"${model.objective}",$objParam}},""" +
      s""""version":[2,0,0]}"""
  }

  /**
   * xgboost-JSON import for the linear booster — inverse of
   * [[toXgbJson]], accepting stock `save_model("m.json")` gblinear
   * artifacts (the reference's arriving-user path: `predict(model,
   * data)` takes an existing `xgb.Booster`, main.py:1810). Unlike tree
   * imports, a linear model is fully described by its weights, so
   * imported models support every surface including continued
   * training. Tree boosters fail fast toward
   * [[graft.learner.GraftModel.fromXgbJson]]; `reg:logistic` aliases
   * to `binary:logistic`.
   */
  def fromXgbJson(json: String): LinearModel = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    def reqNode(n: com.fasterxml.jackson.databind.JsonNode,
        what: String): com.fasterxml.jackson.databind.JsonNode = {
      require(n != null, s"not an xgboost JSON model: missing '$what'")
      n
    }
    val learner = reqNode(root.get("learner"), "learner")
    val gbooster =
      reqNode(learner.get("gradient_booster"), "gradient_booster")
    val name =
      reqNode(gbooster.get("name"), "gradient_booster.name").asText()
    require(name == "gblinear",
      s"booster '$name' carries trees — import it with " +
        "GraftModel.fromXgbJson (this is the gblinear importer)")
    val lmp =
      reqNode(learner.get("learner_model_param"), "learner_model_param")
    reqNode(learner.get("objective"), "objective")
    reqNode(gbooster.get("model"), "model")
    val d = lmp.get("num_feature").asText().toInt
    val numClass = lmp.get("num_class").asText().toInt
    val k = math.max(numClass, 1)
    val baseScore = lmp.get("base_score").asText().toDouble
    val objective0 = learner.get("objective").get("name").asText()
    val objective =
      if (objective0 == "reg:logistic") "binary:logistic" else objective0
    Objectives.forName(objective, numClass) // fail at import if unknown
    val wj = gbooster.get("model").get("weights")
    require(wj != null && wj.size() == (d + 1) * k,
      s"gblinear weights length ${if (wj == null) 0 else wj.size()} " +
        s"!= (num_feature+1)×num_groups = ${(d + 1) * k}")
    val weights = Array.tabulate(k, d)((c, j) => wj.get(j * k + c).floatValue())
    val bias = Array.tabulate(k)(c => wj.get(d * k + c).floatValue())
    // names ride along when present and consistent with num_feature
    val fNames = {
      val ns = learner.get("feature_names")
      if (ns == null || ns.size() != d) Nil
      else (0 until d).map(ns.get(_).asText())
    }
    LinearModel(weights, bias, objective, baseScore, fNames)
  }

  /** Write [[toXgbJson]] to a local file. */
  def saveXgbJson(model: LinearModel, path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      toXgbJson(model).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Read [[fromXgbJson]] from a local file. */
  def loadXgbJson(path: String): LinearModel =
    fromXgbJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /**
   * Feature-contribution prediction for the linear booster — xgboost's
   * gblinear `pred_contribs=True` semantics (the reference forwards
   * the kwarg regardless of booster, main.py:1750-1806): a linear
   * margin decomposes EXACTLY as contribution w_cj · x_j per feature
   * (missing ⇒ 0, the sparse-ignores-absent rule training uses) with
   * the bias slot carrying bias_c + the init/base margin, so each
   * class block sums to that class's margin — the linear model's
   * Shapley values, no approximation. Layout mirrors the tree
   * booster's `contribs` column: per class numFeatures entries + bias,
   * flattened; pure codegen Column expressions, no UDF.
   */
  def predictContrib(model: LinearModel, df: DataFrame,
      spec: DMatrixSpec): DataFrame = {
    val featsArr = checkedFeatures(model, df, spec)
    val bm = spec.baseMarginCol.filter(df.columns.contains)
      .map(c => coalesce(col(c).cast("float"), lit(Float.NaN)))
      .getOrElse(lit(Float.NaN))
    val entries: Seq[Column] = (0 until model.numClass).flatMap { c =>
      (0 until model.numFeatures)
        .map(j => model.termExpr(featsArr, c, j).cast("float")) :+
        model.baseExpr(c, bm).cast("float")
    }
    df.withColumn("contribs", array(entries: _*))
  }

  /** Feature assembly + the width fail-fasts both predict surfaces
    * share: per-column width is checked statically; pre-assembled rows
    * get a runtime guard (element_at + coalesce would otherwise read a
    * silent 0 past a short row). */
  private def checkedFeatures(model: LinearModel, df: DataFrame,
      spec: DMatrixSpec): Column = {
    spec.featureWidth(df).foreach { n =>
      require(n == model.numFeatures,
        s"model expects ${model.numFeatures} features, got $n")
    }
    val raw = spec.featuresArray(df)
    if (spec.featureWidth(df).isDefined) raw
    else when(size(raw) =!= model.numFeatures, raise_error(concat(
      lit("graft: pre-assembled feature row has "),
      size(raw).cast("string"),
      lit(s" element(s); model expects ${model.numFeatures}"))))
      .otherwise(raw)
  }

  /** Append prediction column(s) — pure codegen, no UDF, no shuffle.
    * Multiclass mirrors `GraftBoost.predict`'s softprob surface:
    * `probabilities` array + argmax `prediction`. Per-row base margins
    * (spec.baseMarginCol, if present in `df`) offset the init margin
    * exactly as at training time. */
  def predict(model: LinearModel, df: DataFrame, spec: DMatrixSpec,
      outputCol: String = "prediction"): DataFrame = {
    // same assembly expression as training (per-column or pre-assembled
    // Vector/array, `missing` substitution included)
    val featsArr = checkedFeatures(model, df, spec)
    val bm = spec.baseMarginCol.filter(df.columns.contains)
      .map(c => coalesce(col(c).cast("float"), lit(Float.NaN)))
      .getOrElse(lit(Float.NaN))
    if (model.numClass >= 2) {
      // materialize margins → exps → norm as chained columns so each
      // stage is computed once per row (a single nested expression
      // would re-expand the K-margin array per output element)
      val ms = array((0 until model.numClass)
        .map(model.marginExpr(featsArr, _, bm)): _*)
      val mTmp = "__graft_m"; val eTmp = "__graft_e"
      val out = df.withColumn(mTmp, ms)
        .withColumn(eTmp, transform(col(mTmp),
          e => exp(e - array_max(col(mTmp)))))
        .withColumn("probabilities", transform(col(eTmp),
          e => e / aggregate(col(eTmp), lit(0.0), (a, x) => a + x)))
        .drop(mTmp, eTmp)
      out.withColumn(outputCol,
        (array_position(col("probabilities"),
          array_max(col("probabilities"))) - 1).cast("double"))
    } else df.withColumn(outputCol, model.predictExpr(featsArr, bm))
  }
}
