package graft.api

import graft.data.{DMatrixSpec, Sharding}
import graft.functions.EnsembleScore
import graft.learner._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/**
 * Functional train/predict API — signature-level analog of the
 * reference's module entry points `train()` (xgboost_ray/main.py:1341)
 * and `predict()` (main.py:1810). The `RayParams` knobs that configure
 * Ray actors (num_actors, cpus_per_actor, placement) collapse into
 * `numWorkers` (a repartition count) because Spark owns placement,
 * locality and retries (SURVEY §2.6 C1-C3).
 */
object GraftBoost {

  /**
   * Train a boosted-tree model.
   *
   * @param df         training table (any numeric feature columns)
   * @param spec       column-role declaration (RayDMatrix analog)
   * @param params     boosting params
   * @param evals      named evaluation DataFrames (same schema), analog of
   *                   `evals=[(dtrain, "train")]` (main.py:1341)
   * @param numWorkers repartition count; 0 = keep input partitioning
   *                   (num_actors analog)
   */
  def train(
      df: DataFrame,
      spec: DMatrixSpec,
      params: TrainParams,
      evals: Seq[(String, DataFrame)] = Nil,
      numWorkers: Int = 0,
      callbacks: Seq[TrainingCallback] = Nil,
      initModel: Option[GraftModel] = None,
      distributedCallbacks: Seq[DistributedCallback] = Nil): TrainResult = {
    val obj = Objectives.resolve(params)
    val data = materialize(df, spec, params, numWorkers,
      distributedCallbacks)
    // one-shot training owns its caches: boost releases the blocks as
    // the margin chain advances past them, exactly the pre-BinnedMatrix
    // lifecycle, and a failure before boost takes them frees them here
    try {
      val evalRdds = bindEvals(evals, df, data.blocks, data.bins, spec, obj,
        params.baseScore, numWorkers)
      boostMatrix(data, params, evalRdds, callbacks, initModel,
        distributedCallbacks, releaseInputs = true)
    } catch { case t: Throwable => data.unpersist(); throw t }
  }

  /**
   * A materialized binned training matrix — the RayDMatrix "load once,
   * train many times" analog (the reference memoizes per-actor loading,
   * matrix.py:703-716, main.py:654-670). `prepare → bin → pack` runs
   * ONCE; every [[BinnedMatrix.train]] against the handle reuses the
   * cached [[graft.learner.TrainBlock]] RDD, so a hyperparameter
   * search / CV sweep pays the dominant load+bin cost once instead of
   * once per trial — and each trial's margin generations share the
   * static block columns with this cache by reference
   * (TrainBlock.withMargins), so N concurrent trials cost N margin
   * columns, not N dataset copies. The handle is tied to its binning
   * inputs: train() requires the same resolved objective, baseScore,
   * maxBins and seed it was materialized with (they shape the cuts,
   * the init margins, the output width and the group layout) and fails
   * fast otherwise. Release with [[BinnedMatrix.unpersist]].
   */
  final class BinnedMatrix private[api] (
      private[api] val blocks: org.apache.spark.rdd.RDD[TrainBlock],
      private[api] val bins: Binner.Bins,
      private[api] val catFlags: Array[Boolean],
      private[api] val featureNames: Seq[String],
      private[api] val specFeatureWeights: Option[Array[Double]],
      private[api] val session: SparkSession,
      private[api] val objName: String,
      private[api] val numOutputs: Int,
      private[api] val baseScore: Double,
      private[api] val maxBins: Int,
      private[api] val seed: Long,
      private[api] val forTraining: Boolean,
      private[api] val loadCallbacks: Seq[DistributedCallback],
      private[api] val knownRows: Long = -1L) {

    def numFeatures: Int = bins.numFeatures

    /** Exact row count — the count the materialization already took
      * (prepare/pack drop no rows) or, for handles built without one,
      * a cheap block-count sum over the cache. */
    lazy val numRows: Long =
      if (knownRows >= 0L) knownRows
      else blocks.mapPartitions(it =>
        Iterator.single(it.foldLeft(0L)(_ + _.n))).fold(0L)(_ + _)

    /** Train against the materialized blocks. Eval sets are other
      * matrices bound to THIS matrix's bins ([[materializeEval]]); pass
      * this object itself for the `evals=[(dtrain, "train")]` idiom. */
    def train(params: TrainParams,
        evals: Seq[(String, BinnedMatrix)] = Nil,
        callbacks: Seq[TrainingCallback] = Nil,
        initModel: Option[GraftModel] = None,
        distributedCallbacks: Seq[DistributedCallback] = Nil)
        : TrainResult =
      GraftBoost.trainBinned(this, params, evals, callbacks, initModel,
        distributedCallbacks)

    /** Release the cached blocks (the handle is spent afterwards). */
    def unpersist(): Unit = { blocks.unpersist(blocking = false); () }
  }

  /**
   * Materialize `df` into a reusable [[BinnedMatrix]]: validate the
   * spec, fit the binner, bin+pack into cached TrainBlocks. The
   * binning-relevant params (objective, baseScore, maxBins, seed,
   * storageLevel) are captured; later train() calls must match them.
   * Validation, the cache-or-rescan choice, the row count and the
   * binner fit are the shared [[load]] step (see it for when the
   * prepared rows are cached instead of re-scanned).
   *
   * `distributedCallbacks` passed HERE get the full lifecycle: their
   * before/afterDataLoading hooks fire as the matrix materializes
   * (the reference fires them inside its memoized load_data,
   * main.py). Callbacks first supplied to [[BinnedMatrix.train]] can
   * only fire their training-phase hooks — the data is already
   * loaded — and trainBinned warns when that happens.
   */
  def materialize(df: DataFrame, spec: DMatrixSpec, params: TrainParams,
      numWorkers: Int = 0,
      distributedCallbacks: Seq[DistributedCallback] = Nil)
      : BinnedMatrix = {
    val obj = Objectives.resolve(params)
    require(spec.labelCol.size == 1 || boundsOnly(spec, obj),
      "trainer supports a single label column (multi-label loading is a " +
        "data-layer feature; see DMatrixSpec)")
    val in = load(df, spec, params, obj, numWorkers, distributedCallbacks)
    val blocks = in.pack(params.storageLevel)(
      toBinned(_, in.bins, obj, params.baseScore))
    val names = attachableNames(spec, df, in.bins.numFeatures)
    new BinnedMatrix(blocks, in.bins, in.catFlags, names,
      spec.featureWeights, df.sparkSession, obj.name, obj.numOutputs,
      params.baseScore, params.maxBins, params.seed, forTraining = true,
      loadCallbacks = distributedCallbacks, knownRows = in.totalRows)
  }

  /** Materialize an EVAL set against an existing training matrix's
    * bins (unseen category codes bin to the spare non-matching slot
    * and route like predict, so a fresh eval frame cannot fail the
    * trained cuts). The result can only be passed as an eval. */
  def materializeEval(df: DataFrame, train: BinnedMatrix,
      spec: DMatrixSpec, params: TrainParams, numWorkers: Int = 0)
      : BinnedMatrix = {
    val obj = Objectives.resolve(params)
    // numOutputs is checked separately from the name: softmax/custom
    // objective names don't encode numClass, and a width mismatch
    // corrupts the packed margin stride rather than failing loudly.
    require(obj.name == train.objName &&
      obj.numOutputs == train.numOutputs &&
      params.baseScore == train.baseScore,
      s"graft: eval matrix must bin under the training matrix's " +
        s"objective/baseScore ('${train.objName}' ×${train.numOutputs}, " +
        s"${train.baseScore}); " +
        s"got '${obj.name}' ×${obj.numOutputs}, ${params.baseScore}")
    val ev = cache(bindEval(df, spec, obj, params.baseScore, numWorkers,
      train.bins), params.storageLevel)
    new BinnedMatrix(ev, train.bins, train.catFlags, Nil, None,
      df.sparkSession, train.objName, train.numOutputs, train.baseScore,
      train.maxBins, train.seed, forTraining = false,
      loadCallbacks = Nil)
  }

  private[api] def trainBinned(data: BinnedMatrix, params: TrainParams,
      evals: Seq[(String, BinnedMatrix)],
      callbacks: Seq[TrainingCallback],
      initModel: Option[GraftModel],
      distributedCallbacks: Seq[DistributedCallback]): TrainResult = {
    val obj = Objectives.resolve(params)
    require(data.forTraining,
      "graft: this matrix was materialized as an EVAL set " +
        "(unseen-category-tolerant binning); materialize(df, ...) the " +
        "training data instead")
    // obj.numOutputs is checked in addition to the name: the name
    // alone doesn't pin numClass (multi:softmax with numClass=3 vs 5
    // resolves to the same name), and the packed blocks carry margins
    // at stride k — reading them at a different stride is an executor
    // AIOOBE at best and silently corrupt gradients at worst.
    require(obj.name == data.objName &&
      obj.numOutputs == data.numOutputs &&
      params.baseScore == data.baseScore &&
      params.maxBins == data.maxBins && params.seed == data.seed,
      s"graft: BinnedMatrix was materialized for objective " +
        s"'${data.objName}' ×${data.numOutputs} (baseScore " +
        s"${data.baseScore}, maxBins ${data.maxBins}, seed " +
        s"${data.seed}); train() got '${obj.name}' ×${obj.numOutputs} " +
        s"(${params.baseScore}, ${params.maxBins}, ${params.seed}) — " +
        "these shape the bin cuts, init margins and block layout; " +
        "re-materialize to change them")
    checkMonotoneCats(params, data.catFlags)
    // Loading-phase hooks fire at materialize time (the reference
    // fires them inside its memoized load_data); a callback instance
    // first seen here can only get its training-phase hooks. Warn —
    // silence would read as the hook contract being broken.
    val lateCbs = distributedCallbacks.filterNot(cb =>
      data.loadCallbacks.exists(_ eq cb))
    if (lateCbs.nonEmpty)
      org.slf4j.LoggerFactory.getLogger("graft").warn(
        s"train() received ${lateCbs.size} distributed callback(s) that " +
          "materialize() never saw: their before/afterDataLoading hooks " +
          "will NOT fire (the matrix is already loaded). Pass loading " +
          "callbacks to materialize().")
    val evalRdds = evals.map { case (n, ev) =>
      if (ev eq data) (n, data.blocks) // the dtrain idiom
      else {
        require(ev.bins eq data.bins,
          s"graft: eval set '$n' was not materialized against this " +
            "matrix's bins — use materializeEval(evalDf, trainMatrix, ...)")
        (n, ev.blocks)
      }
    }
    boostMatrix(data, params, evalRdds, callbacks, initModel,
      distributedCallbacks, releaseInputs = false)
  }

  /** The boosting tail [[train]] and [[BinnedMatrix.train]] share:
    * spec feature weights fill in for unset params, then boost and
    * name the model's features. `releaseInputs` is the one difference
    * — one-shot training frees the blocks as it goes, a reusable
    * matrix keeps them. */
  private def boostMatrix(data: BinnedMatrix, params: TrainParams,
      evals: Seq[(String, RDD[TrainBlock])],
      callbacks: Seq[TrainingCallback], initModel: Option[GraftModel],
      distributedCallbacks: Seq[DistributedCallback],
      releaseInputs: Boolean): TrainResult = {
    val p2 = params.copy(featureWeights =
      params.featureWeights.orElse(data.specFeatureWeights))
    val res = Trainer.boost(data.blocks, evals, data.bins, p2,
      callbacks, initModel, Some(data.session), distributedCallbacks,
      releaseInputs = releaseInputs, knownRows = data.knownRows)
    attachNames(res, data.featureNames)
  }

  /** Bin an eval frame under trained cuts. Eval rows tolerate unseen
    * category codes (they bin to the spare non-matching bin and route
    * like predict); train rows keep the fail-fast. Lazy: the caller
    * decides whether to persist and force it. */
  private def bindEval(e: DataFrame, spec: DMatrixSpec, obj: Objective,
      baseScore: Double, numWorkers: Int, bins: Binner.Bins, k: Int = 0)
      : RDD[TrainBlock] =
    toBinned(prepare(e, spec, obj, numWorkers), bins, obj, baseScore, k,
      tolerateUnseenCats = true)

  /** Named eval sets for a trainer over `trainBlocks`. The xgboost
    * evals=[(dtrain, "train")] idiom: when an eval set IS the training
    * frame (same object), reuse the binned train RDD instead of
    * preparing+binning a duplicate copy — halves the cached footprint
    * and the prep passes for the most common eval config (the
    * reference benchmark trains exactly this way,
    * benchmark_cpu_gpu.py:96-100). */
  private def bindEvals(evals: Seq[(String, DataFrame)], df: DataFrame,
      trainBlocks: RDD[TrainBlock], bins: Binner.Bins, spec: DMatrixSpec,
      obj: Objective, baseScore: Double, numWorkers: Int, k: Int = 0)
      : Seq[(String, RDD[TrainBlock])] =
    evals.map { case (n, e) =>
      if (e eq df) (n, trainBlocks)
      else (n, bindEval(e, spec, obj, baseScore, numWorkers, bins, k))
    }

  private def attachNames(res: TrainResult,
      names: Seq[String]): TrainResult =
    if (names.nonEmpty && names.length == res.model.numFeatures)
      res.copy(model = res.model.withFeatureNames(names))
    else res

  /** Resolved feature-column names worth carrying on a model (the
    * reference forwards RayDMatrix feature_names to the booster,
    * matrix.py:797-798) — none for a pre-assembled vector column
    * (unnamed slots) and none when a post-join frame carries DUPLICATE
    * names (they would collapse featureImportancesNamed keys and emit
    * xgboost-rejected duplicate feature_names on export). */
  private def attachableNames(spec: DMatrixSpec, df: DataFrame,
      numFeatures: Int): Seq[String] =
    if (spec.preAssembledCol(df).isDefined) Nil
    else {
      val ns = spec.resolveFeatures(df)
      if (ns.length == numFeatures && ns.distinct.length == ns.length) ns
      else Nil
    }

  /** Monotonicity has no meaning for an unordered one-hot partition —
    * a constraint on a declared-categorical feature would silently
    * veto/admit candidates by which code sits left, so reject it. */
  private def checkMonotoneCats(params: TrainParams,
      catFlags: Array[Boolean]): Unit =
    if (params.monotoneConstraints.nonEmpty && catFlags.nonEmpty) {
      val bad = params.monotoneConstraints.zipWithIndex.collect {
        case (c, f) if c != 0 && f < catFlags.length && catFlags(f) => f
      }
      require(bad.isEmpty,
        s"graft: monotone constraints are not defined for categorical " +
          s"features (one-hot == splits have no order); remove the " +
          s"constraint on feature index(es) ${bad.mkString(", ")}")
    }

  /** Per-label results of a multi-label run. */
  final case class MultiLabelResult(results: Seq[(String, TrainResult)]) {
    def models: Seq[(String, GraftModel)] =
      results.map { case (n, r) => (n, r.model) }
  }

  /** The per-label spec a multi-label run trains/predicts with: the
    * other label columns are ignored so the feature set is identical
    * across labels. */
  private def singleLabelSpec(spec: DMatrixSpec, label: String)
      : DMatrixSpec =
    spec.copy(labelCol = Seq(label),
      ignore = spec.ignore ++ spec.labelCol.filterNot(_ == label))

  /**
   * Multi-label training (matrix.py:410-425: list-of-names labels,
   * Parquet multi-label loading): one boosted ensemble per label column
   * over the SAME feature set — xgboost's `one_output_per_tree` layout;
   * each label's model equals its own [[train]] run's, bit for bit on
   * exchange-free input. [[load]] projects every label column beside the
   * features and [[toBinned]] packs them L per row, eval frames too, in
   * one pass. ONE [[Trainer.boostTargets]] run then trains all L models
   * at margin width L·c, every label's trees in the same level jobs;
   * each label keeps its own eval history and early stop and saves its
   * checkpoints under `<checkpointPath>/<label>`. DART (per-model drop
   * sets) runs the loop once per label over the same blocks.
   */
  def trainMultiLabel(
      df: DataFrame,
      spec: DMatrixSpec,
      params: TrainParams,
      evals: Seq[(String, DataFrame)] = Nil,
      numWorkers: Int = 0): MultiLabelResult = {
    require(spec.labelCol.size >= 2,
      s"multi-label needs >=2 label columns, got ${spec.labelCol}")
    val obj = Objectives.resolve(params)
    val labels = spec.labelCol
    // Rows laid out by the label keep one train per label: ranking sorts
    // rows by (qid, content incl. the label column) and survival reads
    // the label as a bound. A spec DECLARING qid/bounds columns takes
    // this path too, even under a pointwise objective: a block with
    // several labels per row carries no qids or bounds, which would
    // silently degrade a bounds metric — the per-label pipeline carries
    // the declared columns through.
    if (obj.needsGroups || obj.needsBounds || spec.qidCol.isDefined ||
        spec.labelLowerCol.isDefined || spec.labelUpperCol.isDefined)
      return MultiLabelResult(labels.map { l =>
        (l, train(df, singleLabelSpec(spec, l), params.copy(
          checkpointPath = params.checkpointPath.map(c => s"$c/$l")),
          evals, numWorkers))
      })
    val nl = labels.size
    val runs =
      if (params.booster == "dart")
        labels.indices.map(j => Targets(nl, Seq(j), Seq(labels(j))))
      else Seq(Targets(nl, labels.indices, labels))
    val width = runs.head.labels.length * obj.numOutputs
    val in = load(df, spec, params, obj, numWorkers)
    val blocks = in.pack(params.storageLevel)(
      toBinned(_, in.bins, obj, params.baseScore, k = width))
    val names = attachableNames(spec, df, in.bins.numFeatures)
    val p2 = params.copy(featureWeights =
      params.featureWeights.orElse(spec.featureWeights))
    var evalRdds = Seq.empty[(String, RDD[TrainBlock])]
    // one run owns and frees its inputs as its margins advance; several
    // share them. Either way, what is still cached is freed here.
    try {
      evalRdds = bindEvals(evals, df, blocks, in.bins, spec, obj,
        params.baseScore, numWorkers, k = width)
      MultiLabelResult(runs.flatMap { tg =>
        val res = Trainer.boostTargets(blocks, evalRdds, in.bins, p2, tg,
          spark = Some(df.sparkSession), releaseInputs = runs.length == 1,
          knownRows = in.totalRows)
        tg.names.zip(res.map(attachNames(_, names)))
      })
    } finally
      (blocks +: evalRdds.map(_._2)).foreach(_.unpersist(blocking = false))
  }

  /** Append one `prediction_<label>` column per trained label (and,
    * under softprob, one `probabilities_<label>` array). */
  def predictMultiLabel(result: MultiLabelResult, df: DataFrame,
      spec: DMatrixSpec): DataFrame =
    predictPerLabel(result.models, df, spec)

  /** Per (label, model), [[predict]]'s output columns scored under the
    * label's [[singleLabelSpec]] and suffixed with the label:
    * `prediction_<label>`, and `probabilities_<label>` (softprob) or
    * `predictions_<label>` (multi-quantile). */
  private def predictPerLabel(models: Seq[(String, GraftModel)],
      df: DataFrame, spec: DMatrixSpec): DataFrame = {
    val outputs = Seq("probabilities", "predictions", "prediction")
    // earlier labels' outputs must not leak into later feature sets
    val labelled = for ((l, _) <- models; c <- outputs) yield s"${c}_$l"
    models.foldLeft(df) { case (acc, (l, m)) =>
      val s = singleLabelSpec(spec, l)
      outputs.foldLeft(
        predict(m, acc, s.copy(ignore = s.ignore ++ labelled))) { (out, c) =>
          out.withColumnRenamed(c, s"${c}_$l")
        }
    }
  }

  /**
   * Train ONE vector-leaf tree per round over all label columns — the
   * xgboost 2.x `multi_strategy = "multi_output_tree"` analog (see
   * [[graft.learner.MultiOutput]] for semantics and v1 scope). Same
   * load→bin→pack step as [[trainMultiLabel]], packed at margin width
   * L, and the same round loop ([[Trainer.boostTargets]] with
   * `vectorLeaf`): one tree of node width L per round, so the model is
   * L× smaller (shared split structure).
   */
  def trainMultiOutput(
      df: DataFrame,
      spec: DMatrixSpec,
      params: TrainParams,
      numWorkers: Int = 0): MultiOutput.MultiOutputModel = {
    require(spec.labelCol.size >= 2,
      s"multi_output_tree needs >=2 label columns, got ${spec.labelCol}")
    val obj = Objectives.resolve(params)
    require(!obj.needsGroups && !obj.needsBounds &&
      spec.qidCol.isEmpty && spec.labelLowerCol.isEmpty &&
      spec.labelUpperCol.isEmpty,
      "multi_output_tree supports pointwise objectives without " +
        "qid/bounds roles — use trainMultiLabel for those")
    // scope validation BEFORE any data scan: an unsupported
    // booster/subsample must not cost prepare+bin+pack of the whole
    // input first
    MultiOutput.checkParams(params, obj, spec.categoricalFlags(df))
    val kOut = spec.labelCol.size
    val in = load(df, spec, params, obj, numWorkers)
    val blocks = in.pack(params.storageLevel)(
      toBinned(_, in.bins, obj, params.baseScore, k = kOut))
    try {
      val res = Trainer.boostTargets(blocks, Nil, in.bins, params,
        Targets(kOut, 0 until kOut, vectorLeaf = true),
        knownRows = in.totalRows).head
      MultiOutput.MultiOutputModel(res.model.trees.toSeq.map(t =>
        new MultiOutput.MoTree(t.feature, t.thresholdBin, t.threshold,
          t.defaultLeft, t.left, t.right, t.value, t.gain, t.cover, kOut)),
        kOut, obj.name, params.baseScore, in.bins.numFeatures,
        spec.labelCol)
    } finally blocks.unpersist(blocking = false)
  }

  /** Append one `prediction_<label>` column per target of a
    * [[trainMultiOutput]] model — each output scored through the same
    * codegen [[graft.functions.EnsembleScore]] path via its
    * structure-shared [[graft.learner.MultiOutput.MoTree.slice]]
    * view. */
  def predictMultiOutput(model: MultiOutput.MultiOutputModel,
      df: DataFrame, spec: DMatrixSpec): DataFrame =
    predictPerLabel(model.labelNames.zipWithIndex.map { case (l, j) =>
      (l, model.sliceModel(j)) }, df, spec)

  /**
   * Batch prediction — analog of `predict()` (main.py:1750-1806):
   * embarrassingly parallel map, NO shuffle. Row order/correspondence
   * is preserved by construction (`withColumn`), which subsumes the
   * reference's `combine_data` order restoration
   * (matrix.py:1113-1156). Scoring runs through the whole-stage-codegen
   * [[graft.functions.EnsembleScore]] expression — primitive ArrayData
   * reads + flat-array tree traversal, no per-row Seq boxing (the r3
   * UDF hot-path regression); the model ships inside the expression
   * with the stage's task binary (the `ray.put(model)` analog,
   * main.py:1790).
   *
   * @return input df + `prediction` column (double; class id for softmax,
   *         probability for logistic) and, for softprob, a
   *         `probabilities` array column.
   */
  def predict(
      model: GraftModel,
      df: DataFrame,
      spec: DMatrixSpec,
      outputMargin: Boolean = false,
      distributedCallbacks: Seq[DistributedCallback] = Nil): DataFrame = {
    val spark = df.sparkSession
    val scores = scored(model, df, spec,
      if (outputMargin) EnsembleScore.Margin else EnsembleScore.Prediction)
    val out = if (model.numClass >= 2 && model.objective == "multi:softprob") {
      val withP = df.withColumn("probabilities", scores)
      withP.withColumn("prediction",
        (array_position(col("probabilities"),
          array_max(col("probabilities"))) - 1).cast("double"))
    } else if (model.numClass >= 2 &&
        model.objective.startsWith("reg:quantileerror")) {
      // multi-quantile: the full per-α vector in `predictions` (xgboost
      // returns shape (n, k) for a quantile_alpha list); `prediction`
      // keeps the first α for the scalar-column consumers
      val withP = df.withColumn("predictions", scores)
      withP.withColumn("prediction",
        element_at(col("predictions"), 1).cast("double"))
    } else {
      df.withColumn("prediction", element_at(scores, 1).cast("double"))
    }
    if (distributedCallbacks.isEmpty) out
    else {
      // before/afterPredict fire when each output partition is computed
      val schema = out.schema
      val rdd = out.rdd.mapPartitions(
        DistributedCallback.wrapPredict(distributedCallbacks)(_))
      spark.createDataFrame(rdd, schema)
    }
  }

  /**
   * Leaf-index prediction — the xgboost `pred_leaf=True` kwarg the
   * reference forwards through `predict` (main.py:1750-1806): appends a
   * `leaf_indices` array<int> column with one leaf node id per tree
   * (ensemble layout order). The standard building block for
   * gradient-boosted embedding features and leaf-level analysis; same
   * codegen zero-boxing path as the score predict.
   */
  def predictLeaf(model: GraftModel, df: DataFrame,
      spec: DMatrixSpec): DataFrame =
    df.withColumn("leaf_indices",
      scored(model, df, spec, EnsembleScore.LeafIds))

  /**
   * Feature-contribution prediction — the xgboost `pred_contribs=True`
   * kwarg the reference forwards through `predict` (main.py:1750-1806):
   * appends a `contribs` array<float> column laid out as documented on
   * [[GraftModel.contribs]] (per class: numFeatures contributions +
   * bias; each class block sums to that class's raw margin).
   *
   * @param approxContribs false (default, like xgboost): EXACT TreeSHAP
   *                       Shapley values (Lundberg's polynomial walk
   *                       over the trained cover stats); true: the
   *                       Saabas path decomposition (xgboost's
   *                       `approx_contribs=True`).
   */
  def predictContrib(model: GraftModel, df: DataFrame,
      spec: DMatrixSpec, approxContribs: Boolean = false): DataFrame =
    withDecomposition(model, df, spec, "contribs",
      if (approxContribs) EnsembleScore.SaabasContribs
      else EnsembleScore.ExactContribs,
      block = model.numFeatures + 1)

  /**
   * Pairwise interaction prediction — the xgboost
   * `pred_interactions=True` kwarg the reference forwards through
   * `predict` (main.py:1750-1806): appends an `interactions`
   * array<float> column (per class a flattened (numFeatures+1)²
   * symmetric matrix; row sums reproduce [[predictContrib]]'s blocks,
   * totals the raw margins).
   *
   * @param approxInteractions false (default, like xgboost): EXACT
   *                           SHAP interaction values via conditioned
   *                           TreeSHAP walks
   *                           ([[GraftModel.shapInteractions]]); true:
   *                           the Saabas-style path decomposition
   *                           ([[GraftModel.interactions]]).
   */
  def predictInteractions(model: GraftModel, df: DataFrame,
      spec: DMatrixSpec, approxInteractions: Boolean = false)
      : DataFrame =
    withDecomposition(model, df, spec, "interactions",
      if (approxInteractions) EnsembleScore.SaabasInteractions
      else EnsembleScore.ExactInteractions,
      block = (model.numFeatures + 1) * (model.numFeatures + 1))

  // ---- internals ----

  /** Per-row base margin (DMatrix base_margin predict semantics,
    * matrix.py:329-331), NaN where a row has none; None when the spec
    * declares no margin column or `df` lacks it. */
  private def baseMargin(df: DataFrame, spec: DMatrixSpec): Option[Column] =
    spec.baseMarginCol.filter(df.columns.contains)
      .map(c => coalesce(col(c).cast("float"), lit(Float.NaN)))

  /** The one scoring step behind every per-row output: the checked
    * feature array and the per-row base margin (NaN = the objective's
    * init margin) through [[EnsembleScore]] in `output` mode. */
  private def scored(model: GraftModel, df: DataFrame, spec: DMatrixSpec,
      output: EnsembleScore.Output): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(EnsembleScore(
      GraftColumnBridge.expression(checkedFeatures(model, df, spec)),
      GraftColumnBridge.expression(
        baseMargin(df, spec).getOrElse(lit(Float.NaN))),
      model, output))
  }

  /** `df` plus the per-class decomposition `output` (contributions or
    * interactions) as column `name`. The bias entry closes every
    * `block`-long class block (the contribs bias slot, the (bias, bias)
    * interaction cell); it also carries the per-row base margin minus
    * the init margin (0 for NaN rows), so each block still sums to the
    * margin [[predict]] reports on the same spec and interaction row
    * sums stay aligned with the contribs. Without a base-margin column
    * the blocks stay as scored. */
  private def withDecomposition(model: GraftModel, df: DataFrame,
      spec: DMatrixSpec, name: String, output: EnsembleScore.Output,
      block: Int): DataFrame = {
    val out = df.withColumn(name, scored(model, df, spec, output))
    baseMargin(df, spec).fold(out) { bm =>
      val adj = when(isnan(bm), lit(0d))
        .otherwise(bm.cast("double") - model.initMargin.toDouble)
      out.withColumn(name, transform(col(name), (x, i) =>
        when(i % block === block - 1,
          (x.cast("double") + adj).cast("float")).otherwise(x)))
    }
  }

  /** Inference feature array via the SAME assembly expression training
    * used (`DMatrixSpec.featuresArray` — per-column or pre-assembled
    * Vector/array, `missing` substitution included), with the model
    * width check applied when the width is statically known. */
  private def checkedFeatures(model: GraftModel, df: DataFrame,
      spec: DMatrixSpec): Column = {
    spec.featureWidth(df).foreach { n =>
      require(n == model.numFeatures,
        s"model expects ${model.numFeatures} features, got $n")
    }
    spec.featuresArray(df)
  }

  /** One projected training row. `labels` holds every label column of
    * the spec (one for a single-label, bounds-only or label-less spec);
    * label 0 doubles as the survival lower bound, `upper` is label 0
    * unless the spec declares an upper-bound column (NaN where that is
    * NULL: right-censored). `margin` is NaN where the row has no base
    * margin. */
  private[api] final class TrainRow(val features: Array[Float],
      val labels: Array[Float], val weight: Float, val margin: Float,
      val qid: Long, val upper: Float) extends Serializable

  /** Projected training rows plus what the packer needs from them:
    * the exact row count and the fitted cuts. */
  private[api] final class Loaded(val rows: RDD[TrainRow],
      val cached: Boolean, val totalRows: Long, val bins: Binner.Bins,
      val catFlags: Array[Boolean]) {
    /** Drop the cached rows (no-op on the re-scan path). */
    def release(): Unit = if (cached) rows.unpersist(blocking = false)

    /** The one pack step: persist and force the blocks `packer` builds
      * from the rows, then drop the rows. A failing pack frees both
      * before the exception propagates. */
    def pack[B](level: org.apache.spark.storage.StorageLevel)(
        packer: RDD[TrainRow] => RDD[B]): RDD[B] =
      try cache(packer(rows), level) finally release()
  }

  /** Persist `blocks` and force them; a failing job unpersists them
    * before the exception propagates. */
  private def cache[B](blocks: RDD[B],
      level: org.apache.spark.storage.StorageLevel): RDD[B] = {
    blocks.persist(level)
    try blocks.foreachPartition(_ => ())
    catch { case t: Throwable => blocks.unpersist(blocking = false); throw t }
    blocks
  }

  /** Survival objectives may declare bounds instead of a point label
    * (matrix.py:333-343): label_lower_bound then stands in as the
    * label. */
  private def boundsOnly(spec: DMatrixSpec, obj: Objective): Boolean =
    obj.needsBounds && spec.labelCol.isEmpty && spec.labelLowerCol.isDefined

  /**
   * The one training-input step, shared by single-label, multi-label and
   * vector-leaf training: validate the spec, resolve the categorical
   * flags (and reject monotone constraints on them), project the rows
   * ([[prepare]]), choose cache-or-rescan, count the rows and fit the
   * binner. The caller packs the rows with [[toBinned]] through
   * [[Loaded.pack]]. A failing count or fit unpersists the rows it
   * cached before the exception propagates.
   *
   * Round-1 strategy (two-pass, r13): the fat per-row projected rows
   * are not cached — Binner.fit and the packer each evaluate the
   * narrow projection lineage straight off the columnar scan. MEASURED
   * in r15 (BENCHLARGE.md): on local storage this beats caching a
   * transient float copy by 1.7–2.7× at 1e8 rows, because a vectorized
   * parquet re-scan is cheaper than writing and re-reading a
   * deserialized copy of the dataset (plus its GC pressure). Three
   * cases still cache the projected rows once: distributed
   * data-loading callbacks (before/afterDataLoading fires once, not
   * once per pass), ranking (sortByQid's reduce-side sort would re-run
   * per pass), and non-deterministic input plans (rand() projections,
   * or Sample — seeded but order-dependent over an unpinned shuffle),
   * where re-evaluations could keep different ROWS and make the count
   * / binner-fit / pack scans disagree. A table MUTATED between the
   * scans is outside what any engine-side check can see — snapshot
   * such inputs first.
   */
  private[api] def load(df: DataFrame, spec: DMatrixSpec,
      params: TrainParams, obj: Objective, numWorkers: Int,
      dcbs: Seq[DistributedCallback] = Nil): Loaded = {
    spec.validate(df, requireLabel = !boundsOnly(spec, obj))
    val catFlags = spec.categoricalFlags(df)
    checkMonotoneCats(params, catFlags)
    val nondetPlan = df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case p => p.expressions.exists(!_.deterministic)
    }
    val cached = dcbs.nonEmpty || obj.needsGroups || nondetPlan
    val project = prepare(df, spec, obj, numWorkers, dcbs)
    val rows = if (cached) project.persist(params.storageLevel) else project
    try {
      val totalRows = if (cached) rows.count() else df.count()
      val bins = Binner.fit(rows.map(_.features), totalRows, params.maxBins,
        seed = params.seed + 42, catFeatures = catFlags,
        knownWidth = spec.featureWidth(df))
      new Loaded(rows, cached, totalRows, bins, catFlags)
    } catch {
      case t: Throwable =>
        if (cached) rows.unpersist(blocking = false)
        throw t
    }
  }

  /** The training rows of `df` ([[TrainRow]]), read off
    * `queryExecution.toRdd` with primitive getters: the same rows in the
    * same order as `Dataset.rdd`, without the row deserializer riding
    * every later task binary of the training run. */
  private[api] def prepare(df: DataFrame, spec: DMatrixSpec, obj: Objective,
      numWorkers: Int,
      dcbs: Seq[DistributedCallback] = Nil): RDD[TrainRow] = {
    // ranking needs qid-contiguous partitions (matrix.py:70-102)
    val base =
      if (obj.needsGroups) {
        val q = spec.qidCol.getOrElse(throw new IllegalArgumentException(
          "rank objective requires qidCol"))
        val parts = if (numWorkers > 0) numWorkers
          else df.rdd.getNumPartitions
        // content-pinned intra-group order for listwise objectives:
        // the sort key is what the trainer consumes, nothing else
        val keyCols = (spec.resolveFeatures(df) ++ spec.labelCol ++
          spec.weightCol ++ spec.baseMarginCol ++ spec.labelLowerCol ++
          spec.labelUpperCol).filter(df.columns.contains)
        Sharding.sortByQid(df, q, math.max(parts, 1), keyCols)
      } else if (numWorkers > 0) df.repartition(numWorkers)
      else df

    val assembled = spec.assemble(base)
    val cols = assembled.columns
    val lis = (if (spec.labelCol.nonEmpty) spec.labelCol
      else spec.labelLowerCol.toSeq).map(cols.indexOf(_)).toArray
    val nl = math.max(lis.length, 1)
    val wi = spec.weightCol.map(cols.indexOf(_)).getOrElse(-1)
    val mi = spec.baseMarginCol.map(cols.indexOf(_)).getOrElse(-1)
    val qi = spec.qidCol.map(cols.indexOf(_)).getOrElse(-1)
    val ui = spec.labelUpperCol.map(cols.indexOf(_)).getOrElse(-1)
    assembled.queryExecution.toRdd.mapPartitions({ it0 =>
      val it = DistributedCallback.wrapLoading(dcbs, init = true)(it0)
      it.map { row: InternalRow =>
        val f = row.getArray(0).toFloatArray()
        val ys = new Array[Float](nl)
        var j = 0
        while (j < lis.length) {
          val li = lis(j)
          if (li >= 0 && !row.isNullAt(li)) ys(j) = row.getFloat(li)
          j += 1
        }
        val w = if (wi >= 0 && !row.isNullAt(wi)) row.getFloat(wi) else 1f
        val m = if (mi >= 0 && !row.isNullAt(mi)) row.getFloat(mi)
          else Float.NaN
        val q = if (qi >= 0 && !row.isNullAt(qi)) row.getLong(qi) else 0L
        val u = if (ui >= 0 && !row.isNullAt(ui)) row.getFloat(ui)
          else if (ui < 0) ys(0) // no upper column ⇒ uncensored point label
          else Float.NaN         // declared but NULL ⇒ right-censored (∞)
        new TrainRow(f, ys, w, m, q, u)
      }
    }, preservesPartitioning = true)
  }

  /** Bin prepared rows into packed primitive [[TrainBlock]]s (the r12
    * cached representation — see TrainBlock.scala for the layout and
    * the footprint rationale) — the one packer of single-label,
    * multi-label and vector-leaf training. Each row's L labels land
    * row-major in `labels` (stride L); its margins, `k` per row, start
    * at its base margin or the objective's init margin. `k` is the
    * margin width: 0 (the default) takes `obj.numOutputs`, a
    * vector-leaf run passes its target count L. Blocks hold
    * `TrainBlock.capacity(nf, k)` rows.
    *
    * Row order within each partition is the prepared order, so every
    * downstream per-row pass (gradients, histograms, metrics) sees the
    * exact sequence the r11 per-row tuples produced — the
    * RepresentationGoldenSpec bit-identity contract. `keepGroups`
    * (ranking) extends a block past its capacity until the current qid
    * run ends, so qid groups never straddle blocks.
    *
    * It reads the cuts through a broadcast, not a captured
    * [[Binner.Bins]]: the blocks' lineage rides every later task binary
    * of the training run, histogram levels included. The broadcast is
    * never destroyed explicitly — a lost block recomputes through it —
    * and ContextCleaner reclaims it with the RDD. */
  private[api] def toBinned(rows: RDD[TrainRow], bins: Binner.Bins,
      obj: Objective, baseScore: Double, k: Int = 0,
      tolerateUnseenCats: Boolean = false): RDD[TrainBlock] = {
    val width = if (k > 0) k else obj.numOutputs
    val init = obj.initMargin(baseScore)
    val keepGroups = obj.needsGroups
    val bcBins = rows.sparkContext.broadcast(bins)
    rows.mapPartitions({ it0 =>
      val it = it0.buffered
      val bins = bcBins.value
      val nf = bins.numFeatures
      val cap0 = TrainBlock.capacity(nf, width)
      new Iterator[TrainBlock] {
        def hasNext: Boolean = it.hasNext
        def next(): TrainBlock = {
          val nl = it.head.labels.length
          var cap = cap0
          var binsArr = new Array[Byte](cap * nf)
          var labels = new Array[Float](cap * nl)
          var weights = new Array[Float](cap)
          var qids = new Array[Long](cap)
          var uppers = new Array[Float](cap)
          var margins = new Array[Float](cap * width)
          var n = 0
          var anyQid = false
          var anyBound = false
          def grow(): Unit = {
            cap *= 2
            binsArr = java.util.Arrays.copyOf(binsArr, cap * nf)
            labels = java.util.Arrays.copyOf(labels, cap * nl)
            weights = java.util.Arrays.copyOf(weights, cap)
            qids = java.util.Arrays.copyOf(qids, cap)
            uppers = java.util.Arrays.copyOf(uppers, cap)
            margins = java.util.Arrays.copyOf(margins, cap * width)
          }
          def add(): Unit = {
            val r = it.next()
            // binRow fails a row whose width disagrees with the cuts
            val rb = bins.binRow(r.features, tolerateUnseenCats)
            if (n == cap) grow()
            System.arraycopy(rb, 0, binsArr, n * nf, nf)
            System.arraycopy(r.labels, 0, labels, n * nl, nl)
            weights(n) = r.weight; qids(n) = r.qid; uppers(n) = r.upper
            if (r.qid != 0L) anyQid = true
            // NaN upper (right-censored) compares unequal to the label,
            // so the bounds column is kept exactly when some row needs it
            if (r.upper != r.labels(0)) anyBound = true
            val m0 = if (r.margin.isNaN) init else r.margin
            java.util.Arrays.fill(margins, n * width, n * width + width, m0)
            n += 1
          }
          add()
          while (it.hasNext && (n < cap0 ||
              (keepGroups && it.head.qid == qids(n - 1)))) add()
          new TrainBlock(n, nf, width,
            java.util.Arrays.copyOf(binsArr, n * nf),
            java.util.Arrays.copyOf(labels, n * nl),
            java.util.Arrays.copyOf(weights, n),
            if (anyQid) java.util.Arrays.copyOf(qids, n) else null,
            if (anyBound) java.util.Arrays.copyOf(uppers, n) else null,
            java.util.Arrays.copyOf(margins, n * width))
        }
      }
    }, preservesPartitioning = true)
  }
}
