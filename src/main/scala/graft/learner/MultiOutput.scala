package graft.learner

/**
 * Multi-output trees — the xgboost 2.x
 * `multi_strategy = "multi_output_tree"` analog (the one modern
 * forwarded-param family the per-label pipeline cannot express;
 * reference xgboost_ray forwards arbitrary xgboost params,
 * main.py:1341-1398): every boosting round grows ONE tree whose
 * leaves hold a VECTOR of K values, one per target. Split gain sums
 * the per-target scores, so the tree finds structure shared across
 * targets; leaves fit each target independently given that structure.
 * Contrast [[graft.api.GraftBoost.trainMultiLabel]] (one full model
 * per label — xgboost's `one_output_per_tree` strategy): both run one
 * histogram job per level for all K targets, but here the K targets
 * share one tree's nodes, so the histograms cover one tree's frontier
 * instead of K trees', and the model is K× smaller, at the price of
 * shared split structure.
 *
 * One loop and one builder: a vector-leaf run is [[Trainer.boost]]'s
 * round loop ([[Trainer.boostTargets]]) over [[Targets]] with
 * `vectorLeaf` set — T = K targets of one output each, margin width K,
 * one tree per round of node-statistics width K grown by
 * [[Trainer.buildTrees]] with the same level loop, histogram job,
 * split scan and histogram subtraction as a scalar tree. Output slot j
 * reads label j through the scalar objective; the margin advance adds
 * a leaf's K values. Its input is the one packed block, a
 * [[TrainBlock]] of margin width K whose `labels` hold K targets per
 * row (row-major, stride K), built by the same `GraftBoost.load`/
 * `toBinned` step as single-label training. This object keeps only
 * [[MoTree]], [[MultiOutputModel]] and the scope check.
 *
 * Scale shape: identical to [[Trainer]]. Per level, ONE histogram job
 * over the cached binned blocks; a histogram entry is K (G, H) pairs
 * per (node, feature, bin). Below the root, only the child with the
 * smaller summed hessian of each split is histogrammed and its sibling
 * is derived on the driver as parent − built, which halves the task
 * result bytes of a depth-6 round (0.51 of a direct build of every
 * node at K = 3, `HistSubtractionSpec`). The DATA passes do not grow
 * with K. No shuffle of rows, ever; margins advance block-locally,
 * inside the next round's first histogram job. Rows move down a tree
 * only through the one [[RegTree]] binned walk.
 *
 * Formula parity with [[Trainer]] (pinned by the closed-form
 * `ml_stump_multiout` oracle): per target j, leaf_j =
 * −η·T_α(G_j)/(H_j+λ) with the exact same operation order; split
 * gain = ½·Σ_j (score_L,j + score_R,j − score_P,j) − γ (the vector
 * loss is the SUM of per-target losses, so its gain is the sum of
 * per-target gains); `min_child_weight` compares against the MEAN
 * hessian across targets (equal to every target's hessian for
 * identical-hessian objectives like squared error, where each row
 * contributes its weight to every target).
 *
 * v1 scope (mirrors xgboost 2.x's own vector-leaf limits): pointwise
 * scalar objectives applied per target (reg:*, binary:*) without the
 * L1 family's adaptive leaf refresh, numeric features, depthwise
 * growth, no row/column subsampling, no monotone/interaction
 * constraints, gbtree only. Everything outside that scope fails loudly
 * at entry.
 */
object MultiOutput {

  import Binner.MissingBin

  /**
   * One vector-leaf regression tree: [[RegTree]]'s flat-array layout
   * with `values` holding K entries per node (node-major). `gain` is
   * the summed-over-targets split gain; `cover` the mean hessian
   * across targets routed through the node.
   */
  final class MoTree(
      val feature: Array[Int],
      val thresholdBin: Array[Int],
      val threshold: Array[Float],
      val defaultLeft: Array[Boolean],
      val left: Array[Int],
      val right: Array[Int],
      val values: Array[Float],
      val gain: Array[Float],
      val cover: Array[Float],
      val k: Int) extends Serializable {

    def numNodes: Int = feature.length

    /** Scalar view of target `j`: a [[RegTree]] SHARING every
      * structure array by reference (only the K-stride value column
      * materializes), so the whole single-output model surface —
      * codegen [[graft.functions.EnsembleScore]] predict, SHAP,
      * treesToDataFrame, xgboost-JSON export — works on a slice
      * unchanged. Caveat (advice r20): `gain` and `cover` are shared
      * TREE-LEVEL arrays — summed-over-targets gain, mean-across-
      * targets cover — not per-target quantities, so gain-based
      * feature importance and TreeSHAP background weights computed on
      * a slice are joint-tree values; for non-constant-hessian
      * objectives (e.g. binary:logistic) treat them as approximate
      * per-target attributions. PREDICTIONS on a slice are exact. */
    def slice(j: Int): RegTree = {
      require(j >= 0 && j < k, s"output $j out of range [0,$k)")
      val v = new Array[Float](numNodes)
      var i = 0
      while (i < numNodes) { v(i) = values(i * k + j); i += 1 }
      new RegTree(feature, thresholdBin, threshold, defaultLeft,
        left, right, v, gain, cover)
    }
  }

  /**
   * A trained multi-output model: one [[MoTree]] per round.
   * [[sliceModel]] yields the per-target [[GraftModel]] view for the
   * existing predict/export machinery.
   */
  final case class MultiOutputModel(
      trees: Seq[MoTree],
      k: Int,
      objective: String,
      baseScore: Double,
      numFeatures: Int,
      labelNames: Seq[String]) extends Serializable {
    require(trees.forall(_.k == k), "tree output width mismatch")
    require(labelNames.length == k,
      s"labelNames ${labelNames.length} != k $k")

    def sliceModel(j: Int): GraftModel =
      new GraftModel(trees.map(_.slice(j)).toArray, objective, 0,
        baseScore, MissingBin, numFeatures)
  }

  /** Scope validation from the params and the spec's categorical
    * feature flags — run BEFORE any data scan, so an unsupported knob
    * fails in milliseconds, not after prepare/bin/pack of a 100 TB
    * input. */
  private[graft] def checkParams(p: TrainParams, obj: Objective,
      catFlags: Array[Boolean]): Unit = {
    def no(cond: Boolean, what: String): Unit = require(cond,
      s"multi_output_tree: $what is not supported (xgboost 2.x's " +
        "vector-leaf strategy carries the same limits); train " +
        "per-label via trainMultiLabel instead")
    no(!obj.needsGroups && !obj.needsBounds && !obj.needsGlobalPass,
      s"objective ${obj.name}")
    no(obj.numOutputs == 1, s"multi-class objective ${obj.name}")
    no(p.subsample >= 1.0, "subsample < 1")
    no(p.colsampleByTree >= 1.0 && p.colsampleByLevel >= 1.0 &&
      p.colsampleByNode >= 1.0, "colsample_by* < 1")
    no(p.numParallelTree == 1, "num_parallel_tree > 1")
    no(p.booster == "gbtree", s"booster ${p.booster}")
    no(p.growPolicy == "depthwise", s"grow_policy ${p.growPolicy}")
    no(p.maxLeaves == 0, "max_leaves")
    no(p.processType == "default", s"process_type ${p.processType}")
    no(p.monotoneConstraints.forall(_ == 0), "monotone_constraints")
    no(p.interactionConstraints.isEmpty, "interaction_constraints")
    no(p.quantileAlphas.isEmpty, "vector quantile_alpha")
    no(p.scalePosWeight == 1.0 || !obj.name.startsWith("binary:"),
      "scale_pos_weight")
    no(p.etaSchedule.isEmpty, "eta_schedule")
    no(obj.leafRefreshAlphas.isEmpty,
      s"the adaptive leaf refresh of ${obj.name}")
    no(!catFlags.contains(true), "a categorical feature")
    require(p.maxDepth >= 1,
      s"multi_output_tree: maxDepth must be >= 1, got ${p.maxDepth}")
  }
}
