package graft.learner

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/**
 * Boosting parameters — union of the reference's `RayParams` and the
 * xgboost params it forwards (reference: xgboost_ray/main.py:449-504
 * RayParams; xgboost param passthrough main.py:1341-1398).
 */
final case class TrainParams(
    objective: String = "reg:squarederror",
    numClass: Int = 0,
    numRounds: Int = 10,
    maxDepth: Int = 6,
    eta: Double = 0.3,
    lambda: Double = 1.0,
    alpha: Double = 0.0,
    gamma: Double = 0.0,
    minChildWeight: Double = 1.0,
    subsample: Double = 1.0,
    colsampleByTree: Double = 1.0,
    colsampleByLevel: Double = 1.0,
    colsampleByNode: Double = 1.0,
    maxBins: Int = 256,
    baseScore: Double = 0.5,
    /** Random-forest mode: trees per class per round, each built from the
      * SAME gradients with independent row/col subsampling (xgboost
      * num_parallel_tree). Leaves are scaled by eta/numParallelTree so
      * the forest is a bagged average (divergence from xgboost, which
      * sums unscaled — ours keeps single-round regression unbiased). */
    numParallelTree: Int = 1,
    /** Ranking pair cap (the xgboost `lambdarank_num_pair_per_sample`
      * analog, 0 = ALL discordant pairs — the exact default every
      * rank oracle pins): with cap k > 0, each row pairs against at
      * most k sampled lower-labelled partners per round, turning the
      * per-group O(g²) pair enumeration into O(g·k) — the lever that
      * makes a multi-million-row qid group trainable (one group is
      * always one task by the contiguity contract). Sampling is
      * deterministic in (seed, round, qid), so gradients are
      * partition/retry invariant. */
    pairCap: Int = 0,
    /** survival:aft error-distribution scale (xgboost
      * aft_loss_distribution_scale). */
    aftSigma: Double = 1.0,
    /** survival:aft error distribution (xgboost aft_loss_distribution):
      * normal | logistic | extreme. */
    aftDistribution: String = "normal",
    /** reg:tweedie variance power ρ ∈ (1,2) (xgboost
      * tweedie_variance_power): ρ→1 Poisson-like, ρ→2 gamma-like. */
    tweedieVariancePower: Double = 1.5,
    /** reg:pseudohubererror slope δ (xgboost huber_slope): the
      * quadratic-to-linear transition scale of the pseudo-Huber loss. */
    huberSlope: Double = 1.0,
    /** reg:quantileerror target quantile α ∈ (0,1) (xgboost
      * quantile_alpha, scalar form). */
    quantileAlpha: Double = 0.5,
    /** reg:quantileerror VECTOR form (xgboost 2.x quantile_alpha
      * list): one tree per α per round (one-output-per-tree
      * multi-target strategy), each output fitting and
      * leaf-refreshing its own pinball quantile; predict returns the
      * full vector in `predictions`. Non-empty wins over
      * `quantileAlpha`. */
    quantileAlphas: Seq[Double] = Nil,
    seed: Long = 0L,
    earlyStoppingRounds: Int = 0,
    evalMetric: Seq[String] = Nil,
    featureWeights: Option[Array[Double]] = None,
    checkpointEvery: Int = 0,            // reference default 5 (main.py:466)
    checkpointPath: Option[String] = None,
    /** Custom objective hook (E6, reference sklearn.py:511-515): wins
      * over `objective`. Its `name` must start with "custom:" so a saved
      * model round-trips through Objectives.forName (margins-only
      * inference, the xgboost custom-obj contract). */
    customObjective: Option[Objective] = None,
    /** Custom eval metrics (E7, reference sklearn.py:431-437), evaluated
      * alongside `evalMetric` each round. */
    customMetrics: Seq[CustomMetric] = Nil,
    /** Cap one histogram aggregation buffer; wide feature sets are
      * processed in node chunks per level to stay under it. The
      * histograms a round keeps on the driver for sibling subtraction
      * stay under it too (past it, children are built directly). */
    maxHistBytes: Long = 64L << 20,
    /** Per-feature monotone constraints (xgboost monotone_constraints):
      * +1 prediction non-decreasing in the feature, −1 non-increasing,
      * 0 unconstrained. Indexed by feature position; shorter than the
      * feature count ⇒ remaining features unconstrained. Enforced by
      * (a) rejecting splits whose child weights violate the direction
      * and (b) midpoint bound propagation with leaf clamping — the
      * monotonicity guarantee holds by construction; split choice can
      * differ from xgboost's clamped-gain variant in edge cases. */
    monotoneConstraints: Seq[Int] = Nil,
    /** xgboost scale_pos_weight: multiplies the gradient/hessian of
      * positive (label==1) rows in binary objectives — the standard
      * class-imbalance lever. Applied to training gradients only, like
      * xgboost (eval metrics see the user's row weights unchanged). */
    scalePosWeight: Double = 1.0,
    /** xgboost max_delta_step: cap on |raw leaf weight| (before the η
      * scaling), stabilizing extremely-imbalanced logistic training.
      * 0 = no cap (xgboost default). Divergence: split GAIN is still
      * scored with uncapped weights (xgboost re-scores with the capped
      * weight); the learned values honor the cap either way. */
    maxDeltaStep: Double = 0.0,
    /** Interaction constraints (xgboost interaction_constraints):
      * groups of feature indices allowed to interact. A node may split
      * on feature f only if some group contains f together with every
      * feature already used on the path from the root (features in no
      * group form implicit singletons: once used, only they may be
      * reused below). Empty ⇒ unconstrained. */
    interactionConstraints: Seq[Seq[Int]] = Nil,
    /** Booster type (xgboost `booster`): "gbtree" (default) or "dart"
      * (Rashmi & Gilad-Bachrach 2015, "DART: Dropouts meet Multiple
      * Additive Regression Trees"). The reference forwards `booster`
      * with the rest of the xgboost params (main.py:1341-1398).
      * "gblinear" trains through [[graft.api.GraftLinear]], not here.
      * DART caveats match xgboost's: early-stopping `bestIteration` /
      * `modelAt` truncation are approximate because dropped trees are
      * rescaled retroactively, and each round re-predicts the kept
      * ensemble (the documented DART cost profile). */
    booster: String = "gbtree",
    /** DART dropout rate: each existing tree is dropped with this
      * probability before a round's gradients are computed. */
    rateDrop: Double = 0.0,
    /** DART: force at least one dropped tree whenever the dropout was
      * not skipped (xgboost `one_drop`). */
    oneDrop: Boolean = false,
    /** DART: probability of skipping the dropout entirely for a round;
      * a skipped round adds its trees exactly like gbtree. */
    skipDrop: Double = 0.0,
    /** DART dropout sampling: "uniform" (each tree equally likely) or
      * "weighted" (proportional to the tree's current DART weight). */
    sampleType: String = "uniform",
    /** DART normalization: "tree" — new trees weighted 1/(k+lr), the k
      * dropped trees rescaled by k/(k+lr); "forest" — new trees
      * weighted 1/(1+lr), dropped rescaled by 1/(1+lr). lr is
      * eta/treesPerRound, the xgboost convention. */
    normalizeType: String = "tree",
    /** Tree growth policy (xgboost grow_policy): "depthwise" (default)
      * expands the whole frontier level by level; "lossguide" expands
      * the highest-gain leaf first (best-first, LightGBM-style).
      * Distributed cost: depthwise scans the data once per LEVEL for
      * the whole frontier; lossguide scans once per applied SPLIT (the
      * two children of the last split evaluate per scan — the honest
      * leaf-wise histogram cost; LightGBM's data-parallel mode pays the
      * same per-split allreduce), so pair lossguide with maxLeaves.
      * With lossguide, maxDepth=0 means unbounded depth (xgboost
      * convention) and maxLeaves must then bound the tree. */
    growPolicy: String = "depthwise",
    /** Max leaves per tree (xgboost max_leaves; 0 = unbounded).
      * lossguide: the leaf budget of best-first growth. depthwise:
      * each level's splits apply best-gain-first until the budget is
      * spent, the rest of the frontier finalizes. */
    maxLeaves: Int = 0,
    /** xgboost `process_type`: "default" grows new trees; "update"
      * runs the `refresh` updater over an EXISTING model's trees
      * (initModel required) — per round, the corresponding round's
      * trees keep their structure while per-node cover/gain stats are
      * recomputed from the CURRENT data's gradients and (with
      * [[refreshLeaf]]) leaf values are re-fit as −η·T(G)/(H+λ). The
      * standard "re-fit an old model's leaves on fresh data" workflow;
      * numRounds must not exceed the init model's rounds. */
    processType: String = "default",
    /** xgboost `refresh_leaf`: when process_type=update, also refresh
      * leaf VALUES (true, xgboost's default) or stats only (false). */
    refreshLeaf: Boolean = true,
    /** xgboost `updater` for process_type=update: comma-separated
      * passes run in order each round — "refresh" (re-fit stats/leaves
      * on current data) and/or "prune" (collapse split nodes whose
      * gain < `gamma` into leaves, recursively bottom-up — xgboost's
      * TreePruner). Empty ⇒ "refresh" (xgboost's update default).
      * "refresh,prune" prunes by the RE-FIT gains — the "prune an
      * overfit model using fresh data" workflow. */
    updater: String = "",
    /** xgboost `max_cat_to_onehot`: a categorical node uses one-hot
      * `== code` splits while its category count is BELOW this
      * threshold, and optimal-partition splits (categories sorted by
      * gradient ratio G/H, prefix-scanned — the Fisher-optimal
      * many-vs-many grouping for second-order losses) at or above it.
      * xgboost's default is 4. Same O(bins log bins) driver cost;
      * codes unseen at training time route right. */
    maxCatToOnehot: Int = 4,
    /** Per-round learning rate (the xgboost LearningRateScheduler
      * callback / `learning_rates`): round index → η, overriding `eta`
      * for that round's trees (and DART normalization). Indexed by the
      * GLOBAL round, so checkpoint resume continues the schedule where
      * the init model left off. Native API only — a function cannot
      * ride an MLlib Param. */
    etaSchedule: Option[Int => Double] = None,
    /** StorageLevel name for the cached training representation
      * ("MEMORY_AND_DISK" default). Memory-bound executors can pick
      * "MEMORY_AND_DISK_SER": JVM object headers dominate the
      * deserialized per-row cost at narrow feature counts (~130 B/row
      * at 4 features vs ~25 B serialized — see BENCHLARGE.md), so the
      * serialized cache trades per-round deserialization CPU for a
      * several-× smaller cached footprint. The reference exposes the
      * same lever as Ray object-store spilling. */
    cacheLevel: String = "MEMORY_AND_DISK") {
  /** Parsed [[cacheLevel]] (validated at param construction, so a typo
    * fails before any training work starts). */
  val storageLevel: StorageLevel = StorageLevel.fromString(cacheLevel)
}

/**
 * Custom eval metric (E7): `fn(margins, label, weight)` returns the
 * row's (weighted loss contribution, weight); the metric value is
 * sum(loss)/sum(weight) — the same partial+final aggregation shape the
 * built-ins use, so it distributes for free.
 */
final case class CustomMetric(
    name: String,
    fn: (Array[Float], Float, Float) => (Double, Double),
    isMaximize: Boolean = false) extends Serializable

// (r12) The per-row binned representation — bins(f) ∈ [0, numBins(f))
// or 255=missing, label doubling as the survival lower bound
// (matrix.py:333-343) — lives packed in [[TrainBlock]] primitive
// columns; see TrainBlock.scala for layout and footprint rationale.

/** Per-iteration callback (reference C9: compat/__init__.py:6-44). */
trait TrainingCallback extends Serializable {
  /** Return true to stop training (cooperative cancel, C6 analog). */
  def afterIteration(round: Int, metrics: Map[String, Double]): Boolean =
    false
}

/** Per-iteration callback that can also materialize the PARTIAL model
  * built so far (lazily — the thunk assembles it only when called).
  * Powers the Tune-style per-round report/checkpoint consumer
  * (reference: TuneReportCheckpointCallback, tune.py:26-104). */
trait ModelAwareCallback extends TrainingCallback {
  def afterIterationWithModel(round: Int, metrics: Map[String, Double],
      model: () => GraftModel): Boolean
  final override def afterIteration(round: Int,
      metrics: Map[String, Double]): Boolean =
    throw new IllegalStateException(
      "ModelAwareCallback must be driven via afterIterationWithModel")
}

final case class TrainResult(
    model: GraftModel,
    evalsResult: Map[String, Map[String, ArrayBuffer[Double]]],
    totalN: Long,
    roundsCompleted: Int,
    /** Best round index under early stopping (xgboost best_iteration);
      * -1 when early stopping was not active. */
    bestIteration: Int = -1,
    /** Metric value at bestIteration (xgboost best_score); NaN when
      * early stopping was not active. */
    bestScore: Double = Double.NaN) {
  /** Model truncated to the first `rounds` rounds — the
    * `iteration_range=(0, best_iteration+1)` predict idiom. */
  def modelAt(rounds: Int): GraftModel = model.truncate(rounds)
}

/**
 * The targets one [[Trainer.boost]] run trains. Its blocks hold `stride`
 * labels per row (no qids or bounds when several); target t reads label
 * `labels(t)` and owns the output slots [t·c, t·c + c) of the margins,
 * c being the objective's outputs: the margin width is T·c. Each target
 * is its own model, unless `vectorLeaf`: then each round grows one tree
 * of T values per node ([[MultiOutput]]). A run that names its targets
 * saves target t's checkpoint under `<checkpointPath>/<names(t)>`.
 */
private[graft] final case class Targets(stride: Int, labels: Seq[Int],
    names: Seq[String] = Nil, vectorLeaf: Boolean = false)

private[graft] object Targets {
  /** One label per row, one target: single-label training. */
  val Single: Targets = Targets(1, Seq(0))
}

/**
 * Native distributed gradient-boosted-tree trainer.
 *
 * Semantic replacement for the reference's Rabit allreduce ring
 * (xgboost_ray/main.py:292-324, 672-793): there, every actor builds a
 * local gradient histogram and Rabit allreduces it so all workers see the
 * global histogram. Here the identical global histogram is produced by
 * one `RDD.aggregate` per level (partial per-partition histograms,
 * summed on the driver), and the (tiny) split-finding step runs once on
 * the driver — the MLlib GBT pattern. Same learned model, simpler
 * failure model: a lost task is recomputed by Spark
 * (spark.task.maxFailures) instead of the reference's actor-restart
 * machinery (main.py:1606-1713).
 *
 * A round is a handful of jobs: one histogram job per level and one
 * metric job per eval set for every metric of every model (only
 * `cox-nloglik` adds jobs of its own, [[Metrics.computeAll]]); the
 * training blocks' margin advance runs inside the next round's first
 * histogram job, and an eval set other than the training frame adds
 * its own advance job. Each job pays a fixed cost besides its rows, and
 * on small and mid-size inputs that cost is most of the round (on the
 * 20k-row `boost_wide` benchmark a level task computes for 1–5 ms
 * inside a stage of 23–54 ms, interquartile ranges on a 4-core VM):
 *  - task-binary deserialization. Every task deserializes the stage's
 *    RDD lineage and closure. The lineage reaches back through the
 *    margin advances, the block packer and the input projection to the
 *    scan, so whatever any of them captures is paid per task per level.
 *  - closure cleaning. On every RDD call Spark's ClosureCleaner parses
 *    the class file that declares the closure, on the driver.
 *  - task results above `spark.task.maxDirectResultSize` (1 MiB by
 *    default) travel through the block manager: stored by the task,
 *    fetched by the driver and removed, instead of riding the status
 *    update. A level task packs its histogram ([[TaskFns.PackedHist]]:
 *    only the (g, h) pairs its rows touched), so on `boost_wide` a
 *    round returns 11.7 MiB instead of 32.2 MiB dense and no deep
 *    level's task result takes that path.
 * The rules that keep jobs lean:
 *  - nothing large is captured by a task closure: the cuts, trees and
 *    level chunks ride broadcasts, and the input projection reads
 *    `queryExecution.toRdd` rather than `Dataset.rdd` (no row
 *    deserializer in the lineage);
 *  - the closures cleaned every round (histogram `seqOp` and merge,
 *    gradient map, margin advance, eval row view, metric pass) are built
 *    in [[TaskFns]], a small class, never in this object;
 *  - one job per level and one metric job per eval set, whatever the
 *    metrics and however many models: a new per-round job must earn its
 *    fixed cost;
 *  - a histogram buffer is allocated in the task on first use, so no
 *    zero buffer rides the task binary, and subtraction below halves
 *    the bytes a level returns.
 *
 * Scale design:
 *  - rows are binned once into bytes (≤256 bins/feature): 4 features =
 *    4 bytes/row vs 16 for floats; the per-round working set is margins
 *    (K floats) only.
 *  - per level, ONE job aggregates histograms for ALL active nodes
 *    (chunked if the buffer would exceed maxHistBytes). Each task
 *    ships a packed partial, a bitmap of its nonzero (g, h) pairs and
 *    their values, and the driver adds the partials pair by pair in
 *    partition-index order, so a histogram is bit-reproducible however
 *    the tasks finish and equals the dense sum bit for bit (the
 *    > 64 MiB tree merge ships dense partials and keeps completion
 *    order).
 *  - targets and width: one round loop ([[boostTargets]]) trains the T
 *    [[Targets]] (labels) of the same rows at margin width T·c, all
 *    models' trees in the same level jobs. Every tree grows through
 *    `buildTrees`: a histogram entry and a node's sums hold `w` (G, H)
 *    pairs, 1 for a scalar tree and T for a vector-leaf tree of
 *    [[MultiOutput]]. A candidate's gain sums the per-slot scores, so
 *    one level loop, split scan and subtraction serve both.
 *  - histogram subtraction (xgboost/LightGBM hist): the driver keeps
 *    each evaluated node's histogram. When both children of a split
 *    are evaluated together, the job builds only the child with the
 *    smaller hessian sum over its slots (the left child on a tie); the
 *    driver derives its sibling as parent − built, per feature and bin.
 *    Below the root this halves the histogram bytes each level returns.
 *    A child is built directly instead when the parent's histogram was
 *    not kept (the kept total is held within maxHistBytes; depthwise
 *    keeps none for its last level), when its sampled features are not
 *    covered by both the parent's and its sibling's (colsample_bylevel/
 *    bynode, interaction constraints), or when it samples an
 *    optimal-partition categorical feature, whose present-codes test
 *    must never see a subtraction residue.
 *  - driver work is O(nodes × features × bins) per level — independent
 *    of row count; executors never see the model except via broadcast.
 *  - one tree walk: rows move down a tree only through
 *    [[RegTree.nextBinned]]. The level router walks a [[RegTree]]
 *    snapshot of each growing tree (a pending node stops the walk);
 *    the leaf refresh, `process_type=update` and the margin advance
 *    walk finished trees. Split finding has one candidate test
 *    (`findSplit`'s `consider`).
 */
object Trainer {

  private val MissingBin = Binner.MissingBin

  /** An evaluated node's histogram, kept on the driver for deriving a
    * child: `w` (G, H) pairs per (feature of `feats`, bin), the missing
    * bin last. */
  private final class NodeHist(val feats: Array[Int], val h: Array[Double])

  /** The best split of one node found so far (`f` = −1: none), with the
    * left child's (G, H) per output slot. For an optimal-partition split
    * `codes` holds the feature's categories in scan order and `bin` the
    * last index of the left prefix. */
  private final class BestSplit(w: Int) {
    var gain = 0.0; var f = -1; var bin = -1
    var codes: Array[Int] = null
    var defLeft = false
    val gL = new Array[Double](w); val hL = new Array[Double](w)
  }

  /** Sum per-partition histograms of `histSize` doubles built by
    * `seqOp`, in partition-index order. A small total merge volume takes
    * a single-stage aggregate: each task packs its histogram with its
    * partition index ([[TaskFns.PackedHist]]: only the (g, h) pairs its
    * rows touched travel), and the driver copies the lowest-index
    * partial into the sum and adds each later one, pair by pair, so the
    * float additions happen in one order however the tasks finish and
    * equal a dense partition-order fold bit for bit. A big one takes a
    * depth-2 tree merge of dense histograms, so the driver never
    * receives numPartitions × histogram at once (the extra stage is pure
    * latency when histograms are KBs). That branch merges in task
    * completion order, which can move a sum by its last ulp between
    * runs.
    *
    * The single-stage job keeps its call site `aggregate at
    * Trainer.scala`: the benchmark's per-layer trace classifies a
    * histogram level by it, so it stays an `RDD.aggregate` called here. */
  private[learner] def aggregateHist(grads: RDD[GradBlock], histSize: Int)(
      seqOp: (Array[Double], GradBlock) => Array[Double]): Array[Double] = {
    val mergeBytes = histSize.toLong * 8L * grads.getNumPartitions
    if (mergeBytes < (64L << 20)) {
      val sum = new Array[Double](histSize)
      grads.mapPartitions(TaskFns.packedPartial(seqOp))
        .aggregate(Vector.empty[TaskFns.PackedHist])(
          TaskFns.addPacked, TaskFns.concatPacked)
        .sortBy(_.pid).zipWithIndex
        .foreach { case (ph, j) => ph.mergeInto(sum, first = j == 0) }
      sum
    } else {
      val merged = grads.treeAggregate(null: Array[Double])(
        seqOp, TaskFns.mergeHist, depth = 2)
      if (merged != null) merged else new Array[Double](histSize)
    }
  }

  // ---- growable node storage while building one tree ----
  // node statistics and values hold `w` entries per node (node-major):
  // one per output slot of the tree's leaves
  private final class TreeBuilder(w: Int) {
    val feature = ArrayBuffer[Int]()
    val thresholdBin = ArrayBuffer[Int]()
    val threshold = ArrayBuffer[Float]()
    val catSplit = ArrayBuffer[Boolean]()
    val catBits = ArrayBuffer[Array[Long]]() // partition bitmap or null
    val defaultLeft = ArrayBuffer[Boolean]()
    val left = ArrayBuffer[Int]()
    val right = ArrayBuffer[Int]()
    val value = ArrayBuffer[Float]()
    val sumG = ArrayBuffer[Double]()
    val sumH = ArrayBuffer[Double]()
    val gain = ArrayBuffer[Double]()   // split gain (0 at leaves)
    // monotone-constraint value bounds, in the stored-value (post-η)
    // domain; (−∞, +∞) when unconstrained so clamping is a no-op
    val lower = ArrayBuffer[Double]()
    val upper = ArrayBuffer[Double]()
    // features on the path from the root (interaction constraints)
    val path = ArrayBuffer[List[Int]]()
    val parent = ArrayBuffer[Int]()   // -1 at the root

    def newNode(g: Array[Double], h: Array[Double],
        lo: Double = Double.NegativeInfinity,
        up: Double = Double.PositiveInfinity,
        pf: List[Int] = Nil, par: Int = -1): Int = {
      feature += -2; thresholdBin += -1; threshold += 0f
      catSplit += false; catBits += null
      defaultLeft += false; left += -1; right += -1
      value ++= new Array[Float](w); sumG ++= g; sumH ++= h; gain += 0.0
      lower += lo; upper += up; path += pf; parent += par
      feature.length - 1
    }

    /** Node `i`'s hessian summed over its slots, in slot order. */
    def hessSum(i: Int): Double = {
      var s = 0.0
      var c = 0
      while (c < w) { s += sumH(i * w + c); c += 1 }
      s
    }

    def clamp(v: Double, i: Int): Double =
      math.min(math.max(v, lower(i)), upper(i))

    private def setValue(i: Int, p: TrainParams): Unit = {
      var c = 0
      while (c < w) {
        value(i * w + c) =
          clamp(leafWeight(sumG(i * w + c), sumH(i * w + c), p), i).toFloat
        c += 1
      }
    }

    def finalizeLeaf(i: Int, params: TrainParams): Unit = {
      feature(i) = -1
      setValue(i, params)
    }

    def result(p: TrainParams): RegTree = {
      // internal nodes carry their would-be leaf weight too: the
      // Saabas contribution walk (GraftModel.contribs) attributes
      // v(child) − v(parent) per split, so v must exist at every node.
      // G/H are known for every materialized node (root from its first
      // histogram, children exactly at split time).
      var i = 0
      while (i < feature.length) {
        if (feature(i) >= 0 && !sumG(i * w).isNaN) setValue(i, p)
        i += 1
      }
      snapshot()
    }

    /** The tree as grown so far; pending nodes keep feature −2, so a
      * binned walk stops at the pending node a row reaches. Cover is the
      * hessian through the node, averaged over the slots. */
    def snapshot(): RegTree =
      new RegTree(feature.toArray, thresholdBin.toArray,
        threshold.toArray, defaultLeft.toArray, left.toArray,
        right.toArray, value.toArray, gain.toArray.map(_.toFloat),
        Array.tabulate(feature.length)(i => (hessSum(i) / w).toFloat),
        if (catSplit.contains(true)) catSplit.toArray else Array.empty,
        if (catBits.exists(_ != null)) catBits.toArray else Array.empty)
  }

  /** xgboost leaf weight with L1/L2 regularization and shrinkage;
    * max_delta_step caps the RAW weight before η, as in xgboost. The
    * uncapped branch keeps the original operation ORDER — the bit-exact
    * stump oracles replay exactly (−η·T(G))/(H+λ). */
  private[learner] def leafWeight(g: Double, h: Double,
      p: TrainParams): Double =
    if (p.maxDeltaStep > 0) {
      val raw = -thresholdL1(g, p.alpha) / (h + p.lambda)
      p.eta * math.min(math.max(raw, -p.maxDeltaStep), p.maxDeltaStep)
    } else -p.eta * thresholdL1(g, p.alpha) / (h + p.lambda)

  private[learner] def thresholdL1(g: Double, alpha: Double): Double =
    if (g > alpha) g - alpha else if (g < -alpha) g + alpha else 0.0

  /** xgboost split score: T(G)² / (H + λ). */
  private[learner] def score(g: Double, h: Double,
      p: TrainParams): Double = {
    val t = thresholdL1(g, p.alpha)
    t * t / (h + p.lambda)
  }

  /** Weighted sampling without replacement (Efraimidis-Spirakis A-Res) —
    * implements colsample_by* honoring feature_weights
    * (reference: matrix.py:319-323, tests/test_end_to_end.py:429-470). */
  private def sampleFeatures(all: Array[Int], rate: Double,
      weights: Option[Array[Double]], rng: java.util.Random): Array[Int] = {
    if (rate >= 1.0 && weights.isEmpty) return all
    val n = math.max(1, math.round(rate * all.length).toInt)
    val keyed = all.map { f =>
      val w = weights.map(_(f)).getOrElse(1.0)
      val key = if (w <= 0) Double.NegativeInfinity
        else math.pow(rng.nextDouble(), 1.0 / w)
      (key, f)
    }
    keyed.sortBy(-_._1).take(n).map(_._2).sorted
  }

  /** The eval rows of the models `live` (model j reads target
    * `live(j)`) of blocked data — what [[Metrics.computeAll]] reads.
    * Row objects exist only inside the consuming job; the cache keeps
    * blocks. */
  private def rowsOf(data: RDD[TrainBlock], tg: Targets, c: Int,
      live: Array[Int]): RDD[Metrics.EvalRow] =
    data.mapPartitions(
      TaskFns.rowView(c, tg.stride, tg.labels.toArray, live),
      preservesPartitioning = true)

  /** Exact row count of blocked data (block `n` sums — no per-row work). */
  private def countRows(data: RDD[TrainBlock]): Long =
    data.mapPartitions(it =>
      Iterator.single(it.foldLeft(0L)(_ + _.n))).fold(0L)(_ + _)

  /**
   * Compute per-block gradients for one boosting round, each output slot
   * from its target's label ([[Targets]]).
   * Output blocks carry gh = [g0,h0,...] interleaved (stride 2k) and a
   * deterministic per-row salt used by per-TREE subsampling in
   * buildTree (rows skip split voting but still get margin updates).
   * Row order — and with it the per-partition RNG draw sequence — is
   * the r11 per-row order exactly.
   */
  private def gradients(data: RDD[TrainBlock], obj: Objective,
      round: Int, p: TrainParams, tg: Targets = Targets.Single)
      : RDD[GradBlock] = {
    val c = obj.numOutputs
    val seed = p.seed
    // scale_pos_weight multiplies positive-row gradients in binary
    // objectives (xgboost applies it inside logistic regression only)
    val spw =
      if (p.scalePosWeight != 1.0 && obj.name.startsWith("binary:"))
        p.scalePosWeight.toFloat
      else 1.0f
    if (!obj.needsGroups) {
      // global-pass objectives (Cox): one driver-reduced pre-pass per
      // target per round; the results ride the stage closure (Spark
      // torrent-broadcasts task binaries per stage and cleans them with
      // it)
      val aux: Array[Serializable] =
        if (obj.needsGlobalPass) Array.tabulate(tg.labels.length)(t =>
          obj.globalPass(rowsOf(data, tg, c, Array(t))
            .mapPartitions(TaskFns.modelRows(0))))
        else null
      data.mapPartitionsWithIndex(
        TaskFns.pointwiseGradients(obj, c, tg.stride, tg.labels.toArray,
          seed, round, spw, aux),
        preservesPartitioning = true)
    } else
      data.mapPartitionsWithIndex(
        TaskFns.rankGradients(obj, seed, round, p.pairCap),
        preservesPartitioning = true)
  }

  /** Driver-side per-tree growth state for one fused round. */
  private final class TreeState(val cls: Int, treeSeed: Long, nf: Int,
      p: TrainParams, w: Int) {
    val rng = new java.util.Random(treeSeed)
    val treeSalt: Int = treeSeed.toInt ^ (treeSeed >>> 32).toInt
    val tb = new TreeBuilder(w)
    val treeFeats: Array[Int] = sampleFeatures(Array.range(0, nf),
      p.colsampleByTree, p.featureWeights, rng)
    var active: Array[Int] =
      Array(tb.newNode(Array.fill(w)(Double.NaN), Array.fill(w)(Double.NaN)))
    // kept histograms of evaluated nodes, by node id
    val hists = scala.collection.mutable.HashMap[Int, NodeHist]()
  }

  /**
   * Build ALL trees of one boosting round (numParallelTree × numClass)
   * level-synchronously from the round's gradient RDD: per depth level,
   * ONE fused histogram job covers every (tree, active-node) pair —
   * the data is scanned once per level regardless of class count or
   * forest size, instead of once per level PER TREE (K× / forest-size×
   * fewer passes for softmax / RF presets). Work is chunked so one
   * aggregation buffer stays under maxHistBytes.
   *
   * `width` is the node-statistics width: 1 for scalar trees, T for the
   * vector-leaf trees of [[MultiOutput]]. Tree `t` reads the `width`
   * gradient pairs from output slot `classes(t)` on; a candidate's gain
   * sums the per-slot scores in slot order and `min_child_weight` tests
   * the mean hessian across slots. A returned tree holds `width` values
   * per node (node-major) and its cover is that mean hessian. Vector
   * trees take none of the knobs [[MultiOutput.checkParams]] rejects.
   * `targets(t)` is tree t's model. Each model keeps its own
   * kept-histogram budget of maxHistBytes, so its trees keep, derive and
   * build the nodes they would in a run of their own; the driver may
   * then hold models × maxHistBytes.
   * Each level chunk's broadcast belongs to the run's `life`: it is
   * destroyed once the chunk's histogram is in, or by the run's end
   * when the level job fails.
   */
  private[learner] def buildTrees(life: RunLifetime,
      grads: RDD[GradBlock], bins: Binner.Bins, p: TrainParams,
      treeSeeds: Array[Long], classes: Array[Int], width: Int,
      targets: Array[Int]): Array[RegTree] = {
    // per-tree deterministic row subsample threshold on the row salt
    val subsampleCut: Int =
      if (p.subsample >= 1.0) Int.MaxValue
      else (Int.MinValue + (p.subsample * 4294967295.0)).toInt
    val b = bins.maxRealBins + 1 // last slot = missing
    val nf = bins.numFeatures
    val w = width
    val binW = 2 * w  // doubles per histogram bin
    val states = Array.tabulate(treeSeeds.length)(i =>
      new TreeState(classes(i), treeSeeds(i), nf, p, w))
    val treeSalts = states.map(_.treeSalt)
    val treeCls = states.map(_.cls)

    // interaction-constraint check: f may extend path P when some
    // group holds P ∪ {f}; path features themselves stay allowed, so
    // ungrouped features become implicit singletons once used
    val interSets: Array[Set[Int]] =
      p.interactionConstraints.map(_.toSet).toArray
    def interOk(path: List[Int], f: Int): Boolean =
      interSets.isEmpty || path.isEmpty || path.contains(f) ||
        interSets.exists(s => s.contains(f) && path.forall(s.contains))

    // ---- shared split machinery (both grow policies) ----

    /** Best split found for one frontier node; application is deferred
      * so each grow policy can order expansions its own way. `catSet`
      * is non-null for optimal-partition categorical splits: the codes
      * routing left, sorted ascending. */
    case class SplitDesc(gain: Double, f: Int, bin: Int, cat: Boolean,
        defLeft: Boolean, gL: Array[Double], hL: Array[Double],
        catSet: Array[Int] = null)

    /** An optimal-partition categorical feature: its present-codes test
      * (`hist != 0.0`) must only ever see a directly built histogram. */
    def partitionCat(f: Int): Boolean =
      bins.isCat(f) && bins.numBins(f) >= p.maxCatToOnehot

    /** `sub ⊆ sup` for ascending feature lists (sampleFeatures sorts). */
    def covers(sup: Array[Int], sub: Array[Int]): Boolean =
      sub.forall(java.util.Arrays.binarySearch(sup, _) >= 0)

    // kept histogram bytes per model, each held within maxHistBytes
    val keptBytes = new Array[Long](targets.max + 1)
    def keepHist(t: Int, nid: Int, nh: NodeHist): Unit = {
      val g = targets(t)
      if (keptBytes(g) + nh.h.length * 8L <= p.maxHistBytes) {
        states(t).hists(nid) = nh; keptBytes(g) += nh.h.length * 8L
      }
    }
    def dropHist(t: Int, nid: Int): Unit = states(t).hists.remove(nid)
      .foreach(keptBytes(targets(t)) -= _.h.length * 8L)

    /** Sibling histogram over `fl`: parent − built, per feature and bin.
      * The built child's histogram starts at `off` of `built`. */
    def derive(par: NodeHist, builtFeats: Array[Int],
        built: Array[Double], off: Int, fl: Array[Int]): Array[Double] = {
      val fw = b * binW
      val out = new Array[Double](fl.length * fw)
      var j = 0
      while (j < fl.length) {
        val pb = java.util.Arrays.binarySearch(par.feats, fl(j)) * fw
        val bb = off + java.util.Arrays.binarySearch(builtFeats, fl(j)) * fw
        var x = 0
        while (x < fw) { out(j * fw + x) = par.h(pb + x) - built(bb + x); x += 1 }
        j += 1
      }
      out
    }

    val allBins = Array.range(0, b)
    // findSplit's partial sums over the slots before the last, per
    // candidate x of one feature (see `scan`), and the left child's
    // (G, H) at each of those slots c (at x·w + c)
    val candH = new Array[Double](2 * b)
    val candL = new Array[Double](2 * b)
    val candR = new Array[Double](2 * b)
    val candGs = new Array[Double](2 * b * w)
    val candHs = new Array[Double](2 * b * w)

    /** Best split of node `nid` of tree `t` over its features `fl`, from
      * the histogram at `off` of `hist` (feature j's bins at
      * `off + j·b·2w`, slot c of a bin at +2c); sets a root's stats;
      * null = no admissible split. */
    def findSplit(t: Int, nid: Int, fl: Array[Int], hist: Array[Double],
        off: Int): SplitDesc = {
      val tb = states(t).tb
      // node totals per slot from feature 0's column (all bins + missing)
      if (tb.sumG(nid * w).isNaN) {
        var c = 0
        while (c < w) {
          var g = 0.0; var h = 0.0
          var bi = 0
          while (bi < b) {
            g += hist(off + bi * binW + 2 * c)
            h += hist(off + bi * binW + 2 * c + 1)
            bi += 1
          }
          tb.sumG(nid * w + c) = g; tb.sumH(nid * w + c) = h
          c += 1
        }
      }
      val gTot = Array.tabulate(w)(c => tb.sumG(nid * w + c))
      val hTot = Array.tabulate(w)(c => tb.sumH(nid * w + c))
      // the node's score summed over slots, and its mean hessian
      val (parentScore, hNode) = {
        var ps = 0.0; var h = 0.0
        var c = 0
        while (c < w) {
          ps += score(gTot(c), hTot(c), p); h += hTot(c); c += 1
        }
        (ps, h / w)
      }
      val best = new BestSplit(w)
      val mc = p.monotoneConstraints
      // a candidate on a constrained feature must order its child
      // weights in the constraint's direction (scalar trees only: the
      // left child is (gL, hL))
      def monotoneOk(f: Int, gL: Double, hL: Double): Boolean = {
        val c = if (f < mc.length) mc(f) else 0
        if (c == 0) true
        else {
          val wl = leafWeight(gL, hL, p)
          val wr = leafWeight(gTot(0) - gL, hTot(0) - hL, p)
          if (c > 0) wl <= wr else wl >= wr
        }
      }
      // the sum over the slots before this one (0.0 at the first), and
      // the sums through this slot of a candidate x
      def part(a: Array[Double], x: Int, first: Boolean): Double =
        if (first) 0.0 else a(x)
      def add(x: Int, c: Int, gL: Double, hL: Double, gT: Double,
          hT: Double): Unit = {
        val first = c == 0
        candGs(x * w + c) = gL; candHs(x * w + c) = hL
        candH(x) = part(candH, x, first) + hL
        candL(x) = part(candL, x, first) + score(gL, hL, p)
        candR(x) = part(candR, x, first) + score(gT - gL, hT - hL, p)
      }
      // the one candidate test: candidate x, given the last slot's left
      // child (gL, hL) and totals (gT, hT)
      def consider(f: Int, bin: Int, codes: Array[Int], x: Int,
          first: Boolean, gL: Double, hL: Double, gT: Double, hT: Double)
          : Unit = {
        val hSum = part(candH, x, first) + hL
        // x / 1 == x: a scalar tree skips the division
        val hMean = if (w == 1) hSum else hSum / w
        if (hMean >= p.minChildWeight && hNode - hMean >= p.minChildWeight) {
          val gain = 0.5 * (part(candL, x, first) + score(gL, hL, p) +
            (part(candR, x, first) + score(gT - gL, hT - hL, p)) -
            parentScore) - p.gamma
          if (gain > best.gain + 1e-12 && monotoneOk(f, gL, hL)) {
            best.gain = gain; best.f = f; best.bin = bin; best.codes = codes
            best.defLeft = x % 2 == 0
            System.arraycopy(candGs, x * w, best.gL, 0, w - 1)
            System.arraycopy(candHs, x * w, best.hL, 0, w - 1)
            best.gL(w - 1) = gL; best.hL(w - 1) = hL
          }
        }
      }
      // Candidate i's left child, without the missing bin, is the prefix
      // order(0..i) of feature position j's bins, or bin order(i) alone
      // (one-hot). The missing bin rides left (x = 2i), then right
      // (2i + 1). The left hessian and score and the right score sum over
      // the slots in slot order: the slots before the last leave their
      // partial sums in candH/candL/candR, the last slot tests.
      def scan(f: Int, j: Int, order: Array[Int], n: Int, prefix: Boolean,
          codes: Array[Int]): Unit = {
        val base = off + j * b * binW
        val miss = base + (b - 1) * binW
        var c = 0
        while (c < w) {
          val first = c == 0
          val gT = gTot(c); val hT = hTot(c)
          val gMiss = hist(miss + 2 * c); val hMiss = hist(miss + 2 * c + 1)
          var g = 0.0; var h = 0.0
          var i = 0
          while (i < n) {
            val at = base + order(i) * binW + 2 * c
            if (prefix) { g += hist(at); h += hist(at + 1) }
            else { g = hist(at); h = hist(at + 1) }
            if (c < w - 1) {
              add(2 * i, c, g + gMiss, h + hMiss, gT, hT)
              add(2 * i + 1, c, g, h, gT, hT)
            } else {
              consider(f, i, codes, 2 * i, first, g + gMiss, h + hMiss,
                gT, hT)
              consider(f, i, codes, 2 * i + 1, first, g, h, gT, hT)
            }
            i += 1
          }
          c += 1
        }
      }
      var j = 0
      while (j < fl.length) {
        val f = fl(j)
        val base = off + j * b * binW
        val nb = bins.numBins(f)
        if (bins.isCat(f) && nb < p.maxCatToOnehot) {
          // one-hot categorical candidates: left = {code c}
          // (matrix.py:142,159,800 enable_categorical). Same O(bins)
          // cost as the numeric scan — one bin, not a prefix.
          scan(f, j, allBins, nb, prefix = false, null)
        } else if (bins.isCat(f)) {
          // optimal-partition categorical (xgboost max_cat_to_onehot
          // overflow): categories present at this node sorted by
          // gradient ratio G_c/H_c (Fisher's exact grouping for
          // second-order losses), then a prefix scan identical in
          // shape to the numeric one — candidate left set = the first
          // ci+1 sorted categories. Deterministic: ties sort by code.
          // Codes absent here (empty bins) join NEITHER side and route
          // right at inference, like unseen categories. Scalar trees
          // only: vector trees take no categorical features.
          val codes = (0 until nb).filter { c =>
            hist(base + c * binW) != 0.0 || hist(base + c * binW + 1) != 0.0
          }.toArray
          if (codes.length >= 2) {
            val sorted = codes.sortBy { c =>
              val g = hist(base + c * binW)
              val h = hist(base + c * binW + 1)
              (g / math.max(h, 1e-16), c)
            }
            scan(f, j, sorted, sorted.length - 1, prefix = true, sorted)
          }
        } else {
          scan(f, j, allBins, nb - 1, prefix = true, null)
        }
        j += 1
      }
      if (best.f < 0) null
      else if (best.codes == null)
        SplitDesc(best.gain, best.f, best.bin, bins.isCat(best.f),
          best.defLeft, best.gL, best.hL)
      else SplitDesc(best.gain, best.f, -1, cat = true, best.defLeft,
        best.gL, best.hL, best.codes.take(best.bin + 1).sorted)
    }

    /** Evaluate a batch of frontier nodes — (tree, nid, sampled feats) —
      * with fused chunked histogram jobs; sets node stats; returns the
      * best split per item (null = no admissible split). Deferring the
      * application is arithmetic-identical to the old apply-mid-batch
      * flow: items of one batch are never ancestors of each other, so
      * splitting one cannot change a sibling's routing or histogram.
      *
      * Histogram subtraction: when both children of a split are in the
      * batch, only the one with the smaller hessian sum (the left on a
      * tie) is histogrammed; the other is parent − built on the driver.
      * A pair falls back to two direct builds when the parent's
      * histogram was not kept, when the derived child's features are
      * not covered by both the parent's and the built child's, or when
      * it samples a partition-categorical feature. With `keepHists`,
      * each node that found a split keeps its histogram for its
      * children, while the kept total stays within maxHistBytes. */
    def evaluateWork(work: ArrayBuffer[(Int, Int, Array[Int])],
        keepHists: Boolean): Array[SplitDesc] = {
      val out = new Array[SplitDesc](work.length)
      if (work.isEmpty) return out
      // a kept histogram serves a node still waiting to split (a queued
      // lossguide candidate) or the pending children of a split node
      states.indices.foreach { t =>
        val tb = states(t).tb
        states(t).hists.keys.toList.foreach { n =>
          val live = tb.feature(n) == -2 || (tb.feature(n) >= 0 &&
            (tb.feature(tb.left(n)) == -2 || tb.feature(tb.right(n)) == -2))
          if (!live) dropHist(t, n)
        }
      }
      // built item → the sibling item derived from it
      val derivedFrom = Array.fill(work.length)(-1)
      val derived = new Array[Boolean](work.length)
      val itemOf = work.indices.map(i => (work(i)._1, work(i)._2) -> i).toMap
      work.indices.foreach { i =>
        val (t, l, _) = work(i)
        val tb = states(t).tb
        val par = tb.parent(l)
        if (par >= 0 && tb.left(par) == l) {
          val r = tb.right(par)
          for (j <- itemOf.get((t, r)); ph <- states(t).hists.get(par)) {
            val (bi, di) =
              if (tb.hessSum(r) < tb.hessSum(l)) (j, i) else (i, j)
            val df = work(di)._3
            if (covers(ph.feats, df) && covers(work(bi)._3, df) &&
                !df.exists(partitionCat)) {
              derivedFrom(bi) = di; derived(di) = true
            }
          }
        }
      }
      val build = work.indices.filterNot(derived)
      val fPerNode = build.map(work(_)._3.length).max
      val bytesPerNode = fPerNode.toLong * b * binW * 8
      val chunkSize = math.max(1, (p.maxHistBytes / bytesPerNode).toInt)
      build.grouped(chunkSize).foreach { chunk =>
        // per-tree node→global-slot maps for this chunk
        val slotOf = states.map(st => Array.fill(st.tb.feature.length)(-1))
        chunk.zipWithIndex.foreach { case (i, s) =>
          slotOf(work(i)._1)(work(i)._2) = s
        }
        val chunkTrees = states.indices.map { t =>
          if (chunk.exists(work(_)._1 == t)) states(t).tb.snapshot()
          else null
        }.toArray
        val bc = life.broadcast(TaskFns.LevelChunk(chunkTrees, slotOf,
          treeCls, treeSalts, chunk.map(work(_)._3).toArray))
        val histSize = chunk.length * fPerNode * b * binW
        val hist = aggregateHist(grads, histSize)(
          TaskFns.histSeqOp(bc, histSize, subsampleCut, b, fPerNode, w))
        life.destroy(bc)

        // driver-side split finding per built node, then per sibling
        // derived from it
        chunk.zipWithIndex.foreach { case (i, s) =>
          val (t, nid, fl) = work(i)
          val off = s * fPerNode * b * binW
          out(i) = findSplit(t, nid, fl, hist, off)
          val d = derivedFrom(i)
          if (d >= 0) {
            val (_, sib, sfl) = work(d)
            val par = states(t).tb.parent(nid)
            val dh = derive(states(t).hists(par), fl, hist, off, sfl)
            dropHist(t, par)
            out(d) = findSplit(t, sib, sfl, dh, 0)
            if (keepHists && out(d) != null)
              keepHist(t, sib, new NodeHist(sfl, dh))
          }
          if (keepHists && out(i) != null)
            keepHist(t, nid, new NodeHist(fl,
              java.util.Arrays.copyOfRange(hist, off,
                off + fl.length * b * binW)))
        }
      }
      out
    }

    /** Apply a chosen split: create the children (stats exact from the
      * descriptor), propagate constraint bounds/paths, return (l, r). */
    def applySplit(t: Int, nid: Int, d: SplitDesc): (Int, Int) = {
      val tb = states(t).tb
      val gR = Array.tabulate(w)(c => tb.sumG(nid * w + c) - d.gL(c))
      val hR = Array.tabulate(w)(c => tb.sumH(nid * w + c) - d.hL(c))
      // child bounds: inherit the parent's; a split on a
      // constrained feature additionally pins the children on
      // either side of the clamped child-weight midpoint, which
      // makes every left-subtree value ≤ mid ≤ every
      // right-subtree value (for +1) — monotone by construction
      var lLo = tb.lower(nid); var lUp = tb.upper(nid)
      var rLo = lLo; var rUp = lUp
      val mc = p.monotoneConstraints
      val cBest = if (d.f < mc.length) mc(d.f) else 0
      if (cBest != 0) {
        val wl = tb.clamp(leafWeight(d.gL(0), d.hL(0), p), nid)
        val wr = tb.clamp(leafWeight(gR(0), hR(0), p), nid)
        val mid = (wl + wr) / 2
        if (cBest > 0) { lUp = math.min(lUp, mid)
          rLo = math.max(rLo, mid) }
        else { lLo = math.max(lLo, mid)
          rUp = math.min(rUp, mid) }
      }
      val childPath =
        if (p.interactionConstraints.isEmpty) Nil
        else d.f :: tb.path(nid)
      val l = tb.newNode(d.gL, d.hL, lLo, lUp, childPath, nid)
      val r = tb.newNode(gR, hR, rLo, rUp, childPath, nid)
      tb.gain(nid) = d.gain
      tb.feature(nid) = d.f
      tb.thresholdBin(nid) = d.bin
      // one-hot categorical: threshold IS the category code
      // (== routing); partition categorical: a 256-bit bitmap of the
      // left-routing codes (bin/threshold stay -1); numeric: the bin's
      // upper cut, as before
      tb.catSplit(nid) = d.cat
      if (d.catSet != null) {
        tb.catBits(nid) = RegTree.catBitmap(d.catSet)
        tb.threshold(nid) = -1f
      } else {
        tb.threshold(nid) =
          if (d.cat) d.bin.toFloat else bins.cuts(d.f)(d.bin)
      }
      tb.defaultLeft(nid) = d.defLeft
      tb.left(nid) = l; tb.right(nid) = r
      (l, r)
    }

    if (p.growPolicy != "lossguide") {
      // ---- depthwise (default): expand the whole frontier per level —
      // ONE fused job per level regardless of class count / forest size.
      // maxLeaves > 0 spends the per-tree leaf budget best-gain-first
      // within each level (xgboost hist's depthwise behavior); the
      // budget-free path applies in scan order, bit-identical to the
      // pre-maxLeaves trainer.
      val leaves = Array.fill(states.length)(1)
      var depth = 0
      while (depth < p.maxDepth && states.exists(_.active.nonEmpty)) {
        // (treeIdx, nodeId, sampled features); per-tree RNG draw order is
        // identical to growing each tree separately. The interaction
        // filter runs AFTER sampling so the RNG sequence — and with it
        // the unconstrained model — is unchanged by the feature.
        val work = ArrayBuffer[(Int, Int, Array[Int])]()
        states.zipWithIndex.foreach { case (st, t) =>
          if (st.active.nonEmpty) {
            val levelFeats = sampleFeatures(st.treeFeats, p.colsampleByLevel,
              p.featureWeights, st.rng)
            st.active.foreach { nid =>
              val sampled = sampleFeatures(levelFeats,
                p.colsampleByNode, p.featureWeights, st.rng)
              val feats =
                if (interSets.isEmpty) sampled
                else sampled.filter(interOk(st.tb.path(nid), _))
              // no admissible feature: the node's stats are already known
              // (children get G/H at split time; only a root can be
              // stat-less, and a root has an empty path ⇒ never filtered)
              if (feats.isEmpty) st.tb.finalizeLeaf(nid, p)
              else work += ((t, nid, feats))
            }
          }
        }
        if (work.isEmpty) {
          states.foreach(_.active = Array.empty)
        } else {
          // the last level's children are leaves: keep no histograms
          val descs = evaluateWork(work, keepHists = depth + 1 < p.maxDepth)
          val nextActive = Array.fill(states.length)(ArrayBuffer[Int]())
          if (p.maxLeaves == 0) {
            var i = 0
            while (i < work.length) {
              val (t, nid, _) = work(i)
              if (descs(i) == null) states(t).tb.finalizeLeaf(nid, p)
              else {
                val (l, r) = applySplit(t, nid, descs(i))
                nextActive(t) += l; nextActive(t) += r
              }
              i += 1
            }
          } else {
            // leaf-budgeted level: apply best-gain-first (ties: scan
            // order), finalize what the budget can't afford
            val order = descs.indices
              .filter(descs(_) != null)
              .sortBy(i => (-descs(i).gain, i))
            val applied = Array.fill(work.length)(false)
            order.foreach { i =>
              val (t, nid, _) = work(i)
              if (leaves(t) < p.maxLeaves) {
                val (l, r) = applySplit(t, nid, descs(i))
                leaves(t) += 1
                nextActive(t) += l; nextActive(t) += r
                applied(i) = true
              }
            }
            descs.indices.foreach { i =>
              if (!applied(i)) {
                val (t, nid, _) = work(i)
                states(t).tb.finalizeLeaf(nid, p)
              }
            }
          }
          states.zipWithIndex.foreach { case (st, t) =>
            st.active = nextActive(t).toArray
          }
        }
        depth += 1
      }
      // frontier nodes at maxDepth become leaves (stats already known)
      states.foreach(st => st.active.foreach(st.tb.finalizeLeaf(_, p)))
    } else {
      // ---- grow_policy=lossguide: best-first (leaf-wise) growth.
      // A per-tree priority queue holds evaluated candidate splits; each
      // iteration pops the highest-gain candidate per tree, applies it,
      // and evaluates the two children in ONE fused job across all trees
      // of the round. Distributed cost: one data scan per applied split
      // (children evaluated pairwise) — the honest leaf-wise histogram
      // cost (LightGBM's data-parallel mode pays the same per-split
      // allreduce), so cap it with maxLeaves. Candidate gains depend
      // only on the node's own rows, so popping in gain order yields
      // exactly the best-first tree; with no caps the split SET equals
      // depthwise's (expansion order can't change per-node decisions).
      val maxD = if (p.maxDepth > 0) p.maxDepth else Int.MaxValue
      val cap = if (p.maxLeaves > 0) p.maxLeaves else Int.MaxValue
      val leaves = Array.fill(states.length)(1)
      // node depth per tree (root = 0), parallel to the TreeBuilder
      // arrays — applySplit appends exactly two nodes per call
      val depthOf = states.map(_ => ArrayBuffer(0))
      // colsample_bylevel draw per (tree, depth), memoized on first
      // visit — leaf-wise revisits depths out of order, but the driver
      // expansion order is deterministic in seed, so the RNG sequence is
      val levelFeatsOf =
        states.map(_ => scala.collection.mutable.HashMap[Int, Array[Int]]())
      // max-gain queue; ties broken toward the earlier-evaluated node
      val queues = Array.fill(states.length)(
        scala.collection.mutable.PriorityQueue
          .empty[(Double, Int, Int, SplitDesc)](
            Ordering.by((c: (Double, Int, Int, SplitDesc)) => (c._1, -c._2))))
      var seqNo = 0

      def evalBatch(nodes: Seq[(Int, Int)]): Unit = {
        if (nodes.isEmpty) return
        val work = ArrayBuffer[(Int, Int, Array[Int])]()
        nodes.foreach { case (t, nid) =>
          val st = states(t)
          val lf = levelFeatsOf(t).getOrElseUpdate(depthOf(t)(nid),
            sampleFeatures(st.treeFeats, p.colsampleByLevel,
              p.featureWeights, st.rng))
          val sampled = sampleFeatures(lf, p.colsampleByNode,
            p.featureWeights, st.rng)
          val feats =
            if (interSets.isEmpty) sampled
            else sampled.filter(interOk(st.tb.path(nid), _))
          if (feats.isEmpty) st.tb.finalizeLeaf(nid, p)
          else work += ((t, nid, feats))
        }
        val descs = evaluateWork(work, keepHists = true)
        var i = 0
        while (i < work.length) {
          val (t, nid, _) = work(i)
          if (descs(i) == null) states(t).tb.finalizeLeaf(nid, p)
          else {
            queues(t).enqueue((descs(i).gain, seqNo, nid, descs(i)))
            seqNo += 1
          }
          i += 1
        }
      }

      evalBatch(states.indices.map(t => (t, 0)))
      while (queues.exists(_.nonEmpty)) {
        val toEval = ArrayBuffer[(Int, Int)]()
        states.indices.foreach { t =>
          if (queues(t).nonEmpty) {
            if (leaves(t) >= cap) {
              // leaf budget exhausted: every queued candidate is a leaf
              queues(t).foreach(c => states(t).tb.finalizeLeaf(c._3, p))
              queues(t).clear()
            } else {
              val (_, _, nid, d) = queues(t).dequeue()
              val (l, r) = applySplit(t, nid, d)
              leaves(t) += 1
              val cd = depthOf(t)(nid) + 1
              depthOf(t) += cd; depthOf(t) += cd
              // depth-capped or budget-exhausted children are leaves
              // outright — no wasted histogram job on them
              if (cd >= maxD || leaves(t) >= cap) {
                states(t).tb.finalizeLeaf(l, p)
                states(t).tb.finalizeLeaf(r, p)
              } else { toEval += ((t, l)); toEval += ((t, r)) }
            }
          }
        }
        evalBatch(toEval.toSeq)
      }
      // lossguide leaves st.active at the root sentinel — nothing to
      // finalize here (every materialized node was closed above)
      states.foreach(_.active = Array.empty)
    }
    states.map(_.tb.result(p))
  }

  /**
   * xgboost UpdateTreeLeaf (adaptive trees) for the L1 family: reset
   * every leaf of the round's freshly built trees to
   * η · Q_α(label − margin) over the rows routed to the leaf, where Q_α
   * is the LOWER weighted quantile — the smallest value v with
   * W(≤ v) ≥ α·W. reg:absoluteerror refreshes at α = 0.5 and
   * reg:quantileerror at α = quantile_alpha, matching the objectives
   * xgboost refreshes (without it, constant-hessian L1 leaves are
   * −η·ΣG/(n+λ) ∈ [−η, η] and barely move the margin).
   *
   * Distributed and EXACT without shuffling a single row: a driver loop
   * of batched histogram refinement over the cached round data. Pass 0
   * aggregates per-leaf (Σw, min, max) of the float residuals; each
   * refinement pass aggregates one 1024-bin weight histogram per
   * UNRESOLVED leaf over its current interval (lo, hi] plus the
   * interval's min/max, and the driver narrows each leaf to the bin
   * containing the target rank. Bin membership is decided by plain
   * </> comparisons against broadcast double edges, so the running
   * W(≤ lo) bookkeeping is exact; a leaf resolves when its interval
   * holds one distinct float residual (1024⁴ = 2⁴⁰ subdivisions beats
   * a float's 2²⁴-ulp range, so ~4 passes). ALL leaves of ALL round
   * trees share each pass's single aggregate — a round costs ~5 cheap
   * narrow scans regardless of tree/leaf count, and nothing shuffles.
   *
   * Documented divergences from xgboost: the lower quantile (xgboost
   * interpolates adjacent order statistics), and the refresh sees all
   * rows (xgboost restricts to the row subsample).
   *
   * Its broadcasts belong to the run's `life`: each pass's edges and
   * bounds go after the pass, the trees and slot maps after the last
   * pass, and all of them at the run's end if a pass fails.
   */
  private def refreshLeaves(
      life: RunLifetime,
      data: RDD[TrainBlock],
      roundTrees: Array[RegTree],
      alphas: Array[Double], treeCls: Array[Int], tg: Targets,
      eta: Double): Array[RegTree] = {
    val B = 1024
    // tree t refreshes against the margin of its output slot s and the
    // label of its target, labels(s / c), at the quantile α of s mod c
    val c = alphas.length
    val stride = tg.stride
    val treeLabel = treeCls.map(s => tg.labels(s / c))
    // (tree, node) → global leaf slot; slot → owning tree
    var nSlots = 0
    val slotTree = ArrayBuffer[Int]()
    val leafSlot: Array[Array[Int]] = roundTrees.zipWithIndex.map {
      case (t, ti) =>
        val m = Array.fill(t.numNodes)(-1)
        var i = 0
        while (i < t.numNodes) {
          if (t.feature(i) < 0) { m(i) = nSlots; nSlots += 1; slotTree += ti }
          i += 1
        }
        m
    }
    val slotTreeArr = slotTree.toArray
    val bcTrees = life.broadcast(roundTrees)
    val bcSlots = life.broadcast(leafSlot)

    // ---- pass 0: per-slot (Σw, min, max) of residuals ----
    val z0 = new Array[Double](nSlots * 3)
    var s = 0
    while (s < nSlots) {
      z0(s * 3 + 1) = Double.PositiveInfinity
      z0(s * 3 + 2) = Double.NegativeInfinity
      s += 1
    }
    val stats = data.aggregate(z0)(
      (acc, blk) => {
        val ts = bcTrees.value; val ls = bcSlots.value
        val kb = blk.k
        var i = 0
        while (i < blk.n) {
          val off = i * blk.nf
          val w = blk.weights(i).toDouble
          var t = 0
          while (t < ts.length) {
            // each tree refreshes against ITS OWN output's margin — for
            // multi-quantile (one tree per α) slot t%k trees see m(cls)
            val r: Double = (blk.labels(i * stride + treeLabel(t)) -
              blk.margins(i * kb + treeCls(t))).toDouble
            val slot = ls(t)(ts(t).leafBinned(blk.bins, off, MissingBin))
            acc(slot * 3) += w
            if (r < acc(slot * 3 + 1)) acc(slot * 3 + 1) = r
            if (r > acc(slot * 3 + 2)) acc(slot * 3 + 2) = r
            t += 1
          }
          i += 1
        }
        acc
      },
      (a, c) => {
        var i = 0
        while (i < nSlots) {
          a(i * 3) += c(i * 3)
          if (c(i * 3 + 1) < a(i * 3 + 1)) a(i * 3 + 1) = c(i * 3 + 1)
          if (c(i * 3 + 2) > a(i * 3 + 2)) a(i * 3 + 2) = c(i * 3 + 2)
          i += 1
        }
        a
      })

    val target = new Array[Double](nSlots)
    val lo = new Array[Double](nSlots)
    val hi = new Array[Double](nSlots)
    val wBelow = new Array[Double](nSlots)
    val value = Array.fill(nSlots)(Double.NaN) // resolved quantile
    val keepOld = new Array[Boolean](nSlots)
    s = 0
    while (s < nSlots) {
      val w = stats(s * 3)
      val mn = stats(s * 3 + 1); val mx = stats(s * 3 + 2)
      if (w <= 0) keepOld(s) = true // unroutable leaf: keep as trained
      else if (mn == mx) value(s) = mn
      else {
        target(s) = alphas(treeCls(slotTreeArr(s)) % c) * w
        lo(s) = Double.NegativeInfinity; hi(s) = mx; wBelow(s) = 0.0
      }
      s += 1
    }

    // ---- refinement passes ----
    var guard = 0
    var unresolved = (0 until nSlots)
      .filter(i => !keepOld(i) && value(i).isNaN).toArray
    while (unresolved.nonEmpty && guard < 64) {
      guard += 1
      val act = unresolved
      val slotPos = Array.fill(nSlots)(-1)
      act.zipWithIndex.foreach { case (sl, i) => slotPos(sl) = i }
      // edges: interior points of the slot's finite span; pass 1 spans
      // [min, max] (lo is −∞), later passes span (lo, hi]
      val edges: Array[Array[Double]] = act.map { sl =>
        val a = if (lo(sl).isNegInfinity) stats(sl * 3 + 1) else lo(sl)
        val b = hi(sl)
        Array.tabulate(B - 1)(i => a + (i + 1) * (b - a) / B)
      }
      val bcEdges = life.broadcast(edges)
      val bcLo = life.broadcast(act.map(lo))
      val bcHi = life.broadcast(act.map(hi))
      val bcPos = life.broadcast(slotPos)
      val width = B + 2 // hist + interval min + interval max
      val z = new Array[Double](act.length * width)
      var i = 0
      while (i < act.length) {
        z(i * width + B) = Double.PositiveInfinity
        z(i * width + B + 1) = Double.NegativeInfinity
        i += 1
      }
      val h = data.aggregate(z)(
        (acc, blk) => {
          val ts = bcTrees.value; val ls = bcSlots.value
          val pos = bcPos.value
          val kb = blk.k
          var i = 0
          while (i < blk.n) {
            val off = i * blk.nf
            val w = blk.weights(i).toDouble
            var t = 0
            while (t < ts.length) {
              val r: Double = (blk.labels(i * stride + treeLabel(t)) -
                blk.margins(i * kb + treeCls(t))).toDouble
              val slot = ls(t)(ts(t).leafBinned(blk.bins, off, MissingBin))
              val pi = pos(slot)
              if (pi >= 0 && r > bcLo.value(pi) && r <= bcHi.value(pi)) {
                val e = bcEdges.value(pi)
                // j = #(edges < r): first index with e(idx) >= r
                var l = 0; var u = e.length
                while (l < u) {
                  val mid = (l + u) >>> 1
                  if (e(mid) < r) l = mid + 1 else u = mid
                }
                val base = pi * width
                acc(base + l) += w
                if (r < acc(base + B)) acc(base + B) = r
                if (r > acc(base + B + 1)) acc(base + B + 1) = r
              }
              t += 1
            }
            i += 1
          }
          acc
        },
        (a, c) => {
          var i = 0
          while (i < a.length) {
            val off = i % width
            if (off == B) { if (c(i) < a(i)) a(i) = c(i) }
            else if (off == B + 1) { if (c(i) > a(i)) a(i) = c(i) }
            else a(i) += c(i)
            i += 1
          }
          a
        })
      Seq(bcEdges, bcLo, bcHi, bcPos).foreach(life.destroy)
      act.zipWithIndex.foreach { case (sl, pi) =>
        val base = pi * width
        val mnI = h(base + B); val mxI = h(base + B + 1)
        if (mnI == mxI) value(sl) = mnI // single float left: the answer
        else {
          var cum = wBelow(sl)
          var j = 0
          while (j < B && cum + h(base + j) < target(sl)) {
            cum += h(base + j); j += 1
          }
          if (j >= B) value(sl) = mxI // numeric guard; cannot happen
          else {
            val e = edges(pi)
            lo(sl) = if (j == 0) lo(sl) else e(j - 1)
            hi(sl) = if (j == B - 1) hi(sl) else e(j)
            wBelow(sl) = cum
          }
        }
      }
      unresolved = unresolved.filter(i => value(i).isNaN)
    }
    unresolved.foreach(sl => value(sl) = hi(sl)) // guard exhausted
    life.destroy(bcTrees); life.destroy(bcSlots)

    roundTrees.zipWithIndex.map { case (t, ti) =>
      val v = t.value.clone()
      var i = 0
      while (i < t.numNodes) {
        val sl = leafSlot(ti)(i)
        if (sl >= 0 && !keepOld(sl)) v(i) = (eta * value(sl)).toFloat
        i += 1
      }
      new RegTree(t.feature, t.thresholdBin, t.threshold, t.defaultLeft,
        t.left, t.right, v, t.gain, t.cover, t.catSplit, t.catBits)
    }
  }

  /**
   * The boosting loop — analog of the reference's `_train` round loop
   * (main.py:1061-1337), with the driver playing the tracker role. It
   * trains one label; [[boostTargets]] runs the same loop over several.
   *
   * Ownership ([[RunLifetime]]): the run owns what it persists and
   * broadcasts, and its inputs only when `releaseInputs` is set. A
   * margin generation is released once the next round's trees are
   * built on its successor, cached ranking gradients once the round's
   * trees are built, DART's kept-ensemble margins at its commit and
   * its eval views at the end of the round, each with its broadcast;
   * gbtree's tree broadcasts (O(R) data) live to the end, where
   * everything still held is freed on any exit.
   *
   * @param train  binned row blocks carrying current margins (persisted
   *               here if nothing cached them)
   * @param evals  named eval sets in the same representation
   * @param releaseInputs false when `train`/`evals` are caller-owned
   *               caches (a reused [[graft.api.GraftBoost.BinnedMatrix]])
   *               that must survive this run for the next one: the run
   *               then never releases them
   */
  def boost(
      train: RDD[TrainBlock],
      evals: Seq[(String, RDD[TrainBlock])],
      bins: Binner.Bins,
      p: TrainParams,
      callbacks: Seq[TrainingCallback] = Nil,
      initModel: Option[GraftModel] = None,
      spark: Option[org.apache.spark.sql.SparkSession] = None,
      distributedCallbacks: Seq[DistributedCallback] = Nil,
      releaseInputs: Boolean = true,
      knownRows: Long = -1L)
      : TrainResult =
    boostTargets(train, evals, bins, p, Targets.Single, callbacks,
      initModel, spark, distributedCallbacks, releaseInputs, knownRows).head

  /**
   * The one round loop of every tree model: [[boost]] over the
   * [[Targets]] of `train`, one [[TrainResult]] per model. Each round
   * grows the trees of every model still training in ONE [[buildTrees]]
   * call, so T labels cost the jobs of one. Model j's tree i reads slot
   * j·c + i mod c, takes the seed and the kept-histogram budget of its
   * own one-label run, so its trees equal that run's bit for bit, and
   * keeps its own eval history and early stop: once stopped it takes no
   * more trees. Callbacks, init models and DART (per-model drop sets)
   * train one model per run.
   */
  private[graft] def boostTargets(
      train: RDD[TrainBlock],
      evals: Seq[(String, RDD[TrainBlock])],
      bins: Binner.Bins,
      p: TrainParams,
      targets: Targets,
      callbacks: Seq[TrainingCallback] = Nil,
      initModel: Option[GraftModel] = None,
      spark: Option[org.apache.spark.sql.SparkSession] = None,
      distributedCallbacks: Seq[DistributedCallback] = Nil,
      releaseInputs: Boolean = true,
      knownRows: Long = -1L): Seq[TrainResult] = {
    val obj = Objectives.resolve(p)
    require(p.customObjective.forall(_.name.startsWith("custom:")),
      "customObjective.name must start with \"custom:\" (model save/load " +
        "round-trips through Objectives.forName)")
    require(p.booster == "gbtree" || p.booster == "dart",
      s"unknown booster '${p.booster}' (gbtree | dart; gblinear " +
        "trains via GraftLinear)")
    require(p.growPolicy == "depthwise" || p.growPolicy == "lossguide",
      s"unknown growPolicy '${p.growPolicy}' (depthwise | lossguide)")
    require(p.maxLeaves >= 0,
      s"maxLeaves must be >= 0 (0 = unbounded), got ${p.maxLeaves}")
    require(p.maxCatToOnehot >= 1,
      s"maxCatToOnehot must be >= 1, got ${p.maxCatToOnehot}")
    require(p.maxDepth > 0 ||
        (p.growPolicy == "lossguide" && p.maxLeaves > 0),
      "maxDepth=0 (unbounded) requires growPolicy=lossguide with " +
        "maxLeaves > 0 to bound the tree")
    require(p.processType == "default" || p.processType == "update",
      s"unknown processType '${p.processType}' (default | update)")
    if (p.processType == "update")
      return Seq(refreshModel(train, evals, bins, p, obj, initModel,
        releaseInputs, knownRows))
    val dart = p.booster == "dart"
    if (dart) {
      require(p.rateDrop >= 0.0 && p.rateDrop <= 1.0,
        s"rateDrop must be in [0,1], got ${p.rateDrop}")
      require(p.skipDrop >= 0.0 && p.skipDrop <= 1.0,
        s"skipDrop must be in [0,1], got ${p.skipDrop}")
      require(p.sampleType == "uniform" || p.sampleType == "weighted",
        s"sampleType must be uniform|weighted, got '${p.sampleType}'")
      require(p.normalizeType == "tree" || p.normalizeType == "forest",
        s"normalizeType must be tree|forest, got '${p.normalizeType}'")
    }
    Metrics.requireDistinctEvalNames(evals.map(_._1))
    // c output slots per target, trees per round per model, and the
    // node-statistics width of a tree
    val c = obj.numOutputs
    val vector = targets.vectorLeaf
    val tpr = p.numParallelTree * c
    val w = if (vector) targets.labels.length else 1
    val metricNames = Metrics.resolveNames(p, obj.name)
    val models = Array.fill(if (vector) 1 else targets.labels.length)(
      new ModelRun(p, metricNames, evals.map(_._1)))
    require(models.length == 1 ||
        (callbacks.isEmpty && initModel.isEmpty && !dart),
      "callbacks, init models and DART train one model per run")
    // the one model of a single-model run (init model, DART, stop trim)
    val trees = models(0).trees
    initModel.foreach(m => trees ++= m.trees)
    // DART weight per tree — SAMPLING bookkeeping only ("weighted"
    // sample_type probabilities): the weights themselves are baked into
    // the stored leaf values at every rescale, so predict/save/SHAP see
    // plain trees. A resumed dart model SEEDS its stored cumulative
    // weights (r10) so weighted drop probabilities continue where
    // training left off (xgboost's DART resume semantics); models
    // without stored weights (gbtree init, pre-r10 saves) start at 1.0
    // — their values already carry all past rescales either way.
    val dartWeights = ArrayBuffer[Double]()
    initModel.filter(_.dartWeights.length == trees.length)
      .foreach(m => dartWeights ++= m.dartWeights)
    while (dartWeights.length < trees.length) dartWeights += 1.0
    // round-count arithmetic (startRound below) floor-divides the tree
    // count for BOTH boosters — a mismatched init model must fail fast
    // in dart mode too, where a miscounted startRound would silently
    // shift the (seed, round)-deterministic drop-set sequence
    initModel.filter(_.trees.nonEmpty).foreach { m =>
      require(m.trees.length % tpr == 0,
        s"init model has ${m.trees.length} trees, not a multiple of " +
          s"numOutputs*numParallelTree = $tpr")
      // shape compatibility (review r9): a single-output objective makes
      // the multiple-of check above vacuous (k = 1 divides everything),
      // so a multiclass init model would silently fold every class tree
      // into one margin, and a wider init model would AIOOBE on the
      // executor at bins(feature(i)). Objective NAME is deliberately
      // not compared — xgboost's xgb_model semantics allow continuing
      // raw margins under a different objective.
      require(m.numOutputs == c,
        s"init model has ${m.numOutputs} output(s) per round, the " +
          s"objective ${obj.name} trains $c — resume with a matching " +
          "objective/numClass")
      require(m.numFeatures == bins.numFeatures,
        s"init model was trained on ${m.numFeatures} feature(s), this " +
          s"data has ${bins.numFeatures}")
      // xgboost-JSON imports carry a -1 sentinel in thresholdBin (the
      // JSON has no bin-space thresholds); continued training folds the
      // init model in via BINNED traversal, which would misroute — an
      // imported model is inference-only. Optimal-partition categorical
      // nodes ALSO store thresholdBin = -1 but route via catBits over
      // bin codes (the same binned walk), so they are resumable and exempt.
      require(m.trees.forall(t => (0 until t.numNodes)
          .forall(i => t.feature(i) < 0 || t.isPartitionNode(i) ||
            t.thresholdBin(i) >= 0)),
        "init model was imported from xgboost JSON and has no bin-space " +
          "thresholds — imported models are inference-only (predict/" +
          "contribs/leaves); train a fresh model or resume from a " +
          "parquet-saved graft model")
    }
    val stopEvents = callbacks.collect { case s: StopEvent => s }
    RunLifetime(train.sparkContext, p.storageLevel, releaseInputs,
        stopEvents) { life =>
      var data = life.input(train)
      var evalData = evals.map { case (n, r) => (n, life.input(r)) }
      // Continued training (C4): fold the init model's trees into the
      // margins BEFORE the round loop — otherwise new trees fit gradients
      // that ignore the init model while the final ensemble sums both
      // (advisor r1, Trainer.scala:404). Requires the same Binner cuts the
      // init model was trained with (deterministic for same data + seed).
      // DART skips the fold-in: its margins are rebuilt fresh each round
      // over the whole tree buffer (init trees included), because dropped
      // trees rescale retroactively.
      initModel.filter(_.trees.nonEmpty).filter(_ => !dart).foreach { m =>
        val bcInit = life.broadcast(byClass(m.trees, c))
        val base = data
        val upd = life.persist(applyTrees(base, bcInit))
        upd.foreachPartition(_ => ())
        evalData = evalData.map { case (n, r) =>
          // shared eval (the dtrain idiom): same fold, same RDD — alias
          // the folded train RDD rather than recomputing the just-
          // unpersisted base through a duplicate chain
          if (r eq base) (n, upd)
          else {
            val u = life.persist(applyTrees(r, bcInit))
            u.foreachPartition(_ => ())
            life.release(r)
            (n, u)
          }
        }
        life.release(base)
        data = upd
      }
      // A3 total_n (main.py:1333-1335). The caller usually already
      // counted the input (GraftBoost.train's strategy count / the fused
      // path's block fold) — reuse that EXACT value instead of paying one
      // more full-cache job per train (prepare/pack drop no rows, so the
      // two counts are the same number by construction).
      val totalN = if (knownRows >= 0L) knownRows else countRows(data)

      // C8 beforeTrain: one lightweight job over the cached partitions
      if (distributedCallbacks.nonEmpty) {
        val dcbs = distributedCallbacks
        data.foreachPartition { (_: Iterator[TrainBlock]) =>
          val r = DistributedCallback.rank()
          dcbs.foreach(_.beforeTrain(r))
        }
      }

      val customByName = p.customMetrics.map(m => m.name -> m).toMap
      val metricJobs = Metrics.jobs(metricNames, customByName)
      var round = 0
      // margin-update RDD of the previous round, unpersisted lazily once
      // the current round's gradient pass has materialized on top of it
      // (saves one full data pass per round vs eager materialization)
      var prevData: Option[RDD[TrainBlock]] = None
      // checkpoint-resume arithmetic (C4): each completed round appended
      // numParallelTree*k trees (advisor r1: `/k` alone miscounted forests)
      val startRound = trees.length / tpr
      val initTreeCount = trees.length // for partial-round trim on hard stop
      // DART: snapshot of the tree buffer taken BEFORE this round's
      // retroactive rescale, so the hard-stop catch can roll an aborted
      // round back (gbtree only appends, so its trim arithmetic suffices;
      // dart also mutates earlier trees).
      var dartPreRound: Array[RegTree] = null
      var dartPreWeights: Array[Double] = null
      // C6: the rounds run under the run's job group, so a hard StopEvent
      // can kill in-flight stages; the catch below turns the cancellation
      // into a clean return of the model built so far
      life.rounds {
        while (round < p.numRounds && models.exists(!_.done)) try {
          // the models still training: one that stopped early takes no
          // more trees
          val live = models.indices.filterNot(models(_).done).toArray
          // DART: pick this round's dropped-tree set on the driver —
          // deterministic in (seed, round), so partitioning/retries cannot
          // change it (the xgboost DropTrees analog).
          val dropIdx: Array[Int] =
            if (dart && trees.nonEmpty)
              chooseDropSet(dartWeights, p, startRound + round)
            else Array.empty[Int]
          if (dart) {
            dartPreRound = trees.toArray
            dartPreWeights = dartWeights.toArray
          }
          // DART gradient base: margins rebuilt FRESH over the kept trees,
          // layered on the immutable init-margin RDD (`data` is never
          // advanced in dart mode). Margins cannot be carried incrementally
          // — dropped trees rescale retroactively — and a float carried sum
          // minus the dropped predictions would not cancel exactly. xgboost
          // DART re-predicts the ensemble every round too; this is the
          // documented DART cost profile, one kept-ensemble pass per round.
          // With the whole ensemble dropped the margins ARE the init
          // margins — no copy needed.
          val kept =
            if (!dart || trees.isEmpty) Array.empty[Int]
            else Array.range(0, trees.length).filterNot(dropIdx.toSet)
          // Unlike gbtree (which broadcasts only the round's ~k new trees,
          // O(R) total data), dart broadcasts the full kept/post-rescale
          // ensemble every round — accumulating those to end-of-training
          // would hold O(R²) tree copies, so each is destroyed as soon as
          // its round's jobs finish (advisor r8). By then the margin/metric
          // results are materialized and the backing RDDs unpersisted, so
          // no live lineage can need the broadcast again.
          val bcKept =
            if (kept.isEmpty) None
            else Some(life.broadcast(kept.map(i => (i % c, trees(i)))))
          val roundData = bcKept.fold(data) { bc =>
            val rd = life.persist(applyTrees(data, bc))
            rd.foreachPartition(_ => ())
            rd
          }
          // Pointwise gradients are a cheap narrow map over the cached margin
          // RDD — recomputing them inside each level's histogram job costs a
          // few sigmoid/softmax evaluations per row, while PERSISTING them
          // costs a full extra cached copy of the dataset per round (old-gen
          // churn that showed up as the r3 train slowdown). Only ranking
          // gradients — which buffer whole partitions to walk qid groups —
          // are worth caching across the round's level jobs.
          val grads = gradients(roundData, obj, startRound + round, p,
            targets)
          if (obj.needsGroups) life.persist(grads)
          // layout: model-major, class-inner within a model so
          // GraftModel's (t % k) class mapping holds for any
          // numParallelTree: [pt0·c0, pt0·c1, …, pt1·c0, …]. All trees of
          // the round grow in ONE fused job per level.
          // per-round learning rate (LearningRateScheduler analog); global
          // round index keeps a resumed schedule aligned with the full run
          val etaRound = p.etaSchedule
            .map(f => f(startRound + round)).getOrElse(p.eta)
          require(etaRound > 0, s"etaSchedule returned $etaRound for " +
            s"round ${startRound + round}; learning rates must be positive")
          val pTree = p.copy(eta = etaRound / p.numParallelTree)
          val treeModel =
            Array.tabulate(live.length * tpr)(i => live(i / tpr))
          val treeCls = Array.tabulate(treeModel.length)(i =>
            treeModel(i) * c + i % c)
          val builtTrees = buildTrees(life, grads, bins, pTree,
            Array.tabulate(treeModel.length)(i =>
              TaskFns.mix(p.seed, startRound + round, 7919 + i % tpr)),
            treeCls, width = w, targets = treeModel)
          // adaptive leaf refresh (xgboost UpdateTreeLeaf): the L1 family
          // resets each leaf to η·Q_α of its residuals before the commit
          // (α per output slot — multi-quantile trains one tree per α)
          val roundTrees = obj.leafRefreshAlphas match {
            case Some(as) => refreshLeaves(life, roundData, builtTrees,
              as, treeCls, targets, pTree.eta)
            case None => builtTrees
          }
          // the tree builds above materialized `data` (via the gradient
          // map) — the previous round's cache is now safe to drop
          prevData.foreach(life.release)
          prevData = None
          life.release(grads) // cached for ranking objectives only

          if (!dart) {
            live.indices.foreach { j =>
              models(live(j)).trees ++=
                roundTrees.slice(j * tpr, j * tpr + tpr)
            }

            val bcTrees = life.broadcast(treeCls.zip(roundTrees))
            val newData = life.persist(applyTrees(data, bcTrees, w))
            if ((round + 1) % 50 == 0) {
              newData.localCheckpoint()
              newData.foreachPartition(_ => ()) // force the lineage truncation
            }
            prevData = Some(data)
            data = newData

            evalData = evalData.map { case (n, r) =>
              // an eval set that IS the training RDD (the GraftBoost
              // evals=[(dtrain,...)] reuse): the advanced TRAIN RDD is
              // bit-identical to the advanced eval (same trees, same
              // margins) — alias it instead of computing and caching a
              // duplicate chain. The train side owns its lifecycle
              // (prevData unpersists AFTER the next round materializes the
              // child; unpersisting the shared base here would force a
              // full lineage recompute of the training data at round+1).
              if (prevData.exists(_ eq r)) (n, data)
              else {
                val updated = life.persist(applyTrees(r, bcTrees, w))
                if ((round + 1) % 50 == 0) updated.localCheckpoint()
                updated.foreachPartition(_ => ())
                life.release(r)
                (n, updated)
              }
            }
          } else {
            // DART commit: normalize (xgboost NormalizeTrees) — "tree":
            // new trees weighted 1/(k+lr), the k dropped rescaled by
            // k/(k+lr); "forest": both scaled by 1/(1+lr); lr =
            // eta/treesPerRound. Weights bake into stored values (one
            // double multiply, one float rounding per node).
            val kd = dropIdx.length
            val (dropScale, newWeight) =
              if (kd == 0) (1.0, 1.0)
              else {
                val lrNorm = etaRound / roundTrees.length
                if (p.normalizeType == "forest") {
                  val d = 1.0 + lrNorm; (1.0 / d, 1.0 / d)
                } else { val d = kd + lrNorm; (kd / d, 1.0 / d) }
              }
            if (kd > 0) dropIdx.foreach { i =>
              trees(i) = scaleTreeValues(trees(i), dropScale)
              dartWeights(i) *= dropScale
            }
            val finalNew =
              if (kd == 0) roundTrees
              else roundTrees.map(scaleTreeValues(_, newWeight))
            trees ++= finalNew
            var j = 0
            while (j < finalNew.length) { dartWeights += newWeight; j += 1 }
            // the round's trees are built and committed — the per-round
            // margin cache and the kept-ensemble broadcast behind it are
            // dead (nothing downstream reads roundData; eval margins are
            // rebuilt from evalData + the post-rescale ensemble below)
            bcKept.foreach { bc => life.release(roundData); life.destroy(bc) }
          }

          // DART: eval margins are also rebuilt fresh over the full
          // (post-rescale) ensemble — the carried eval RDDs stay at their
          // init margins. Persisted only when this round's metrics take
          // more than one job (cox-nloglik).
          val bcAll =
            if (!dart || trees.isEmpty || evalData.isEmpty) None
            else Some(life.broadcast(byClass(trees.toArray, c)))
          val evalView = bcAll.fold(evalData) { bc =>
            evalData.map { case (n, r) =>
              val v = applyTrees(r, bc)
              (n, if (metricJobs > 1) life.persist(v) else v)
            }
          }

          // eval-metric aggregation (A2 analog): one pass per eval set
          // sums every metric of every model still training
          val values = evalView.map { case (n, r) =>
            (n, Metrics.computeAll(metricNames, obj,
              rowsOf(r, targets, c, live), live.length, customByName))
          }
          // then early stop, checkpoint and callbacks, per model
          live.zipWithIndex.foreach { case (g, j) =>
            val run = models(g)
            val roundMetrics =
              scala.collection.mutable.LinkedHashMap[String, Double]()
            values.foreach { case (n, vs) =>
              metricNames.zip(vs(j)).foreach { case (mn, v) =>
                run.evalsResult(n)(mn) += v
                roundMetrics(s"$n-$mn") = v
              }
            }

            if (run.early.update(round, run.evalsResult)) run.done = true

            // checkpoint (A6/C4 analog of _save_checkpoint_callback
            // main.py:612); a named target saves under its own name
            if (p.checkpointEvery > 0 && p.checkpointPath.isDefined &&
                (round + 1) % p.checkpointEvery == 0) {
              spark.foreach { s =>
                currentModel(run.trees, obj, p, bins, dartWeights).save(s,
                  if (targets.names.isEmpty) p.checkpointPath.get
                  else s"${p.checkpointPath.get}/${targets.names(g)}")
              }
            }

            callbacks.foreach { cb =>
              val stopNow = cb match {
                case m: ModelAwareCallback => m.afterIterationWithModel(
                  startRound + round, roundMetrics.toMap,
                  () => currentModel(run.trees, obj, p, bins, dartWeights))
                case _ =>
                  cb.afterIteration(startRound + round, roundMetrics.toMap)
              }
              if (stopNow) run.done = true
            }
            run.rounds += 1
          }
          bcAll.foreach { bc =>
            evalView.foreach(e => life.release(e._2)); life.destroy(bc)
          }
          round += 1
        } catch {
          // a hard StopEvent cancelled the job group mid-round: drop the
          // partial round and return the model built so far (the reference
          // returns the last checkpoint on stop). `trees ++= roundTrees`
          // may already have run when the cancel landed in the margin-update
          // or metric jobs — trim back to the last COMPLETED round so model
          // length and roundsCompleted agree (advisor r2). What the aborted
          // round cached or broadcast is freed with the run. Stop events
          // are callbacks, so the run trains one model.
          case _: Throwable if stopEvents.exists(_.isSet) =>
            // DART: the aborted round may have already RESCALED earlier
            // trees (not just appended) — roll the buffer back to its
            // start-of-round snapshot before the append-only trim below
            if (dart && dartPreRound != null) {
              trees.clear(); trees ++= dartPreRound
              dartWeights.clear(); dartWeights ++= dartPreWeights
            }
            val keep = initTreeCount + round * tpr
            if (trees.length > keep) trees.takeInPlace(keep)
            models(0).rounds = round
            models(0).done = true
        }
      }

      // C8 afterTrain, before the caches go away
      if (distributedCallbacks.nonEmpty) {
        val dcbs = distributedCallbacks
        data.foreachPartition { (_: Iterator[TrainBlock]) =>
          val r = DistributedCallback.rank()
          dcbs.foreach(_.afterTrain(r))
        }
      }

      models.toSeq.map { run =>
        TrainResult(currentModel(run.trees, obj, p, bins, dartWeights),
          run.evalsResult.toMap, totalN, run.rounds,
          bestIteration = run.early.bestIteration,
          bestScore = run.early.bestScore)
      }
    }
  }

  /** One model of a run: its trees, eval history (eval set → metric →
    * values), early stop, completed rounds and whether it stopped. */
  private final class ModelRun(p: TrainParams, metricNames: Seq[String],
      evalNames: Seq[String]) {
    val trees = ArrayBuffer[RegTree]()
    val evalsResult = scala.collection.mutable.LinkedHashMap(
      evalNames.map(n =>
        n -> metricNames.map(m => m -> ArrayBuffer[Double]()).toMap): _*)
    val early = new Metrics.EarlyStop(p, metricNames)
    var rounds = 0; var done = false
  }

  /** Add each (slot, tree) pair's `w` leaf values to the carried
    * margins from its slot on (w > 1: a vector-leaf tree). gbtree passes
    * the round's trees with their output slots; DART passes a kept
    * subset with gaps, whose trees still reach their original class
    * slots. Emits a new margin generation per block; the static columns
    * (bins/labels/weights/qids/uppers) are shared by reference with the
    * input block ([[TrainBlock.withMargins]]). */
  private def applyTrees(
      rdd: RDD[TrainBlock],
      bcTrees: org.apache.spark.broadcast.Broadcast[Array[(Int, RegTree)]],
      w: Int = 1): RDD[TrainBlock] =
    rdd.mapPartitions(TaskFns.advance(bcTrees, w),
      preservesPartitioning = true)

  /** (t % k, tree) pairs of a round-major, class-inner tree array. */
  private def byClass(trees: Array[RegTree], k: Int): Array[(Int, RegTree)] =
    Array.tabulate(trees.length)(t => (t % k, trees(t)))

  /** Copy of `t` with every node value × `s` (leaf values are what
    * predict reads; internal entries scale harmlessly). Split structure
    * and gain/cover stats are shared unchanged — DART rescaling changes
    * tree WEIGHT, not the splits that produced the stats. */
  private def scaleTreeValues(t: RegTree, s: Double): RegTree =
    if (s == 1.0) t
    else {
      val v = new Array[Float](t.value.length)
      var i = 0
      while (i < v.length) { v(i) = (t.value(i) * s).toFloat; i += 1 }
      new RegTree(t.feature, t.thresholdBin, t.threshold, t.defaultLeft,
        t.left, t.right, v, t.gain, t.cover, t.catSplit, t.catBits)
    }

  /** DART per-round dropped-tree selection (the xgboost DropTrees
    * analog): deterministic in (p.seed, round) so task retries and
    * repartitioning cannot change the drop set. Semantics follow
    * xgboost's dart params:
    *  - with prob `skipDrop` the whole dropout is skipped (round adds
    *    its trees exactly like gbtree);
    *  - "uniform": each tree dropped i.i.d. with prob `rateDrop`;
    *  - "weighted": tree i dropped with prob rateDrop·n·wᵢ/Σw (same
    *    expected drop count, mass-proportional selection);
    *  - `oneDrop`: if nothing was dropped (and the round wasn't
    *    skipped), force one tree — weighted draw under "weighted",
    *    uniform otherwise. */
  private def chooseDropSet(weights: ArrayBuffer[Double], p: TrainParams,
      round: Int): Array[Int] = {
    val n = weights.length
    if (n == 0 || (p.rateDrop == 0.0 && !p.oneDrop)) return Array.empty
    val rng = new java.util.Random(TaskFns.mix(p.seed, round, 104729))
    if (p.skipDrop > 0.0 && rng.nextDouble() < p.skipDrop)
      return Array.empty
    val dropped = ArrayBuffer[Int]()
    if (p.sampleType == "weighted") {
      var total = 0.0
      var i = 0
      while (i < n) { total += weights(i); i += 1 }
      i = 0
      while (i < n) {
        val pi =
          if (total <= 0.0) p.rateDrop
          else math.min(1.0, p.rateDrop * n * weights(i) / total)
        if (rng.nextDouble() < pi) dropped += i
        i += 1
      }
    } else {
      var i = 0
      while (i < n) {
        if (rng.nextDouble() < p.rateDrop) dropped += i
        i += 1
      }
    }
    if (dropped.isEmpty && p.oneDrop) {
      if (p.sampleType == "weighted") {
        var total = 0.0
        var i = 0
        while (i < n) { total += weights(i); i += 1 }
        if (total <= 0.0) dropped += rng.nextInt(n)
        else {
          var r = rng.nextDouble() * total
          i = 0
          while (i < n - 1 && r >= weights(i)) { r -= weights(i); i += 1 }
          dropped += i
        }
      } else dropped += rng.nextInt(n)
    }
    dropped.toArray
  }

  /**
   * xgboost `process_type=update` + `updater=refresh`: keep every
   * tree's STRUCTURE and re-fit its statistics (and, with
   * `refresh_leaf`, its leaf values) against the CURRENT data — the
   * standard "recalibrate an old model on fresh data" workflow the
   * reference reaches by forwarding these params verbatim
   * (main.py:1341-1398).
   *
   * Semantics (xgboost's): round r re-fits the init model's round-r
   * trees from gradients at the current margin, then margins advance
   * with the REFRESHED trees — so later rounds see the updated fit.
   * Per-node cover (Σ hessian) and internal-node gain are recomputed;
   * leaves become −η·T(G)/(H+λ); nodes no row routes to keep their
   * trained values/stats.
   *
   * Scale shape: one [[gradients]] map + ONE flat-array
   * [[aggregateHist]] per round (per-node G/H accumulated along each
   * row's root→leaf path — histogram-free, array size = Σ nodes × 2,
   * merged in partition-index order), then a narrow margin-advance
   * map. No shuffles anywhere; driver state is tree-sized.
   * Ownership as in [[boost]]: each margin generation is released once
   * its successor is materialized, the margin-advance broadcasts on any
   * exit at the end.
   */
  private def refreshModel(
      train: RDD[TrainBlock],
      evals: Seq[(String, RDD[TrainBlock])],
      bins: Binner.Bins,
      p: TrainParams,
      obj: Objective,
      initModel: Option[GraftModel],
      releaseInputs: Boolean = true,
      knownRows: Long = -1L): TrainResult = {
    val k = obj.numOutputs
    val m = initModel.filter(_.trees.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        "process_type=update re-fits an EXISTING model: pass a " +
          "non-empty initModel (xgboost requires xgb_model here too)"))
    require(evals.isEmpty,
      "process_type=update takes no eval sets — score the refreshed " +
        "model with predict")
    require(p.monotoneConstraints.isEmpty,
      "process_type=update does not re-apply monotone clamps; " +
        "refresh an unconstrained model")
    // dart models refresh like gbtree (xgboost refreshes dart trees
    // identically, weight applied at predict): re-fit the RAW leaf
    // −η·T(G)/(H+λ), then re-apply the stored cumulative weight w_t so
    // the baked-leaf convention (value ≈ raw · weight) is preserved.
    // Uses the r10+ dartWeights bookkeeping; a pre-r10 dart save has
    // empty weights and is indistinguishable from gbtree (treated as
    // all-1.0, same as predict/export do).
    require(m.numOutputs == k,
      s"init model has ${m.numOutputs} output(s), objective " +
        s"${obj.name} expects $k")
    require(m.numFeatures == bins.numFeatures,
      s"init model was trained on ${m.numFeatures} feature(s), this " +
        s"data has ${bins.numFeatures}")
    require(m.trees.forall(t => (0 until t.numNodes).forall(i =>
        t.feature(i) < 0 || t.isPartitionNode(i) ||
          t.thresholdBin(i) >= 0)),
      "init model was imported from xgboost JSON (no bin-space " +
        "thresholds) — imported models are inference-only")
    require(p.numRounds <= m.numRounds,
      s"process_type=update refreshes existing rounds only: " +
        s"numRounds ${p.numRounds} > model rounds ${m.numRounds}")
    val updaters =
      if (p.updater.trim.isEmpty) Seq("refresh")
      else p.updater.split(',').map(_.trim).toSeq
    updaters.foreach(u => require(u == "refresh" || u == "prune",
      s"unknown updater '$u' (refresh | prune)"))
    if (updaters.contains("prune"))
      require(m.trees.forall(_.hasStats),
        "updater=prune needs per-node gain stats; this model was " +
          "saved without them (pre-r3 save)")
    val tpr = m.treesPerRound
    RunLifetime(train.sparkContext, p.storageLevel, releaseInputs) { life =>
      var data = life.input(train)
      val totalN = if (knownRows >= 0L) knownRows else countRows(data)
      val outTrees = m.trees.clone()
      var prevData: Option[RDD[TrainBlock]] = None
      var round = 0
      life.rounds {
        while (round < p.numRounds) {
          val etaRound = p.etaSchedule.map(f => f(round)).getOrElse(p.eta)
          // same per-tree shrinkage the original training applied
          val pLeaf = p.copy(eta = etaRound / math.max(m.numParallelTree, 1))
          updaters.foreach {
            case "prune" =>
              // driver-only structure transform on the CURRENT stats (the
              // trained gains, or the re-fit gains if refresh ran first)
              var j = 0
              while (j < tpr) {
                outTrees(round * tpr + j) =
                  pruneTree(outTrees(round * tpr + j), p.gamma)
                j += 1
              }
            case "refresh" => refreshPass()
          }
          def refreshPass(): Unit = {
            val roundTrees = outTrees.slice(round * tpr, round * tpr + tpr)
            val offsets = roundTrees.scanLeft(0)(_ + _.numNodes)
            val bcTrees = life.broadcast(roundTrees)
            // merged in partition-index order, like every histogram
            val agg = aggregateHist(gradients(data, obj, round, p),
              offsets.last * 2)(TaskFns.pathSums(bcTrees, offsets, k))
            life.destroy(bcTrees)
            var ti = 0
            while (ti < roundTrees.length) {
              val tree = roundTrees(ti)
              // dart: bake the stored cumulative weight back into the
              // re-fit value (the trainer's baked-leaf convention); 1.0
              // for gbtree
              val wT = if (m.dartWeights.isEmpty) 1.0
                else m.dartWeights(round * tpr + ti)
              val n = tree.numNodes
              val value = tree.value.clone()
              val gain =
                if (tree.hasStats) tree.gain.clone() else new Array[Float](n)
              val cover =
                if (tree.hasStats) tree.cover.clone() else new Array[Float](n)
              var i = 0
              while (i < n) {
                val base = (offsets(ti) + i) * 2
                val sumG = agg(base); val sumH = agg(base + 1)
                if (sumH > 0) {
                  cover(i) = sumH.toFloat
                  // internal nodes carry their would-be-leaf weight (the
                  // trainer stores the same), so a later prune pass
                  // collapses onto a CURRENT-data weight
                  if (p.refreshLeaf)
                    value(i) = (leafWeight(sumG, sumH, pLeaf) * wT).toFloat
                  if (tree.feature(i) >= 0) {
                    val lb = (offsets(ti) + tree.left(i)) * 2
                    val rb = (offsets(ti) + tree.right(i)) * 2
                    gain(i) = (score(agg(lb), agg(lb + 1), pLeaf) +
                      score(agg(rb), agg(rb + 1), pLeaf) -
                      score(sumG, sumH, pLeaf)).toFloat
                  }
                } // no routed rows: keep the trained value/stats
                i += 1
              }
              outTrees(round * tpr + ti) = new RegTree(tree.feature,
                tree.thresholdBin, tree.threshold, tree.defaultLeft,
                tree.left, tree.right, value, gain, cover, tree.catSplit,
                tree.catBits)
              ti += 1
            }
            // L1-family parity: xgboost invokes the objective's
            // UpdateTreeLeaf hook after EVERY updater pass, refresh
            // included — MAE/quantile leaves reset to η·Q_α of the
            // CURRENT residuals (same adaptive machinery training uses),
            // overriding the generic −η·G/(H+λ) re-fit above
            if (p.refreshLeaf) obj.leafRefreshAlphas.foreach { as =>
              val adapted = refreshLeaves(life, data,
                outTrees.slice(round * tpr, round * tpr + tpr), as,
                Array.tabulate(tpr)(_ % k), Targets.Single, pLeaf.eta)
              var j = 0
              while (j < adapted.length) {
                val t = adapted(j)
                // dart: the adaptive hook sets RAW leaves (η·Q_α);
                // re-apply the stored weight like xgboost's
                // predict-time weight_drop
                val wT = if (m.dartWeights.isEmpty) 1.0
                  else m.dartWeights(round * tpr + j)
                if (wT != 1.0) {
                  var i = 0
                  while (i < t.numNodes) {
                    if (t.feature(i) < 0)
                      t.value(i) = (t.value(i) * wT).toFloat
                    i += 1
                  }
                }
                outTrees(round * tpr + j) = t; j += 1
              }
            }
          }
          // margins advance with the REFRESHED trees (xgboost update
          // order); the broadcast lives to the end of the run, since
          // every LATER round's lineage (task closures serialize the
          // full DAG) still references it
          val bcNew = life.broadcast(
            byClass(outTrees.slice(round * tpr, round * tpr + tpr), k))
          val nd = life.persist(applyTrees(data, bcNew))
          nd.foreachPartition(_ => ())
          prevData.foreach(life.release)
          prevData = Some(data)
          data = nd
          round += 1
        }
      }
      // xgboost process_type=update COMMITS only the num_boost_round
      // updated rounds (all trees move to trees_to_update; the
      // un-refreshed tail is dropped) — a prefix refresh must not return
      // stale tail trees that would shift predictions
      val kept = p.numRounds * tpr
      TrainResult(
        new GraftModel(outTrees.take(kept), obj.name,
          if (obj.numOutputs <= 1) 0 else obj.numOutputs, p.baseScore,
          MissingBin, bins.numFeatures, m.numParallelTree,
          m.dartWeights.take(kept), m.featureNames),
        Map.empty, totalN, p.numRounds)
    }
  }

  /**
   * xgboost TreePruner: recursively collapse split nodes whose gain
   * is below `gamma` (min_split_loss) AND whose children are (possibly
   * just-collapsed) leaves, bottom-up, then compact the node arrays to
   * the reachable set. The collapsed node keeps its stored node weight
   * (its would-be-leaf value — what the trainer stores at internal
   * nodes and what a refresh pass re-fits), so predictions after the
   * prune are the weights the stats justify. Pure driver transform.
   */
  private def pruneTree(t: RegTree, gamma: Double): RegTree = {
    val leafified = new Array[Boolean](t.numNodes)
    def collapse(i: Int): Boolean = // returns "i is (now) a leaf"
      if (t.feature(i) < 0) true
      else {
        val l = collapse(t.left(i)); val r = collapse(t.right(i))
        if (l && r && t.gain(i) < gamma) { leafified(i) = true; true }
        else false
      }
    collapse(0)
    if (!leafified.exists(identity)) return t
    // compact to the reachable prefix-order node set
    val order = ArrayBuffer[Int]()
    val map = Array.fill(t.numNodes)(-1)
    def visit(i: Int): Unit = {
      map(i) = order.length; order += i
      if (t.feature(i) >= 0 && !leafified(i)) {
        visit(t.left(i)); visit(t.right(i))
      }
    }
    visit(0)
    val n = order.length
    val feature = new Array[Int](n)
    val thresholdBin = new Array[Int](n)
    val threshold = new Array[Float](n)
    val defaultLeft = new Array[Boolean](n)
    val left = new Array[Int](n); val right = new Array[Int](n)
    val value = new Array[Float](n)
    val gain = new Array[Float](n); val cover = new Array[Float](n)
    val anyCat = t.catSplit.nonEmpty
    val anyBits = t.catBits.nonEmpty
    val catSplit = if (anyCat) new Array[Boolean](n) else Array.empty[Boolean]
    val catBits =
      if (anyBits) new Array[Array[Long]](n) else Array.empty[Array[Long]]
    var j = 0
    while (j < n) {
      val old = order(j)
      val leaf = t.feature(old) < 0 || leafified(old)
      feature(j) = if (leaf) -1 else t.feature(old)
      thresholdBin(j) = if (leaf) -1 else t.thresholdBin(old)
      threshold(j) = if (leaf) 0f else t.threshold(old)
      defaultLeft(j) = !leaf && t.defaultLeft(old)
      left(j) = if (leaf) -1 else map(t.left(old))
      right(j) = if (leaf) -1 else map(t.right(old))
      value(j) = t.value(old)
      gain(j) = if (leaf) 0f else t.gain(old)
      cover(j) = t.cover(old)
      if (anyCat) catSplit(j) = !leaf && t.catSplit(old)
      if (anyBits) catBits(j) = if (leaf) null else t.catBits(old)
      j += 1
    }
    new RegTree(feature, thresholdBin, threshold, defaultLeft, left,
      right, value, gain, cover,
      if (anyCat && catSplit.contains(true)) catSplit else Array.empty,
      if (anyBits && catBits.exists(_ != null)) catBits else Array.empty)
  }

  private def currentModel(trees: ArrayBuffer[RegTree], obj: Objective,
      p: TrainParams, bins: Binner.Bins,
      dartWeights: ArrayBuffer[Double] = ArrayBuffer.empty): GraftModel =
    // the stored class count follows the OBJECTIVE, not the raw param:
    // a caller passing numClass = 2 with a single-output objective
    // (binary logistic trains one tree per round) must not produce a
    // model that thinks it has two outputs and routes alternate trees
    // to a phantom class
    // numOutputs, not p.numClass: softmax has numOutputs == numClass,
    // but multi-quantile is a k-output REGRESSION with numClass unset
    new GraftModel(trees.toArray, obj.name,
      if (obj.numOutputs <= 1) 0 else obj.numOutputs, p.baseScore,
      MissingBin, bins.numFeatures, p.numParallelTree,
      // hard-stop rollback may leave more weights than kept trees —
      // the weight buffer is append-ordered, so truncate to match
      if (p.booster == "dart") dartWeights.take(trees.length).toArray
      else Array.empty)
}
