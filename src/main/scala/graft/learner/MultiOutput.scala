package graft.learner

import org.apache.spark.rdd.RDD
import scala.collection.mutable.ArrayBuffer

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
 * per label — xgboost's `one_output_per_tree` strategy): K targets
 * cost ONE histogram pass per level here instead of K, and the model
 * is K× smaller, at the price of shared split structure.
 *
 * Scale shape: identical to [[Trainer]] — per level, ONE
 * histogram aggregate ([[Trainer.aggregateHist]]) of per-partition
 * histograms over cached binned blocks; the histogram is 2K doubles
 * per (node, feature, bin), so the allreduce volume grows K× but the
 * DATA passes do not. No shuffle of rows, ever; margins advance
 * block-locally. Rows move down a tree only through the one
 * [[RegTree]] binned walk: the level router walks a [[RegTree]] view
 * of the growing tree, the margin advance [[MoTree.leafOf]].
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
 * scalar objectives applied per target (reg:*, binary:*), numeric
 * features, depthwise growth, no row/column subsampling, no
 * monotone/interaction constraints, gbtree only. Everything outside
 * that scope fails loudly at entry.
 */
object MultiOutput {

  import Binner.MissingBin

  /** Columnar block for vector-target training: the [[TrainBlock]]
    * layout with K labels AND K margins per row (both row-major,
    * stride K). */
  final class MoBlock(
      val n: Int,
      val nf: Int,
      val k: Int,
      val bins: Array[Byte],
      val labels: Array[Float],
      val weights: Array[Float],
      val margins: Array[Float]) extends Serializable {
    def withMargins(m: Array[Float]): MoBlock =
      new MoBlock(n, nf, k, bins, labels, weights, m)
  }

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

    /** The split structure every [[slice]] shares, as a [[RegTree]]. */
    private val shape = new RegTree(feature, thresholdBin, threshold,
      defaultLeft, left, right, Array.emptyFloatArray)

    /** Leaf node id for a binned row (the margin-advance router): the
      * one binned walk, [[RegTree.leafBinned]], over the shared
      * structure. */
    def leafOf(rb: Array[Byte], off: Int): Int =
      shape.leafBinned(rb, off, MissingBin)
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

  // Trainer's leaf/score arithmetic is THE bit-exact contract the
  // stump oracles replay ((−η·T(G))/(H+λ), exact operation order) —
  // shared, not copied, so the scalar and vector trainers can never
  // desynchronize (review r20)
  private def leafWeight(g: Double, h: Double, p: TrainParams): Double =
    Trainer.leafWeight(g, h, p)
  private def score(g: Double, h: Double, p: TrainParams): Double =
    Trainer.score(g, h, p)

  /** The best vector split of one node so far (`f` = −1: none). */
  private final class BestSplit {
    var gain = 0.0; var f = -1; var bin = -1; var defLeft = false
    var gL: Array[Double] = null; var hL: Array[Double] = null
  }

  /** Param-only validation — callable BEFORE any data scan, so an
    * unsupported knob fails in milliseconds, not after prepare/bin/
    * pack of a 100 TB input (review r20). The bins-dependent
    * categorical check is the one that must wait for the binner. */
  private[graft] def checkParams(p: TrainParams, obj: Objective): Unit = {
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
    require(p.maxDepth >= 1,
      s"multi_output_tree: maxDepth must be >= 1, got ${p.maxDepth}")
  }

  private def checkSupported(p: TrainParams, obj: Objective,
      bins: Binner.Bins): Unit = {
    checkParams(p, obj)
    require(!bins.cat.exists(identity),
      "multi_output_tree: categorical features are not supported " +
        "(xgboost 2.x's vector-leaf strategy carries the same " +
        "limits); train per-label via trainMultiLabel instead")
  }

  /**
   * Boost `numRounds` vector-leaf trees over cached [[MoBlock]]s.
   * The caller owns `blocks0`'s persistence; per-round margin
   * generations are persisted/released here (the [[Trainer.boost]]
   * discipline, simplified — no DART/refresh/eval surface in v1).
   */
  def boost(blocks0: RDD[MoBlock], bins: Binner.Bins,
      p: TrainParams, k: Int): Seq[MoTree] = {
    val obj = Objectives.resolve(p)
    checkSupported(p, obj, bins)
    require(k >= 2, s"multi_output_tree needs >= 2 targets, got $k")
    val sc = blocks0.sparkContext
    val trees = ArrayBuffer[MoTree]()
    // margin-advance broadcasts stay alive until boosting ends: a
    // persisted generation's LINEAGE closure still references its
    // broadcast, and Spark serializes the full task binary (closure
    // included) even for cache hits — destroying early throws
    // INTERNAL_ERROR_BROADCAST on the next round's job (the same
    // deferred-destroy discipline as Trainer.boost's `broadcasts`
    // buffer; the per-level histogram broadcasts in buildTree ARE
    // destroyed eagerly — nothing retains those closures)
    val bcs = ArrayBuffer[org.apache.spark.broadcast.Broadcast[MoTree]]()
    var cur = blocks0
    var curOwned = false
    var round = 0
    while (round < p.numRounds) {
      val grads = gradients(cur, obj, k)
      val tree = buildTree(grads, bins, p, k)
      trees += tree
      if (round < p.numRounds - 1) {
        val bc = sc.broadcast(tree)
        bcs += bc
        val next = cur.mapPartitions({ it =>
          val t = bc.value
          it.map { blk =>
            val m2 = blk.margins.clone()
            var i = 0
            while (i < blk.n) {
              val leaf = t.leafOf(blk.bins, i * blk.nf)
              var j = 0
              while (j < k) {
                m2(i * k + j) += t.values(leaf * k + j); j += 1
              }
              i += 1
            }
            blk.withMargins(m2)
          }
        }, preservesPartitioning = true)
        next.persist(p.storageLevel)
        // lineage truncation every 50 rounds (the Trainer.boost rule):
        // without it a long training's recompute chain grows linearly
        // with rounds. The broadcasts still live to end-of-boost —
        // the checkpointed RDD's object graph keeps its closure, and
        // Spark serializes that graph with every later task, so a
        // destroyed broadcast throws at task-serialization time even
        // when the checkpoint means it can never be COMPUTED again
        // (probed: early destroy after the checkpoint fails exactly
        // there). Trees are KB-sized — O(rounds) tree broadcasts is
        // the same end-of-boost accounting Trainer.boost keeps.
        if ((round + 1) % 50 == 0) next.localCheckpoint()
        next.foreachPartition(_ => ())
        if (curOwned) cur.unpersist(blocking = false)
        cur = next
        curOwned = true
      }
      round += 1
    }
    if (curOwned) cur.unpersist(blocking = false)
    bcs.foreach(b => scala.util.Try(b.destroy()))
    trees.toSeq
  }

  /** Per-target gradients via the scalar objective: target j's (g, h)
    * from its own (margin_j, label_j), row-weighted — reusing
    * [[GradBlock]]'s stride-2K layout (salts unused: no subsampling
    * in v1). */
  private def gradients(data: RDD[MoBlock], obj: Objective,
      k: Int): RDD[GradBlock] =
    data.mapPartitions({ it =>
      val m1 = new Array[Float](1)
      val g1 = new Array[Float](1)
      val h1 = new Array[Float](1)
      it.map { b =>
        val gh = new Array[Float](b.n * 2 * k)
        var i = 0
        while (i < b.n) {
          val w = b.weights(i)
          var j = 0
          while (j < k) {
            m1(0) = b.margins(i * k + j)
            obj.gradHess(m1, b.labels(i * k + j), g1, h1)
            gh(i * 2 * k + 2 * j) = g1(0) * w
            gh(i * 2 * k + 2 * j + 1) = h1(0) * w
            j += 1
          }
          i += 1
        }
        new GradBlock(b.n, b.nf, k, b.bins, gh, null)
      }
    }, preservesPartitioning = true)

  private def buildTree(grads: RDD[GradBlock], bins: Binner.Bins,
      p: TrainParams, k: Int): MoTree = {
    val sc = grads.sparkContext
    val b = bins.maxRealBins + 1 // last slot = missing
    val nf = bins.numFeatures

    // growable node arrays (the TreeState shape, vector stats)
    val feature = ArrayBuffer[Int]()
    val thresholdBin = ArrayBuffer[Int]()
    val threshold = ArrayBuffer[Float]()
    val defaultLeft = ArrayBuffer[Boolean]()
    val left = ArrayBuffer[Int]()
    val right = ArrayBuffer[Int]()
    val gainArr = ArrayBuffer[Double]()
    val sumG = ArrayBuffer[Array[Double]]()
    val sumH = ArrayBuffer[Array[Double]]()

    def newNode(g: Array[Double], h: Array[Double]): Int = {
      feature += -2; thresholdBin += -1; threshold += 0f
      defaultLeft += false; left += -1; right += -1; gainArr += 0.0
      sumG += g; sumH += h
      feature.length - 1
    }

    newNode(null, null) // root; stats land with its first histogram

    var frontier: List[Int] = List(0)
    var depth = 0
    while (depth < p.maxDepth && frontier.nonEmpty) {
      val next = ArrayBuffer[Int]()
      // chunk the frontier so one histogram buffer stays bounded
      // (the evaluateWork maxHistBytes rule, 2K doubles per bin)
      val bytesPerNode = nf.toLong * b * 2 * k * 8
      val chunkSize = math.max(1, (p.maxHistBytes / bytesPerNode).toInt)
      frontier.grouped(chunkSize).foreach { chunk =>
        val slotOf = Array.fill(feature.length)(-1)
        chunk.zipWithIndex.foreach { case (nid, s) => slotOf(nid) = s }
        // routing view of the tree grown so far: pending nodes keep
        // feature −2, so the binned walk stops at them
        val bc = sc.broadcast((new RegTree(feature.toArray,
          thresholdBin.toArray, threshold.toArray, defaultLeft.toArray,
          left.toArray, right.toArray, Array.emptyFloatArray), slotOf))
        val histSize = chunk.length * nf * b * 2 * k
        // buffer allocated in the task (see Trainer.aggregateHist)
        val seqOp = (acc0: Array[Double], blk: GradBlock) => {
          val acc = if (acc0 != null) acc0 else new Array[Double](histSize)
          val (pt, slots) = bc.value
          val rb = blk.bins
          val gh = blk.gh
          var i = 0
          while (i < blk.n) {
            val off = i * nf
            val slot = slots(pt.leafBinned(rb, off, MissingBin))
            if (slot >= 0) {
              var f = 0
              while (f < nf) {
                val bi = rb(off + f) & 0xFF
                val slotBin = if (bi == MissingBin) b - 1 else bi
                val idx = ((slot * nf + f) * b + slotBin) * 2 * k
                var j = 0
                while (j < k) {
                  acc(idx + 2 * j) += gh(i * 2 * k + 2 * j)
                  acc(idx + 2 * j + 1) += gh(i * 2 * k + 2 * j + 1)
                  j += 1
                }
                f += 1
              }
            }
            i += 1
          }
          acc
        }
        val hist = Trainer.aggregateHist(grads, histSize)(seqOp)
        bc.destroy()

        chunk.zipWithIndex.foreach { case (nid, s) =>
          // node totals from feature 0's column (all bins + missing)
          if (sumG(nid) == null) {
            val g = new Array[Double](k); val h = new Array[Double](k)
            val base = (s * nf) * b * 2 * k
            var bi = 0
            while (bi < b) {
              var j = 0
              while (j < k) {
                g(j) += hist(base + bi * 2 * k + 2 * j)
                h(j) += hist(base + bi * 2 * k + 2 * j + 1)
                j += 1
              }
              bi += 1
            }
            sumG(nid) = g; sumH(nid) = h
          }
          val gT = sumG(nid); val hT = sumH(nid)
          val (parentScore, hMean) = {
            var ps = 0.0; var hTot = 0.0
            var j = 0
            while (j < k) {
              ps += score(gT(j), hT(j), p); hTot += hT(j); j += 1
            }
            (ps, hTot / k)
          }
          val best = new BestSplit
          val gl = new Array[Double](k)
          val hl = new Array[Double](k)
          val glA = new Array[Double](k)
          val hlA = new Array[Double](k)
          // the one candidate test, vector form: left child (gL, hL) per
          // target, the missing bin on the `defLeft` side
          def consider(f: Int, bin: Int, gL: Array[Double],
              hL: Array[Double], defLeft: Boolean): Unit = {
            var hlSum = 0.0
            var jj = 0
            while (jj < k) { hlSum += hL(jj); jj += 1 }
            if (hlSum / k >= p.minChildWeight &&
                hMean - hlSum / k >= p.minChildWeight) {
              var sL = 0.0; var sR = 0.0
              jj = 0
              while (jj < k) {
                sL += score(gL(jj), hL(jj), p)
                sR += score(gT(jj) - gL(jj), hT(jj) - hL(jj), p)
                jj += 1
              }
              val gain = 0.5 * (sL + sR - parentScore) - p.gamma
              if (gain > best.gain + 1e-12) {
                best.gain = gain; best.f = f; best.bin = bin
                best.defLeft = defLeft
                best.gL = gL.clone(); best.hL = hL.clone()
              }
            }
          }
          // left child (gl, hl) without the missing bin at `miss`: the
          // missing bin rides left, then right
          def offer(f: Int, bin: Int, miss: Int): Unit = {
            var jj = 0
            while (jj < k) {
              glA(jj) = gl(jj) + hist(miss + 2 * jj)
              hlA(jj) = hl(jj) + hist(miss + 2 * jj + 1)
              jj += 1
            }
            consider(f, bin, glA, hlA, defLeft = true)
            consider(f, bin, gl, hl, defLeft = false)
          }
          var f = 0
          while (f < nf) {
            val base = ((s * nf + f) * b) * 2 * k
            java.util.Arrays.fill(gl, 0.0)
            java.util.Arrays.fill(hl, 0.0)
            val nb = bins.numBins(f)
            var bi = 0
            while (bi < nb - 1) {
              var jj = 0
              while (jj < k) {
                gl(jj) += hist(base + bi * 2 * k + 2 * jj)
                hl(jj) += hist(base + bi * 2 * k + 2 * jj + 1)
                jj += 1
              }
              offer(f, bi, base + (b - 1) * 2 * k)
              bi += 1
            }
            f += 1
          }

          if (best.f >= 0) {
            val gR = new Array[Double](k); val hR = new Array[Double](k)
            var jj = 0
            while (jj < k) {
              gR(jj) = gT(jj) - best.gL(jj)
              hR(jj) = hT(jj) - best.hL(jj)
              jj += 1
            }
            val l = newNode(best.gL, best.hL)
            val r = newNode(gR, hR)
            feature(nid) = best.f
            thresholdBin(nid) = best.bin
            threshold(nid) = bins.cuts(best.f)(best.bin)
            defaultLeft(nid) = best.defLeft
            left(nid) = l; right(nid) = r
            gainArr(nid) = best.gain
            next += l; next += r
          } else feature(nid) = -1 // no admissible split: leaf
        }
      }
      frontier = next.toList
      depth += 1
    }
    frontier.foreach(nid => feature(nid) = -1)

    // every materialized node carries its would-be leaf vector (the
    // TreeState.result rule: Saabas contribution walks need a value
    // at internal nodes too)
    val n = feature.length
    val values = new Array[Float](n * k)
    val cover = new Array[Float](n)
    var i = 0
    while (i < n) {
      val g = sumG(i); val h = sumH(i)
      if (g != null) {
        var hSum = 0.0
        var j = 0
        while (j < k) {
          values(i * k + j) = leafWeight(g(j), h(j), p).toFloat
          hSum += h(j)
          j += 1
        }
        cover(i) = (hSum / k).toFloat
      }
      i += 1
    }
    new MoTree(feature.toArray, thresholdBin.toArray,
      threshold.toArray, defaultLeft.toArray, left.toArray,
      right.toArray, values, gainArr.toArray.map(_.toFloat), cover, k)
  }
}
