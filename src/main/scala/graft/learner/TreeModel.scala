package graft.learner

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Gradient-boosted tree ensemble model — the artifact our `train` returns,
 * analogous to the reference's `xgb.Booster` result
 * (reference: xgboost_ray/main.py:1747 returns the rank-0 booster).
 *
 * Trees are flat parallel arrays (cache-friendly traversal, cheap to
 * broadcast: a depth-6 tree is ~127 nodes ≈ 3 KB). Each internal node
 * stores BOTH the bin-space threshold (used during training, where rows
 * are pre-binned bytes) and the raw float threshold (the bin's upper cut,
 * used at inference on unbinned features). The two are consistent by
 * construction: bin(x) <= thresholdBin  ⇔  x <= threshold.
 */
final class RegTree(
    val feature: Array[Int],       // -1 for leaves
    val thresholdBin: Array[Int],  // go left iff bin <= thresholdBin
    val threshold: Array[Float],   // go left iff x <= threshold
    val defaultLeft: Array[Boolean], // direction for missing (NaN)
    val left: Array[Int],
    val right: Array[Int],
    val value: Array[Float],       // leaf value (eta already applied)
    /** Split gain per internal node (0 at leaves) — xgboost get_score
      * gain/total_gain importances need it. */
    val gain: Array[Float] = Array.empty,
    /** Hessian sum routed through each node (xgboost "cover"). */
    val cover: Array[Float] = Array.empty,
    /** CATEGORICAL split marker per node (empty = all numeric, the
      * pre-categorical save format). A marked node is either a one-hot
      * split — routes left iff the feature EQUALS the stored category
      * code (thresholdBin holds the code in bin space, threshold the
      * same code as float) — or, when [[catBits]] carries a bitmap for
      * the node, an optimal-partition split (see below). The
      * `enable_categorical` analog (matrix.py:142,159,800 forwards the
      * flag into DMatrix). */
    val catSplit: Array[Boolean] = Array.empty,
    /** Optimal-partition categorical splits (xgboost `max_cat_to_onehot`
      * overflow path): per node, a 256-bit bitmap (4 longs) of the
      * category codes routing LEFT, or null for one-hot/numeric nodes.
      * Empty array = no partition splits in this tree (the pre-r9 save
      * format). Codes are bounded at 255 by the binner's categorical
      * fail-fast, so the bitmap is fixed-size; codes unseen at training
      * time (and non-integral values) route RIGHT. */
    val catBits: Array[Array[Long]] = Array.empty)
    extends Serializable {

  def numNodes: Int = feature.length

  /** True when this tree carries per-node gain/cover statistics
    * (models saved before they existed load without them). */
  def hasStats: Boolean = gain.length == numNodes

  /** Is node `i` a categorical split (one-hot or partition)? */
  @inline def isCatNode(i: Int): Boolean =
    catSplit.length > 0 && catSplit(i)

  /** Is node `i` an optimal-partition categorical split? */
  @inline def isPartitionNode(i: Int): Boolean =
    catBits.length > 0 && catBits(i) != null

  /** Is category code `c` in node `i`'s partition bitmap? */
  @inline private[learner] def inCatSet(i: Int, c: Int): Boolean =
    c >= 0 && c < 256 && ((catBits(i)(c >> 6) >>> (c & 63)) & 1L) == 1L

  /** Left-branch predicate on a non-missing bin: partition bitmap,
    * one-hot `==` or numeric `<=`. */
  @inline private def binGoesLeft(i: Int, b: Int): Boolean =
    if (isPartitionNode(i)) inCatSet(i, b)
    else if (isCatNode(i)) b == thresholdBin(i)
    else b <= thresholdBin(i)

  /** Left-branch predicate on a raw feature value; NaN takes the
    * default direction. Partition nodes send non-integral values (and
    * codes outside the bitmap) right. */
  @inline private[learner] def goesLeft(i: Int, v: Float): Boolean =
    if (v.isNaN) defaultLeft(i)
    else if (isPartitionNode(i)) v == v.toInt && inCatSet(i, v.toInt)
    else if (isCatNode(i)) v == threshold(i)
    else v <= threshold(i)

  /** Child of internal node `i` for the binned row at byte offset `off`
    * of `bins`; bin `missingBin` takes the default direction. The one
    * bin-space routing step: training's histogram router, the leaf
    * refresh and the margin advance all walk with it. */
  @inline private[learner] def nextBinned(i: Int, bins: Array[Byte],
      off: Int, missingBin: Int): Int = {
    val b = bins(off + feature(i)) & 0xFF
    if (if (b == missingBin) defaultLeft(i) else binGoesLeft(i, b)) left(i)
    else right(i)
  }

  /** Child of internal node `i` for the raw row `x`. */
  @inline private[learner] def nextRaw(i: Int, x: Array[Float]): Int =
    if (goesLeft(i, x(feature(i)))) left(i) else right(i)

  /** Node the binned row at `off` stops at: a leaf, or — on a tree
    * still being grown — a pending node (feature −2). */
  def leafBinned(bins: Array[Byte], off: Int, missingBin: Int): Int = {
    var i = 0
    while (feature(i) >= 0) i = nextBinned(i, bins, off, missingBin)
    i
  }

  /** Leaf value for one row of a packed row-major bin block (the r12
    * [[TrainBlock]] layout): the row's bins start at `off`. */
  def predictBinned(bins: Array[Byte], off: Int, missingBin: Int): Float =
    value(leafBinned(bins, off, missingBin))

  /** Traverse with raw float features; NaN takes the default direction. */
  def predictRaw(x: Array[Float]): Float = value(leafIndex(x))

  /** Node id of the leaf a row lands in (xgboost `pred_leaf` analog). */
  def leafIndex(x: Array[Float]): Int = {
    var i = 0
    while (feature(i) >= 0) i = nextRaw(i, x)
    i
  }

  /** Saabas-style contribution walk: each split on the root→leaf path
    * attributes v(child) − v(parent) to its split feature
    * (accumulated into `acc`), which telescopes to v(leaf) − v(root);
    * returns v(root) — the tree's expectation / bias share. Requires
    * internal-node values (trees built since they exist; older saved
    * models carry 0s there and degrade). */
  def contribWalk(x: Array[Float], acc: Array[Double]): Double = {
    var i = 0
    while (feature(i) >= 0) {
      val nxt = nextRaw(i, x)
      acc(feature(i)) += value(nxt).toDouble - value(i).toDouble
      i = nxt
    }
    value(0).toDouble
  }

  /**
   * Saabas-style pairwise INTERACTION walk — the approximate analog of
   * xgboost `pred_interactions` built on the same root→leaf
   * decomposition as [[contribWalk]]. Each step's Δ = v(child) −
   * v(parent) belongs to the step's feature f; when the path has
   * already split on other features A (|A| = na distinct), half of Δ
   * stays on f's main effect and half becomes interaction, split
   * evenly and SYMMETRICALLY across the ancestors — with the matching
   * amount moved off each ancestor's main effect so its row total is
   * untouched:
   *
   *   m[f][f] += Δ/2
   *   for a ∈ A: m[f][a] += Δ/(2na); m[a][f] += Δ/(2na);
   *              m[a][a] −= Δ/(2na)
   *
   * (na = 0 puts all of Δ on m[f][f].) By construction, per step: row
   * f gains exactly Δ, every other row gains 0, and the matrix stays
   * symmetric — so after the walk, row sums equal the [[contribWalk]]
   * contributions and the total equals v(leaf) − v(root), the same
   * structural contract xgboost documents for pred_interactions (row
   * sums = pred_contribs). Exact SHAP interaction values are out of
   * scope, mirroring the approx_contribs stance of [[contribWalk]].
   *
   * @param m flattened (w × w) row-major accumulator, w ≥ numFeatures
   * @return v(root), the tree's bias share
   */
  def interactionWalk(x: Array[Float], m: Array[Double],
      w: Int): Double = {
    val path = new Array[Int](64) // distinct path features, ≤ depth
    var np = 0
    var i = 0
    while (feature(i) >= 0) {
      val f = feature(i)
      val nxt = nextRaw(i, x)
      val delta = value(nxt).toDouble - value(i).toDouble
      // distinct ancestors excluding f (depth ≤ 64 ⇒ linear scan wins)
      var na = 0
      var p = 0
      while (p < np) { if (path(p) != f) na += 1; p += 1 }
      if (na == 0) m(f * w + f) += delta
      else {
        val s = delta / (2.0 * na)
        m(f * w + f) += delta / 2.0
        p = 0
        while (p < np) {
          val a = path(p)
          if (a != f) {
            m(f * w + a) += s
            m(a * w + f) += s
            m(a * w + a) -= s
          }
          p += 1
        }
      }
      var seen = false
      p = 0
      while (p < np && !seen) { seen = path(p) == f; p += 1 }
      if (!seen && np < path.length) { path(np) = f; np += 1 }
      i = nxt
    }
    value(0).toDouble
  }

  /** Cover-weighted tree expectation E[f(x)] — the SHAP bias share.
    * Node mean = (cover(L)·mean(L) + cover(R)·mean(R)) / cover(node),
    * the conditional-expectation recursion xgboost uses to fill node
    * mean values for its contribution predicts. Deterministic double
    * arithmetic (the stump oracle replays it verbatim). */
  @transient lazy val expectedValue: Double = {
    def mean(i: Int): Double =
      if (feature(i) < 0) value(i).toDouble
      else (cover(left(i)) * mean(left(i)) +
        cover(right(i)) * mean(right(i))) / cover(i)
    mean(0)
  }

  /** Longest root→leaf path length in SPLITS (0 for a bare leaf). */
  @transient lazy val maxPathDepth: Int = {
    def depth(i: Int): Int =
      if (feature(i) < 0) 0
      else 1 + math.max(depth(left(i)), depth(right(i)))
    depth(0)
  }

  /** Workspace element count the SHAP walk needs for this tree: each
    * recursion level keeps its own copy of the unique path, laid out
    * contiguously (level l holds ≤ l+1 elements). */
  private[learner] def shapWorkspaceSize: Int = {
    val d = maxPathDepth + 2
    d * (d + 1) / 2
  }

  /**
   * EXACT TreeSHAP contribution walk — Lundberg et al.'s polynomial
   * algorithm (the "Tree SHAP" recursion of *Consistent Individualized
   * Feature Attribution for Tree Ensembles*, Algorithm 2), which is
   * what xgboost computes for `pred_contribs=True` WITHOUT
   * `approx_contribs` (the default the reference forwards,
   * main.py:1750-1806). Adds each feature's Shapley value of this
   * tree's margin to `phi` and returns [[expectedValue]] (the bias
   * share); phi sums + expectation reproduce the tree's margin.
   *
   * The recursion tracks the "unique path" of distinct features split
   * on so far; each element carries the fraction of subset-weighted
   * paths flowing when the feature is excluded (`z`, cover ratios) vs
   * included (`o`, 1 while x follows the split, 0 once it does not),
   * and a Shapley-kernel weight (`w`). EXTEND pushes a split,
   * UNWIND removes one for repeated features, and at a leaf each
   * path feature's contribution is the unwound weight sum ×
   * (o − z) × leaf value. Node weighting uses the trained `cover`
   * (hessian sums), exactly like xgboost.
   *
   * Needs per-node cover stats ([[hasStats]]); hot-child choice treats
   * NaN via the default direction, like every other walk here.
   *
   * @param phi  per-feature accumulator (length ≥ numFeatures)
   * @param ws   workspace of ≥ [[shapWorkspaceSize]] slots per array:
   *             (featureIdx, zeroFrac, oneFrac, weight)
   */
  private[learner] def shapInto(x: Array[Float], phi: Array[Double],
      wsD: Array[Int], wsZ: Array[Double], wsO: Array[Double],
      wsW: Array[Double]): Double =
    shapCondInto(x, phi, wsD, wsZ, wsO, wsW, 0, -1)

  /**
   * CONDITIONED TreeSHAP walk — the [[shapInto]] recursion with one
   * feature pinned "present" (`condition = +1`: splits on it always
   * follow x) or "absent" (`condition = -1`: splits on it marginalize
   * by cover), the device Lundberg's method uses to compute SHAP
   * INTERACTION values: Φ(i,j) = (φ_j|i present − φ_j|i absent) / 2.
   * The condition feature never joins the unique path (it is not a
   * player in the conditioned game); instead a `conditionFraction`
   * multiplies every leaf contribution — 0-branches short-circuit.
   * `condition = 0` is the plain unconditioned walk.
   */
  private[learner] def shapCondInto(x: Array[Float], phi: Array[Double],
      wsD: Array[Int], wsZ: Array[Double], wsO: Array[Double],
      wsW: Array[Double], condition: Int, condFeature: Int): Double = {
    if (!hasStats) throw new IllegalStateException(
      "exact SHAP contributions need per-node cover statistics; this " +
        "model was saved without them (pre-r3 format) — retrain, or use " +
        "the approximate (Saabas) contributions")

    // EXTEND: append (pi, pz, po) to the path of `ud` elements at `off`
    def extend(off: Int, ud: Int, pz: Double, po: Double, pi: Int)
        : Unit = {
      wsD(off + ud) = pi; wsZ(off + ud) = pz; wsO(off + ud) = po
      wsW(off + ud) = if (ud == 0) 1.0 else 0.0
      var i = ud - 1
      while (i >= 0) {
        wsW(off + i + 1) += po * wsW(off + i) * (i + 1.0) / (ud + 1.0)
        wsW(off + i) = pz * wsW(off + i) * (ud - i.toDouble) / (ud + 1.0)
        i -= 1
      }
    }

    // Weight sum of the path with element `i` hypothetically unwound
    // (non-mutating): the per-leaf Shapley kernel factor.
    def unwoundSum(off: Int, ud: Int, i: Int): Double = {
      val one = wsO(off + i); val zero = wsZ(off + i)
      var total = 0.0
      var next = wsW(off + ud)
      var j = ud - 1
      while (j >= 0) {
        if (one != 0.0) {
          val t = next * (ud + 1.0) / ((j + 1.0) * one)
          total += t
          next = wsW(off + j) - t * zero * (ud - j.toDouble) / (ud + 1.0)
        } else {
          total += wsW(off + j) * (ud + 1.0) / (zero * (ud - j.toDouble))
        }
        j -= 1
      }
      total
    }

    // UNWIND (mutating): remove path element `i`, recomputing weights
    // for the shorter path — used when a feature repeats on the path.
    def unwind(off: Int, ud: Int, i: Int): Unit = {
      val one = wsO(off + i); val zero = wsZ(off + i)
      var n = wsW(off + ud)
      var j = ud - 1
      while (j >= 0) {
        if (one != 0.0) {
          val t = wsW(off + j)
          wsW(off + j) = n * (ud + 1.0) / ((j + 1.0) * one)
          n = t - wsW(off + j) * zero * (ud - j.toDouble) / (ud + 1.0)
        } else {
          wsW(off + j) = wsW(off + j) * (ud + 1.0) /
            (zero * (ud - j.toDouble))
        }
        j -= 1
      }
      var k = i
      while (k < ud) {
        wsD(off + k) = wsD(off + k + 1)
        wsZ(off + k) = wsZ(off + k + 1)
        wsO(off + k) = wsO(off + k + 1)
        k += 1
      }
    }

    // caller has copied the parent path (ud elements) to `off`; extend
    // with this node's (pz, po, pf) — unless pf IS the condition
    // feature, which never becomes a path player — and recurse. `cf`
    // scales every leaf contribution (1.0 when unconditioned).
    def recurse(node: Int, off: Int, ud: Int, pz: Double, po: Double,
        pf: Int, cf: Double): Unit = {
      if (cf == 0.0) return // condition>0 prunes the non-x branch
      val skipExtend = condition != 0 && pf == condFeature
      if (!skipExtend) extend(off, ud, pz, po, pf)
      val last = if (skipExtend) ud - 1 else ud // top path index
      if (feature(node) < 0) {
        var i = 1
        while (i <= last) {
          val s = unwoundSum(off, last, i)
          phi(wsD(off + i)) +=
            s * (wsO(off + i) - wsZ(off + i)) * value(node).toDouble * cf
          i += 1
        }
      } else {
        val f = feature(node)
        val goLeft = goesLeft(node, x(f))
        val hot = if (goLeft) left(node) else right(node)
        val cold = if (goLeft) right(node) else left(node)
        var iz = 1.0; var io = 1.0
        var newUd = last + 1
        // repeated split feature on the path: fold the previous
        // occurrence out before extending with this one
        var k = 1; var found = -1
        while (k <= last && found < 0) {
          if (wsD(off + k) == f) found = k
          k += 1
        }
        if (found >= 0) {
          iz = wsZ(off + found); io = wsO(off + found)
          unwind(off, last, found)
          newUd = last
        }
        // conditioning on THIS node's feature: the hot/cold branches
        // carry the condition fraction instead of path fractions —
        // present ⇒ only x's branch flows; absent ⇒ both flow with
        // cover weights (marginalization)
        var hotCf = cf; var coldCf = cf
        if (condition != 0 && f == condFeature) {
          if (condition > 0) coldCf = 0.0
          else {
            hotCf = cf * (cover(hot).toDouble / cover(node).toDouble)
            coldCf = cf * (cover(cold).toDouble / cover(node).toDouble)
          }
        }
        val childOff = off + newUd
        var c = 0
        while (c < newUd) {
          wsD(childOff + c) = wsD(off + c); wsZ(childOff + c) = wsZ(off + c)
          wsO(childOff + c) = wsO(off + c); wsW(childOff + c) = wsW(off + c)
          c += 1
        }
        recurse(hot, childOff, newUd,
          iz * (cover(hot).toDouble / cover(node).toDouble), io, f, hotCf)
        c = 0
        while (c < newUd) {
          wsD(childOff + c) = wsD(off + c); wsZ(childOff + c) = wsZ(off + c)
          wsO(childOff + c) = wsO(off + c); wsW(childOff + c) = wsW(off + c)
          c += 1
        }
        recurse(cold, childOff, newUd,
          iz * (cover(cold).toDouble / cover(node).toDouble), 0.0, f,
          coldCf)
      }
    }

    recurse(0, 0, 0, 1.0, 1.0, -1, 1.0)
    expectedValue
  }

  /** Conditional expectation with feature `f` pinned to x's branches
    * and every other feature cover-marginalized — the conditioned
    * walk's bias share (E[f(x) | do(x_f)]). */
  private[learner] def condExpect(x: Array[Float], f: Int): Double = {
    def rec(i: Int): Double =
      if (feature(i) < 0) value(i).toDouble
      else if (feature(i) == f) rec(nextRaw(i, x))
      else (cover(left(i)) * rec(left(i)) +
        cover(right(i)) * rec(right(i))) / cover(i)
    rec(0)
  }

  /** Exact TreeSHAP walk with a self-allocated workspace (convenience;
    * batch paths share one workspace via [[shapInto]]). */
  def shapWalk(x: Array[Float], phi: Array[Double]): Double = {
    val s = shapWorkspaceSize
    shapInto(x, phi, new Array[Int](s), new Array[Double](s),
      new Array[Double](s), new Array[Double](s))
  }

  /** xgboost-style text dump (for golden-equality tree comparison). */
  def dump(treeIdx: Int): String = {
    val sb = new StringBuilder
    def rec(i: Int, depth: Int): Unit = {
      sb.append("\t" * depth)
      if (feature(i) < 0) sb.append(s"$i:leaf=${value(i)}\n")
      else {
        val cond =
          if (isPartitionNode(i)) {
            s"in{${(0 until 256).filter(inCatSet(i, _)).mkString(",")}}"
          } else if (isCatNode(i)) s"==${threshold(i)}"
          else s"<=${threshold(i)}"
        sb.append(s"$i:[f${feature(i)}$cond] " +
          s"yes=${left(i)},no=${right(i)},missing=" +
          s"${if (defaultLeft(i)) left(i) else right(i)}\n")
        rec(left(i), depth + 1)
        rec(right(i), depth + 1)
      }
    }
    rec(0, 0)
    s"booster[$treeIdx]:\n" + sb.result()
  }
}

object RegTree {
  /** The partition bitmap whose left-routing set is `codes`. */
  private[learner] def catBitmap(codes: Array[Int]): Array[Long] = {
    val bits = new Array[Long](4)
    codes.foreach(c => bits(c >> 6) |= 1L << (c & 63))
    bits
  }
}

/**
 * The trained ensemble. For multi:softprob/softmax with K classes, trees
 * are laid out round-major: tree t belongs to output class (t % K)
 * (same layout xgboost uses).
 */
final class GraftModel(
    val trees: Array[RegTree],
    val objective: String,
    val numClass: Int,     // 0/1 ⇒ single-output
    val baseScore: Double,
    val missingBin: Int,
    val numFeatures: Int,
    /** Forest width (xgboost num_parallel_tree): each boosting round
      * appends numOutputs*numParallelTree trees, class-inner. Needed so
      * `truncate` cuts on round boundaries, not mid-forest. */
    val numParallelTree: Int = 1,
    /** Cumulative DART weight per tree (xgboost's `weight_drop`
      * vector). BOOKKEEPING, not a predict input: this engine bakes
      * every DART rescale into the stored leaf values, so predict/
      * SHAP/save stay booster-agnostic and `value(i) ≈ raw · weight`.
      * Carried so (a) checkpoint RESUME continues `sample_type =
      * "weighted"` drop probabilities where training left off
      * (xgboost's DART resume semantics) and (b) the xgboost-JSON sink
      * can emit the `booster: "dart"` schema. Empty ⇒ non-DART model
      * or a pre-r10 save (treated as all-1.0). */
    val dartWeights: Array[Double] = Array.empty,
    /** Feature column names in feature-index order (the reference
      * carries RayDMatrix feature_names through to the booster,
      * matrix.py:797-798). Cosmetic for scoring — predict routes by
      * index — but emitted in the xgboost-JSON sink so exported models
      * carry names stock xgboost displays. Empty ⇒ unnamed (pre-r11
      * save or vector-assembled features). */
    val featureNames: Seq[String] = Nil) extends Serializable {

  require(dartWeights.isEmpty || dartWeights.length == trees.length,
    s"dartWeights length ${dartWeights.length} != trees ${trees.length}")
  require(featureNames.isEmpty || featureNames.length == numFeatures,
    s"featureNames length ${featureNames.length} != numFeatures " +
      s"$numFeatures")

  /** Copy with feature names attached (length must equal
    * [[numFeatures]]; empty detaches). */
  def withFeatureNames(names: Seq[String]): GraftModel =
    new GraftModel(trees, objective, numClass, baseScore, missingBin,
      numFeatures, numParallelTree, dartWeights, names)

  def numOutputs: Int = math.max(numClass, 1)

  /** Trees appended per boosting round (the Trainer.boost layout). */
  def treesPerRound: Int = numOutputs * math.max(numParallelTree, 1)

  // round-layout invariant (advisor r7): slice/truncate/numRounds all
  // divide by treesPerRound, so a hand-assembled model with a trailing
  // partial round would silently lose it — reject it at construction
  // (the trainer only ever produces whole rounds, incl. hard-stop trim)
  require(trees.length % treesPerRound == 0,
    s"GraftModel holds ${trees.length} trees, not a multiple of " +
      s"treesPerRound = $treesPerRound (numOutputs $numOutputs × " +
      s"numParallelTree $numParallelTree) — forests and class groups " +
      "must stay whole")

  /** Completed boosting rounds stored in this model. */
  def numRounds: Int = trees.length / treesPerRound

  /** Objective resolved once per (de)serialized copy — NOT per row (the
    * predict UDF calls margins/predict for every row). */
  @transient private lazy val obj: Objective =
    Objectives.forName(objective, numClass)
  @transient private lazy val bias: Float = obj.initMargin(baseScore)

  /** The objective's init margin (base_score transform) — the constant
    * every class margin starts from absent a per-row base margin. */
  def initMargin: Float = bias

  /** Raw margin(s) for one row (inference path, unbinned floats). */
  def margins(x: Array[Float]): Array[Float] = marginsFrom(x, bias)

  /** Raw margins starting from an explicit per-row base margin — the
    * DMatrix `base_margin` predict semantics (matrix.py:329-331: a
    * margin column rides the DMatrix into xgboost's predict). Pass
    * NaN to fall back to the objective's init margin. */
  def marginsFrom(x: Array[Float], base: Float): Array[Float] = {
    val k = numOutputs
    val out = new Array[Float](k)
    java.util.Arrays.fill(out, if (base.isNaN) bias else base)
    var t = 0
    while (t < trees.length) {
      out(t % k) += trees(t).predictRaw(x)
      t += 1
    }
    out
  }

  /** Transformed prediction: prob / value / softprob vector. */
  def predict(x: Array[Float]): Array[Float] = obj.transform(margins(x))

  /** Transformed prediction from an explicit base margin (NaN = init). */
  def predictFrom(x: Array[Float], base: Float): Array[Float] =
    obj.transform(marginsFrom(x, base))

  /** Per-tree leaf node ids for one row (xgboost `pred_leaf=True`):
    * length = total trees, tree order = round-major class-inner, same
    * as the ensemble layout. */
  def leafIndices(x: Array[Float]): Array[Int] = {
    val out = new Array[Int](trees.length)
    var t = 0
    while (t < trees.length) { out(t) = trees(t).leafIndex(x); t += 1 }
    out
  }

  /** Approximate per-feature margin contributions — the xgboost
    * `pred_contribs=True, approx_contribs=True` (Saabas) analog.
    * Row-major layout: for each output class c, numFeatures entries
    * followed by that class's bias (tree-root expectations + the
    * objective's init margin), flattened across classes — so the sum
    * of each class's block equals that class's raw margin (up to float
    * association). Exact TreeSHAP is out of scope; the Saabas variant
    * is xgboost's own documented approximation. */
  def contribs(x: Array[Float]): Array[Float] = {
    val k = numOutputs
    val acc = Array.ofDim[Double](k, numFeatures)
    val biasAcc = new Array[Double](k)
    var t = 0
    while (t < trees.length) {
      biasAcc(t % k) += trees(t).contribWalk(x, acc(t % k))
      t += 1
    }
    packContribs(acc, biasAcc)
  }

  /** The [[contribs]] / [[shapContribs]] layout from per-class feature
    * sums `acc` and tree expectations `biasAcc`: per class numFeatures
    * values, then the bias (expectations + the init margin). */
  private def packContribs(acc: Array[Array[Double]],
      biasAcc: Array[Double]): Array[Float] = {
    val w = numFeatures + 1
    val out = new Array[Float](acc.length * w)
    var c = 0
    while (c < acc.length) {
      var f = 0
      while (f < numFeatures) { out(c * w + f) = acc(c)(f).toFloat; f += 1 }
      out(c * w + numFeatures) = (biasAcc(c) + bias).toFloat
      c += 1
    }
    out
  }

  /** Deepest tree's SHAP workspace requirement (shared across walks). */
  @transient private lazy val shapWsSize: Int =
    if (trees.isEmpty) 3 else trees.map(_.shapWorkspaceSize).max

  /** EXACT per-feature SHAP margin contributions — the xgboost
    * `pred_contribs=True` DEFAULT (no `approx_contribs`), computed with
    * Lundberg's polynomial TreeSHAP per tree ([[RegTree.shapInto]]) over
    * the trained cover statistics. Same layout as [[contribs]]: per
    * output class, numFeatures Shapley values followed by the bias
    * (cover-weighted tree expectations + the objective's init margin);
    * each class block sums EXACTLY to that class's raw margin — the
    * local-accuracy property Saabas only satisfies telescopically. */
  def shapContribs(x: Array[Float]): Array[Float] = {
    val k = numOutputs
    val acc = Array.ofDim[Double](k, numFeatures)
    val biasAcc = new Array[Double](k)
    val s = shapWsSize
    val wsD = new Array[Int](s); val wsZ = new Array[Double](s)
    val wsO = new Array[Double](s); val wsW = new Array[Double](s)
    var t = 0
    while (t < trees.length) {
      biasAcc(t % k) += trees(t).shapInto(x, acc(t % k), wsD, wsZ, wsO, wsW)
      t += 1
    }
    packContribs(acc, biasAcc)
  }

  /**
   * EXACT SHAP interaction values — what xgboost computes for
   * `pred_interactions=True` (the reference forwards the kwarg,
   * main.py:1750-1806). Off-diagonal entries use Lundberg's
   * conditioned-walk construction, Φ(i,j) = (φ_j | i present −
   * φ_j | i absent) / 2 (the Shapley interaction index of the tree's
   * conditional-expectation game), symmetrized; each feature's
   * diagonal absorbs its main effect so row sums equal the EXACT
   * [[shapContribs]] values and each class block totals its raw
   * margin — the same structural contract xgboost documents, now with
   * xgboost's own semantics rather than the Saabas approximation
   * ([[interactions]] remains as the `approx_contribs`-style analog).
   *
   * Layout matches [[interactions]]: per class a flattened
   * (numFeatures+1)² row-major symmetric matrix, index numFeatures =
   * bias row/column (bias diagonal = cover-weighted expectations +
   * init margin minus its off-diagonal row mass). Cost is
   * O(numFeatures × trees × depth²) per row — 2 conditioned walks per
   * feature, the same asymptotics as xgboost's implementation;
   * inherent to the kwarg.
   */
  def shapInteractions(x: Array[Float]): Array[Float] = {
    val k = numOutputs
    val nf = numFeatures
    val w = nf + 1
    val s = shapWsSize
    val wsD = new Array[Int](s); val wsZ = new Array[Double](s)
    val wsO = new Array[Double](s); val wsW = new Array[Double](s)
    // unconditioned exact SHAP + expectations (double precision)
    val phiU = Array.ofDim[Double](k, nf)
    val eU = new Array[Double](k)
    var t = 0
    while (t < trees.length) {
      eU(t % k) += trees(t).shapInto(x, phiU(t % k), wsD, wsZ, wsO, wsW)
      t += 1
    }
    val m = Array.ofDim[Double](k, w * w)
    val phiOn = Array.ofDim[Double](k, nf)
    val phiOff = Array.ofDim[Double](k, nf)
    val eOn = new Array[Double](k)
    var i = 0
    while (i < nf) {
      var c = 0
      while (c < k) {
        java.util.Arrays.fill(phiOn(c), 0.0)
        java.util.Arrays.fill(phiOff(c), 0.0)
        c += 1
      }
      java.util.Arrays.fill(eOn, 0.0)
      t = 0
      while (t < trees.length) {
        val cc = t % k
        trees(t).shapCondInto(x, phiOn(cc), wsD, wsZ, wsO, wsW, 1, i)
        trees(t).shapCondInto(x, phiOff(cc), wsD, wsZ, wsO, wsW, -1, i)
        eOn(cc) += trees(t).condExpect(x, i)
        t += 1
      }
      c = 0
      while (c < k) {
        var j = 0
        while (j < nf) {
          if (j != i)
            m(c)(i * w + j) = (phiOn(c)(j) - phiOff(c)(j)) / 2.0
          j += 1
        }
        m(c)(i * w + nf) = (eOn(c) - eU(c)) / 2.0
        c += 1
      }
      i += 1
    }
    val out = new Array[Float](k * w * w)
    var c = 0
    while (c < k) {
      val mc = m(c)
      // symmetrize (theoretically symmetric; averaging kills float
      // residue) and mirror the bias column
      var a = 0
      while (a < nf) {
        var b = a + 1
        while (b < nf) {
          val avg = (mc(a * w + b) + mc(b * w + a)) / 2.0
          mc(a * w + b) = avg; mc(b * w + a) = avg
          b += 1
        }
        mc(nf * w + a) = mc(a * w + nf)
        a += 1
      }
      // diagonals absorb main effects so rows sum to the exact SHAP
      // contributions (and the bias row to its contrib slot)
      a = 0
      while (a < nf) {
        var rowOff = 0.0
        var j = 0
        while (j < w) { if (j != a) rowOff += mc(a * w + j); j += 1 }
        mc(a * w + a) = phiU(c)(a) - rowOff
        a += 1
      }
      var bOff = 0.0
      a = 0
      while (a < nf) { bOff += mc(nf * w + a); a += 1 }
      mc(nf * w + nf) = (eU(c) + bias) - bOff
      var idx = 0
      while (idx < w * w) {
        out(c * w * w + idx) = mc(idx).toFloat; idx += 1
      }
      c += 1
    }
    out
  }

  /** Approximate pairwise interaction values — the xgboost
    * `pred_interactions=True` analog, Saabas-style (see
    * [[RegTree.interactionWalk]] for the per-step rule and its
    * contracts). Layout: per output class, a flattened (numFeatures+1)²
    * row-major symmetric matrix — index d is the bias row/column, whose
    * diagonal cell carries the tree-root expectations plus the
    * objective's init margin (bias interacts with nothing, xgboost
    * convention). Per class block: row sums equal [[contribs]]' block
    * and the total equals that class's raw margin (up to float
    * association). Cost is O((numFeatures+1)²) per row per class —
    * inherent to the kwarg, identical in xgboost. */
  def interactions(x: Array[Float]): Array[Float] = {
    val k = numOutputs
    val w = numFeatures + 1
    val acc = Array.ofDim[Double](k, w * w)
    var t = 0
    while (t < trees.length) {
      val c = t % k
      acc(c)(numFeatures * w + numFeatures) +=
        trees(t).interactionWalk(x, acc(c), w)
      t += 1
    }
    val out = new Array[Float](k * w * w)
    var c = 0
    while (c < k) {
      acc(c)(numFeatures * w + numFeatures) += bias
      var i = 0
      while (i < w * w) { out(c * w * w + i) = acc(c)(i).toFloat; i += 1 }
      c += 1
    }
    out
  }

  def dump(): String =
    trees.zipWithIndex.map { case (t, i) => t.dump(i) }.mkString

  /** Tree structure as a DataFrame — the xgboost
    * `Booster.trees_to_dataframe` introspection surface (stock users
    * inspect split structure / gain / cover with it; the reference
    * returns the stock booster, main.py:1747). Column conventions match
    * xgboost: one row per node, `feature` = "Leaf" for leaves, leaves
    * carry their value in `gain`, `yes`/`no`/`missing` are "tree-node"
    * id strings, `split` is the numeric threshold (null for leaves and
    * one-hot categorical nodes, whose category code is in `category`).
    * `feature` prints the training column names when the model carries
    * them (the xgboost contract: a booster with `feature_names` prints
    * them; strip with `withFeatureNames(Nil)` for positional f0..fN);
    * an explicit `featureNames` argument overrides the stored names.
    * Driver-side construction — a model is KBs, not data-scale. */
  def treesToDataFrame(spark: SparkSession,
      featureNames: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    if (featureNames.nonEmpty) require(featureNames.length == numFeatures,
      s"${featureNames.length} feature names for $numFeatures features")
    val names =
      if (featureNames.nonEmpty) featureNames else this.featureNames
    def fname(f: Int): String =
      if (names.nonEmpty) names(f) else s"f$f"
    val rows = new java.util.ArrayList[Row]()
    trees.zipWithIndex.foreach { case (t, ti) =>
      var n = 0
      while (n < t.numNodes) {
        val leaf = t.feature(n) < 0
        rows.add(Row(
          ti, n, s"$ti-$n",
          if (leaf) "Leaf" else fname(t.feature(n)),
          if (leaf || t.isCatNode(n)) null else t.threshold(n).toDouble,
          if (leaf) null else s"$ti-${t.left(n)}",
          if (leaf) null else s"$ti-${t.right(n)}",
          if (leaf) null
          else s"$ti-${if (t.defaultLeft(n)) t.left(n) else t.right(n)}",
          if (leaf) t.value(n).toDouble
          else if (t.hasStats) t.gain(n).toDouble else null,
          if (t.hasStats) t.cover(n).toDouble else null,
          if (!leaf && t.isPartitionNode(n))
            (0 until 256).filter(t.inCatSet(n, _)).mkString(",")
          else if (!leaf && t.isCatNode(n)) t.threshold(n).toInt.toString
          else null))
        n += 1
      }
    }
    val schema = StructType(Seq(
      StructField("tree", IntegerType, nullable = false),
      StructField("node", IntegerType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("feature", StringType, nullable = false),
      StructField("split", DoubleType, nullable = true),
      StructField("yes", StringType, nullable = true),
      StructField("no", StringType, nullable = true),
      StructField("missing", StringType, nullable = true),
      StructField("gain", DoubleType, nullable = true),
      StructField("cover", DoubleType, nullable = true),
      StructField("category", StringType, nullable = true)))
    spark.createDataFrame(rows, schema)
  }

  /** Feature importances, normalized to sum 1 (the sklearn wrapper's
    * feature_importances_ convention; reference exposes the xgboost
    * booster's get_score importance_type surface):
    *  - "weight": number of splits per feature
    *  - "total_gain" / "gain": summed / per-split-average split gain
    *  - "total_cover" / "cover": summed / average hessian routed through
    *    split nodes
    * gain/cover need per-node stats; models saved before those existed
    * fall back to zeros (hasStats = false). */
  def featureImportances(importanceType: String = "weight")
      : Array[Double] = {
    val counts = new Array[Double](numFeatures)
    val sums = new Array[Double](numFeatures)
    trees.foreach { t =>
      var i = 0
      while (i < t.numNodes) {
        val f = t.feature(i)
        if (f >= 0) {
          counts(f) += 1
          if (t.hasStats) sums(f) += (importanceType match {
            case "total_gain" | "gain" => t.gain(i)
            case "total_cover" | "cover" => t.cover(i)
            case _ => 0.0
          })
        }
        i += 1
      }
    }
    val raw = importanceType match {
      case "weight" => counts
      case "total_gain" | "total_cover" => sums
      case "gain" | "cover" =>
        sums.zip(counts).map { case (s, c) => if (c > 0) s / c else 0.0 }
      case other => throw new IllegalArgumentException(
        s"unknown importance type: $other")
    }
    val total = raw.sum
    if (total == 0) raw else raw.map(_ / total)
  }

  /** Split-count importances (back-compat overload). */
  def featureImportances: Array[Double] = featureImportances("weight")

  /** [[featureImportances]] keyed by feature name — the xgboost
    * `get_score()` dict shape (r11, rides [[featureNames]]; unnamed
    * models key by the import convention `f0..fN`). */
  def featureImportancesNamed(importanceType: String = "weight")
      : Map[String, Double] = {
    val imp = featureImportances(importanceType)
    imp.indices.map { f =>
      (if (featureNames.nonEmpty) featureNames(f) else s"f$f") -> imp(f)
    }.toMap
  }

  /** First `rounds` boosting rounds only (treesPerRound trees per round,
    * so forests stay whole — advisor r2) — the xgboost
    * `iteration_range` predict idiom for early stopping. */
  def truncate(rounds: Int): GraftModel = slice(0, rounds)

  /** Boosting rounds [fromRound, untilRound) only — the xgboost booster
    * slice (`booster[a:b]`, predict's full `iteration_range=(a, b)`;
    * the reference forwards those kwargs at main.py:795-810). Cuts on
    * round boundaries so forests and softmax class-groups stay whole;
    * the slice keeps baseScore, so margins follow xgboost's sliced-
    * booster semantics (base + selected rounds' contributions). */
  def slice(fromRound: Int, untilRound: Int): GraftModel = {
    val nRounds = numRounds
    val from = math.min(math.max(0, fromRound), nRounds)
    val until = math.min(math.max(from, untilRound), nRounds)
    new GraftModel(
      trees.slice(from * treesPerRound, until * treesPerRound),
      objective, numClass, baseScore, missingBin, numFeatures,
      numParallelTree,
      if (dartWeights.isEmpty) dartWeights
      else dartWeights.slice(from * treesPerRound, until * treesPerRound),
      featureNames)
  }

  /**
   * xgboost-JSON export — the reference's model sink IS
   * `bst.save_model(path)` (tune.py:130-156), whose `.json` form is
   * xgboost's documented public schema; this writes that schema so a
   * model trained here loads and scores in STOCK xgboost
   * (`xgb.Booster(model_file=...)`).
   *
   * Field mapping (documented divergences are fail-fast):
   *  - `split_conditions`: xgboost routes left on STRICT
   *    `x < split_condition`; this engine routes left on
   *    `x <= threshold`. The export stores `nextUp(threshold)` —
   *    the smallest float above the threshold — which makes the two
   *    predicates decide identically for every float input.
   *  - leaves carry their value in `split_conditions` (xgboost
   *    convention); `base_weights` mirrors node values, `loss_changes`
   *    = gain, `sum_hessian` = cover, root parent = 2147483647.
   *  - `base_score` is stored in the objective's output space (the
   *    xgboost learner_model_param convention, transformed at load).
   *  - categorical (one-hot `==`) trees and `custom:*` objectives are
   *    rejected: xgboost's categorical encoding (split_type 1 +
   *    category-set bitfields) is not emitted here, and a custom
   *    objective has no xgboost-side name.
   *  - dart-trained models (r10) export under xgboost's DART schema —
   *    `{"name":"dart","gbtree":{...},"weight_drop":[...]}` — so stock
   *    xgboost loads them as DART boosters and continued training keeps
   *    dropout semantics. `weight_drop` is emitted as ALL-1.0: graft
   *    bakes every dart rescale into the stored leaf values, so the
   *    ensemble is a plain additive sum and any non-1 weight would
   *    double-apply (the true cumulative weights live in
   *    [[dartWeights]] for bookkeeping; import folds weight_drop back
   *    into values, so export→import round-trips bit-for-bit).
   */
  def toXgbJson: String = {
    require(!objective.startsWith("custom:"),
      "custom objectives have no xgboost-side name; export the margins " +
        "model with objective overridden, or keep the parquet sink")
    // multi-quantile models store the alpha list in the objective name
    // ("reg:quantileerror@a1,a2") and route alternate trees to alpha
    // slots via num_class — stock xgboost parses neither (unknown
    // objective name; num_class > 0 on a regression objective), so an
    // export would produce a file no xgboost loads
    require(!objective.contains("@"),
      "multi-quantile models (vector alpha) have no stock-xgboost " +
        "encoding — train one single-alpha model per quantile to " +
        "export, or keep the parquet sink (save/load round-trips the " +
        "vector form)")
    require(!trees.exists(t => (0 until t.numNodes).exists(t.isCatNode)),
      "xgboost-JSON export covers numeric trees; categorical (one-hot) " +
        "splits use xgboost's category-set encoding, which this sink " +
        "does not emit — keep the parquet sink for categorical models")
    val k = numOutputs
    def jArr[T](xs: Seq[T]): String = xs.mkString("[", ",", "]")
    val treesJson = trees.zipWithIndex.map { case (t, ti) =>
      val n = t.numNodes
      val parents = Array.fill(n)(2147483647)
      for (i <- 0 until n; if t.feature(i) >= 0) {
        parents(t.left(i)) = i; parents(t.right(i)) = i
      }
      val conds = (0 until n).map { i =>
        if (t.feature(i) < 0) t.value(i)
        else Math.nextUp(t.threshold(i))
      }
      s"""{"base_weights":${jArr((0 until n).map(t.value))},""" +
        s""""categories":[],"categories_nodes":[],""" +
        s""""categories_segments":[],"categories_sizes":[],""" +
        s""""default_left":${jArr((0 until n).map(i =>
          if (t.feature(i) >= 0 && t.defaultLeft(i)) 1 else 0))},""" +
        s""""id":$ti,""" +
        s""""left_children":${jArr((0 until n).map(i =>
          if (t.feature(i) < 0) -1 else t.left(i)))},""" +
        s""""right_children":${jArr((0 until n).map(i =>
          if (t.feature(i) < 0) -1 else t.right(i)))},""" +
        s""""loss_changes":${jArr((0 until n).map(i =>
          if (t.hasStats) t.gain(i) else 0f))},""" +
        s""""parents":${jArr(parents.toSeq)},""" +
        s""""split_conditions":${jArr(conds)},""" +
        s""""split_indices":${jArr((0 until n).map(i =>
          math.max(t.feature(i), 0)))},""" +
        s""""split_type":${jArr(Seq.fill(n)(0))},""" +
        s""""sum_hessian":${jArr((0 until n).map(i =>
          if (t.hasStats) t.cover(i) else 0f))},""" +
        s""""tree_param":{"num_deleted":"0","num_feature":"$numFeatures",""" +
        s""""num_nodes":"$n","size_leaf_vector":"1"}}"""
    }
    val nRounds = numRounds
    val indptr = (0 to nRounds).map(_ * treesPerRound)
    val treeInfo = trees.indices.map(_ % k)
    val objParam = objective match {
      case o if o.startsWith("multi:") =>
        s""""softmax_multiclass_param":{"num_class":"$numClass"}"""
      // tweedie before the generic reg:* arm — its LoadConfig reads
      // tweedie_regression_param (value is xgboost's default; the
      // fitted model does not carry the training-time ρ)
      case "reg:tweedie" =>
        """"tweedie_regression_param":{"tweedie_variance_power":"1.5"}"""
      case o if o.startsWith("reg:") || o.startsWith("binary:") =>
        """"reg_loss_param":{"scale_pos_weight":"1"}"""
      case o if o.startsWith("rank:") =>
        """"lambdarank_param":{"lambdarank_num_pair_per_sample":"1","lambdarank_pair_method":"mean"}"""
      case o if o.startsWith("count:") =>
        """"poisson_regression_param":{"max_delta_step":"0.7"}"""
      case _ => """"objective_param":{}"""
    }
    val gbtree = s"""{"model":{""" +
      s""""gbtree_model_param":{"num_trees":"${trees.length}",""" +
      s""""num_parallel_tree":"${math.max(numParallelTree, 1)}"},""" +
      s""""iteration_indptr":${jArr(indptr)},""" +
      s""""tree_info":${jArr(treeInfo)},""" +
      s""""trees":[${treesJson.mkString(",")}]},"name":"gbtree"}"""
    // dart wraps the whole gbtree model plus weight_drop (the xgboost
    // Dart::SaveModel layout); weights are 1.0 — see the scaladoc
    val booster =
      if (dartWeights.isEmpty) gbtree
      else s"""{"name":"dart","gbtree":$gbtree,""" +
        s""""weight_drop":${jArr(Seq.fill(trees.length)(1.0))}}"""
    // feature names/types travel when the model carries them (the
    // reference surface forwards RayDMatrix feature_names the same
    // way, matrix.py:797-798); "float" matches the numeric-only trees
    // this sink exports
    val namesJson = XgbJsonStrings.stringArray(featureNames)
    val typesJson = XgbJsonStrings.floatTypes(featureNames.length)
    s"""{"learner":{"attributes":{},"feature_names":$namesJson,""" +
      s""""feature_types":$typesJson,"gradient_booster":$booster,""" +
      s""""learner_model_param":{"base_score":"$baseScore",""" +
      s""""boost_from_average":"1","num_class":"${math.max(numClass, 0)}",""" +
      s""""num_feature":"$numFeatures","num_target":"1"},""" +
      s""""objective":{"name":"$objective",$objParam}},""" +
      s""""version":[2,0,0]}"""
  }

  /** Write [[toXgbJson]] to a local file (the `bst.save_model("m.json")`
    * analog). */
  def saveXgbJson(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      toXgbJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /**
   * Persist as parquet (model sink S12 analog of tune.py:130-156
   * save_model/load_model): `path/nodes` one row per node, `path/meta`
   * one row of scalars. Parquet keeps the model engine-readable and
   * versionable without hand-rolled serialization.
   */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val nodes = trees.zipWithIndex.flatMap { case (t, ti) =>
      (0 until t.numNodes).map { i =>
        (ti, i, t.feature(i), t.thresholdBin(i), t.threshold(i),
          t.defaultLeft(i), t.left(i), t.right(i), t.value(i),
          if (t.hasStats) t.gain(i) else 0f,
          if (t.hasStats) t.cover(i) else 0f,
          t.isCatNode(i),
          if (t.isPartitionNode(i)) Some(t.catBits(i).toSeq) else None)
      }
    }.toSeq.toDF("tree", "node", "feature", "thresholdBin", "threshold",
      "defaultLeft", "left", "right", "value", "gain", "cover",
      "catSplit", "catBits")
    nodes.repartition(1).write.mode("overwrite").parquet(s"$path/nodes")
    Seq((objective, numClass, baseScore, missingBin, numFeatures,
        numParallelTree, featureNames))
      .toDF("objective", "numClass", "baseScore", "missingBin",
        "numFeatures", "numParallelTree", "featureNames")
      .write.mode("overwrite").parquet(s"$path/meta")
    // DART weight bookkeeping (absent for non-dart models and ignored
    // by pre-r10 readers — the nodes/meta contract is unchanged)
    if (dartWeights.nonEmpty)
      dartWeights.zipWithIndex.map { case (w, t) => (t, w) }.toSeq
        .toDF("tree", "weight")
        .repartition(1).write.mode("overwrite")
        .parquet(s"$path/dartWeights")
  }
}

/** JSON string-array emission shared by the tree and gblinear sinks:
  * escapes quotes, backslashes AND control characters (a legal Spark
  * column name may contain a newline/tab, which embedded raw would
  * make the written file unloadable by any JSON parser — review r11;
  * the same escaping discipline graft.Verify uses for the oracle
  * dump). */
private[graft] object XgbJsonStrings {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def stringArray(xs: Seq[String]): String =
    if (xs.isEmpty) "[]"
    else xs.map(x => "\"" + escape(x) + "\"").mkString("[", ",", "]")
  /** One "float" per named feature (the numeric-only sinks). */
  def floatTypes(n: Int): String =
    if (n == 0) "[]" else Seq.fill(n)("\"float\"").mkString("[", ",", "]")
}

object GraftModel {
  def load(spark: SparkSession, path: String): GraftModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val nodeRows = spark.read.parquet(s"$path/nodes")
      .orderBy("tree", "node").collect()
    val byTree = nodeRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    // gain/cover columns absent in pre-r3 saved models → stat-less
    // trees; catSplit absent in pre-r8 saved models → all-numeric
    val hasStats = nodeRows.headOption
      .exists(_.schema.fieldNames.contains("gain"))
    val hasCat = nodeRows.headOption
      .exists(_.schema.fieldNames.contains("catSplit"))
    // catBits absent in pre-r9 saved models → no partition splits
    val hasBits = nodeRows.headOption
      .exists(_.schema.fieldNames.contains("catBits"))
    val trees = byTree.map { case (_, rows) =>
      val n = rows.length
      val anyBits = hasBits &&
        rows.exists(r => r.getAs[scala.collection.Seq[Long]]("catBits") != null)
      val t = new RegTree(new Array[Int](n), new Array[Int](n),
        new Array[Float](n), new Array[Boolean](n), new Array[Int](n),
        new Array[Int](n), new Array[Float](n),
        if (hasStats) new Array[Float](n) else Array.empty,
        if (hasStats) new Array[Float](n) else Array.empty,
        if (hasCat) new Array[Boolean](n) else Array.empty,
        if (anyBits) new Array[Array[Long]](n) else Array.empty)
      rows.foreach { r: Row =>
        val i = r.getInt(1)
        t.feature(i) = r.getInt(2); t.thresholdBin(i) = r.getInt(3)
        t.threshold(i) = r.getFloat(4); t.defaultLeft(i) = r.getBoolean(5)
        t.left(i) = r.getInt(6); t.right(i) = r.getInt(7)
        t.value(i) = r.getFloat(8)
        if (hasStats) {
          t.gain(i) = r.getAs[Float]("gain")
          t.cover(i) = r.getAs[Float]("cover")
        }
        if (hasCat) t.catSplit(i) = r.getAs[Boolean]("catSplit")
        if (anyBits) {
          val bits = r.getAs[scala.collection.Seq[Long]]("catBits")
          if (bits != null) t.catBits(i) = bits.toArray
        }
      }
      t
    }.toArray
    // numParallelTree column absent in pre-r3 saved models → default 1
    val npt =
      if (meta.schema.fieldNames.contains("numParallelTree"))
        meta.getAs[Int]("numParallelTree")
      else 1
    // dartWeights dir absent in pre-r10 / non-dart saves → empty
    val wPath = new org.apache.hadoop.fs.Path(s"$path/dartWeights")
    val dw =
      if (wPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(wPath))
        spark.read.parquet(s"$path/dartWeights").orderBy("tree")
          .collect().map(_.getAs[Double]("weight"))
      else Array.empty[Double]
    // featureNames column absent in pre-r11 saved models → unnamed
    val fNames =
      if (meta.schema.fieldNames.contains("featureNames"))
        Option(meta.getAs[scala.collection.Seq[String]]("featureNames"))
          .map(_.toSeq).getOrElse(Nil)
      else Nil
    new GraftModel(trees, meta.getString(0), meta.getInt(1),
      meta.getDouble(2), meta.getInt(3), meta.getInt(4), npt, dw,
      fNames)
  }

  /**
   * xgboost-JSON model IMPORT — the inverse of [[GraftModel.toXgbJson]]
   * and the missing half of the reference's drop-in story: the
   * reference's `predict(model, data)` takes an EXISTING `xgb.Booster`
   * (main.py:1810), so a user switching engines arrives with model
   * artifacts trained by stock xgboost. This parses xgboost's
   * documented 2.x JSON schema (`save_model("m.json")`) into a
   * [[GraftModel]] that scores bit-identically to stock traversal.
   *
   * Field mapping (inverts the export's documented divergences):
   *  - xgboost routes left on STRICT `x < split_condition`; this engine
   *    on `x <= threshold`. Import stores `nextDown(split_condition)` —
   *    the largest float below the condition — so the predicates decide
   *    identically for every float input (exact inverse of the export's
   *    `nextUp`, so export→import round-trips bit-for-bit).
   *  - leaves carry their value in `split_conditions` (stock predict
   *    reads it there); internal-node values come from `base_weights`
   *    (exact for models this engine exported; for stock-trained models
   *    they are xgboost's raw node weights, which only the Saabas
   *    APPROX contrib walk reads — exact TreeSHAP uses `sum_hessian`
   *    cover stats, imported exactly).
   *  - multi-class / forest tree order: xgboost groups an iteration's
   *    trees class-major (`tree_info` = class per tree); this engine
   *    routes tree t to class `t % k`. Import reorders each
   *    `iteration_indptr` block round-robin by `tree_info`, which is
   *    the identity permutation on this engine's own exports.
   *  - `booster: "dart"` imports by folding `weight_drop` into every
   *    stored node value (leaf AND internal, so contrib walks stay
   *    telescoping) — the same baked representation dart training uses
   *    here, keeping predict/save/SHAP booster-agnostic.
   *  - bin-space thresholds don't exist in the JSON, so imported trees
   *    carry a `-1` sentinel in `thresholdBin`: inference-only.
   *    Continued training needs binned traversal and fails fast in
   *    `Trainer.boost`.
   *  - rejected fail-fast: `gblinear` boosters (no trees), categorical
   *    splits (`split_type` 1: category-set bitfields ≠ this engine's
   *    one-hot codes), vector leaves (`size_leaf_vector` > 1),
   *    multi-target learners, objectives with no engine analog.
   *    `reg:logistic` aliases to `binary:logistic` (identical math).
   */
  def fromXgbJson(json: String): GraftModel = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    // structural fail-fast: a truncated / UBJSON-mislabeled file must
    // produce a diagnosable error, not an NPE mid-parse
    def reqNode(n: JsonNode, what: String): JsonNode = {
      require(n != null, s"not an xgboost JSON model: missing '$what'")
      n
    }
    val root = new ObjectMapper().readTree(json)
    val learner = reqNode(root.get("learner"), "learner")
    val gbooster =
      reqNode(learner.get("gradient_booster"), "gradient_booster")
    val boosterName = reqNode(gbooster.get("name"),
      "gradient_booster.name").asText()
    require(boosterName != "gblinear",
      "gblinear models carry coefficients, not trees — import is " +
        "tree-booster only (gbtree | dart)")
    require(boosterName == "gbtree" || boosterName == "dart",
      s"unknown booster '$boosterName' in xgboost JSON")
    // dart wraps a full gbtree model one level down plus weight_drop;
    // accept both observed layouts ({"gbtree":{"model":...}} and
    // {"model":{"gbtree":{...}}}) since the schema moved across 1.x/2.x
    def descendToTrees(n: JsonNode): JsonNode =
      if (n == null || n.has("trees")) n
      else if (n.has("gbtree")) descendToTrees(n.get("gbtree"))
      else if (n.has("model")) descendToTrees(n.get("model"))
      else null
    val (model: JsonNode, weightDrop: Option[JsonNode]) =
      if (boosterName == "dart") {
        val wd =
          if (gbooster.has("weight_drop")) gbooster.get("weight_drop")
          else if (gbooster.has("model") &&
            gbooster.get("model").has("weight_drop"))
            gbooster.get("model").get("weight_drop")
          else null
        (descendToTrees(gbooster), Option(wd))
      } else (descendToTrees(gbooster.get("model")), None)
    require(model != null, "no tree model found in xgboost JSON")
    reqNode(model.get("gbtree_model_param"), "gbtree_model_param")
    reqNode(model.get("trees"), "trees")
    val lmp =
      reqNode(learner.get("learner_model_param"), "learner_model_param")
    reqNode(learner.get("objective"), "objective")
    require(!lmp.has("num_target") ||
      lmp.get("num_target").asText().toInt <= 1,
      "multi-target learners are not supported")
    val numFeatures = lmp.get("num_feature").asText().toInt
    val numClass = lmp.get("num_class").asText().toInt
    val baseScore = lmp.get("base_score").asText().toDouble
    val objective0 = learner.get("objective").get("name").asText()
    val objective =
      if (objective0 == "reg:logistic") "binary:logistic" else objective0
    // fail at import, not first predict, if the objective has no analog
    Objectives.forName(objective, numClass)
    val npt = model.get("gbtree_model_param")
      .get("num_parallel_tree").asText().toInt
    val treesJson = model.get("trees")
    val weights: Array[Double] = weightDrop match {
      case Some(wd) => Array.tabulate(wd.size())(wd.get(_).asDouble())
      case None => Array.fill(treesJson.size())(1.0)
    }
    require(weights.length == treesJson.size(),
      s"weight_drop length ${weights.length} != num_trees " +
        s"${treesJson.size()}")
    val parsed = Array.tabulate(treesJson.size()) { ti =>
      val t = treesJson.get(ti)
      require(t.get("tree_param").get("size_leaf_vector").asText()
        .toInt <= 1, s"tree $ti: vector leaves are not supported")
      val n = t.get("tree_param").get("num_nodes").asText().toInt
      val lc = t.get("left_children"); val rc = t.get("right_children")
      val si = t.get("split_indices"); val sc = t.get("split_conditions")
      val dl = t.get("default_left"); val st = t.get("split_type")
      val bw = t.get("base_weights")
      val gainJ = t.get("loss_changes"); val covJ = t.get("sum_hessian")
      val hasStats = gainJ != null && gainJ.size() == n &&
        covJ != null && covJ.size() == n
      val w = weights(ti).toFloat
      val tree = new RegTree(
        new Array[Int](n), Array.fill(n)(-1), new Array[Float](n),
        new Array[Boolean](n), new Array[Int](n), new Array[Int](n),
        new Array[Float](n),
        if (hasStats) new Array[Float](n) else Array.empty,
        if (hasStats) new Array[Float](n) else Array.empty)
      var i = 0
      while (i < n) {
        require(st == null || st.get(i).asInt() == 0,
          s"tree $ti node $i: categorical split_type (category-set " +
            "bitfields) is not supported by import")
        val leaf = lc.get(i).asInt() == -1
        if (leaf) {
          tree.feature(i) = -1
          tree.value(i) = sc.get(i).floatValue() * w
        } else {
          tree.feature(i) = si.get(i).asInt()
          require(tree.feature(i) < numFeatures,
            s"tree $ti node $i: split_index ${tree.feature(i)} >= " +
              s"num_feature $numFeatures")
          tree.threshold(i) = Math.nextDown(sc.get(i).floatValue())
          tree.left(i) = lc.get(i).asInt()
          tree.right(i) = rc.get(i).asInt()
          tree.defaultLeft(i) = dl.get(i).asInt() == 1
          tree.value(i) =
            (if (bw != null && bw.size() == n) bw.get(i).floatValue()
             else 0f) * w
        }
        if (hasStats) {
          tree.gain(i) = gainJ.get(i).floatValue()
          tree.cover(i) = covJ.get(i).floatValue()
        }
        i += 1
      }
      tree
    }
    // reorder each iteration block so class = position % k (this
    // engine's routing); stock xgboost groups class-major within an
    // iteration, this engine's own export is already round-robin
    val k = math.max(numClass, 1)
    val info = model.get("tree_info")
    val indptrJ = model.get("iteration_indptr")
    val indptr: Array[Int] =
      if (indptrJ != null && indptrJ.size() > 0)
        Array.tabulate(indptrJ.size())(indptrJ.get(_).asInt())
      else Array.tabulate(parsed.length / (k * npt) + 1)(_ * k * npt)
    val ordered = new Array[RegTree](parsed.length)
    val orderedW = new Array[Double](parsed.length)
    var b = 0
    while (b < indptr.length - 1) {
      val from = indptr(b); val until = indptr(b + 1)
      require(until - from == k * npt,
        s"iteration $b holds ${until - from} trees, expected " +
          s"num_class×num_parallel_tree = ${k * npt}")
      val perClass = Array.fill(k)(List.newBuilder[Int])
      var t = from
      while (t < until) {
        val cls = if (info != null && info.size() > t) info.get(t).asInt()
          else t % k
        require(cls >= 0 && cls < k,
          s"tree $t: tree_info class $cls out of range [0, $k)")
        perClass(cls) += t
        t += 1
      }
      val queues = perClass.map(_.result().iterator)
      var j = 0
      while (j < until - from) {
        val q = queues(j % k)
        require(q.hasNext,
          s"iteration $b: tree_info classes are unbalanced")
        val src = q.next()
        ordered(from + j) = parsed(src)
        orderedW(from + j) = weights(src)
        j += 1
      }
      b += 1
    }
    require(indptr.last == parsed.length,
      s"iteration_indptr ends at ${indptr.last}, not ${parsed.length}")
    // names ride along when present AND consistent; a malformed file
    // whose name list disagrees with num_feature degrades to unnamed
    // rather than failing an otherwise-loadable model
    val fNames = {
      val ns = learner.get("feature_names")
      if (ns == null || ns.size() != numFeatures) Nil
      else (0 until numFeatures).map(ns.get(_).asText())
    }
    new GraftModel(ordered, objective, numClass, baseScore,
      Binner.MissingBin, numFeatures, npt,
      // dart imports keep the folded weights as bookkeeping so the
      // model stays marked dart (export round-trips the booster name)
      if (weightDrop.isDefined) orderedW else Array.empty,
      fNames)
  }

  /** Read [[fromXgbJson]] from a local file (the
    * `xgb.Booster(model_file="m.json")` analog). */
  def loadXgbJson(path: String): GraftModel =
    fromXgbJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /**
   * Feature names recorded in an xgboost JSON model (`feature_names`),
   * empty when the model was trained on unnamed arrays. An imported
   * model addresses features by INDEX, so when names are present the
   * caller should order the scoring columns to match:
   * `DMatrixSpec(featureCols = Some(GraftModel.xgbFeatureNames(json)))`
   * — otherwise a DataFrame whose column order differs from the
   * training frame mis-scores silently (the same hazard stock
   * xgboost's validate_features guards).
   */
  def xgbFeatureNames(json: String): Seq[String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    val learner = root.get("learner")
    require(learner != null, "not an xgboost JSON model: missing 'learner'")
    val names = learner.get("feature_names")
    if (names == null) Nil
    else (0 until names.size()).map(names.get(_).asText())
  }
}
