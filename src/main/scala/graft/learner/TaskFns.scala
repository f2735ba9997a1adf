package graft.learner

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast

/**
 * The task-side functions of a boosting round: the histogram `seqOp`
 * and merge, the refresh's path sums, the gradient map, the margin
 * advance, the eval row view and the metric pass.
 *
 * They live here, not in [[Trainer]] or [[Metrics]], for a fixed cost:
 * on every RDD call Spark's ClosureCleaner parses the class file that
 * declares the closure it cleans. A closure declared in `Trainer` costs
 * a parse of a class of about 165 KB per histogram level, gradient map,
 * margin advance and metric job; one declared here costs a parse of
 * this small class. Keep it small: closure builders only, their loops
 * calling into the model and objective classes. A closure built here
 * captures only the values its task reads.
 */
private[learner] object TaskFns {

  private val MissingBin = Binner.MissingBin

  /** One level chunk covering (tree, node) pairs across ALL trees of a
    * round — the unit of a single fused histogram job. */
  final case class LevelChunk(
      trees: Array[RegTree],      // per round-tree; null = no work here
      slotOf: Array[Array[Int]],  // per round-tree: node → slot or -1
      treeCls: Array[Int],        // tree → first output slot it reads
      treeSalts: Array[Int],      // tree → subsample salt
      featLists: Array[Array[Int]]) // global slot → sampled feature ids

  private def mixInt(a: Int, b: Int): Int = {
    var z = a * 0x9e3779b9 + b
    z ^= z >>> 16; z *= 0x85ebca6b; z ^= z >>> 13; z *= 0xc2b2ae35
    z ^ (z >>> 16)
  }

  def mix(seed: Long, round: Int, pid: Int): Long = {
    var z = seed + 0x9e3779b97f4a7c15L * (round * 1048573L + pid + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** combOp of the tree merge of dense histograms (merge volumes over
    * 64 MiB): element-wise sum into `a`. `null` is the zero — the buffer
    * is allocated in the task on first use, so a partition without rows
    * returns none. */
  val mergeHist: (Array[Double], Array[Double]) => Array[Double] = (a, c) =>
    if (a == null) c
    else if (c == null) a
    else {
      var i = 0
      while (i < a.length) { a(i) += c(i); i += 1 }
      a
    }

  /** One partition's histogram as it leaves its task: a bitmap over the
    * histogram's (g, h) pairs, bit p set when pair p has a nonzero raw
    * bit pattern, then the two doubles of each set pair in pair order.
    * A deep level's node sees few rows per partition, so most of its
    * bins are exact zeros that need not travel; at full density the
    * bitmap adds 1/128 of the dense bytes. */
  final class PackedHist(val pid: Int, val bits: Array[Long],
      val vals: Array[Double]) extends Serializable {

    /** Writes this partial's pairs into `acc` (`first`: a zero buffer)
      * or adds them to it. Skipping a pair left out is exact: it is
      * (+0.0, +0.0), a task's sums start at +0.0 and so never hold −0.0,
      * and x + (+0.0) = x for every other x. */
    def mergeInto(acc: Array[Double], first: Boolean): Unit = {
      var v = 0
      var wi = 0
      while (wi < bits.length) {
        var word = bits(wi)
        while (word != 0L) {
          val i = ((wi << 6) + java.lang.Long.numberOfTrailingZeros(word)) * 2
          if (first) { acc(i) = vals(v); acc(i + 1) = vals(v + 1) }
          else { acc(i) += vals(v); acc(i + 1) += vals(v + 1) }
          v += 2
          word &= word - 1
        }
        wi += 1
      }
    }
  }

  /** Packs partition `pid`'s histogram `h` of (g, h) pairs, compacting
    * the kept pairs to the front of `h` (the task's own buffer, dead
    * after this) and copying that prefix out. */
  def pack(pid: Int, h: Array[Double]): PackedHist = {
    val pairs = h.length / 2
    val bits = new Array[Long]((pairs + 63) >>> 6)
    var v = 0
    var p = 0
    while (p < pairs) {
      val g = h(2 * p); val hs = h(2 * p + 1)
      val x = java.lang.Double.doubleToRawLongBits(g) |
        java.lang.Double.doubleToRawLongBits(hs)
      val kept = (x | -x) >>> 63 // 1 unless both raw patterns are 0
      bits(p >>> 6) |= kept << p
      h(v) = g; h(v + 1) = hs // v ≤ 2p: pair p is already read
      v += (kept << 1).toInt
      p += 1
    }
    new PackedHist(pid, bits, java.util.Arrays.copyOf(h, v))
  }

  /** A level task: fold the partition's blocks with the histogram
    * `seqOp`, then emit the histogram packed; a partition without blocks
    * emits nothing. */
  def packedPartial(seqOp: (Array[Double], GradBlock) => Array[Double])
      : Iterator[GradBlock] => Iterator[PackedHist] = it =>
    if (!it.hasNext) Iterator.empty
    else Iterator.single(pack(TaskContext.getPartitionId(),
      it.foldLeft(null: Array[Double])(seqOp)))

  /** The aggregate ops gathering a level job's packed partials. */
  val addPacked: (Vector[PackedHist], PackedHist) => Vector[PackedHist] =
    _ :+ _

  val concatPacked: (Vector[PackedHist], Vector[PackedHist])
      => Vector[PackedHist] = _ ++ _

  /** The histogram `seqOp` of one level chunk: each kept row routes down
    * each chunk tree to its slot and adds its `w` (g, h) pairs, from the
    * tree's first output slot on, to the slot's bins of the slot's
    * sampled features. The buffer is allocated in the task on first
    * use: a zero value would ride every task binary. */
  def histSeqOp(bc: Broadcast[LevelChunk], histSize: Int,
      subsampleCut: Int, b: Int, fPerNode: Int, w: Int)
      : (Array[Double], GradBlock) => Array[Double] = (acc0, blk) => {
    val acc = if (acc0 != null) acc0 else new Array[Double](histSize)
    val ch = bc.value
    val nf2 = blk.nf
    val k2 = blk.k
    val rb = blk.bins
    val gh = blk.gh
    var i = 0
    while (i < blk.n) {
      val off = i * nf2
      var t = 0
      while (t < ch.trees.length) {
        val pt = ch.trees(t)
        if (pt != null) {
          val keep = subsampleCut == Int.MaxValue ||
            mixInt(blk.salts(i), ch.treeSalts(t)) < subsampleCut
          val slot =
            if (keep) ch.slotOf(t)(pt.leafBinned(rb, off, MissingBin))
            else -1
          if (slot >= 0) {
            val fl = ch.featLists(slot)
            var c = 0
            while (c < w) {
              val g = gh(i * 2 * k2 + 2 * (ch.treeCls(t) + c))
              val h = gh(i * 2 * k2 + 2 * (ch.treeCls(t) + c) + 1)
              var j = 0
              while (j < fl.length) {
                val bi = rb(off + fl(j)) & 0xFF
                val slotBin = if (bi == MissingBin) b - 1 else bi
                val idx = (((slot * fPerNode + j) * b + slotBin) * w + c) * 2
                acc(idx) += g; acc(idx + 1) += h
                j += 1
              }
              c += 1
            }
          }
        }
        t += 1
      }
      i += 1
    }
    acc
  }

  /** The refresh `seqOp`: every node on a row's path down round tree t
    * adds the row's (g, h) of output t % k at `2 × (offsets(t) + node)`. */
  def pathSums(bc: Broadcast[Array[RegTree]], offsets: Array[Int], k: Int)
      : (Array[Double], GradBlock) => Array[Double] = (acc0, blk) => {
    val acc = if (acc0 != null) acc0 else new Array[Double](offsets.last * 2)
    val ts = bc.value
    val kb = blk.k; val nf = blk.nf
    val rowBins = blk.bins; val gh = blk.gh
    var r = 0
    while (r < blk.n) {
      val off = r * nf
      var t = 0
      while (t < ts.length) {
        val tree = ts(t)
        val g = gh(r * 2 * kb + 2 * (t % k)).toDouble
        val h = gh(r * 2 * kb + 2 * (t % k) + 1).toDouble
        var i = 0
        while (i >= 0) {
          val base = (offsets(t) + i) * 2
          acc(base) += g; acc(base + 1) += h
          i = if (tree.feature(i) < 0) -1
            else tree.nextBinned(i, rowBins, off, MissingBin)
        }
        t += 1
      }
      r += 1
    }
    acc
  }

  /** Pointwise gradients of a round: gh = [g0,h0,...] interleaved
    * (stride 2k) and one salt per row, drawn in row order from a
    * (seed, round, partition) stream. The k = T·c output slots form T
    * targets of `c` slots each: target t takes its (g, h) through the
    * objective from its slots and label `labels(t)` of the row's
    * `stride` labels ([[Targets]]). `aux` holds each target's
    * global-pass state (a global-pass objective), else null; `spw`
    * scales positive-row weights. */
  def pointwiseGradients(obj: Objective, c: Int, stride: Int,
      labels: Array[Int], seed: Long, round: Int, spw: Float,
      aux: Array[Serializable])
      : (Int, Iterator[TrainBlock]) => Iterator[GradBlock] = (pid, it) => {
    val rng = new java.util.Random(mix(seed, round, pid))
    val nt = labels.length
    val k = nt * c
    it.map { b =>
      val n = b.n
      val gh = new Array[Float](n * 2 * k)
      val salts = new Array[Int](n)
      val g = new Array[Float](c); val h = new Array[Float](c)
      val m = new Array[Float](c)
      var i = 0
      while (i < n) {
        var t = 0
        while (t < nt) {
          val o = i * k + t * c
          var s = 0
          while (s < c) { m(s) = b.margins(o + s); s += 1 }
          val y = b.labels(i * stride + labels(t))
          if (aux != null) obj.gradHessGlobal(aux(t), m, y, g, h)
          else if (obj.needsBounds)
            obj.gradHessBounds(m, y, b.upper(i), g, h)
          else obj.gradHess(m, y, g, h)
          val w =
            if (spw != 1.0f && y == 1.0f) b.weights(i) * spw
            else b.weights(i)
          s = 0
          while (s < c) {
            gh(2 * (o + s)) = g(s) * w
            gh(2 * (o + s) + 1) = h(s) * w
            s += 1
          }
          t += 1
        }
        salts(i) = rng.nextInt()
        i += 1
      }
      new GradBlock(n, b.nf, k, b.bins, gh, salts)
    }
  }

  /** Ranking gradients: walk contiguous qid runs within each block
    * (blocks never split a group — GraftBoost.toBinned keepGroups), so
    * memory is O(one group's scratch) however big a partition grows at
    * scale. Qid groups never straddle partitions (sortByQid). */
  def rankGradients(obj: Objective, seed: Long, round: Int, pairCap: Int)
      : (Int, Iterator[TrainBlock]) => Iterator[GradBlock] = (pid, it) => {
    val rng = new java.util.Random(mix(seed, round, pid))
    it.map { b =>
      val n = b.n
      val gh = new Array[Float](n * 2)
      val salts = new Array[Int](n)
      var i = 0
      while (i < n) {
        val q = b.qid(i)
        var j = i + 1
        while (j < n && b.qid(j) == q) j += 1
        val gn = j - i
        val margins = new Array[Float](gn)
        val labels = new Array[Float](gn)
        val weights = new Array[Float](gn)
        var x = 0
        while (x < gn) {
          margins(x) = b.margins(i + x); labels(x) = b.labels(i + x)
          weights(x) = b.weights(i + x); x += 1
        }
        val grad = new Array[Float](gn)
        val hess = new Array[Float](gn)
        // pair-sampling seed is (seed, round, qid)-deterministic —
        // NOT partition-derived — so capped gradients survive
        // repartitioning and task retries unchanged
        val pairSeed =
          if (pairCap > 0)
            mix(seed ^ java.lang.Long.rotateLeft(q, 21), round,
              (q ^ (q >>> 32)).toInt)
          else 0L
        obj.groupGradients(margins, labels, weights, grad, hess,
          0, gn, pairCap, pairSeed)
        // rng draw per row in row order — identical to the r11
        // per-row emission sequence
        x = 0
        while (x < gn) {
          gh((i + x) * 2) = grad(x); gh((i + x) * 2 + 1) = hess(x)
          salts(i + x) = rng.nextInt()
          x += 1
        }
        i = j
      }
      new GradBlock(n, b.nf, 1, b.bins, gh, salts)
    }
  }

  /** The margin advance: each (slot, tree) pair adds the tree's `w`
    * leaf values to the carried margins from its slot on, in a new
    * margin generation per block that shares the static columns with
    * its input. */
  def advance(bcTrees: Broadcast[Array[(Int, RegTree)]], w: Int)
      : Iterator[TrainBlock] => Iterator[TrainBlock] = it => {
    val cls = bcTrees.value.map(_._1)
    val ts = bcTrees.value.map(_._2)
    it.map { b =>
      val m2 = b.margins.clone()
      val nf = b.nf; val k = b.k
      var i = 0
      while (i < b.n) {
        val off = i * nf
        var t = 0
        while (t < ts.length) {
          val leaf = ts(t).leafBinned(b.bins, off, MissingBin)
          var c = 0
          while (c < w) {
            m2(i * k + cls(t) + c) += ts(t).value(leaf * w + c)
            c += 1
          }
          t += 1
        }
        i += 1
      }
      b.withMargins(m2)
    }
  }

  /** The eval rows of the models `targets` (model j reads target
    * `targets(j)`): per row, in row order, one [[Metrics.EvalRow]] per
    * model with the target's `c` margins and its label of the row's
    * `stride` labels (also its upper bound when a block holds several
    * labels per row, which carry no bounds). */
  def rowView(c: Int, stride: Int, labels: Array[Int], targets: Array[Int])
      : Iterator[TrainBlock] => Iterator[Metrics.EvalRow] =
    _.flatMap { b =>
      val nm = targets.length
      Iterator.tabulate(b.n * nm) { x =>
        val i = x / nm; val j = x % nm; val t = targets(j)
        val from = i * b.k + t * c
        val y = b.labels(i * stride + labels(t))
        new Metrics.EvalRow(j,
          java.util.Arrays.copyOfRange(b.margins, from, from + c), y,
          b.weights(i), if (stride == 1) b.upper(i) else y, b.qid(i))
      }
    }

  /** Model `g`'s (margins, label, weight) rows — the shape global-pass
    * objectives and `cox-nloglik` read. */
  def modelRows(g: Int)
      : Iterator[Metrics.EvalRow] => Iterator[(Array[Float], Float, Float)] =
    _.collect { case r if r.model == g => (r.m, r.y, r.wt) }

  /** One partition's accumulator of the metric pass, summed in row
    * order: model g's term j at g × width + (the slots of the terms
    * before j), width the slots of all terms. `obj.transform` computes
    * each row's prediction once for the terms that read it; group terms
    * score each model's qid group when it ends ([[Metrics.OpenGroup]]). */
  def metricPass(obj: Objective, terms: Array[Metrics.Term], models: Int)
      : (TaskContext, Iterator[Metrics.EvalRow]) => Array[Double] =
    (_, it) => {
      val at = terms.scanLeft(0)(_ + _.slots)
      // model g's first slot of each term
      val offs = Array.tabulate(models)(g => at.init.map(_ + g * at.last))
      val acc = new Array[Double](models * at.last)
      val transform = terms.exists(_.readsPred)
      val groups =
        if (terms.exists(_.grouped)) Array.fill(models)(new Metrics.OpenGroup)
        else null
      while (it.hasNext) {
        val r = it.next()
        val o = offs(r.model)
        if (groups != null) groups(r.model).add(r, terms, acc, o)
        val p = if (transform) obj.transform(r.m) else null
        var j = 0
        while (j < terms.length) {
          terms(j).add(r, p, acc, o(j))
          j += 1
        }
      }
      if (groups != null)
        groups.indices.foreach(g => groups(g).flush(terms, acc, offs(g)))
      acc
    }
}
