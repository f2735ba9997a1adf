package graft.learner

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.reflect.ClassTag

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD

import graft.SparkTestBase

/**
 * `Trainer.aggregateHist` sums the per-partition histograms in
 * partition-index order, whatever order the tasks finish in — the
 * tree levels' and the `process_type=update` refresh's alike — and so
 * does the metric pass, the bucketed `auc`/`aucpr` histogram too. Each
 * partition holds one row whose gradient is chosen so that the float
 * additions do not commute: 1e17 + 1 rounds back to 1e17, so summing
 * (1e17, 1, −1e17, 1) front to back gives 1 and back to front gives 0.
 */
class HistMergeOrderSpec extends SparkTestBase {
  import HistMergeOrderSpec._

  private def hist(finishOrder: Seq[Int]): Array[Double] =
    Trainer.aggregateHist(grads(spark.sparkContext, finishOrder), HistSize)(
      seqOp)

  test("partitions finishing in reverse index order merge like the " +
      "in-order run, bit for bit") {
    val inOrder = hist(0 until Parts)
    val reverse = hist((0 until Parts).reverse)
    // the driver-side fold in partition-index order
    val expected = Grad.foldLeft(0.0)(_ + _.toDouble)
    assert(expected === 1.0)
    assert(inOrder.toSeq === Seq(expected, Grad.length.toDouble))
    assert(reverse.map(java.lang.Double.doubleToLongBits).toSeq ===
      inOrder.map(java.lang.Double.doubleToLongBits).toSeq)
  }

  /** The one leaf of a one-leaf squared-error model refreshed
    * (`process_type=update`) over one single-row block per partition:
    * margin 0 and labels −Grad, so the per-node (G, H) pass sums the
    * same non-commuting gradients. */
  private def refreshedLeaf(finishOrder: Seq[Int]): (Float, Float) = {
    val leaf = new RegTree(Array(-1), Array(-1), Array(0f), Array(false),
      Array(-1), Array(-1), Array(0f))
    val model = new GraftModel(Array(leaf), "reg:squarederror", 0, 0.5,
      Binner.MissingBin, 1)
    val blocks = gated(spark.sparkContext, finishOrder)(pid =>
      new TrainBlock(1, 1, 1, Array[Byte](0), Array(-Grad(pid)),
        Array(1f), null, null, Array(0f)))
    val t = Trainer.boost(blocks, Nil, Binner.Bins(Array(Array(0.5f))),
      RefreshParams, initModel = Some(model), knownRows = Parts.toLong)
      .model.trees.head
    (t.value(0), t.cover(0))
  }

  test("a process_type=update refresh whose partitions finish in " +
      "reverse index order matches the in-order run, bit for bit") {
    val inOrder = refreshedLeaf(0 until Parts)
    val reverse = refreshedLeaf((0 until Parts).reverse)
    assert(inOrder === ((Trainer.leafWeight(1.0, Parts.toDouble,
      RefreshParams)).toFloat, Parts.toFloat))
    assert(java.lang.Float.floatToIntBits(reverse._1) ===
      java.lang.Float.floatToIntBits(inOrder._1))
    assert(reverse._2 === inOrder._2)
  }

  /** A bucketed metric over one partition per `rows` entry, finishing
    * in `finishOrder`. */
  private def metricOf(name: String, finishOrder: Seq[Int],
      rows: IndexedSeq[Seq[(Array[Float], Float, Float)]]): Double =
    Metrics.compute(name, Objectives.resolve(
        TrainParams(objective = "binary:logistic")),
      gated(spark.sparkContext, finishOrder)(rows(_)).flatMap(identity))

  test("auc and aucpr over partitions finishing in reverse index order " +
      "match the in-order run, bit for bit") {
    // one low-score bucket holds a 2^53 negative in partition 0 and a
    // 1.0 negative in each other partition: summed front to back each
    // 1.0 rounds away (2^53), back to front they count (2^53 + 4)
    val big = math.pow(2, 53).toFloat
    val low = Array(-3f); val mid = Array(0f); val high = Array(3f)
    val rows = IndexedSeq.tabulate(Parts) {
      case 0 => Seq((low, 0f, big), (low, 1f, 1f), (mid, 1f, 1f),
        (high, 0f, big))
      case _ => Seq((low, 0f, 1f))
    }
    for (name <- Seq("auc", "aucpr")) {
      val inOrder = metricOf(name, 0 until Parts, rows)
      val reverse = metricOf(name, (0 until Parts).reverse, rows)
      assert(java.lang.Double.doubleToLongBits(reverse) ===
        java.lang.Double.doubleToLongBits(inOrder), name)
    }
  }

  /** `aggregateHist` over `parts` (partition i holds `parts(i)`) next to
    * the dense fold of the same per-partition histograms on the driver:
    * each non-empty partition's blocks folded by `seqOp`, the partials
    * summed by `TaskFns.mergeHist` in partition-index order. */
  private def assertDenseFold(parts: Seq[Seq[GradBlock]], w: Int): Unit = {
    val seqOp = entrySeqOp(w)
    val size = histSize(w)
    val rdd = spark.sparkContext.parallelize(parts, parts.length)
      .flatMap(identity)
    val got = Trainer.aggregateHist(rdd, size)(seqOp)
    val folded = parts.filter(_.nonEmpty)
      .map(_.foldLeft(null: Array[Double])(seqOp))
      .foldLeft(null: Array[Double])(TaskFns.mergeHist)
    val expected = if (folded != null) folded else new Array[Double](size)
    assert(bits(got) === bits(expected))
  }

  test("packed partials merge like a dense partition-order fold, bit " +
      "for bit: random sparse and fully dense partials") {
    val rng = new java.util.Random(11)
    for (w <- Seq(1, 3); dense <- Seq(false, true); _ <- 0 until 2) {
      val parts = Seq.tabulate(6) { pid =>
        Seq.fill(1 + rng.nextInt(3))(block(rng,
          if (dense) 2 * Bins else if (pid % 2 == 0) 3 else 40, w, dense))
      }
      assertDenseFold(parts, w)
    }
    // a dense block's partial touches every pair
    val h = entrySeqOp(3)(null, block(rng, 2 * Bins, 3, dense = true))
    assert(h.forall(_ != 0.0))
    assert(TaskFns.pack(0, h).vals.length === h.length)
  }

  test("packed partials merge like a dense fold: empty partitions, " +
      "zero-weight rows, zero gradients and −0.0 gradients") {
    val rng = new java.util.Random(12)
    for (w <- Seq(1, 3)) {
      val zeroWeight = block(rng, 30, w, dense = false, g = _ => 0f)
      val negZero = block(rng, 30, w, dense = false, g = _ => -0f)
      val mixed = block(rng, 30, w, dense = false,
        g = r => if (r.nextBoolean()) -0f else gradient(r))
      // g = +0.0 with h > 0: the pair travels on its h alone
      val flat = block(rng, 30, w, dense = false, g = _ => 0f,
        hess = _ => 1f)
      val empty = new GradBlock(0, 2, w, Array.empty[Byte],
        Array.empty[Float], Array.empty[Int])
      // touched pairs that sum to +0.0 travel as nothing
      assert(TaskFns.pack(0, entrySeqOp(w)(null, zeroWeight)).vals.isEmpty)
      assert(TaskFns.pack(0, entrySeqOp(w)(null, negZero)).vals.isEmpty)
      assertDenseFold(Seq(Nil, Seq(zeroWeight), Nil, Seq(mixed),
        Seq(negZero, block(rng, 5, w, dense = false)), Seq(empty), Nil,
        Seq(flat)), w)
      assertDenseFold(Seq(Seq(negZero), Seq(mixed), Seq(zeroWeight)), w)
      assertDenseFold(Seq(Nil, Nil), w)
    }
  }

  test("packed partials of a width-3 layout finishing in reverse index " +
      "order merge like the dense partition-order fold, bit for bit") {
    val rng = new java.util.Random(13)
    val w = 3
    val blocks = Array.tabulate(Parts)(pid =>
      block(rng, 4 + 20 * pid, w, dense = false))
    val seqOp = entrySeqOp(w)
    val reverse = Trainer.aggregateHist(
      gated(spark.sparkContext, (0 until Parts).reverse)(blocks(_)),
      histSize(w))(seqOp)
    val expected = blocks.map(seqOp(null, _))
      .foldLeft(null: Array[Double])(TaskFns.mergeHist)
    assert(bits(reverse) === bits(expected))
  }
}

object HistMergeOrderSpec {
  val Parts = 4
  /** (g, h) of bin 0 only. */
  val HistSize = 2
  val Grad: Array[Float] = Array(1e17f, 1f, -1e17f, 1f)

  /** Released when partition `i`'s task completes; shared with the
    * tasks, which run in this JVM under `local[N]`. */
  @volatile private var done: Array[CountDownLatch] = _

  val seqOp: (Array[Double], GradBlock) => Array[Double] = (acc0, blk) => {
    val acc = if (acc0 != null) acc0 else new Array[Double](HistSize)
    var i = 0
    while (i < blk.n) {
      acc(0) += blk.gh(i * 2); acc(1) += blk.gh(i * 2 + 1); i += 1
    }
    acc
  }

  /** Features and bins of the [[entrySeqOp]] layout. */
  val Feats = 2
  val Bins = 64

  def histSize(w: Int): Int = Feats * Bins * w * 2

  /** A histogram `seqOp` with the level layout: row i adds its `w`
    * (g, h) pairs at ((f × Bins + bin) × w + c) × 2 for each feature f. */
  def entrySeqOp(w: Int): (Array[Double], GradBlock) => Array[Double] =
    (acc0, blk) => {
      val acc = if (acc0 != null) acc0 else new Array[Double](histSize(w))
      var i = 0
      while (i < blk.n) {
        var f = 0
        while (f < Feats) {
          var c = 0
          while (c < w) {
            val idx = ((f * Bins + blk.bins(i * Feats + f)) * w + c) * 2
            acc(idx) += blk.gh(i * 2 * w + 2 * c)
            acc(idx + 1) += blk.gh(i * 2 * w + 2 * c + 1)
            c += 1
          }
          f += 1
        }
        i += 1
      }
      acc
    }

  /** A gradient whose sums do not commute: magnitudes from 1e-3 to 1e17. */
  def gradient(r: java.util.Random): Float =
    (r.nextGaussian() * math.pow(10, r.nextInt(21) - 3)).toFloat

  /** `n` rows of `w` (g, h) pairs: random bins (`dense`: row i in bin
    * (i + f) mod Bins, so 2 × Bins rows touch every pair), g from `g`,
    * h = `hess(g)` (`dense`: 1 + |g|). */
  def block(r: java.util.Random, n: Int, w: Int, dense: Boolean,
      g: java.util.Random => Float = gradient,
      hess: Float => Float = math.abs): GradBlock = {
    val bins = Array.tabulate(n * Feats)(j =>
      (if (dense) (j / Feats + j % Feats) % Bins else r.nextInt(Bins)).toByte)
    val gh = new Array[Float](n * 2 * w)
    var j = 0
    while (j < n * w) {
      gh(2 * j) = g(r)
      gh(2 * j + 1) = if (dense) 1f + math.abs(gh(2 * j)) else hess(gh(2 * j))
      j += 1
    }
    new GradBlock(n, Feats, w, bins, gh, new Array[Int](n))
  }

  def bits(h: Array[Double]): Seq[Long] =
    h.toSeq.map(java.lang.Double.doubleToRawLongBits)

  val RefreshParams = TrainParams(objective = "reg:squarederror",
    numRounds = 1, processType = "update")

  /** One single-row block per partition. */
  def grads(sc: SparkContext, finishOrder: Seq[Int]): RDD[GradBlock] =
    gated(sc, finishOrder)(pid => new GradBlock(1, 1, 1, Array[Byte](0),
      Array(Grad(pid), 1f), Array(0)))

  /** One `row(pid)` per partition; partition `finishOrder(j)` starts
    * its row only after partition `finishOrder(j − 1)`'s task has
    * completed (plus a margin for its result to reach the driver), so
    * the tasks finish in `finishOrder`. Needs `Parts` task slots. */
  def gated[T: ClassTag](sc: SparkContext, finishOrder: Seq[Int])(
      row: Int => T): RDD[T] = {
    done = Array.fill(Parts)(new CountDownLatch(1))
    val after = new Array[Int](Parts)
    after(finishOrder.head) = -1
    finishOrder.sliding(2).foreach { case Seq(a, b) => after(b) = a }
    sc.parallelize(0 until Parts, Parts).mapPartitionsWithIndex { (pid, _) =>
      val gates = done
      TaskContext.get().addTaskCompletionListener[Unit](_ =>
        gates(pid).countDown())
      if (after(pid) >= 0) {
        gates(after(pid)).await(60, TimeUnit.SECONDS)
        Thread.sleep(300)
      }
      Iterator.single(row(pid))
    }
  }
}
