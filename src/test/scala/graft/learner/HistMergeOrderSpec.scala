package graft.learner

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.reflect.ClassTag

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD

import graft.SparkTestBase

/**
 * `Trainer.aggregateHist` sums the per-partition histograms in
 * partition-index order, whatever order the tasks finish in — the
 * tree levels' and the `process_type=update` refresh's alike. Each
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
