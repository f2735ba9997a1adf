package graft.api

import graft.SparkTestBase
import graft.data.DMatrixSpec
import graft.learner.{Objectives, TrainParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * A training input whose plan is non-deterministic (here an unseeded
 * `rand()` filter) may keep different rows on every evaluation, so the
 * shared [[GraftBoost.load]] step must cache the projected rows and take
 * its count from that cache: otherwise the count handed to
 * `Binner.fit`/`Trainer.boost` and the rows the packer actually packs
 * come from different scans. Checked for all three callers of the one
 * `load`/`toBinned` step — the single-label `materialize`/`train` path,
 * the multi-label fast path and the multi-output fast path.
 */
class NondeterministicInputSpec extends SparkTestBase {
  import spark.implicits._

  private val params = TrainParams(objective = "reg:squarederror",
    numRounds = 2, maxDepth = 3, seed = 11)
  private val obj = Objectives.resolve(params)

  private def base: DataFrame = {
    val rng = new scala.util.Random(17)
    (1 to 2000).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, a + b + rng.nextGaussian() * 0.1, a - b)
    }.toDF("a", "b", "y1", "y2").repartition(4)
  }

  // the unseeded rand() filter the guard must see, plus a coin that
  // re-draws on every evaluation so separate scans genuinely disagree
  // (rand() alone is seeded per plan and can repeat its picks locally)
  private val coin = udf(() =>
    java.util.concurrent.ThreadLocalRandom.current().nextDouble())
    .asNondeterministic()
  private def nondet: DataFrame =
    base.where(rand() < 0.7 && coin() < 0.8)

  private val single = DMatrixSpec(labelCol = Seq("y1"),
    ignore = Seq("y2"))
  private val multi = DMatrixSpec(labelCol = Seq("y1", "y2"))

  private def cachedRows(in: GraftBoost.Loaded): Boolean =
    in.cached && in.rows.getStorageLevel != StorageLevel.NONE

  test("single-label: prepared rows are cached and the count equals " +
      "the packed rows") {
    val df = nondet
    val in = GraftBoost.load(df, single, params, obj, 0)
    try {
      assert(cachedRows(in))
      val packed = GraftBoost.toBinned(in.rows, in.bins, obj,
        params.baseScore).map(_.n.toLong).fold(0L)(_ + _)
      assert(packed === in.totalRows)
    } finally in.release()
    // end to end: the matrix's count is the rows its blocks hold, and
    // the first tree's root cover (Σ hessian = 1 per row) agrees
    val m = GraftBoost.materialize(df, single, params)
    try {
      assert(m.knownRows === m.blocks.map(_.n.toLong).fold(0L)(_ + _))
      val res = m.train(params)
      assert(res.totalN === m.knownRows)
      assert(res.model.trees.head.cover(0).toLong === res.totalN)
    } finally m.unpersist()
  }

  test("multi-label: rows are cached and every label's totalN equals " +
      "the packed rows") {
    val df = nondet
    val in = GraftBoost.load(df, multi, params, obj, 0)
    try {
      assert(cachedRows(in))
      val packed = GraftBoost.toBinned(in.rows, in.bins, obj,
        params.baseScore).map(_.n.toLong).fold(0L)(_ + _)
      assert(packed === in.totalRows)
    } finally in.release()
    val res = GraftBoost.trainMultiLabel(df, multi, params)
    assert(res.results.size === 2)
    res.results.foreach { case (l, r) =>
      assert(r.model.trees.head.cover(0).toLong === r.totalN,
        s"label $l: totalN ${r.totalN} is not the packed row count")
    }
  }

  test("multi-output: rows are cached and the count equals the packed " +
      "rows") {
    val df = nondet
    val in = GraftBoost.load(df, multi, params, obj, 0)
    try {
      assert(cachedRows(in))
      val packed = GraftBoost.toBinned(in.rows, in.bins, obj,
        params.baseScore, k = 2).map(_.n.toLong).fold(0L)(_ + _)
      assert(packed === in.totalRows)
    } finally in.release()
    val model = GraftBoost.trainMultiOutput(df, multi, params)
    assert(model.trees.nonEmpty && model.trees.head.cover(0) > 0f)
  }

  test("a deterministic plan re-scans instead of caching") {
    val df = base
    val in = GraftBoost.load(df, multi, params, obj, 0)
    assert(!in.cached)
    assert(in.rows.getStorageLevel === StorageLevel.NONE)
    assert(in.totalRows === 2000L)
    val one = GraftBoost.load(df, single, params, obj, 0)
    assert(!one.cached && one.totalRows === 2000L)
  }
}
