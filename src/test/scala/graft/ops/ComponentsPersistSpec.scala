package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkTestBase

/**
 * `Dedup.components` persists its pair input (both union legs of the
 * edge build read it) unless the input is a LogicalRDD whose RDD is
 * already cached or checkpointed, where re-reading costs nothing.
 */
class ComponentsPersistSpec extends SparkTestBase {
  import spark.implicits._

  private val pairs = Seq((10L, 20L), (20L, 30L), (50L, 60L), (60L, 70L))
  private val expected = Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
    50L -> 50L, 60L -> 50L, 70L -> 50L)

  /** Runs `body`, returning its result and the call site of every job it
    * started (once the async listener bus stops moving); the call site
    * of a job run by a Dataset action carries a `sql:` prefix. */
  private def withJobs[T](body: => T): (T, Seq[String]) = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val sql = Option(e.properties)
          .exists(_.getProperty("spark.sql.execution.id") != null)
        names.add((if (sql) "sql:" else "") + e.stageInfos
          .sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var last = -1; var tries = 0
      while (names.size != last && tries < 100) {
        last = names.size; Thread.sleep(100); tries += 1
      }
      (out, names.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def run(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Dedup.components(df, df.columns(0), df.columns(1)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The persist + count of the pair input: a Dataset `count` (the
    * label propagation counts are RDD actions). */
  private def persistJobs(names: Seq[String]): Int =
    names.count(_.startsWith("sql:count at Dedup.scala"))

  test("a createDataFrame(rdd) input is computed once, not per read") {
    val calls = spark.sparkContext.longAccumulator("pair-map calls")
    val rdd = spark.sparkContext.parallelize(pairs, 2)
      .map { case (a, b) => calls.add(1); Row(a, b) }
    // a Row RDD plus schema analyzes to a bare LogicalRDD
    val df = spark.createDataFrame(rdd, StructType(Seq(
      StructField("keep_id", LongType), StructField("dup_id", LongType))))
    assert(df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    val (got, jobs) = withJobs(run(df))
    assert(got === expected)
    assert(calls.value === pairs.length.toLong,
      "the uncached LogicalRDD lineage ran more than once")
    assert(persistJobs(jobs) > 0, jobs)
  }

  test("a localCheckpoint input adds no persist job") {
    val df = pairs.toDF("keep_id", "dup_id").localCheckpoint(true)
    assert(df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    val (got, jobs) = withJobs(run(df))
    assert(got === expected)
    assert(persistJobs(jobs) === 0, jobs)
  }
}
