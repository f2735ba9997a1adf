package graft.api

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

import graft.SparkTestBase
import graft.data.DMatrixSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, exp}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.learner.{Binner, TrainParams}

/**
 * The fixed cost of the boosting jobs:
 *  - a round runs one histogram job per level plus ONE metric job per
 *    eval set for every metric of every model;
 *  - the materialized blocks reach the bin cuts only through a
 *    broadcast, so no task binary carries a [[Binner.Bins]];
 *  - a level task returns its histogram packed: the (g, h) pairs its
 *    rows left at zero do not travel.
 */
class JobCostSpec extends SparkTestBase {

  /** A parquet-backed learnable frame: the scan lineage a real input
    * has. */
  private def parquetFrame(n: Int, seed: Long) = {
    val r = new java.util.Random(seed)
    val data = Seq.fill(n) {
      val x = Array.fill(6)(r.nextDouble())
      val y = if (x(0) + x(1) * x(2) + 0.2 * r.nextGaussian() > 0.8) 1.0
        else 0.0
      (x(0), x(1), x(2), x(3), x(4), x(5), y)
    }
    val dir = tempDir("jobcost").toString +
      "/data.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4))
      .toDF("a", "b", "c", "d", "e", "f", "y").write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Job group of every job started while attached. */
  private final class GroupLog extends SparkListener {
    val group = new ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      group.put(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
    def trainJobs(): Int = {
      var last = -1; var tries = 0
      while (group.size != last && tries < 100) {
        last = group.size; Thread.sleep(100); tries += 1
      }
      group.values.asScala.count(_.startsWith("graft-train-"))
    }
    def trainGroups(): Int =
      group.values.asScala.filter(_.startsWith("graft-train-")).toSet.size
  }

  test("a depth-3 round with two pointwise metrics runs depth + 1 jobs") {
    val df = parquetFrame(4000, 7)
    val depth = 3
    val rounds = 3
    val base = TrainParams(numRounds = rounds, maxDepth = depth,
      minChildWeight = 0.0, seed = 3)
    // every metric of an eval set, histogram AUCs, qid-group and
    // survival-bound metrics too, sums in the one metric job a round
    val ranked = df.withColumn("qid", (col("f") * 100).cast("long"))
    val timed = df.withColumn("lo", exp(col("a") + col("b") * 2))
      .withColumn("hi", col("lo") * 1.5)
    val inputs = Seq(
      (df, DMatrixSpec("y"), base.copy(objective = "binary:logistic",
        evalMetric = Seq("logloss", "error"))),
      (df, DMatrixSpec("y"), base.copy(objective = "binary:logistic",
        evalMetric = Seq("auc", "aucpr", "logloss"))),
      (ranked, DMatrixSpec(labelCol = Seq("y"), qidCol = Some("qid")),
        base.copy(objective = "rank:ndcg",
          evalMetric = Seq("ndcg@5", "map", "auc"))),
      (timed, DMatrixSpec(labelLowerCol = Some("lo"),
          labelUpperCol = Some("hi"), ignore = Seq("y")),
        base.copy(objective = "survival:aft",
          evalMetric = Seq("aft-nloglik", "interval-regression-accuracy"))))
    inputs.foreach { case (frame, spec, params) =>
      val log = new GroupLog
      spark.sparkContext.addSparkListener(log)
      val res = try {
        GraftBoost.train(frame, spec, params, evals = Seq(("train", frame)))
      } finally spark.sparkContext.removeSparkListener(log)
      val what = s"${params.objective} ${params.evalMetric.mkString(",")}"
      assert(res.roundsCompleted === rounds, what)
      // every level of every round splits: no level job is skipped
      res.model.trees.foreach(t => assert(
        t.numNodes === (1 << (depth + 1)) - 1, s"$what: a level stopped early"))
      assert(res.evalsResult("train").values.forall(_.size == rounds), what)
      assert(log.trainJobs() === rounds * (depth + 1), what)
    }
  }

  test("a depth-3 multi-output round runs depth jobs: the margin " +
      "advance rides the next round's first histogram job") {
    val df = parquetFrame(4000, 9)
      .withColumn("y2", col("a") - col("b"))
      .withColumn("y3", col("c") * col("d"))
    val depth = 3
    val rounds = 3
    val log = new GroupLog
    spark.sparkContext.addSparkListener(log)
    val m = try {
      GraftBoost.trainMultiOutput(df,
        DMatrixSpec(labelCol = Seq("y", "y2", "y3")),
        TrainParams(numRounds = rounds, maxDepth = depth,
          minChildWeight = 0.0, seed = 4))
    } finally spark.sparkContext.removeSparkListener(log)
    assert(m.k === 3 && m.trees.length === rounds)
    m.trees.foreach(t =>
      assert(t.numNodes === (1 << (depth + 1)) - 1, "a level stopped early"))
    assert(log.trainJobs() === rounds * depth)
  }

  test("a depth-3 multi-label round over 3 labels runs depth jobs in " +
      "one run: the job count of a single-label round") {
    val df = parquetFrame(4000, 9)
      .withColumn("y2", col("a") - col("b"))
      .withColumn("y3", col("c") * col("d"))
    val depth = 3
    val rounds = 3
    // an eval set adds ONE metric job a round for all three labels
    Seq(Nil -> rounds * depth,
        Seq(("train", df)) -> rounds * (depth + 1)).foreach {
      case (evals, jobs) =>
        val log = new GroupLog
        spark.sparkContext.addSparkListener(log)
        val res = try {
          GraftBoost.trainMultiLabel(df,
            DMatrixSpec(labelCol = Seq("y", "y2", "y3")),
            TrainParams(numRounds = rounds, maxDepth = depth,
              minChildWeight = 0.0, seed = 4), evals = evals)
        } finally spark.sparkContext.removeSparkListener(log)
        assert(res.results.map(_._1) === Seq("y", "y2", "y3"))
        res.results.foreach { case (l, r) =>
          assert(r.roundsCompleted === rounds &&
            r.model.trees.length === rounds)
          r.model.trees.foreach(t => assert(
            t.numNodes === (1 << (depth + 1)) - 1,
            s"label $l: a level stopped early"))
          evals.foreach(e =>
            assert(r.evalsResult(e._1)("rmse").size === rounds))
        }
        assert(log.trainJobs() === jobs)
        assert(log.trainGroups() === 1)
    }
  }

  /** Tasks and `taskMetrics.resultSize` of every histogram level job (call
    * site `aggregate at Trainer.scala`) started while attached. */
  private final class LevelResults extends SparkListener {
    private val levelStages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      e.stageInfos.filter(_.name.startsWith("aggregate at Trainer.scala"))
        .foreach(s => levelStages.add(s.stageId))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (levelStages.contains(e.stageId) && e.taskMetrics != null) {
        bytes.addAndGet(e.taskMetrics.resultSize)
        tasks.incrementAndGet()
      }
    def settledJobs(): Int = {
      var last = -1; var tries = 0
      while (tasks.get != last && tries < 100) {
        last = tasks.get; Thread.sleep(100); tries += 1
      }
      levelStages.size
    }
  }

  test("a 64-feature depth-6 round's level tasks return at most half " +
      "the dense histogram bytes") {
    val nf = 64
    val parts = 4
    val r = new java.util.Random(21)
    val rows = Seq.fill(4000) {
      val x = Array.fill(nf)(r.nextGaussian())
      Row.fromSeq(x.toSeq :+ (if (1.5 * x(0) - x(1) > 0) 1.0 else 0.0))
    }
    val schema = StructType((0 until nf).map(j =>
      StructField(s"x$j", DoubleType)) :+ StructField("y", DoubleType))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts), schema)
    val params = TrainParams(objective = "binary:logistic", numRounds = 1,
      maxDepth = 6, seed = 5)
    val m = GraftBoost.materialize(df, DMatrixSpec("y"), params)
    val log = new LevelResults
    val tree = try {
      spark.sparkContext.addSparkListener(log)
      try m.train(params).model.trees.head
      finally spark.sparkContext.removeSparkListener(log)
    } finally m.unpersist()
    val levels = log.settledJobs()
    assert(levels === 6 && log.tasks.get === levels * parts)
    // built nodes per level: the root, then one child of each split
    // above (its sibling is derived by subtraction on the driver)
    val depthOf = new Array[Int](tree.numNodes)
    val splitsAt = new Array[Int](levels)
    (0 until tree.numNodes).foreach { i =>
      if (tree.feature(i) >= 0) {
        splitsAt(depthOf(i)) += 1
        depthOf(tree.left(i)) = depthOf(i) + 1
        depthOf(tree.right(i)) = depthOf(i) + 1
      }
    }
    assert(splitsAt(0) === 1 && splitsAt(levels - 1) > 0)
    val built = 1 +: splitsAt.init.toSeq
    val histSize = nf.toLong * (m.bins.maxRealBins + 1) * 2
    val denseBytes = built.map(n => parts * n * histSize * 8).sum
    assert(log.bytes.get <= denseBytes / 2,
      s"level tasks returned ${log.bytes.get} bytes, dense $denseBytes")
  }

  test("the materialized blocks reach no Binner.Bins") {
    val df = parquetFrame(2000, 8)
    val m = GraftBoost.materialize(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic"))
    try {
      val found = scala.collection.mutable.ArrayBuffer[String]()
      val out = new java.io.ObjectOutputStream(
          java.io.OutputStream.nullOutputStream()) {
        enableReplaceObject(true)
        override protected def replaceObject(o: AnyRef): AnyRef = {
          if (o.isInstanceOf[Binner.Bins]) found += o.getClass.getName
          o
        }
      }
      out.writeObject(m.blocks)
      out.close()
      assert(found.isEmpty,
        s"${found.size} Binner.Bins reachable from the blocks' lineage")
    } finally m.unpersist()
  }
}
