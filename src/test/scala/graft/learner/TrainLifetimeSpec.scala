package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * Every boosting loop — gbtree, DART, the `process_type=update`
 * refresh, `multi_output_tree` and gblinear — ends its run the same way
 * whatever ends it: a throwing callback, a failing task or a hard
 * [[StopEvent]] leaves the calling thread without the `graft-train-*`
 * job group and frees every cache and broadcast the run made, while a
 * caller-owned [[GraftBoost.BinnedMatrix]] keeps its blocks and trains
 * again. gblinear's round and eval-metric jobs carry that group too.
 *
 * Failures are injected through [[TrainLifetimeSpec.TripSq]], squared
 * error that runs [[TrainLifetimeSpec.trip]] on every row whose margin
 * has moved off the base score: rows of round 0 never trip, so each
 * failure lands in round 1 or later, with margin generations cached.
 * The `input step` cases fail before any round: a throwing loading
 * callback, a booster the trainer rejects after packing, a wrong-width
 * eval matrix, a throwing input row and a gblinear eval set without its
 * label must each leave nothing cached.
 */
class TrainLifetimeSpec extends SparkTestBase {
  import TrainLifetimeSpec._
  import spark.implicits._

  private lazy val df = {
    val rng = new scala.util.Random(5)
    (1 to 2000).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a - 2 * b + 0.1 * rng.nextGaussian(), a * b)
    }.toDF("a", "b", "y", "y2").repartition(4)
  }
  private lazy val valid = df.limit(500).repartition(2)
  private val spec =
    DMatrixSpec(labelCol = Seq("y"), featureCols = Some(Seq("a", "b")))
  private val params = TrainParams(numRounds = 4, maxDepth = 3, seed = 7,
    customObjective = Some(TripSq))

  private def sc = spark.sparkContext
  private def cached(): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Runs `run` with `arm` installed as the trip, then checks that the
    * thread carries no job group and the cached RDDs are the ones
    * cached before. */
  private def leavesNothing(arm: () => Unit)(run: => Any): Unit = {
    val before = cached()
    trip = arm
    try run finally trip = null
    val group = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val after = cached()
    assert(group.isEmpty && after == before,
      s"job group ${group.orNull}; ${(after -- before).size} RDD(s) " +
        s"left cached, ${(before -- after).size} released")
  }

  private def throwsAt(round: Int): TrainingCallback = new TrainingCallback {
    override def afterIteration(r: Int, m: Map[String, Double]): Boolean =
      if (r == round) throw new IllegalStateException(s"callback at $r")
      else false
  }

  private val fail: () => Unit =
    () => throw new IllegalStateException("injected task failure")

  /** Hard-stops `stop` from the task, then waits for the cancel. */
  private def hardStop(stop: StopEvent): () => Unit = () => {
    stop.set(hard = true)
    Thread.sleep(30000)
  }

  for (booster <- Seq("gbtree", "dart")) {
    val p = params.copy(booster = booster, rateDrop = 0.0)

    test(s"$booster: a callback throwing at round 1 frees the run") {
      leavesNothing(null) {
        val e = intercept[IllegalStateException] {
          GraftBoost.train(df, spec, p, evals = Seq("valid" -> valid),
            callbacks = Seq(throwsAt(1)))
        }
        assert(e.getMessage === "callback at 1")
      }
    }

    test(s"$booster: a BinnedMatrix whose train threw keeps its blocks " +
        "and trains again") {
      val m = GraftBoost.materialize(df, spec, p)
      try {
        leavesNothing(null) {
          intercept[IllegalStateException] {
            m.train(p, evals = Seq("train" -> m), callbacks = Seq(throwsAt(1)))
          }
        }
        leavesNothing(null) {
          assert(m.train(p, evals = Seq("train" -> m)).roundsCompleted === 4)
        }
      } finally m.unpersist()
    }

    test(s"$booster: a hard StopEvent mid-round frees the run") {
      val stop = new StopEvent
      leavesNothing(hardStop(stop)) {
        val res = GraftBoost.train(df, spec, p, evals = Seq("valid" -> valid),
          callbacks = Seq(stop))
        assert(stop.isSet)
        assert(res.roundsCompleted === 1)
        assert(res.model.trees.length === 1)
      }
    }
  }

  test("process_type=update: a failing task frees the run") {
    val m = GraftBoost.train(df, spec, params).model
    leavesNothing(fail) {
      intercept[org.apache.spark.SparkException] {
        GraftBoost.train(df, spec, params.copy(processType = "update"),
          initModel = Some(m))
      }
    }
  }

  // the input step (load, pack, eval binding) frees what it cached too
  test("input step: a throwing beforeDataLoading frees the loaded rows") {
    leavesNothing(null) {
      intercept[org.apache.spark.SparkException] {
        GraftBoost.train(df, spec, params,
          distributedCallbacks = Seq(FailingLoad))
      }
    }
  }

  test("input step: a train rejected after packing frees the blocks") {
    leavesNothing(null) {
      intercept[IllegalArgumentException] {
        GraftBoost.train(df, spec, params.copy(booster = "gblinear"))
      }
    }
  }

  test("input step: a wrong-width eval matrix frees its blocks") {
    val vspec = DMatrixSpec(labelCol = Seq("y"), featureCols = Some(Seq("f")))
    val rows = (0 until 200).map(i => (i % 13).toDouble)
    val m = GraftBoost.materialize(
      rows.map(v => (Seq(v, v * 2), v)).toDF("f", "y"), vspec, params)
    try {
      leavesNothing(null) {
        val e = intercept[org.apache.spark.SparkException] {
          GraftBoost.materializeEval(
            rows.map(v => (Seq(v, v * 2, v * 3), v)).toDF("f", "y"), m,
            vspec, params)
        }
        assert(e.getMessage.contains("inconsistent pre-assembled"))
      }
    } finally m.unpersist()
  }

  test("input step: a row failing in a multi_output_tree input frees " +
      "the loaded rows") {
    val boom = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 137L) throw new IllegalStateException("bad row")
      id.toDouble
    }.asNondeterministic()
    import org.apache.spark.sql.functions.col
    val bad = spark.range(0, 400, 1, 4).select(
      (col("id") % 11).cast("double").as("a"), boom(col("id")).as("b"),
      (col("id") % 7).cast("double").as("y"),
      (col("id") % 3).cast("double").as("y2"))
    leavesNothing(null) {
      intercept[org.apache.spark.SparkException] {
        GraftBoost.trainMultiOutput(bad,
          DMatrixSpec(labelCol = Seq("y", "y2"),
            featureCols = Some(Seq("a", "b"))),
          params.copy(customObjective = None))
      }
    }
  }

  test("input step: a gblinear eval set without the label frees the " +
      "eval sets before it") {
    leavesNothing(null) {
      intercept[IllegalArgumentException] {
        graft.api.GraftLinear.trainWithEvals(df, spec,
          TrainParams(objective = "reg:squarederror", numRounds = 2),
          Seq("v1" -> valid, "v2" -> valid.drop("y")))
      }
    }
  }

  test("gblinear: round and eval-metric jobs run under one " +
      "graft-train-* group") {
    val log = new JobLog
    sc.addSparkListener(log)
    try leavesNothing(null) {
      graft.api.GraftLinear.trainWithEvals(df, spec,
        TrainParams(objective = "reg:squarederror", numRounds = 3),
        Seq("valid" -> valid))
    } finally sc.removeSparkListener(log)
    val jobs = log.settled()
    val rounds = jobs.filter(_._2.startsWith("treeAggregate at GraftLinear"))
    val metrics = jobs.filter(_._2.contains(" at Metrics.scala"))
    assert(rounds.size === 3 && metrics.size === 3, jobs)
    val groups = (rounds ++ metrics).map(_._1).distinct
    assert(groups.size === 1 && groups.head.startsWith("graft-train-"), jobs)
  }

  test("multi_output_tree: a failing task frees the run") {
    leavesNothing(fail) {
      intercept[org.apache.spark.SparkException] {
        GraftBoost.trainMultiOutput(df,
          DMatrixSpec(labelCol = Seq("y", "y2"),
            featureCols = Some(Seq("a", "b"))),
          params)
      }
    }
  }
}

object TrainLifetimeSpec {
  /** Job group and last stage name of every job started while
    * attached. */
  final class JobLog extends org.apache.spark.scheduler.SparkListener {
    private val jobs =
      new java.util.concurrent.ConcurrentSkipListMap[Int, (String, String)]()
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.put(e.jobId, (
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""),
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
    /** (group, stage name) per job in id order, once the async listener
      * bus stops delivering. */
    def settled(): Seq[(String, String)] = {
      var last = -1; var tries = 0
      while (jobs.size != last && tries < 100) {
        last = jobs.size; Thread.sleep(100); tries += 1
      }
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq
    }
  }


  /** Run on every gradient row whose margin has left the base score;
    * shared with the tasks, which run in this JVM under `local[N]`. */
  @volatile var trip: () => Unit = _

  /** Fails every partition's data loading. */
  object FailingLoad extends DistributedCallback {
    override def beforeDataLoading(rank: Int): Unit =
      throw new IllegalStateException("injected loading failure")
  }

  object TripSq extends Objective {
    val name = "custom:tripsq"
    val numOutputs = 1
    def initMargin(b: Double): Float = b.toFloat
    def transform(m: Array[Float]): Array[Float] = m
    def gradHess(m: Array[Float], y: Float, g: Array[Float],
        h: Array[Float]): Unit = {
      val t = trip
      if (t != null && m(0) != 0.5f) t()
      g(0) = m(0) - y; h(0) = 1.0f
    }
  }
}
