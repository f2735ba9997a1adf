package graft.learner

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import org.apache.spark.sql.functions.{hash, lit, pmod, when}

/**
 * Histogram subtraction in `Trainer.buildTrees`: one child of a split is
 * histogrammed from the data, its sibling is derived on the driver as
 * parent − built.
 *
 *  (a) Every model stays bit-identical to the direct build of every
 *      frontier node. The fingerprints (the [[RepresentationGoldenSpec]]
 *      recipe) were captured from the trainer before subtraction existed,
 *      over the configurations that exercise each fallback: sampled
 *      features per level/node, interaction constraints, row subsampling,
 *      optimal-partition categoricals, k>1 softmax trees, lossguide's
 *      queued candidates and chunked histogram jobs.
 *  (b) The task-result bytes of a depth-6 round are at most 55% of what
 *      a direct build of every frontier node returns.
 *  (c) Histogram jobs keep their `aggregate at Trainer.scala` call site,
 *      by which job-level tooling attributes them.
 *
 * Vector-leaf trees (`multi_output_tree`) grow through the same builder,
 * so each property has a k-target twin: absolute [[MultiOutput.MoTree]]
 * fingerprints captured from the direct-build vector grower, and the
 * same byte bound at 16·k bytes per bin.
 */
class HistSubtractionSpec extends SparkTestBase {
  import spark.implicits._
  import java.lang.{Double => JD, Float => JF}

  /** SHA-256 over every tree array bit-exact plus the metric histories
    * (the [[RepresentationGoldenSpec]] serialization). */
  private def fingerprint(res: TrainResult): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
    val m = res.model
    buf.writeUTF(m.objective); buf.writeInt(m.numClass)
    buf.writeDouble(m.baseScore); buf.writeInt(m.numFeatures)
    buf.writeInt(m.numParallelTree)
    m.dartWeights.foreach(w => buf.writeLong(JD.doubleToLongBits(w)))
    m.trees.foreach { t =>
      t.feature.foreach(buf.writeInt)
      t.thresholdBin.foreach(buf.writeInt)
      t.threshold.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.defaultLeft.foreach(buf.writeBoolean)
      t.left.foreach(buf.writeInt); t.right.foreach(buf.writeInt)
      t.value.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.gain.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.cover.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.catSplit.foreach(buf.writeBoolean)
      t.catBits.foreach { b =>
        if (b == null) buf.writeInt(-1) else b.foreach(buf.writeLong)
      }
    }
    res.evalsResult.toSeq.sortBy(_._1).foreach { case (n, ms) =>
      buf.writeUTF(n)
      ms.toSeq.sortBy(_._1).foreach { case (mn, vs) =>
        buf.writeUTF(mn)
        vs.foreach(v => buf.writeLong(JD.doubleToLongBits(v)))
      }
    }
    buf.writeLong(res.totalN); buf.writeInt(res.roundsCompleted)
    buf.flush()
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  private val Wide = 20

  /** `n` rows of [[Wide]] continuous features in [0, 1) — distinct
    * values, so each feature gets exactly `maxBins` real bins — and a
    * label with interactions over the first eight features: class
    * `< k` by score tercile, or the raw score when `k == 0`. */
  private def wideDf(n: Int, seed: Int, k: Int = 2, cat: Boolean = false) = {
    val rng = new scala.util.Random(seed)
    val rows = (1 to n).map { _ =>
      val x = Array.fill(Wide)(rng.nextDouble())
      val c = rng.nextInt(9)
      val s = 2 * x(0) - x(1) + x(2) * x(3) +
        (if (x(4) > 0.5) x(5) else -x(6)) + 0.5 * x(7) +
        (if (cat && (c == 2 || c == 5 || c == 7)) 1.0 else 0.0) +
        0.3 * rng.nextGaussian()
      val y = if (k == 0) s else ((s + 1.0) / 3.0 * k).floor.max(0).min(k - 1)
      (x, c.toDouble, y)
    }
    val names = (0 until Wide).map(i => s"f$i")
    val df = rows.map { case (x, c, y) => (x.toSeq, c, y) }
      .toDF("x", "c", "y").repartition(4)
    val cols = names.indices.map(i => $"x".getItem(i).as(names(i))) ++
      (if (cat) Seq($"c") else Nil) :+ $"y"
    df.select(cols: _*)
  }

  /** SHA-256 over every [[MultiOutput.MoTree]] array bit-exact (the
    * [[RepresentationGoldenSpec]] multi-output serialization). */
  private def moFingerprint(m: MultiOutput.MultiOutputModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
    m.trees.foreach { t =>
      buf.writeInt(t.k)
      t.feature.foreach(buf.writeInt)
      t.thresholdBin.foreach(buf.writeInt)
      t.threshold.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.defaultLeft.foreach(buf.writeBoolean)
      t.left.foreach(buf.writeInt); t.right.foreach(buf.writeInt)
      t.values.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.gain.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.cover.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
    }
    buf.flush()
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  /** [[wideDf]]'s regression frame over its first `nf` features with
    * three targets derived from the score: a k = 3 vector-leaf input. */
  private def moDf(n: Int, seed: Int, nf: Int = Wide) =
    wideDf(n, seed, k = 0).select(
      (0 until nf).map(i => $"f$i") ++ Seq($"y".as("y1"),
        ($"y" * $"f8").as("y2"), ($"f9" - $"y").as("y3")): _*)

  private val moSpec = DMatrixSpec(labelCol = Seq("y1", "y2", "y3"))

  test("(a) multi-output k=3 depth 6 over 20 features is bit-identical") {
    val m = GraftBoost.trainMultiOutput(moDf(1600, 31), moSpec,
      TrainParams(numRounds = 3, maxDepth = 6, seed = 31))
    assert(m.k === 3)
    assert(moFingerprint(m) === "ad4439f48458507f65824f3f1d8ad569")
  }

  test("(a) multi-output binary:logistic k=2 with missing values is " +
      "bit-identical") {
    // 10% of f1 missing, picked by value hash (partition-invariant)
    val df = wideDf(1600, 32).select(
      (0 until Wide).map { i =>
        if (i == 1)
          when(pmod(hash($"f1"), lit(10)) === 0, lit(Double.NaN))
            .otherwise($"f1").as("f1")
        else $"f$i"
      } ++ Seq($"y".as("y1"),
        when($"f8" + $"f9" > 1.0, 1.0).otherwise(0.0).as("y2")): _*)
    val m = GraftBoost.trainMultiOutput(df,
      DMatrixSpec(labelCol = Seq("y1", "y2")),
      TrainParams(objective = "binary:logistic", numRounds = 3,
        maxDepth = 5, seed = 32))
    assert(m.k === 2)
    assert(moFingerprint(m) === "2d2a8dcfb5eb635ee5e3ed23f5698b8e")
  }

  test("(a) multi-output chunked jobs past the kept-histogram budget " +
      "(maxHistBytes = 16 KiB) are bit-identical") {
    // 5 features × 33 bins × 3 targets: two nodes per job, and the kept
    // histograms fill the budget, so some pairs fall back to direct builds
    val m = GraftBoost.trainMultiOutput(moDf(1600, 33, nf = 5), moSpec,
      TrainParams(numRounds = 2, maxDepth = 5, maxBins = 32,
        maxHistBytes = 16L << 10, seed = 33))
    assert(moFingerprint(m) === "62df96c7cf4d28383c9eecbe6e9f140b")
  }

  private val catSpec = DMatrixSpec(labelCol = Seq("y"),
    categoricalCols = Seq("c"))

  private def check(df: org.apache.spark.sql.DataFrame, p: TrainParams,
      expected: String, spec: DMatrixSpec = DMatrixSpec("y")): Unit = {
    val res = GraftBoost.train(df, spec, p)
    assert(fingerprint(res) === expected)
  }

  test("(a) depth-6 depthwise over 20 features is bit-identical") {
    check(wideDf(1600, 1),
      TrainParams(objective = "binary:logistic", numRounds = 3,
        maxDepth = 6, eta = 0.3, seed = 11),
      "72078200c9ede2384d6f366fa0f9e26d")
  }

  test("(a) lossguide with maxLeaves is bit-identical") {
    check(wideDf(1600, 2, k = 0),
      TrainParams(numRounds = 3, growPolicy = "lossguide", maxLeaves = 24,
        maxDepth = 8, seed = 12), "88cb4656128fd59e3a89050542998aaa")
  }

  test("(a) colsampleByNode 0.5 is bit-identical") {
    check(wideDf(1600, 3),
      TrainParams(objective = "binary:logistic", numRounds = 3,
        maxDepth = 5, colsampleByNode = 0.5, seed = 13),
      "2fbdb1f2018f0b849bae1682609d398b")
  }

  test("(a) interaction constraints are bit-identical") {
    check(wideDf(1600, 4, k = 0),
      TrainParams(numRounds = 3, maxDepth = 5, seed = 14,
        interactionConstraints = Seq(Seq(0, 1, 2, 3), Seq(3, 4, 5, 6),
          Seq(7, 8, 9))), "9a12b0f663b9cd8d82127eb244bfc65c")
  }

  test("(a) subsample 0.7 is bit-identical") {
    check(wideDf(1600, 5),
      TrainParams(objective = "binary:logistic", numRounds = 3,
        maxDepth = 6, subsample = 0.7, seed = 15),
      "b8fb69ff2661251e6846770ad6ab3a22")
  }

  test("(a) an optimal-partition categorical feature is bit-identical") {
    check(wideDf(1600, 6, k = 0, cat = true),
      TrainParams(numRounds = 3, maxDepth = 5, maxCatToOnehot = 4,
        seed = 16), "6ca2179fbd34dabc840f00c71534e082", catSpec)
  }

  test("(a) multi:softprob k=3 is bit-identical") {
    check(wideDf(1600, 7, k = 3),
      TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 3, maxDepth = 5, seed = 17),
      "3cc009056d71528ccb397bd8f6194f2c")
  }

  test("(a) chunked histogram jobs (maxHistBytes = 16 KiB) are " +
      "bit-identical") {
    check(wideDf(1600, 8),
      TrainParams(objective = "binary:logistic", numRounds = 2,
        maxDepth = 6, maxBins = 32, maxHistBytes = 16L << 10, seed = 18),
      "ac41980537c48f5c168f7758a0fae87d")
  }

  /** Jobs of one training run: per job its group, call site and summed
    * task-result bytes. */
  private final class JobLog extends SparkListener {
    val group = new ConcurrentHashMap[Int, String]()
    val name = new ConcurrentHashMap[Int, String]()
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val resultBytes = new ConcurrentHashMap[Int, AtomicLong]()
    val tasks = new ConcurrentHashMap[Int, AtomicLong]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      group.put(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
      name.put(e.jobId,
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
      resultBytes.put(e.jobId, new AtomicLong)
      tasks.put(e.jobId, new AtomicLong)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobOfStage.get(e.stageId)).foreach { j =>
        if (e.taskMetrics != null)
          resultBytes.get(j).addAndGet(e.taskMetrics.resultSize)
        tasks.get(j).incrementAndGet()
      }
    /** Train-group job ids, once the async listener bus stops moving. */
    def trainJobs(): Seq[Int] = {
      var last = -1L; var tries = 0
      def seen = tasks.values.asScala.map(_.get).sum + name.size
      while (seen != last && tries < 100) {
        last = seen; Thread.sleep(100); tries += 1
      }
      group.asScala.collect {
        case (j, g) if g.startsWith("graft-train-") => j
      }.toSeq.sorted
    }
  }

  private val HistCallSite = "^(tree)?[aA]ggregate at Trainer\\.scala".r

  test("(b)+(c) a depth-6 round returns at most 55% of the direct " +
      "build's result bytes, from aggregate-at-Trainer jobs") {
    val df = wideDf(4000, 21).cache()
    df.count()
    val parts = df.rdd.getNumPartitions
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val res = try {
      GraftBoost.train(df, DMatrixSpec("y"),
        TrainParams(objective = "binary:logistic", numRounds = 1,
          maxDepth = 6, minChildWeight = 0.0, seed = 21))
    } finally spark.sparkContext.removeSparkListener(log)
    val jobs = log.trainJobs()
    df.unpersist()

    // frontier nodes a direct build histograms: every node above depth 6
    val t = res.model.trees.head
    def evaluated(i: Int, d: Int): Int =
      if (d >= 6) 0
      else if (t.feature(i) < 0) 1
      else 1 + evaluated(t.left(i), d + 1) + evaluated(t.right(i), d + 1)
    val nodes = evaluated(0, 0)
    assert(nodes > 40, s"the depth-6 tree is too sparse: $nodes nodes")
    val bins = 256 + 1 // maxBins real bins + the missing bin
    val direct = nodes.toLong * Wide * bins * 16L * parts

    val hist = jobs.filter(j => HistCallSite.findPrefixOf(log.name.get(j))
      .isDefined)
    // (c) one histogram job per level, each attributed by call site
    assert(hist.length === 6, jobs.map(log.name.get))
    hist.foreach(j => assert(log.tasks.get(j).get === parts))
    val histBytes = hist.map(log.resultBytes.get(_).get).sum
    val allBytes = jobs.map(log.resultBytes.get(_).get).sum
    assert(histBytes >= 0.95 * allBytes,
      s"histogram jobs carry $histBytes of $allBytes result bytes")
    // (b) subtraction halves the bytes below the root
    info(f"result bytes $allBytes = ${allBytes.toDouble / direct}%.3f of " +
      s"the direct build's $direct")
    assert(allBytes <= 0.55 * direct,
      s"round result bytes $allBytes vs direct build $direct " +
        s"($nodes nodes × $Wide features × $bins bins × 16 B × $parts)")
  }

  test("(b)+(c) a depth-6 k=3 vector-leaf round returns at most 55% of " +
      "the direct build's result bytes, from aggregate-at-Trainer jobs") {
    val k = 3
    val df = moDf(4000, 21).cache()
    df.count()
    val parts = df.rdd.getNumPartitions
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val m = try {
      GraftBoost.trainMultiOutput(df, moSpec,
        TrainParams(numRounds = 1, maxDepth = 6, minChildWeight = 0.0,
          seed = 21))
    } finally spark.sparkContext.removeSparkListener(log)
    val jobs = log.trainJobs()
    df.unpersist()

    val t = m.trees.head
    def evaluated(i: Int, d: Int): Int =
      if (d >= 6) 0
      else if (t.feature(i) < 0) 1
      else 1 + evaluated(t.left(i), d + 1) + evaluated(t.right(i), d + 1)
    val nodes = evaluated(0, 0)
    assert(nodes > 40, s"the depth-6 tree is too sparse: $nodes nodes")
    val bins = 256 + 1
    val direct = nodes.toLong * Wide * bins * 16L * k * parts

    val hist = jobs.filter(j => HistCallSite.findPrefixOf(log.name.get(j))
      .isDefined)
    assert(hist.length === 6, jobs.map(log.name.get))
    hist.foreach(j => assert(log.tasks.get(j).get === parts))
    val allBytes = jobs.map(log.resultBytes.get(_).get).sum
    info(f"result bytes $allBytes = ${allBytes.toDouble / direct}%.3f of " +
      s"the direct build's $direct")
    assert(allBytes <= 0.55 * direct,
      s"round result bytes $allBytes vs direct build $direct " +
        s"($nodes nodes × $Wide features × $bins bins × 16·$k B × $parts)")
  }
}
