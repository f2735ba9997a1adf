package graft.perfbench

import graft.api.GraftBoost
import graft.data.DMatrixSpec
import graft.learner.{TrainParams, TrainingCallback}
import graft.ops.{CorpusPipeline, Dedup, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** Epoch milliseconds, the time base of Spark's job events, so harness
  * spans and jobs line up. Durations come from `System.nanoTime`: the
  * wall clock may be slewed while a run is in progress. */
object Clock {
  def ms(): Double = System.currentTimeMillis().toDouble
}

/** A timed call into the library: its place on the `Clock` time base and
  * its duration. */
final case class Span(name: String, startMs: Double, endMs: Double,
    seconds: Double)

/** What one pass of a workload records: spans around each public call,
  * round marks from the training callback, and storage samples. */
final class Recorder(spark: SparkSession) {
  val calls = ArrayBuffer[Span]()
  val rounds = ArrayBuffer[Json.Obj]()
  var peakCachedBytes = 0L

  /** Bytes Spark holds in storage (memory and disk) right now; the
    * peak over samples is kept. */
  def sampleStorage(): Long = {
    val b = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    peakCachedBytes = math.max(peakCachedBytes, b)
    b
  }

  /** Times `body` as one span named `name`, then samples storage. */
  def call[T](name: String)(body: => T): T = {
    val t0 = Clock.ms()
    val n0 = System.nanoTime()
    val out = body
    calls += Span(name, t0, Clock.ms(), (System.nanoTime() - n0) / 1e9)
    sampleStorage()
    out
  }

  def last(name: String): Span = calls.findLast(_.name == name).get

  def callsJson: Seq[Json.Obj] = calls.toSeq.map(c => Json.Obj(
    "name" -> c.name, "start_ms" -> c.startMs, "end_ms" -> c.endMs))
}

/** Result of one pass: the failed output checks, each prefixed with the
  * operation it fails ("train: ..."), the measured values, and the
  * fingerprint that must repeat for one seed. */
final case class Pass(failures: Seq[String], values: Map[String, Any],
    fingerprint: String) {
  def failedOps: Int = failures.map(_.takeWhile(_ != ':')).distinct.size
}

object Pass {
  /** `a=x;b=y` fingerprint parts, compared part by part. */
  def parts(fp: String): Map[String, String] = fp.split(";").map { kv =>
    val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
  }.toMap
}

object Workload {
  /** Predict calls per pass: the predict timings are short, so each
    * pass takes several samples (the first call of a new model also
    * pays its code generation). */
  val PredictReps = 4
}

trait Workload {
  def name: String
  /** Operations (public library calls) one pass attempts. */
  def opsPerPass: Int
  /** Fewest timed passes of a run: a run makes this many, or more while
    * `--seconds` have not passed. */
  def timedPasses: Int = 1
  /** Input shape; part of the fixture cache key. */
  def shape: String
  def generate(spark: SparkSession, dir: File, seed: Long): Unit
  def warmup(spark: SparkSession, dir: File, threads: Int): Unit
  def pass(spark: SparkSession, dir: File, seed: Long, threads: Int,
      rec: Recorder, expected: Option[String]): Pass
}

/** A seeded learnable binary task: train with evals on the training
  * frame, then batch predict over the same parquet (`PredictReps`
  * times). */
final class TrainWorkload(val name: String, rows: Long, parts: Int,
    extraNoise: Int, rounds: Int, target: Double,
    override val timedPasses: Int) extends Workload {
  private val tinyRows = 2000L
  val opsPerPass = 1 + Workload.PredictReps
  def shape: String = s"r${rows}p${parts}f${4 + extraNoise}n$rounds"
  private val spec = DMatrixSpec(labelCol = Seq("labels"),
    ignore = Seq("partition", "label_clean"))
  private def params(n: Int) = TrainParams(objective = "binary:logistic",
    numRounds = n, maxDepth = 6, eta = 0.3,
    evalMetric = Seq("logloss", "error"), seed = 1234)

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    Fixtures.writeParquet(
      Fixtures.learnable(spark, rows, parts, seed, extraNoise),
      s"$dir/data.parquet")
    Fixtures.writeParquet(
      Fixtures.learnable(spark, tinyRows, 4, seed, extraNoise),
      s"$dir/tiny.parquet")
  }

  def warmup(spark: SparkSession, dir: File, threads: Int): Unit = {
    val df = spark.read.parquet(s"$dir/tiny.parquet")
    val res = GraftBoost.train(df, spec, params(1), evals = Seq(("train", df)),
      numWorkers = threads)
    GraftBoost.predict(res.model, df, spec).agg(sum("prediction")).head()
  }

  /** Trains `nRounds` rounds without the predict pass: the
    * single-worker baseline of the traced run. */
  def trainOnly(spark: SparkSession, dir: File, threads: Int,
      nRounds: Int, rec: Recorder): Unit = {
    val df = spark.read.parquet(s"$dir/data.parquet")
    rec.call("train") {
      GraftBoost.train(df, spec, params(nRounds), evals = Seq(("train", df)),
        numWorkers = threads, callbacks = Seq(marker(rec)))
    }
  }

  private def marker(rec: Recorder) = new TrainingCallback {
    override def afterIteration(round: Int,
        metrics: Map[String, Double]): Boolean = {
      // "call" indexes the train span this round belongs to
      val t = Clock.ms()
      rec.rounds += Json.Obj("call" -> rec.calls.length, "round" -> round,
        "t_ms" -> t, "logloss" -> metrics("train-logloss"),
        "error" -> metrics("train-error"),
        "cached_bytes" -> rec.sampleStorage())
      false
    }
  }

  def pass(spark: SparkSession, dir: File, seed: Long, threads: Int,
      rec: Recorder, expected: Option[String]): Pass = {
    val failures = ArrayBuffer[String]()
    val path = s"$dir/data.parquet"
    val df = spark.read.parquet(path)
    val firstRound = rec.rounds.length
    val res = rec.call("train") {
      GraftBoost.train(df, spec, params(rounds), evals = Seq(("train", df)),
        numWorkers = threads, callbacks = Seq(marker(rec)))
    }
    val trainSpan = rec.last("train")
    val err = res.evalsResult("train")("error").last
    val ll = res.evalsResult("train")("logloss")
    if (res.roundsCompleted != rounds)
      failures += s"train: ${res.roundsCompleted} of $rounds rounds"
    if (err > 0.205) failures += f"train: error $err%.4f > 0.205"
    val modelHash = sha(res.model.dump())
    val preds = (1 to Workload.PredictReps).map { k =>
      val row = rec.call("predict") {
        GraftBoost.predict(res.model, spark.read.parquet(path), spec)
          .agg(sum("prediction"),
            avg(when((col("prediction") > 0.5).cast("int") =!=
              col("label_clean"), 1.0).otherwise(0.0)),
            count(lit(1)))
          .head()
      }
      val cleanErr = row.getDouble(1)
      if (row.getLong(2) != rows)
        failures += s"predict$k: ${row.getLong(2)} of $rows rows"
      if (cleanErr > 0.05)
        failures += f"predict$k: clean-boundary error $cleanErr%.4f > 0.05"
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(
        row.getDouble(0)))
    }
    val fp = s"model=$modelHash;pred=${preds.head}"
    // one seed must give the same model and the same predictions
    val want = expected.map(Pass.parts).getOrElse(Pass.parts(fp))
    if (want("model") != modelHash)
      failures += s"train: model fingerprint $modelHash differs from " +
        want("model")
    preds.zipWithIndex.filter(_._1 != want("pred")).foreach { case (p, i) =>
      failures += s"predict${i + 1}: checksum $p differs from ${want("pred")}"
    }
    // time to target: from train() start to the first round whose
    // train logloss is at or below the target
    val marks = rec.rounds.drop(firstRound).map(_.fields.toMap)
    val hit = marks.find(_("logloss").asInstanceOf[Double] <= target)
      .map(m => (m("t_ms").asInstanceOf[Double] - trainSpan.startMs) / 1e3)
    Pass(failures.toSeq, Map(
      "train_s" -> trainSpan.seconds, "train_rows" -> rows.toDouble,
      "rounds" -> rounds.toDouble,
      "predict_s" -> rec.calls.filter(_.name == "predict").map(_.seconds),
      "predict_rows" -> rows.toDouble, "final_loss" -> ll.last,
      "time_to_target_s" -> hit.getOrElse(Double.NaN)), fp)
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
}

/** clean → MinHash-LSH with exact verification → line dedup → bigram
  * LM fit (one operation), then the scoring reduced to one checksum row
  * (`Scorings` times; each scoring and its output checks is one
  * operation). */
final class CorpusWorkload(docs: Int, parts: Int) extends Workload {
  val name = "corpus_dedup"
  def shape: String = s"d${docs}p$parts"
  private val tinyDocs = 100
  /** Scorings per pass: a warm scoring takes 0.6–1 s, so a pass takes
    * eight samples of it (the first also pays code generation). */
  private val Scorings = 8
  val opsPerPass = 1 + Scorings
  private val NearThreshold = 0.8
  /** Planted typo copies at or above this 5-character shingle Jaccard
    * are ones MinHash-LSH should pair: 16 bands of 4 rows put such a
    * pair in a common bucket with probability above 0.9999. */
  private val MinhashSure = 0.85
  /** Share of those copies MinHash-LSH must pair. `minhashLsh` pairs
    * each bucket member with the bucket's smallest id only, so a copy
    * whose buckets all hold a smaller unrelated document goes unpaired;
    * on this low-entropy corpus that happens to a few in a thousand. A
    * stage that pairs nothing, or misses more than one in fifty,
    * fails. */
  private val MinhashRecallFloor = 0.98

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    Fixtures.writeParquet(
      Fixtures.corpusFrame(spark, Fixtures.corpus(docs, seed).docs, parts),
      s"$dir/data.parquet")
    Fixtures.writeParquet(
      Fixtures.corpusFrame(spark, Fixtures.corpus(tinyDocs, seed).docs, 2),
      s"$dir/tiny.parquet")
  }

  def warmup(spark: SparkSession, dir: File, threads: Int): Unit =
    run(spark, s"$dir/tiny.parquet", new Recorder(spark), Set.empty,
      Set.empty, Nil, 1)

  /** Runs the pipeline, scoring `reps` times; returns the ids MinHash-LSH
    * marked as duplicates and, per scoring, (docs out, output hash,
    * tokens, summed log-prob in micro-nats, ids left of `mustGo` and of
    * the `goIfPaired` ids MinHash-LSH marked, boilerplate lines left). */
  private def run(spark: SparkSession, path: String, rec: Recorder,
      mustGo: Set[Long], goIfPaired: Set[Long], boiler: Seq[String],
      reps: Int) = {
    val docsIn = spark.read.parquet(path)
    val cleaned = rec.call("clean") {
      CorpusPipeline.clean(docsIn, "doc_id", "text")
    }
    // minhashLsh with exactVerify is eager: it returns its verified
    // pairs checkpointed, so reading them back is off the pipeline's clock
    val pairs = rec.call("minhash") {
      Dedup.minhashLsh(cleaned, "doc_id", "text",
        threshold = NearThreshold, exactVerify = true)
    }
    val minhashDups = pairs.select("dup_id").collect().map(_.getLong(0)).toSet
    val gone = mustGo ++ goIfPaired.intersect(minhashDups)
    val deduped = cleaned
      .join(pairs, cleaned("doc_id") === pairs("dup_id"), "left_anti")
      .select("doc_id", "text")
    // the fit and the scoring both read the line-deduplicated corpus
    val lined = rec.call("linededup") {
      val l = TextOps.dedupLines(deduped, "doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      l.count()
      l
    }
    val lm = rec.call("bigram_fit") { TextOps.fitBigramLM(lined, "text") }
    val scored = (1 to reps).map(_ => rec.call("bigram_score") {
      val planted = if (gone.isEmpty) lit(false)
        else col("doc_id").isin(gone.toSeq: _*)
      val boilerLeft = if (boiler.isEmpty) lit(false)
        else exists(split(col("text"), "\n"), l => l.isin(boiler: _*))
      TextOps.scoreBigramLM(lined, "doc_id", "text", lm)
        .join(lined, "doc_id")
        .agg(count(lit(1)),
          bit_xor(xxhash64(col("doc_id"), col("text"), col("blp_sum_micro"))),
          sum("n_tokens"), sum("blp_sum_micro"),
          sum(planted.cast("long")), sum(boilerLeft.cast("long")))
        .head()
    }).map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5)))
    (minhashDups, scored)
  }

  def pass(spark: SparkSession, dir: File, seed: Long, threads: Int,
      rec: Recorder, expected: Option[String]): Pass = {
    val (corpus, nearAbove, minhashOnly) = planted(seed)
    // the typo copies survive clean's word 3-gram pass; only the
    // MinHash stage can remove them, and those it pairs must be gone
    val cleanRemoves = corpus.exactDups.keySet ++ nearAbove ++
      corpus.lowQuality
    val (minhashDups, scored) = run(spark, s"$dir/data.parquet", rec,
      cleanRemoves, minhashOnly, corpus.boilerplate, Scorings)
    val mustGo = cleanRemoves ++ minhashOnly.intersect(minhashDups)
    val failures = ArrayBuffer[String]()
    val missed = minhashOnly -- minhashDups
    if (minhashOnly.isEmpty)
      failures += "pipeline: no planted typo copy for MinHash to find"
    else if (minhashOnly.size - missed.size <
        MinhashRecallFloor * minhashOnly.size)
      failures += s"pipeline: minhash paired ${minhashOnly.size -
        missed.size} of ${minhashOnly.size} planted typo copies"
    val fps = scored.zipWithIndex.map {
      case ((out, hash, _, _, plantedLeft, boilerLeft), i) =>
        val op = s"score${i + 1}"
        if (plantedLeft != 0) failures +=
          s"$op: $plantedLeft planted duplicate/low-quality docs kept"
        if (boilerLeft != 0)
          failures += s"$op: $boilerLeft docs keep boilerplate"
        if (out <= 0 || out > docs - mustGo.size)
          failures += s"$op: $out docs out of $docs, ${mustGo.size} must go"
        val fp = s"docs=$out;hash=${java.lang.Long.toHexString(hash)}"
        if (fp != expected.getOrElse(fp))
          failures += s"$op: fingerprint $fp differs from ${expected.get}"
        fp
    }
    // every scoring must repeat the first one
    fps.zipWithIndex.filter(_._1 != fps.head).foreach { case (fp, i) =>
      failures += s"score${i + 1}: fingerprint $fp differs from ${fps.head}"
    }
    val (out, _, toks, lpSum, _, _) = scored.head
    val names = Seq("clean", "minhash", "linededup", "bigram_fit")
    Pass(failures.toSeq, Map(
      "pipeline_s" -> (names.map(rec.last(_).seconds).sum +
        rec.calls.find(_.name == "bigram_score").get.seconds),
      "docs_in" -> docs.toDouble,
      "predict_s" -> rec.calls.filter(_.name == "bigram_score")
        .map(_.seconds),
      "predict_rows" -> out.toDouble,
      "final_loss" -> -lpSum.toDouble / 1e6 / toks,
      "planted_exact" -> corpus.exactDups.size.toDouble,
      "planted_near_above" -> nearAbove.size.toDouble,
      "planted_minhash_only" -> minhashOnly.size.toDouble,
      "minhash_missed" -> missed.size.toDouble,
      "minhash_dups" -> minhashDups.size.toDouble,
      "planted_low" -> corpus.lowQuality.size.toDouble), fps.head)
  }

  /** The corpus of `seed`; its planted near and typo copies whose word
    * 3-gram Jaccard with their source reaches the threshold (`clean`
    * removes them); and its typo copies below that threshold whose
    * 5-character shingle Jaccard reaches `MinhashSure` (only MinHash-LSH
    * removes them). */
  private val plantedBySeed = scala.collection.mutable.Map[Long,
    (Fixtures.Corpus, Set[Long], Set[Long])]()
  private def planted(seed: Long)
      : (Fixtures.Corpus, Set[Long], Set[Long]) =
    plantedBySeed.getOrElseUpdate(seed, {
      val c = Fixtures.corpus(docs, seed)
      val text = c.docs.map(d => d.id -> d.text).toMap
      def words(copy: Long, src: Long) =
        Fixtures.gramJaccard(text(copy), text(src))
      val nearAbove = (c.nearDups ++ c.typoDups).filter { case (a, b) =>
        words(a, b) >= NearThreshold }.keySet
      val minhashOnly = c.typoDups.filter { case (a, b) =>
        words(a, b) < NearThreshold &&
          Fixtures.shingleJaccard(text(a), text(b)) >= MinhashSure
      }.keySet
      (c, nearAbove, minhashOnly)
    })
}
