package graft.streaming

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import graft.learner.TrainParams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("snapshotStream: the last upsert per (user, feature) equals " +
      "the batch X99 snapshot even under SHUFFLED arrival order — " +
      "the argmax needs no ordering contract (X100)") {
    implicit val sqlCtx = spark.sqlContext
    for (trial <- 0 until 3) {
      val rng = new scala.util.Random(9900 + trial)
      val n = 30 + rng.nextInt(60)
      val rows = Seq.tabulate(n)(i =>
        (i.toLong, rng.nextInt(10).toLong, rng.nextInt(3).toLong,
          s"f${rng.nextInt(3)}",
          if (rng.nextInt(5) == 0) Double.NaN
          else rng.nextInt(30) / 4.0))
      val in = MemoryStream[(Long, Long, Long, String, Double)]
      val out = StreamPipeline.snapshotStream(
        in.toDF().toDF("user_id", "ts_us", "event_id", "event_type",
          "value"),
        "user_id", "ts_us", "event_id", "event_type", "value").toDF()
      val sink = s"st_snap_fuzz_${trial}_${System.nanoTime}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // deliberately UNSORTED arrival, split across micro-batches
        val shuffled = rng.shuffle(rows
          .map { case (id, us, u, f, v) => (u, us, id, f, v) })
        shuffled.grouped(math.max(1, shuffled.size / 4)).foreach { b =>
          in.addData(b)
          q.processAllAvailable()
        }
        val got = spark.table(sink)
          .groupBy("user_id", "feature")
          .agg(max(struct(col("us"), col("obs_id"), col("value_q")))
            .as("t"))
          .select(col("user_id"), col("feature"), col("t.us"),
            col("t.obs_id"), col("t.value_q"))
          .orderBy("user_id", "feature").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3),
            if (r.isNullAt(4)) null else Long.box(r.getLong(4)))).toSeq
        val batch = graft.ops.Sessions.snapshotAsOf(
            rows.map { case (id, us, u, f, v) =>
              (id, us * 1000L, u, f, v) }
              .toDF("event_id", "ts", "user_id", "event_type", "value"),
            "user_id", "ts", "event_id", "event_type", "value",
            cutoffUs = Long.MaxValue)
          .orderBy("user_id", "feature").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3),
            if (r.isNullAt(4)) null else Long.box(r.getLong(4)))).toSeq
        assert(got === batch, s"trial $trial n=$n")
      } finally q.stop()
    }
  }

  test("stateless text scoring runs on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val scored = StreamPipeline.scoreText(
      in.toDF().toDF("doc_id", "text"), "text")
    val q = scored.writeStream.format("memory")
      .queryName("scored_stream").outputMode("append").start()
    in.addData((1L, "the cat sat on the mat and it was happy here"),
      (2L, "!!!###@@@"))
    q.processAllAvailable()
    val byId = spark.table("scored_stream")
      .select("doc_id", "lang_id", "quality_score").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(byId(1L)._1 === "en")
    assert(byId(1L)._2 > byId(2L)._2)
    q.stop()
  }

  test("streaming model scoring matches batch predictions") {
    val rng = new scala.util.Random(71)
    val data = (1 to 200).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, if (a > b) 1.0 else 0.0)
    }
    val batch = data.toDF("a", "b", "y")
    val res = GraftBoost.train(batch, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 5,
        maxDepth = 3, seed = 3))
    val expected = GraftBoost.predict(res.model, batch, DMatrixSpec("y"))
      .select("a", "prediction").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Double, Double, Double)]
    val scored = StreamPipeline.scoreModel(res.model,
      in.toDF().toDF("a", "b", "y"), DMatrixSpec("y"))
    val q = scored.writeStream.format("memory")
      .queryName("pred_stream").outputMode("append").start()
    in.addData(data.take(20))
    q.processAllAvailable()
    val got = spark.table("pred_stream").select("a", "prediction")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got.size === 20)
    got.foreach { case (a, p) =>
      assert(math.abs(p - expected(a)) < 1e-9, s"stream/batch diverge at $a")
    }
    q.stop()
  }

  test("dedupStream drops repeated fingerprints within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamPipeline.dedupStream(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    in.addData(
      (1L, ts(0), "alpha beta gamma"),
      (2L, ts(1), "alpha  beta   GAMMA"), // same normalized fingerprint
      (3L, ts(2), "something else entirely"))
    q.processAllAvailable()
    in.addData((4L, ts(3), "alpha beta gamma")) // dup in later batch
    q.processAllAvailable()
    val ids = spark.table("dedup_stream").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L), s"got $ids")
    q.stop()
  }

  test("replayDedup: streaming watermark dedup replay equals batch " +
      "exact dedup keepers on real documents") {
    val docs = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val streamed = StreamPipeline.replayDedup(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq
    val batch = graft.ops.Dedup.exact(docs, "doc_id", "text")
      .select("keep_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === batch)
    // already sorted ascending (the harness contract)
    assert(streamed === streamed.sorted)
  }

  test("nearDupStream detects near-dups across micro-batches via " +
      "flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    // long doc: a single-token edit flips few simhash bits only when
    // the token population is large enough to dominate the bit votes
    val base = (1 to 6).map(i =>
      s"paragraph $i the quick brown fox jumps over the lazy dog and " +
        "then runs far away into the deep green forest before dark " +
        "while the river keeps flowing quietly past the old stone mill")
      .mkString(" ") + " tonight"
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamPipeline.nearDupStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      maxHamming = 8)
    val q = hits.writeStream.format("memory")
      .queryName("neardup_stream").outputMode("append").start()
    in.addData((1L, ts(0), base),
      (2L, ts(1), "distributed systems require careful attention to " +
        "partial failures and retries when networks drop packets"))
    q.processAllAvailable()
    assert(spark.table("neardup_stream").count() === 0)
    // near-copy and exact copy arrive in LATER batches — only state
    // carried across micro-batches can pair them with doc 1
    in.addData((3L, ts(2), base.replace("tonight", "today")))
    q.processAllAvailable()
    in.addData((4L, ts(3), base))
    q.processAllAvailable()
    val pairs = spark.table("neardup_stream")
      .select("keep_id", "dup_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), s"near dup missed: $pairs")
    assert(pairs.contains((1L, 4L)), s"exact dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated doc paired: $pairs")
    q.stop()
  }

  test("replayQualityWindow: append-mode window finals equal the batch " +
      "group-by on the same synthetic event times") {
    import graft.ops.TextOps
    val docs = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val streamed = StreamPipeline
      .replayQualityWindow(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = docs
      .select(col("doc_id"),
        (lit(86400L) + col("doc_id") % 60).as("ts_sec"), col("text"))
      .groupBy((floor(col("ts_sec") / 15) * 15).cast("long").as("win_start"),
        TextOps.langId(col("text")).as("lang_id"))
      .agg(count(lit(1)).as("n_docs"),
        avg(TextOps.qualityScore(col("text"))).as("mean_quality"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed.keySet === batch.keySet,
      s"window/lang key sets diverge: ${streamed.keySet} vs ${batch.keySet}")
    batch.foreach { case (k, (n, mq)) =>
      assert(streamed(k)._1 === n, s"n_docs diverges at $k")
      assert(math.abs(streamed(k)._2 - mq) < 1e-9,
        s"mean_quality diverges at $k: ${streamed(k)._2} vs $mq")
    }
    // the synthetic span is 60 s → exactly four 15 s windows
    assert(streamed.keySet.map(_._1) ===
      Set(86400L, 86415L, 86430L, 86445L))
  }

  test("feedBatches: with no rows the flush sentinels still go out as " +
      "their own batch") {
    val sent = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    StreamPipeline.feedBatches(Array.empty[Int], 3, Seq(-1, -2))(sent += _)
    assert(sent.toSeq === Seq(Seq(-1, -2)))
    sent.clear()
    StreamPipeline.feedBatches(Array(1, 2, 3, 4), 2, Seq(-1))(sent += _)
    assert(sent.toSeq === Seq(Seq(1, 2), Seq(3, 4, -1)))
  }

  test("replayQualityWindow: an empty-input replay terminates and emits " +
      "no windows") {
    val docs = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").where(lit(false))
    val streamed = StreamPipeline
      .replayQualityWindow(docs, "doc_id", "text").collect()
    assert(streamed.isEmpty, s"windows from no input: ${streamed.toSeq}")
  }

  test("withReplaySink: the pid-keyed checkpoint a replay wrote is gone " +
      "soon after the replay returns") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    var ck: Seq[java.io.File] = Nil
    val out = StreamPipeline.withReplaySink(spark, "spec_ck_", in.toDF()) {
      q =>
        in.addData(1, 2, 3)
        q.processAllAvailable()
    } { sink =>
      ck = Option(graft.Scratch.root(256L << 20).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"graft_ck_${sink}_"))
      spark.table(sink).localCheckpoint(true)
    }
    assert(out.as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    val pid = ProcessHandle.current().pid()
    assert(ck.size == 1 && ck.head.getName.endsWith(s"_$pid"),
      s"expected one checkpoint keyed on this pid, found $ck")
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ck.head.exists() && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(!ck.head.exists(), s"${ck.head} outlived its replay by 30 s")
  }

  test("replayNearDup: distinct streamed pairs equal the batch simhash " +
      "pair set on real documents") {
    val docs = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val streamed = StreamPipeline.replayNearDup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batch = graft.ops.Dedup.simhashDups(docs, "doc_id", "text",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed === batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    assert(batch.nonEmpty, "fixture has no near-dup pairs to verify")
  }

  test("replayScore: streaming model scoring equals batch predict " +
      "bit-for-bit (stateless codegen expression in a micro-batch)") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      val x = (i % 7).toDouble
      (i.toLong, x, 2.0 * x + 1.0)
    }.toDF("rid", "x", "y").repartition(3)
    val res = graft.api.GraftBoost.train(df.select("x", "y"),
      graft.data.DMatrixSpec("y"),
      graft.learner.TrainParams(numRounds = 3, maxDepth = 2, seed = 3))
    val streamed = StreamPipeline.replayScore(res.model, df, "rid", "x")
      .select("rid", "prediction").as[(Long, Double)].collect().toMap
    val batch = graft.api.GraftBoost.predict(res.model, df,
      graft.data.DMatrixSpec(featureCols = Some(Seq("x"))))
      .select("rid", "prediction").as[(Long, Double)].collect().toMap
    assert(streamed.size === 200)
    assert(streamed === batch,
      "micro-batch scoring must equal batch scoring exactly")
  }

  test("qualityByWindow aggregates per window and language") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = StreamPipeline.qualityByWindow(
      in.toDF().toDF("ts", "text"), "ts", "text",
      "1 minute", "0 seconds")
    val q = agg.writeStream.format("memory")
      .queryName("quality_stream").outputMode("complete").start()
    in.addData(
      (ts(0), "the cat sat on the mat with the dog and it was good"),
      (ts(5), "the quick brown fox jumps over the lazy dog at home"),
      (ts(10), "el perro y el gato en la casa con su amigo y las cosas"))
    q.processAllAvailable()
    val rows = spark.table("quality_stream")
      .select("lang_id", "n_docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.get("en").contains(2L), rows.toString)
    assert(rows.get("es").contains(1L), rows.toString)
    q.stop()
  }

  test("session_window boundary pin: exactly-gap merges, one micro " +
      "later splits — the sessionize rule, in batch mode") {
    val df = Seq(
      (1L, 0L, 1.0),
      (1L, 10L * 1000000L, 1.0),           // +gap exactly → merges
      (1L, 20L * 1000000L + 1L, 1.0),      // +gap+1µs → new session
      (2L, 0L, 1.0))
      .toDF("user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val r = graft.ops.Sessions.sessionWindowStats(df, "user_id", "ts",
      gapSec = 10, valueCol = "value")
      .orderBy("user_id", "start_us").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSeq
    assert(r === Seq(
      (1L, 0L, 20000000L, 2L),             // [0, 10s+gap), 2 events
      (1L, 20000001L, 30000001L, 1L),
      (2L, 0L, 10000000L, 1L)))
  }

  test("replaySessions: streamed append-mode finals equal the batch " +
      "session_window result (and the batch gap rule)") {
    // synthetic events shaped like the real table: TIMESTAMP_NTZ,
    // several users, gaps straddling the 30 s session gap
    val rng = new scala.util.Random(3)
    var us = 0L
    val rows = (0 until 120).map { i =>
      // mostly small steps: same-user gaps land on both sides of the
      // 30 s session gap, so sessions genuinely merge AND split
      us += (if (rng.nextInt(4) == 0) 60L else 2L) * 1000000L +
        rng.nextInt(1000000)
      (i.toLong, us, rng.nextInt(3).toLong, rng.nextInt(1000) / 100.0)
    }
    val df = rows.toDF("event_id", "us", "user_id", "value")
      .withColumn("ts",
        timestamp_micros(col("us")).cast("timestamp_ntz"))
      .drop("us")
    val streamed = StreamPipeline.replaySessions(df, "user_id", "ts",
      "event_id", "value", gapSec = 30, numBatches = 4)
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Sessions.sessionWindowStats(
      df.withColumn("ts", timestamp_micros(
        graft.ops.Sessions.asNanos(df, "ts").cast("decimal(38,0)")
          .divide(lit(1000L)).cast("long"))),
      "user_id", "ts", gapSec = 30, valueCol = "value")
      .orderBy("user_id", "start_us").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.size < 120)
  }

  test("replayAsof: streamed point-in-time enrichment equals the " +
      "batch as-of join, including equal-ts runs split across " +
      "micro-batches") {
    // user 1: three ts groups with EQUAL-ts runs (two events at t=10,
    // three at t=20) sized so the 4-batch feed splits a run across a
    // batch boundary; user 2: a single group (never gets a prev)
    val rows = Seq(
      (0L, 10L, 1L, 1.25), (1L, 10L, 1L, 2.0),
      (2L, 20L, 1L, 0.5), (3L, 20L, 1L, 0.25), (4L, 20L, 1L, 1.0),
      (5L, 30L, 1L, 9.0),
      (6L, 15L, 2L, 4.0), (7L, 15L, 2L, 1.0))
    val df = rows.toDF("event_id", "us", "user_id", "value")
      .withColumn("ts",
        timestamp_micros(col("us")).cast("timestamp_ntz"))
      .drop("us")
    val out = StreamPipeline.replayAsof(df, "user_id", "ts",
      "event_id", "value", numBatches = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    def q20(x: Double) = math.floor(x * 1048576.0 + 0.5).toLong
    assert(out === Seq(
      (0L, -1L, -1L), (1L, -1L, -1L),          // first group: no prev
      (2L, 10L, q20(1.25) + q20(2.0)),          // full t=10 snapshot
      (3L, 10L, q20(1.25) + q20(2.0)),
      (4L, 10L, q20(1.25) + q20(2.0)),
      (5L, 20L, q20(0.5) + q20(0.25) + q20(1.0)),
      (6L, -1L, -1L), (7L, -1L, -1L)))          // user 2: single group
    // a late (below high-water) event is emitted unmatched, visibly —
    // not silently wrong — and leaves the state alone
    val withLate = rows :+ (8L, 5L, 1L, 7.0) // ts below user 1's max
    val df2 = withLate.toDF("event_id", "us", "user_id", "value")
      .withColumn("ts",
        timestamp_micros(col("us")).cast("timestamp_ntz"))
      .drop("us")
    // replayAsof sorts ascending, so force the late case through the
    // production operator directly: one batch with the late row last
    implicit val sqlCtx = SparkTestBase.session.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, Long, Double)]
    val enriched = StreamPipeline.asofStream(
      in.toDF().toDF("user_id", "ts_us", "event_id", "value"),
      "user_id", "ts_us", "event_id", "value").toDF()
    val q = enriched.writeStream.format("memory")
      .queryName("st_asof_late").outputMode("append").start()
    try {
      in.addData(Seq((1L, 10L, 0L, 1.0), (1L, 20L, 1L, 2.0)))
      q.processAllAvailable()
      in.addData(Seq((1L, 5L, 2L, 7.0), (1L, 30L, 3L, 1.0)))
      q.processAllAvailable()
      val late = spark.table("st_asof_late").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      assert(late(2) === ((2L, -1L, -1L)))       // late → unmatched
      assert(late(3) === ((3L, 20L, q20(2.0)))) // state untouched by it
    } finally {
      q.stop()
      spark.catalog.dropTempView("st_asof_late")
    }
  }

  test("replayDrift: streamed PSI finals equal the batch driftPsi " +
      "bit-for-bit, at any micro-batch count, with NaN/null missing") {
    val rng = new scala.util.Random(31)
    // base ~N-ish spread, current shifted — nonzero drift terms; plant
    // nulls and NaNs on the current side (must count in NO bin, the
    // quantize missing rule) and ties on bin edges (strict-greater)
    val base = Seq.tabulate(400)(i =>
      (i.toLong, rng.nextDouble() * 10.0))
      .toDF("id", "v")
    val curVals: Seq[java.lang.Double] =
      Seq.tabulate(300)(i => rng.nextDouble() * 10.0 + 2.0)
        .map(java.lang.Double.valueOf) ++
        Seq(null, java.lang.Double.valueOf(Double.NaN))
    val cur = curVals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val batch = graft.ops.Profiler.driftPsi(base, cur, "v", bins = 5)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    for (nb <- Seq(1, 5)) {
      val streamed = StreamPipeline.replayDrift(base, cur, "v",
        bins = 5, numBatches = nb)
        .orderBy("bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(streamed === batch, s"numBatches=$nb")
    }
    // the missing rows really were excluded: streamed cur_n totals the
    // finite values only
    assert(batch.map(_._3).sum === 300L)
  }

  test("replayDrift fuzz: random distributions, bin counts, and " +
      "batch boundaries all equal the batch driftPsi bit-for-bit") {
    for (trial <- 0 until 5) {
      val rng = new scala.util.Random(7700 + trial)
      val bins = Seq(2, 4, 5, 10)(rng.nextInt(4))
      // clustered integers/64 force edge ties (strict-greater rule);
      // a sprinkle of NaN/null exercises the missing rule
      def vals(n: Int): Seq[java.lang.Double] = Seq.tabulate(n) { i =>
        rng.nextInt(20) match {
          case 0 => null
          case 1 => java.lang.Double.valueOf(Double.NaN)
          case _ => java.lang.Double.valueOf(
            (rng.nextInt(320) - 160) / 64.0)
        }
      }
      val base = vals(60 + rng.nextInt(200)).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val cur = vals(40 + rng.nextInt(200)).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val batch = graft.ops.Profiler.driftPsi(base, cur, "v", bins)
        .orderBy("bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val streamed = StreamPipeline.replayDrift(base, cur, "v", bins,
          numBatches = 1 + rng.nextInt(6))
        .orderBy("bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(streamed === batch, s"trial $trial bins=$bins")
    }
  }

  test("driftStream rejects unsorted edges and empty edge lists") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Option[Double]]
    val df = in.toDF().toDF("v")
    intercept[IllegalArgumentException] {
      StreamPipeline.driftStream(df, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      StreamPipeline.driftStream(df, "v", Seq(5L, 1L))
    }
  }

  test("asofStream: rows arriving DISORDERED within micro-batches and " +
      "interleaved across keys still equal the ordered feed — the " +
      "within-watermark disorder contract") {
    // same fixture as the replayAsof test, but the feed shuffles each
    // micro-batch internally (per-key event times stay non-decreasing
    // ACROSS batches — the operator's stated precondition; equal-ts
    // runs split across the boundary on purpose)
    implicit val sqlCtx = SparkTestBase.session.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, Long, Double)]
    val enriched = StreamPipeline.asofStream(
      in.toDF().toDF("user_id", "ts_us", "event_id", "value"),
      "user_id", "ts_us", "event_id", "value").toDF()
    val q = enriched.writeStream.format("memory")
      .queryName("st_asof_ooo").outputMode("append").start()
    try {
      // (user, ts, id, value) — ids and users deliberately scrambled
      // inside each batch; user 2's equal-ts run straddles b1/b2
      in.addData(Seq((1L, 10L, 1L, 2.0), (2L, 15L, 6L, 4.0),
        (1L, 10L, 0L, 1.25)))
      q.processAllAvailable()
      in.addData(Seq((1L, 20L, 4L, 1.0), (2L, 15L, 7L, 1.0),
        (1L, 20L, 2L, 0.5), (1L, 20L, 3L, 0.25)))
      q.processAllAvailable()
      in.addData(Seq((1L, 30L, 5L, 9.0)))
      q.processAllAvailable()
      val out = spark.table("st_asof_ooo").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .toSeq
      def q20(x: Double) = math.floor(x * 1048576.0 + 0.5).toLong
      assert(out === Seq(
        (0L, -1L, -1L), (1L, -1L, -1L),
        (2L, 10L, q20(1.25) + q20(2.0)),
        (3L, 10L, q20(1.25) + q20(2.0)),
        (4L, 10L, q20(1.25) + q20(2.0)),
        (5L, 20L, q20(0.5) + q20(0.25) + q20(1.0)),
        (6L, -1L, -1L), (7L, -1L, -1L)))
    } finally {
      q.stop()
      spark.catalog.dropTempView("st_asof_ooo")
    }
  }

  test("asofStream: tolerance bounds the lookback like the batch " +
      "asofJoin contract — a too-old prev emits unmatched, state " +
      "stays O(1)") {
    implicit val sqlCtx = SparkTestBase.session.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, Long, Double)]
    val enriched = StreamPipeline.asofStream(
      in.toDF().toDF("user_id", "ts_us", "event_id", "value"),
      "user_id", "ts_us", "event_id", "value",
      tolerance = Some(15L)).toDF()
    val q = enriched.writeStream.format("memory")
      .queryName("st_asof_tol").outputMode("append").start()
    try {
      in.addData(Seq((1L, 10L, 0L, 1.0), (1L, 20L, 1L, 2.0),
        (1L, 100L, 2L, 3.0), (1L, 110L, 3L, 4.0)))
      q.processAllAvailable()
      val out = spark.table("st_asof_tol").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .toSeq
      def q20(x: Double) = math.floor(x * 1048576.0 + 0.5).toLong
      assert(out === Seq(
        (0L, -1L, -1L),
        (1L, 10L, q20(1.0)),     // gap 10 <= 15: attached
        (2L, -1L, -1L),          // gap 80 > 15: too stale, unmatched
        (3L, 100L, q20(3.0))))   // gap 10 <= 15 to the t=100 snapshot
    } finally {
      q.stop()
      spark.catalog.dropTempView("st_asof_tol")
    }
  }

  test("asofStream fuzz: random multi-key feeds at random micro-batch " +
      "boundaries equal a brute-force snapshot reference, with and " +
      "without tolerance") {
    implicit val sqlCtx = SparkTestBase.session.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def q20(x: Double) = math.floor(x * 1048576.0 + 0.5).toLong
    for (trial <- 0 until 5) {
      val rng = new scala.util.Random(500 + trial)
      // dense ts range forces equal-ts runs; values exercise the
      // fixed-point sum; one NaN per trial exercises the missing rule
      val n = 25 + rng.nextInt(25)
      val rows = Seq.tabulate(n) { i =>
        val v = if (i == 7) Double.NaN
          else (rng.nextInt(800) - 400) / 64.0
        (rng.nextInt(4).toLong, rng.nextInt(12).toLong, i.toLong, v)
      }.sortBy(r => (r._2, r._3)) // the ascending feed contract
      val tol = if (trial % 2 == 0) None else Some(rng.nextInt(5).toLong)
      // reference: per (user, ts) snapshot sums over FINITE values;
      // prev = largest strictly-smaller snapshot ts of the user
      val snaps = rows.filterNot(_._4.isNaN)
        .groupBy(r => (r._1, r._2))
        .map { case ((u, ts), g) => (u, ts) -> g.map(r => q20(r._4)).sum }
      def expected(u: Long, ts: Long, id: Long, isNaN: Boolean)
          : (Long, Long) = {
        // a NaN event never WRITES: it opens/advances no snapshot and
        // not even the high-water mark — so it reads only snapshots
        // CLOSED at its processing point (one behind a finite event at
        // the same ts, whose arrival closes the previous snapshot)
        val finite = rows.filter(r => r._1 == u && !r._4.isNaN)
        val prevTs: Option[Long] =
          if (!isNaN) finite.map(_._2).filter(_ < ts).sorted.lastOption
          else finite
            .filter(r => r._2 < ts || (r._2 == ts && r._3 < id))
            .map(_._2).sorted.lastOption
            .flatMap(cur =>
              finite.map(_._2).filter(_ < cur).sorted.lastOption)
        prevTs match {
          case Some(pt) if tol.forall(t => ts - pt <= t) =>
            (pt, snaps((u, pt)))
          case _ => (-1L, -1L)
        }
      }
      val in = MemoryStream[(Long, Long, Long, Double)]
      val enriched = StreamPipeline.asofStream(
        in.toDF().toDF("user_id", "ts_us", "event_id", "value"),
        "user_id", "ts_us", "event_id", "value", tol).toDF()
      val sink = s"st_asof_fuzz_$trial"
      val q = enriched.writeStream.format("memory")
        .queryName(sink).outputMode("append").start()
      try {
        var rest = rows
        while (rest.nonEmpty) {
          val take = 1 + rng.nextInt(12)
          in.addData(rest.take(take))
          q.processAllAvailable()
          rest = rest.drop(take)
        }
        val out = spark.table(sink).orderBy("event_id")
          .collect()
          .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        for ((id, ats, asum) <- out) {
          val (u, ts, _, v) = rows.find(_._3 == id).get
          val (ets, esum) = expected(u, ts, id, v.isNaN)
          assert((ats, asum) === ((ets, esum)),
            s"trial $trial tol=$tol event=$id u=$u ts=$ts: " +
              s"got ($ats,$asum) expected ($ets,$esum)\nrows=$rows")
        }
      } finally {
        q.stop()
        spark.catalog.dropTempView(sink)
      }
    }
  }

  test("asofStream: NaN reads but never writes (missing-value rule); " +
      "Infinity fails the query loudly") {
    implicit val sqlCtx = SparkTestBase.session.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Long, Long, Double)]
    val enriched = StreamPipeline.asofStream(
      in.toDF().toDF("user_id", "ts_us", "event_id", "value"),
      "user_id", "ts_us", "event_id", "value").toDF()
    val q = enriched.writeStream.format("memory")
      .queryName("st_asof_nan").outputMode("append").start()
    try {
      in.addData(Seq((1L, 10L, 0L, 1.0), (1L, 20L, 1L, 2.0),
        (1L, 20L, 2L, Double.NaN), (1L, 30L, 3L, 5.0)))
      q.processAllAvailable()
      val out = spark.table("st_asof_nan").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .toSeq
      def q20(x: Double) = math.floor(x * 1048576.0 + 0.5).toLong
      assert(out === Seq(
        (0L, -1L, -1L),
        (1L, 10L, q20(1.0)),
        // the NaN event at ts 20 reads the CLOSED t=10 snapshot —
        // and its NaN must NOT poison the open t=20 sum as a 0
        (2L, 10L, q20(1.0)),
        (3L, 20L, q20(2.0))))
    } finally {
      q.stop()
      spark.catalog.dropTempView("st_asof_nan")
    }
    val in2 = MemoryStream[(Long, Long, Long, Double)]
    val enriched2 = StreamPipeline.asofStream(
      in2.toDF().toDF("user_id", "ts_us", "event_id", "value"),
      "user_id", "ts_us", "event_id", "value").toDF()
    val q2 = enriched2.writeStream.format("memory")
      .queryName("st_asof_inf").outputMode("append").start()
    try {
      in2.addData(Seq((1L, 10L, 0L, Double.PositiveInfinity)))
      val e = intercept[Throwable] { q2.processAllAvailable() }
      def chain(t: Throwable): String = {
        val sb = new StringBuilder
        var c: Throwable = t
        while (c != null) { sb.append(Option(c.getMessage).getOrElse(""))
          .append('\n'); c = c.getCause }
        sb.toString
      }
      assert(chain(e).contains("non-finite"), chain(e))
    } finally {
      q2.stop()
      spark.catalog.dropTempView("st_asof_inf")
    }
  }

  test("replayLabels fuzz: streamed outcome-label finals equal the " +
      "batch X70 pass across random logs, horizons, ts ties, and " +
      "micro-batch boundaries (X71)") {
    for (trial <- 0 until 4) {
      val rng = new scala.util.Random(9100 + trial)
      val horizon = Seq(1000000L, 5000000L, 20000000L)(rng.nextInt(3))
      val n = 40 + rng.nextInt(120)
      val rows = Seq.tabulate(n) { i =>
        (i.toLong,
          rng.nextInt(40).toLong * 1000000L +
            rng.nextInt(3).toLong * 500000L, // forced equal-us runs
          rng.nextInt(4).toLong,
          if (rng.nextInt(4) == 0) "buy" else "view")
      }
      val df = rows.toDF("event_id", "us", "user_id", "event_type")
        .withColumn("ts",
          timestamp_micros(col("us")).cast("timestamp_ntz"))
        .drop("us")
      val streamed = StreamPipeline.replayLabels(df, "user_id", "ts",
          "event_id", col("event_type") === "buy", horizon,
          numBatches = 1 + rng.nextInt(6))
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
          r.getLong(5))).toSeq
      val batch = graft.ops.Sessions.labelOutcomes(df, "user_id", "ts",
          "event_id", col("event_type") === "buy", horizon)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
          r.getLong(5))).toSeq
      assert(streamed === batch, s"trial $trial horizon=$horizon " +
        s"n=$n")
    }
  }
  test("replayTrailing fuzz: streamed at-arrival trailing features " +
      "equal the batch X73 RANGE-frame pass across random logs, " +
      "windows, ts ties, NaN values, and micro-batch boundaries (X77)") {
    for (trial <- 0 until 4) {
      val rng = new scala.util.Random(9300 + trial)
      val window = Seq(1000000L, 5000000L, 20000000L)(rng.nextInt(3))
      val n = 40 + rng.nextInt(120)
      val rows = Seq.tabulate(n) { i =>
        (i.toLong,
          rng.nextInt(40).toLong * 1000000L +
            rng.nextInt(3).toLong * 500000L, // forced equal-us runs
          rng.nextInt(4).toLong,
          if (rng.nextInt(5) == 0) Double.NaN
          else rng.nextInt(100) / 8.0)
      }
      val df = rows.toDF("event_id", "us", "user_id", "value")
        .withColumn("ts",
          timestamp_micros(col("us")).cast("timestamp_ntz"))
        .drop("us")
      val streamed = StreamPipeline.replayTrailing(df, "user_id",
          "ts", "event_id", "value", window,
          numBatches = 1 + rng.nextInt(6))
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
          r.getLong(5))).toSeq
      val batch = graft.ops.Features.trailingFeatures(df, "user_id",
          "ts", "event_id", "value", window)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
          r.getLong(5))).toSeq
      assert(streamed === batch, s"trial $trial window=$window n=$n")
    }
  }

  test("trailingStream: a late arrival (us below the key's high-water) " +
      "emits -1 sentinels and leaves the state untouched (X77)") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Double)]
    val out = StreamPipeline.trailingStream(
      in.toDF().toDF("user_id", "ts_us", "event_id", "value"),
      "user_id", "ts_us", "event_id", "value", windowUs = 100L).toDF()
    val sink = s"st_trail_late_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      in.addData(Seq((1L, 50L, 0L, 2.0), (1L, 120L, 1L, 4.0)))
      q.processAllAvailable()
      // event 2 arrives LATE (us 60 < high-water 120)
      in.addData(Seq((1L, 60L, 2L, 8.0)))
      q.processAllAvailable()
      // event 3 on time: frame [21, 119] sees ids 0 and 1 — the late
      // event never entered the state
      in.addData(Seq((1L, 121L, 3L, 1.0)))
      q.processAllAvailable()
      val r = spark.table(sink).orderBy("event_id").collect()
        .map(x => (x.getLong(0), x.getLong(3), x.getLong(4),
          x.getLong(5))).toSeq
      val qv = (v: Double) => math.floor(v * 1048576.0 + 0.5).toLong
      assert(r === Seq(
        (0L, 0L, 0L, 0L),
        (1L, 1L, 1L, qv(2.0)),
        (2L, -1L, -1L, -1L),
        (3L, 2L, 2L, qv(2.0) + qv(4.0))))
    } finally {
      q.stop()
      spark.sql(s"DROP VIEW IF EXISTS $sink")
    }
  }
  test("replayFunnel fuzz: streamed flush finals equal the batch X75 " +
      "funnel across random logs, windows, ts ties, and micro-batch " +
      "boundaries (X81)") {
    val steps = Seq("s1", "s2", "s3")
    for (trial <- 0 until 4) {
      val rng = new scala.util.Random(9500 + trial)
      val window = Seq(5000000L, 20000000L, 40000000L)(rng.nextInt(3))
      val n = 60 + rng.nextInt(140)
      val rows = Seq.tabulate(n) { i =>
        (i.toLong,
          rng.nextInt(40).toLong * 1000000L +
            rng.nextInt(3).toLong * 500000L, // forced equal-us runs
          rng.nextInt(5).toLong,
          s"s${rng.nextInt(4) + 1}") // s4 = funnel-irrelevant noise
      }
      val df = rows.toDF("event_id", "us", "user_id", "event_type")
        .withColumn("ts",
          timestamp_micros(col("us")).cast("timestamp_ntz"))
        .drop("us")
      val streamed = StreamPipeline.replayFunnel(df, "user_id", "ts",
          "event_id", "event_type", steps, window,
          numBatches = 1 + rng.nextInt(6))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      val batch = graft.ops.Features.funnel(df, "user_id", "ts",
          "event_type", steps, window)
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      assert(streamed === batch, s"trial $trial window=$window n=$n")
    }
  }
}
