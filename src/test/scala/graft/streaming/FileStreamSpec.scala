package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ops.TextOps

/**
 * Production-shaped streaming integration (verdict r19 #6): drives
 * [[StreamPipeline.dedupStream]] through a REAL file-source
 * `spark.readStream.schema(...).parquet(dir)` with parquet files
 * dropped into the watched directory one per trigger — the deployment
 * shape SCALING.md claims for every `st_*` operator — and asserts the
 * SAME oracle equality the MemoryStream-driven `st_dedup` harness row
 * checks: with every event time inside one watermark horizon, each
 * staged file pre-deduped on the stream's own key, and ids ascending
 * across files, watermark dedup must equal GLOBAL exact dedup
 * (min-id survivor per fingerprint).
 *
 * The staging protocol mirrors what a real pipeline's upstream writer
 * does: each micro-batch is written to scratch and its part file
 * MOVED atomically into the watched dir (the file source lists
 * whole files; a rename is the documented atomic hand-off).
 */
class FileStreamSpec extends SparkTestBase {

  test("dedupStream over a file-source readStream equals global " +
      "min-id dedup (st_dedup's oracle, production ingest shape)") {
    import spark.implicits._

    val root = tempDir("graft_filestream_").toString
    val watch = s"$root/in"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(watch))

    // duplicate-heavy corpus: 120 docs over a 23-text pool, so every
    // fingerprint recurs ~5 times across micro-batches
    val pool = (0 until 23).map(i => s"doc text variant $i payload")
    val all = (0L until 120L).map { id =>
      (id,
        new java.sql.Timestamp(1700000000000L + (id % 60) * 1000L),
        pool((id % 23).toInt))
    }

    // stage 5 ascending-id files; pre-dedup each file on the
    // fingerprint key (the same order-independence device replayDedup
    // uses: <=1 row per key per micro-batch makes which-row-first
    // immaterial inside the state op's shuffle)
    val batches = all.grouped(24).toSeq.map { b =>
      val seen = scala.collection.mutable.HashSet[String]()
      b.filter { case (_, _, txt) => seen.add(txt) }
    }

    val schema = batches.head.toDF("doc_id", "ts", "text").schema
    val in = spark.readStream.schema(schema).parquet(watch)
    val sink = s"fs_dedup_${System.nanoTime()}"
    val q = StreamPipeline
      .dedupStream(in, "ts", "text", "1 hour")
      .select("doc_id")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        val scratch = s"$root/stage_$i"
        b.toDF("doc_id", "ts", "text").coalesce(1)
          .write.parquet(scratch)
        // Files.list holds an open directory handle — close it (advice
        // r20: one leaked fd per staged batch otherwise)
        val listing = Files.list(Paths.get(scratch))
        val part =
          try listing.toArray.map(_.toString).filter(_.endsWith(".parquet"))
          finally listing.close()
        assert(part.length == 1, s"expected 1 part file, got ${part.toSeq}")
        Files.move(Paths.get(part.head),
          Paths.get(s"$watch/batch_$i.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = spark.table(sink).as[Long].collect().sorted.toSeq
    // the oracle: global exact dedup, min id per fingerprint — the
    // identical batch computation st_dedup's DuckDB oracle replays
    val want = all.toDF("doc_id", "ts", "text")
      .groupBy(TextOps.fingerprint(col("text")))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(want.nonEmpty && want.length < all.length,
      "fixture must actually contain duplicates")
    assert(got == want,
      s"file-source streaming dedup diverged from global dedup: " +
        s"got ${got.take(30)} want ${want.take(30)}")
  }
}
