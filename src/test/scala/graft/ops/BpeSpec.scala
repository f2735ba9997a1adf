package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/**
 * BPE tokenizer training (`TextOps.trainBpe` / `bpeTokenCounts`) —
 * Sennrich et al. 2016 merge learning over the one-scan word-frequency
 * table.
 *
 * Pins the classic worked example from the paper: the corpus
 * {low×5, lower×2, newest×6, widest×3} must learn merges
 * (e,s) → (es,t) → (est,</w>) → (l,o) → (lo,w), after which
 * "lowest" (never seen in training) encodes to [low, est</w>].
 */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def sennrichCorpus(parts: Int) = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text").repartition(parts)
  }

  test("Sennrich worked example learns the known merge sequence") {
    val m = TextOps.trainBpe(sennrichCorpus(3), "text", numMerges = 5)
    assert(m.merges === Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w")))
  }

  test("encode generalizes: 'lowest' (unseen) -> [low, est</w>]") {
    val m = TextOps.trainBpe(sennrichCorpus(2), "text", numMerges = 5)
    assert(m.encode("lowest").toSeq === Seq("low", "est</w>"))
    // a fully-unknown word falls back to characters + end mark
    assert(m.encode("zq").toSeq === Seq("z", "q", "</w>"))
    // a trained word encodes to its merged form
    assert(m.encode("low").toSeq === Seq("low", "</w>"))
  }

  test("merge table is partition-invariant (exact long counts + " +
      "lexicographic tie-break)") {
    val m1 = TextOps.trainBpe(sennrichCorpus(1), "text", numMerges = 20)
    val m8 = TextOps.trainBpe(sennrichCorpus(8), "text", numMerges = 20)
    assert(m1.merges === m8.merges)
  }

  test("learning stops when the best pair count drops below 2 " +
      "(no hapax memorization)") {
    // every word unique -> after the shared-suffix merges are
    // exhausted, remaining pairs are singletons
    val df = Seq((1L, "ab"), (2L, "cd")).toDF("id", "text")
    val m = TextOps.trainBpe(df, "text", numMerges = 100)
    assert(m.merges.isEmpty,
      s"all pairs are singletons, got ${m.merges}")
  }

  test("bpeTokenCounts appends per-doc subword counts under the " +
      "trained vocab") {
    val m = TextOps.trainBpe(sennrichCorpus(2), "text", numMerges = 5)
    val docs = Seq(
      (1L, "low lowest"),       // [low </w>] + [low est</w>] = 2 + 2
      (2L, ""),                 // 0
      (3L, "  newest  "),       // n e w est</w> = 4 (no n-e merges yet)
      (4L, null.asInstanceOf[String])) // 0
      .toDF("id", "text")
    val out = TextOps.bpeTokenCounts(docs, "id", "text", m)
      .select("id", "bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 4L)
    assert(out(2L) === 0L)
    assert(out(3L) === 4L)
    assert(out(4L) === 0L)
  }

  test("maxWords cuts the frequency table by (count desc, word asc)") {
    // cap to 2 word types: newest(6) and low(5) survive; merges can
    // then only come from their symbols
    val m = TextOps.trainBpe(sennrichCorpus(2), "text", numMerges = 3,
      maxWords = 2)
    assert(m.merges.nonEmpty)
    // (e,s) from newest alone has count 6 and still wins round 1
    assert(m.merges.head === ("e", "s"))
  }

  test("bpeTokens emits the subword sequence and decodeBpe inverts " +
      "it up to normalization") {
    val m = TextOps.trainBpe(sennrichCorpus(2), "text", numMerges = 5)
    val docs = Seq((1L, "  Low  lowest "), (2L, ""))
      .toDF("id", "text")
    val rows = TextOps.bpeTokens(docs, "id", "text", m)
      .select("id", "bpe_seq").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows(1L) === Seq("low", "</w>", "low", "est</w>"))
    assert(rows(2L) === Seq.empty)
    assert(TextOps.decodeBpe(rows(1L)) === "low lowest")
    assert(TextOps.decodeBpe(Nil) === "")
  }

  test("save/load round-trips the ranked merge table") {
    val m = TextOps.trainBpe(sennrichCorpus(2), "text", numMerges = 5)
    val dir = tempDir("bpe").toString
    TextOps.saveBpe(spark, m, dir + "/model")
    val loaded = TextOps.loadBpe(spark, dir + "/model")
    assert(loaded.merges === m.merges)
    assert(loaded.encode("lowest").toSeq === m.encode("lowest").toSeq)
  }
}
