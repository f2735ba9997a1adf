package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/**
 * Unigram LM tokenizer (X101, Kudo 2018): exact-BIGINT Viterbi
 * semantics (optimality, tie rule, unknown handling), trainer
 * determinism across partitionings, and the compression property the
 * in-query pin rides on.
 */
class UnigramSpec extends SparkTestBase {
  import spark.implicits._

  test("Viterbi picks the max-score segmentation on exact integers") {
    val m = Unigram.UnigramModel(Seq(
      ("ab", -100L), ("c", -100L), ("abc", -500L),
      ("a", -200L), ("b", -200L)))
    // ab+c = -200 beats abc = -500 and a+b+c = -500
    assert(m.encode("abc").toSeq == Seq("ab", "c"))
  }

  test("equal scores break to the LONGEST last piece (the rule the " +
      "SQL oracle's first-max list_position mirrors)") {
    val m = Unigram.UnigramModel(Seq(
      ("ab", -4L), ("bc", -4L), ("a", -4L), ("c", -4L)))
    // "abc": [a, bc] = -8 ties [ab, c] = -8 → last piece "bc" (longer)
    assert(m.encode("abc").toSeq == Seq("a", "bc"))
  }

  test("unknown characters segment as single-char UNK pieces and " +
      "never beat known pieces") {
    val m = Unigram.UnigramModel(Seq(("ab", -10L), ("a", -20L)))
    assert(m.encode("abz").toSeq == Seq("ab", "z"))
    assert(m.encode("zab").toSeq == Seq("z", "ab"))
    assert(m.encode("").toSeq == Seq.empty)
  }

  test("trainUnigram is partition-invariant (exact long counts, " +
      "(count desc, piece asc) cuts, frozen quantized scores)") {
    val docs = (0L until 200L).map { i =>
      (i, s"alpha beta gamma${i % 7} alphabeta beta")
    }.toDF("doc_id", "text")
    val m1 = Unigram.trainUnigram(docs.coalesce(1), "text",
      vocabSize = 50, maxWords = 1000)
    val m8 = Unigram.trainUnigram(docs.repartition(8), "text",
      vocabSize = 50, maxWords = 1000)
    assert(m1.pieces == m8.pieces)
    assert(m1.pieces.exists(_._1.length > 1))
  }

  test("a learned table compresses the corpus it was trained on " +
      "(fewer pieces than characters) and encodes losslessly") {
    val docs = (0L until 100L).map { i =>
      (i, "stream window stream filter window join")
    }.toDF("doc_id", "text")
    val m = Unigram.trainUnigram(docs, "text", vocabSize = 20,
      maxWords = 100)
    val enc = Unigram.unigramTokens(docs, "text", m)
      .select(col("doc_id"), col("uni_seq"))
      .collect()
    enc.foreach { r =>
      val pieces = r.getSeq[String](1)
      assert(pieces.mkString("") == "streamwindowstreamfilterwindowjoin")
      assert(pieces.length < "streamwindowstreamfilterwindowjoin".length)
    }
  }

  test("save/load round-trips the piece table bit-exactly (exact " +
      "integer scores, rank-pinned order)") {
    val docs = (0L until 60L).map(i => (i, "join hash join scan"))
      .toDF("doc_id", "text")
    val m = Unigram.trainUnigram(docs, "text", vocabSize = 10,
      maxWords = 100)
    val dir = tempDir("graft_uni_").toString + "/model"
    Unigram.saveUnigram(spark, m, dir)
    val re = Unigram.loadUnigram(spark, dir)
    assert(re.pieces == m.pieces)
    assert(re.encode("joinscan").toSeq == m.encode("joinscan").toSeq)
  }

  test("encode is deterministic under the harness's fixed piece " +
      "table on adversarial inputs") {
    val m = Unigram.UnigramModel(graft.SparkEntry.UnigramFixedPieces)
    // multi-level overlap: "customer" = custom + er (both in table)
    assert(m.encode("customer").toSeq == Seq("custom", "er"))
    // repeated encode returns the identical array
    val w = "thejoinhashbatchquery"
    assert(m.encode(w).toSeq == m.encode(w).toSeq)
    assert(m.encode(w).mkString("") == w)
  }
}
