package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/**
 * Scalar quantization (X48): exact-integer codebook training (per-dim
 * fixed-point min/max), encode determinism and clamping, and the
 * fully-deterministic integer-dot-product top-k.
 */
class SqSpec extends SparkTestBase {
  import spark.implicits._

  /** Clustered synthetic embeddings (the PqSpec generator shape):
    * `groups` centers in 16-dim space, `per` members each. */
  private def clustered(groups: Int, per: Int): Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(5)
    val centers = Seq.fill(groups)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    (0 until groups * per).map { i =>
      val c = centers(i % groups)
      val v = c.zipWithIndex.map { case (x, j) =>
        x + ((i / groups + j) % 7 - 3) * 0.01f
      }
      (i.toLong, v.toSeq)
    }
  }

  test("codebook and codes are bit-identical across partitionings") {
    val rows = clustered(6, 40)
    val df1 = rows.toDF("id", "vec").repartition(1)
    val df12 = rows.toDF("id", "vec").repartition(12)
    val cb1 = Similarity.sqTrain(df1, "vec")
    val cb12 = Similarity.sqTrain(df12, "vec")
    assert(cb1.minQ.toSeq === cb12.minQ.toSeq)
    assert(cb1.maxQ.toSeq === cb12.maxQ.toSeq)
    val enc = (df: org.apache.spark.sql.DataFrame,
        cb: Similarity.SqCodebook) =>
      Similarity.sqEncode(df, cb, "id", "vec").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(enc(df1, cb1) === enc(df12, cb12))
  }

  test("exact twins share codes; recon error is nonnegative and zero " +
      "for a constant dimension") {
    val base = clustered(4, 30)
    val rows = base :+ (9999L, base(3)._2) // planted exact twin of id 3
    val df = rows.toDF("id", "vec").repartition(3)
    val cb = Similarity.sqTrain(df, "vec")
    val enc = Similarity.sqEncode(df, cb, "id", "vec")
      .select("id", "code_digest", "code_sum", "recon_q")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(enc(9999L) === enc(3L))
    assert(enc.values.forall(_._3 >= 0L))
    // a constant column spans zero: code 0 everywhere, zero error there
    val const = (0 until 10).map(i => (i.toLong, Seq(1.5f, i.toFloat)))
      .toDF("id", "vec")
    val ccb = Similarity.sqTrain(const, "vec")
    assert(ccb.spanQ(0) === 0L)
    val cenc = Similarity.sqEncode(const, ccb, "id", "vec").collect()
    cenc.foreach { r =>
      assert(r.getAs[Array[Byte]]("sq_code")(0) === 0.toByte)
    }
  }

  test("out-of-range batch clamps to the code boundaries instead of " +
      "failing") {
    val train = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 1.0f)))
      .toDF("id", "vec")
    val cb = Similarity.sqTrain(train, "vec")
    val batch = Seq((7L, Seq(-5.0f, 9.0f))).toDF("id", "vec")
    val r = Similarity.sqEncode(batch, cb, "id", "vec").head()
    val codes = r.getAs[Array[Byte]]("sq_code")
    assert((codes(0) & 0xff) === 0)   // below min → 0
    assert((codes(1) & 0xff) === 255) // above max → 255
  }

  test("sq top-k: planted twins tie at the top in id order; the " +
      "result is partition-invariant and matches the served-codebook " +
      "path") {
    val base = clustered(5, 24)
    // ids 3/38/73/108 are exact copies (offset cycles every 7); plant
    // one more twin — all five tie at the query's own max score
    val rows = base :+ (9999L, base(3)._2)
    val q = Seq((3L, base(3)._2)).toDF("qid", "vec")
    def run(parts: Int) =
      Similarity.sqTopK(rows.toDF("id", "vec").repartition(parts), q,
        "id", "vec", "qid", k = 5)
        .orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val r3 = run(3)
    assert(r3.map(_._1) === Seq(3L, 38L, 73L, 108L, 9999L),
      s"expected the four exact copies + planted twin in id order, " +
        s"got $r3")
    assert(r3.map(_._2).distinct.size === 1) // identical exact scores
    assert(run(11) === r3)
    val corpus = rows.toDF("id", "vec").repartition(3)
    val served = Similarity.sqTopK(corpus, q, "id", "vec", "qid", k = 5,
      codebook = Some(Similarity.sqTrain(corpus, "vec")))
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(served === r3)
  }

  test("sq top-k recall vs exact cosine on unit-norm clustered data") {
    // MIPS == cosine only on the unit sphere (the embedding-store
    // contract this operator documents) — normalize the corpus first
    val rows = clustered(5, 24).map { case (id, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / n))
    }
    val df = rows.toDF("id", "vec")
    val q = rows.take(4).toDF("qid", "vec")
    val exact = Similarity.bruteForceTopK(df, q, "id", "vec", "qid",
      k = 10).select("query_id", "id")
    val approx = Similarity.sqTopK(df, q, "id", "vec", "qid", k = 10)
      .select("query_id", "id")
    val hits = approx.join(exact, Seq("query_id", "id")).count()
    // the clustered generator stacks near-ties at the top-10 boundary
    // (intra-cluster offsets are 0.01-scale), so a handful of
    // quantization tie-flips are expected: floor at 0.8
    assert(hits >= 32, s"sq recall too low: $hits/40 exact hits")
  }

  test("codebook save/load round-trips exactly: reloaded encode is " +
      "bit-identical") {
    val rows = clustered(4, 20)
    val df = rows.toDF("id", "vec").repartition(3)
    val cb = Similarity.sqTrain(df, "vec")
    val dir = tempDir("sq-cb").toString + "/cb"
    Similarity.saveSqCodebook(spark, cb, dir)
    val cb2 = Similarity.loadSqCodebook(spark, dir)
    assert(cb2.minQ.toSeq === cb.minQ.toSeq)
    assert(cb2.maxQ.toSeq === cb.maxQ.toSeq)
    val e1 = Similarity.sqEncode(df, cb, "id", "vec")
      .orderBy("id").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSeq
    val e2 = Similarity.sqEncode(df, cb2, "id", "vec")
      .orderBy("id").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSeq
    assert(e1 === e2)
  }

  test("exactness guard rejects component magnitudes that would " +
      "overflow the lossless Long↔Double score range") {
    val big = Seq((0L, Seq(1.0e4f, 0.0f)), (1L, Seq(-1.0e4f, 1.0f)))
      .toDF("id", "vec")
    val q = Seq((0L, Seq(1.0e4f, 0.0f))).toDF("qid", "vec")
    val e = intercept[IllegalArgumentException] {
      Similarity.sqTopK(big, q, "id", "vec", "qid", k = 1)
    }
    assert(e.getMessage.contains("exact"))
  }
}
