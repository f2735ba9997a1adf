package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, IntegerType}

/**
 * ABSOLUTE per-row output fingerprints of one 3-class softprob model,
 * one per predict output (margin, prediction, leaf ids, Saabas and
 * exact contributions, Saabas and exact interactions), each scored
 * with and without a per-row base-margin column. The base-margin rows
 * mix finite, NaN and null values, and a tenth of the feature values
 * are missing. The hashes were captured before the per-output scoring
 * expressions were merged into one, so a refactor of the scoring path
 * that moves a single output bit fails here.
 */
class ScoreOutputGoldenSpec extends SparkTestBase {
  import spark.implicits._
  import java.lang.{Double => JD, Float => JF}

  private lazy val df = {
    val rng = new scala.util.Random(2024)
    (1 to 240).map { i =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val c = rng.nextInt(4).toDouble
      val y = ((a + 0.7 * b + 0.5 * rng.nextGaussian()) / 2.4)
        .floor.max(0).min(2)
      val bm: java.lang.Double =
        if (i % 7 == 0) null
        else if (i % 11 == 0) Double.NaN
        else rng.nextGaussian() * 0.3
      (if (i % 10 == 0) Double.NaN else a, b, c, bm, y)
    }.toDF("a", "b", "c", "bm", "y")
  }

  private val withBm = DMatrixSpec(labelCol = Seq("y"),
    baseMarginCol = Some("bm"))
  private val withoutBm = DMatrixSpec(labelCol = Seq("y"),
    ignore = Seq("bm"))

  private lazy val model = GraftBoost.train(df, withBm,
    TrainParams(objective = "multi:softprob", numClass = 3,
      numRounds = 4, maxDepth = 3, seed = 2025)).model

  /** Every predict output, as the frame each public call returns. */
  private def outputs(spec: DMatrixSpec): Seq[(String, DataFrame)] = Seq(
    "margin" -> GraftBoost.predict(model, df, spec, outputMargin = true),
    "prediction" -> GraftBoost.predict(model, df, spec),
    "leaf" -> GraftBoost.predictLeaf(model, df, spec),
    "contribs_saabas" ->
      GraftBoost.predictContrib(model, df, spec, approxContribs = true),
    "contribs_exact" -> GraftBoost.predictContrib(model, df, spec),
    "interactions_saabas" -> GraftBoost.predictInteractions(model, df,
      spec, approxInteractions = true),
    "interactions_exact" -> GraftBoost.predictInteractions(model, df,
      spec))

  /** SHA-256 over the bits of every added column of every row, in row
    * order. */
  private def fingerprint(out: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
    val added = out.schema.fields.filterNot(f => df.columns.contains(f.name))
    def put(t: DataType, v: Any): Unit = t match {
      case FloatType => buf.writeInt(JF.floatToRawIntBits(v.asInstanceOf[Float]))
      case DoubleType =>
        buf.writeLong(JD.doubleToRawLongBits(v.asInstanceOf[Double]))
      case IntegerType => buf.writeInt(v.asInstanceOf[Int])
      case ArrayType(et, _) =>
        val s = v.asInstanceOf[scala.collection.Seq[Any]]
        buf.writeInt(s.length); s.foreach(put(et, _))
    }
    out.select(added.map(f => out.col(f.name)).toSeq: _*).collect()
      .foreach((r: Row) => added.indices.foreach(i =>
        put(added(i).dataType, r.get(i))))
    buf.flush()
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  private def check(spec: DMatrixSpec, expected: Map[String, String]) = {
    val got = outputs(spec).map { case (n, o) => n -> fingerprint(o) }.toMap
    assert(got === expected)
  }

  test("every per-row output without a base-margin column") {
    check(withoutBm, Map(
      "margin" -> "ed3e2b86742bb80403f4a732b252968b",
      "prediction" -> "c4e4956ce06e9068fed24b343d4106a8",
      "leaf" -> "161a819d739e3fe7992010b14e23de80",
      "contribs_saabas" -> "7f8833f0d4d3114d1e13b8105cdf7a52",
      "contribs_exact" -> "09581fd3098b6457bdad1be11c050e82",
      "interactions_saabas" -> "ec6d0fe2299c402138239aaf3a6918ca",
      "interactions_exact" -> "d977d7bb0240ec49788e4251ecb5e255"))
  }

  test("every per-row output with a base-margin column (finite, NaN " +
      "and null rows)") {
    check(withBm, Map(
      "margin" -> "1c7175ebe090402510fe6c33365e8fa3",
      "prediction" -> "04372d30b6fccd0f303c31822b6eccf7",
      "leaf" -> "161a819d739e3fe7992010b14e23de80",
      "contribs_saabas" -> "53fd7c92f102ac1f2d1a4d2680bd187a",
      "contribs_exact" -> "d7adddedbfeadbe50b7db263dc4aba36",
      "interactions_saabas" -> "800ee153d20c84ff0758864e0ab92a7d",
      "interactions_exact" -> "8b11c272bf5fdb468317adbd6475396b"))
  }
}
