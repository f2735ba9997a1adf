package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. The library only ever sees the parquet
  * these write; everything the output checks need to know about the
  * planted structure comes back from the generator itself. */
object Fixtures {

  /** BenchLarge's learnable construction (`BenchLarge.generateDF`,
    * mode "learnable"): two informative gaussians with the planted
    * boundary `1.5·x0 − x1 > 0`, two gaussian noise columns, labels
    * flipped with probability 0.2, `label_clean` = the pre-flip class,
    * `partition` = the part id. The per-part RNG is seeded
    * `1234 + pid + seed·1000003`, so seed 0 reproduces BenchLarge's
    * fixture row for row. `extraNoise` widens the table with further
    * gaussian columns drawn from a second RNG, leaving the first four
    * features identical to the narrow table of the same seed. */
  def learnable(spark: SparkSession, rows: Long, parts: Int, seed: Long,
      extraNoise: Int): DataFrame = {
    val perPart = rows / parts
    require(perPart * parts == rows,
      s"rows $rows must divide evenly into $parts parts")
    val nFeat = 4 + extraNoise
    val schema = StructType(
      (0 until nFeat).map(i => StructField(s"feature_$i", FloatType)) ++
        Seq(StructField("labels", IntegerType),
          StructField("label_clean", IntegerType),
          StructField("partition", IntegerType)))
    val rdd = spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap { pid =>
        val rng = new java.util.Random(1234L + pid + seed * 1000003L)
        val noise = new java.util.Random(~(1234L + pid + seed * 1000003L))
        Iterator.tabulate(perPart.toInt) { _ =>
          val x0 = rng.nextGaussian().toFloat
          val x1 = rng.nextGaussian().toFloat
          val clean = if (1.5 * x0 - x1 > 0) 1 else 0
          val y = if (rng.nextFloat() < 0.2f) 1 - clean else clean
          val x2 = rng.nextGaussian().toFloat
          val x3 = rng.nextGaussian().toFloat
          val cells = new Array[Any](nFeat + 3)
          cells(0) = x0; cells(1) = x1; cells(2) = x2; cells(3) = x3
          var f = 4
          while (f < nFeat) { cells(f) = noise.nextGaussian().toFloat; f += 1 }
          cells(nFeat) = y; cells(nFeat + 1) = clean; cells(nFeat + 2) = pid
          Row.fromSeq(cells.toSeq)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Vocabulary of the `documents` test table. */
  val Vocab: Array[String] = ("a agg batch big column customer data " +
    "fast filter group hash join key line merge order part query row " +
    "scan slow small sort spark stream table the value vector window")
    .split(" ")
  val Langs: Array[String] = Array("en", "zh", "es", "fr", "de")
  // cumulative language weights, from the test table's mix
  private val LangCdf = Array(0.41, 0.56, 0.71, 0.86, 1.0)

  /** Planted-structure rates of the synthetic corpus (shares of all
    * documents). */
  val ExactDupRate = 0.05
  val NearDupRate = 0.05
  val TypoDupRate = 0.05
  val LowQualityRate = 0.05
  val BoilerplateRate = 0.20
  val BoilerplateLines = 5

  final case class Doc(id: Long, text: String, lang: String,
      source: String)

  /** A generated corpus and its plants: `exactDups`, `nearDups` and
    * `typoDups` map each planted copy to the document it copies;
    * `lowQuality` docs fail the quality gate by construction. */
  final case class Corpus(docs: IndexedSeq[Doc],
      exactDups: Map[Long, Long], nearDups: Map[Long, Long],
      typoDups: Map[Long, Long], lowQuality: Set[Long],
      boilerplate: IndexedSeq[String])

  /** Synthetic corpus modelled on the `documents` test table: 10–100
    * vocabulary tokens per document (44–577 characters) broken into
    * lines of 6–12 tokens, five languages, five sources. Shares of
    * documents: `ExactDupRate` verbatim copies of an earlier clean
    * document, `NearDupRate` copies with one or two tokens replaced,
    * `TypoDupRate` copies of a clean document of 30 or more tokens with
    * one letter changed in each of 1 + tokens/20 words (enough to break
    * word 3-grams, too few to break 5-character shingles),
    * `LowQualityRate` too short (3–8 tokens) or punctuation-heavy, and
    * `BoilerplateRate` carry one of `BoilerplateLines` fixed lines. */
  def corpus(n: Int, seed: Long): Corpus = {
    val rng = new java.util.Random(seed * 7919L + 17L)
    def word(): String = Vocab(rng.nextInt(Vocab.length))
    def lines(toks: IndexedSeq[String]): String = {
      val out = new StringBuilder
      var i = 0
      while (i < toks.length) {
        val len = 6 + rng.nextInt(7)
        if (i > 0) out.append('\n')
        out.append(toks.slice(i, i + len).mkString(" "))
        i += len
      }
      out.toString
    }
    val boiler = IndexedSeq.fill(BoilerplateLines)(
      IndexedSeq.fill(8)(word()).mkString(" "))
    val docs = ArrayBuffer[Doc]()
    val clean = ArrayBuffer[Int]() // indices of clean originals
    val long = ArrayBuffer[Int]() // clean originals of 30+ tokens
    val exact = Map.newBuilder[Long, Long]
    val near = Map.newBuilder[Long, Long]
    val typo = Map.newBuilder[Long, Long]
    val low = Set.newBuilder[Long]
    var i = 0
    while (i < n) {
      val id = i.toLong
      val lang = Langs(LangCdf.indexWhere(_ >= rng.nextDouble()))
      val source = s"src${rng.nextInt(5)}"
      val u = rng.nextDouble()
      val text =
        if (u < ExactDupRate && clean.nonEmpty) {
          val src = docs(clean(rng.nextInt(clean.length)))
          exact += id -> src.id
          src.text
        } else if (u < ExactDupRate + NearDupRate && clean.nonEmpty) {
          val src = docs(clean(rng.nextInt(clean.length)))
          near += id -> src.id
          val pieces = src.text.split("(?<=\\s)|(?=\\s)")
          // replace 1–2 word tokens in place, keeping the line breaks
          val words = pieces.indices.filter(j => !pieces(j).isBlank)
          (0 until 1 + rng.nextInt(2)).foreach { _ =>
            val j = words(rng.nextInt(words.length))
            var w = word()
            while (w == pieces(j)) w = word()
            pieces(j) = w
          }
          pieces.mkString
        } else if (u < ExactDupRate + NearDupRate + TypoDupRate &&
            long.nonEmpty) {
          val src = docs(long(rng.nextInt(long.length)))
          typo += id -> src.id
          val pieces = src.text.split("(?<=\\s)|(?=\\s)")
          val words = pieces.indices.filter(j => !pieces(j).isBlank)
          val picked = new scala.util.Random(rng).shuffle(words.toList)
            .take(1 + words.length / 20)
          picked.foreach { j =>
            val w = pieces(j)
            val k = rng.nextInt(w.length)
            var c = w.charAt(k)
            while (c == w.charAt(k)) c = ('a' + rng.nextInt(26)).toChar
            pieces(j) = w.updated(k, c)
          }
          pieces.mkString
        } else if (u < ExactDupRate + NearDupRate + TypoDupRate +
            LowQualityRate) {
          low += id
          if (rng.nextBoolean())
            IndexedSeq.fill(3 + rng.nextInt(6))(word()).mkString(" ")
          else IndexedSeq.fill(10 + rng.nextInt(30))(
            word() + "!?#"(rng.nextInt(3)) + "!!").mkString(" ")
        } else {
          val nTok = 10 + rng.nextInt(91)
          val body = lines(IndexedSeq.fill(nTok)(word()))
          clean += docs.length
          if (nTok >= 30) long += docs.length
          if (rng.nextDouble() < BoilerplateRate / (1 - ExactDupRate -
              NearDupRate - TypoDupRate - LowQualityRate))
            body + "\n" + boiler(rng.nextInt(BoilerplateLines))
          else body
        }
      docs += Doc(id, text, lang, source)
      i += 1
    }
    Corpus(docs.toIndexedSeq, exact.result(), near.result(), typo.result(),
      low.result(), boiler)
  }

  /** Writes `df` as parquet under `path` and renames its part-files to
    * `part-00000.parquet`, `part-00001.parquet`, … in task order. Spark
    * names part-files with a random job id; the file listing, and with
    * it the way equal-size files are packed into read splits, follows
    * the names, so fixed names make a fixture written again for the
    * same seed read back in the same row order. */
  def writeParquet(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    val dir = new Path(path)
    val fs = dir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).zipWithIndex.foreach { case (p, i) =>
        require(fs.rename(p, new Path(dir, f"part-$i%05d.parquet")),
          s"cannot rename $p")
      }
  }

  def corpusFrame(spark: SparkSession, docs: Seq[Doc], parts: Int)
      : DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs, parts)
      .map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Word 3-gram set Jaccard, the measure `CorpusPipeline.clean`'s
    * near-duplicate pass thresholds (lower-cased whitespace tokens). */
  def gramJaccard(a: String, b: String): Double = {
    def grams(s: String): Set[String] = {
      val t = s.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        .filter(_.nonEmpty)
      if (t.length < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    jaccard(grams(a), grams(b))
  }

  /** 5-character shingle set Jaccard, the measure `Dedup.minhashLsh`
    * verifies exactly (lower-cased, whitespace runs collapsed). */
  def shingleJaccard(a: String, b: String): Double = {
    def shingles(s: String): Set[String] = {
      val t = s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        .trim
      if (t.length < 5) Set(t) else t.sliding(5).toSet
    }
    jaccard(shingles(a), shingles(b))
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.intersect(b).size.toDouble
    common / (a.size + b.size - common)
  }
}
