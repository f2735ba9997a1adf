package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(sf("sf0.001") + "/documents.parquet").cache()
  private lazy val embs =
    spark.read.parquet(sf("sf0.001") + "/embeddings.parquet").cache()

  test("tokenCount matches manual whitespace split") {
    val rows = Seq(("a b  c", 3), ("  ", 0), ("single", 1), ("x\ty z", 3))
      .toDF("text", "expect")
    val got = rows.withColumn("n", TextOps.tokenCount($"text"))
      .filter($"n" =!= $"expect").count()
    assert(got === 0)
  }

  test("langId identifies planted language snippets") {
    val rows = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("der hund ist nicht mit der katze und auch nicht", "de"),
      ("le chat est dans la maison avec le chien et il est", "fr"),
      ("el perro y el gato en la casa con su amigo", "es"))
      .toDF("text", "expect")
    val wrong = rows.withColumn("lang", TextOps.langId($"text"))
      .filter($"lang" =!= $"expect").collect()
    assert(wrong.isEmpty, wrong.mkString(","))
  }

  test("quality score orders garbage below prose") {
    val q = Seq(
      ("This is a perfectly normal sentence with the usual words in it " +
        "and it keeps going for a while to be long enough.", "good"),
      ("!!!###@@@ ???", "garbage"))
      .toDF("text", "kind")
      .withColumn("q", TextOps.qualityScore($"text"))
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(q("good") > q("garbage") + 0.3, q.toString)
  }

  test("repetition stats: hand-computed fractions on known docs") {
    val rows = Seq(
      (0L, "a a a a"),          // 1 token repeated: all fracs 1.0
      (1L, "a b c d"),          // all distinct: max_token 1/4, no rep
      (2L, "x y x y x y"),      // "x y"/"y x" alternation
      (3L, ""),                 // empty → all 0
      (4L, "solo"),             // 1 token: no 2/3-grams
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rep = TextOps.repetitionStats(col("text"))
    val out = rows.withColumn("rep", rep)
      .select(col("doc_id"), col("rep._1").as("mt"),
        col("rep._2").as("t2"), col("rep._3").as("d3"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0L) === ((1.0, 1.0, 1.0)))
    assert(out(1L) === ((0.25, 1.0 / 3, 0.0)))
    // "x y x y x y": tokens x:3 y:3 → 3/6; 2-grams x_y:3 y_x:2 → 3/5;
    // 3-grams xyx:2 yxy:2 → 4/4
    assert(out(2L) === ((0.5, 0.6, 1.0)))
    assert(out(3L) === ((0.0, 0.0, 0.0)))
    assert(out(4L) === ((1.0, 0.0, 0.0)))
    assert(out(5L) === ((0.0, 0.0, 0.0)))
  }

  test("PII counts and redaction: planted emails/phones/IPs") {
    val rows = Seq(
      (0L, "reach me at jo.doe+x@mail.example.org or 212-555-0100 ok"),
      (1L, "server 192.168.0.1 and 10.0.0.255 up"),
      (2L, "no pii here"),
      (3L, "a@b.co 1.2.3.4 111.222.333.4444"))
      .toDF("doc_id", "text")
    val (em, ph, ip) = TextOps.piiCounts(col("text"))
    val out = rows.select(col("doc_id"), em.as("e"), ph.as("p"),
      ip.as("i"), TextOps.redactPii(col("text")).as("red"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)), r.getString(4))).toMap
    assert(out(0L)._1 === ((1, 1, 0)))
    assert(out(0L)._2 === "reach me at <EMAIL> or <PHONE> ok")
    assert(out(1L)._1 === ((0, 0, 2)))
    assert(out(1L)._2 === "server <IP> and <IP> up")
    assert(out(2L)._1 === ((0, 0, 0)))
    assert(out(2L)._2 === "no pii here")
    // 111.222.333.4444: \d{1,3}-bounded groups still match a prefix
    // window (333.444 splits) — both engines agree; just assert parity
    // of the email and first clean IP
    assert(out(3L)._1._1 === 1)
    assert(out(3L)._2.startsWith("<EMAIL> <IP>"))
  }

  test("docFrequency: counts distinct docs per token, deterministic ties") {
    val rows = Seq(
      (0L, "alpha beta alpha"),   // alpha counted once per doc
      (1L, "alpha gamma"),
      (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val out = TextOps.docFrequency(rows, "doc_id", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(("alpha", 2L), ("beta", 2L), ("gamma", 2L)))
  }

  test("unigramLogProbs: hand-computed vocab, OOV floor, empty docs, " +
      "partition invariance") {
    // corpus: a×4, b×2, c×1, d×1 → total 8 tokens
    val rows = Seq(
      (0L, "a a b"),
      (1L, "A b c"),     // lowercased before counting
      (2L, "a d"),
      (3L, ""))
      .toDF("doc_id", "text")
    // vocabSize=2 keeps {a, b}; c and d take the OOV floor ln(0.5/8)
    val lpA = math.round(math.log(4.0 / 8.0) * 1e6)
    val lpB = math.round(math.log(2.0 / 8.0) * 1e6)
    val oov = math.round(math.log(0.5 / 8.0) * 1e6)
    val out = TextOps.unigramLogProbs(rows, "doc_id", "text",
      vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out(0L)._1 === 3L && out(0L)._2 === 2 * lpA + lpB)
    assert(out(1L)._1 === 3L && out(1L)._2 === lpA + lpB + oov)
    assert(out(2L)._1 === 2L && out(2L)._2 === lpA + oov)
    assert(out(3L) === ((0L, 0L, 0.0)))
    val mean0 = BigDecimal((2 * lpA + lpB).toDouble / 1e6 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L)._3 === mean0)
    // exact-integer outputs are partitioning-invariant by construction
    val re = TextOps.unigramLogProbs(rows.repartition(7), "doc_id",
      "text", vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(re === out)
  }

  test("bigram LM with stupid backoff: hand-computed tables, backoff " +
      "and OOV paths, empty docs, partition invariance (X54)") {
    // corpus: a=3, b=3, c=2 (total 8); pairs in-vocab{a,b}: (a,b)×3,
    // (b,a)×1
    val rows = Seq(
      (0L, "a b a b"),
      (1L, "a b c"),
      (2L, "c"),
      (3L, ""))
      .toDF("doc_id", "text")
    val lpA = math.round(math.log(3.0 / 8.0) * 1e6)
    val oov = math.round(math.log(0.5 / 8.0) * 1e6)
    val bk = math.round(math.log(0.4) * 1e6)
    val lpAB = 0L                                  // ln(3/3)
    val lpBA = math.round(math.log(1.0 / 3.0) * 1e6)
    val lm = TextOps.fitBigramLM(rows, "text", vocabSize = 2,
      maxBigrams = 10)
    assert(lm.vocab.map(_._1).sorted === Seq("a", "b"))
    assert(lm.bigrams.toMap ===
      Map("a\u0001b" -> lpAB, "b\u0001a" -> lpBA))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.scoreBigramLM(df, "doc_id", "text", lm).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
    val out = run(rows)
    assert(out(0L)._1 === 4L && out(0L)._2 === lpA + lpAB + lpBA + lpAB)
    assert(out(1L)._1 === 3L && out(1L)._2 === lpA + lpAB + bk + oov)
    assert(out(2L) === ((1L, oov, BigDecimal(oov.toDouble / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(3L) === ((0L, 0L, 0.0)))
    assert(run(rows.repartition(7)) === out)
    // save/load round-trips exactly (integer log-probs)
    val dir = tempDir("bigram-lm").toString + "/lm"
    TextOps.saveBigramLM(spark, lm, dir)
    val lm2 = TextOps.loadBigramLM(spark, dir)
    assert(lm2.vocab.toMap === lm.vocab.toMap)
    assert(lm2.bigrams.toMap === lm.bigrams.toMap)
    assert((lm2.oovMicro, lm2.backoffMicro, lm2.totalTokens) ===
      ((lm.oovMicro, lm.backoffMicro, lm.totalTokens)))
    // scoring under the RELOADED LM agrees bit-for-bit
    val out2 = TextOps.scoreBigramLM(rows, "doc_id", "text", lm2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out2 === out)
  }

  test("fitUnigramLM/scoreUnigramLM: cross-corpus scoring (the CCNet " +
      "mode) — fit on a reference corpus, score a different target") {
    val ref = Seq((0L, "a a a b")).toDF("doc_id", "text")
    val lm = TextOps.fitUnigramLM(ref, "text", vocabSize = 1)
    // vocab = {a: ln(3/4)}; b fell outside the cut; OOV = ln(0.5/4)
    val lpA = BigDecimal(math.log(3.0 / 4.0) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val oov = BigDecimal(math.log(0.5 / 4.0) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(lm.vocab === Seq(("a", lpA)) && lm.oovMicro === oov &&
      lm.totalTokens === 4L)
    val target = Seq((10L, "a zzz"), (11L, "")).toDF("doc_id", "text")
    val out = TextOps.scoreUnigramLM(target, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(10L) === ((2L, lpA + oov)))
    assert(out(11L) === ((0L, 0L)))
    // self-fit + score == the fused entry point
    val docs = Seq((0L, "x y x"), (1L, "y z")).toDF("doc_id", "text")
    val fused = TextOps.unigramLogProbs(docs, "doc_id", "text",
      vocabSize = 2).collect().map(_.toSeq).toSet
    val staged = TextOps.scoreUnigramLM(docs, "doc_id", "text",
      TextOps.fitUnigramLM(docs, "text", vocabSize = 2))
      .collect().map(_.toSeq).toSet
    assert(fused === staged)
    // save/load round-trip preserves the LM exactly
    val dir = tempDir("graft-lm").toString
    TextOps.saveUnigramLM(spark, lm, dir)
    assert(TextOps.loadUnigramLM(spark, dir) === lm)
  }

  test("unigramLogProbs: vocab cut ties break by (count desc, token asc)") {
    // b and c tie at 2 — vocabSize=2 must keep {a, b}, not {a, c}
    val rows = Seq((0L, "a a a b b c c")).toDF("doc_id", "text")
    val oov = math.round(math.log(0.5 / 7.0) * 1e6)
    val lpA = math.round(math.log(3.0 / 7.0) * 1e6)
    val lpB = math.round(math.log(2.0 / 7.0) * 1e6)
    val out = TextOps.unigramLogProbs(rows, "doc_id", "text",
      vocabSize = 2).collect().head
    assert(out.getLong(2) === 3 * lpA + 2 * lpB + 2 * oov)
  }

  test("tokenEntropy: hand-computed values") {
    val rows = Seq(
      (0L, "a a a a"),       // one token → 0 bits
      (1L, "a b a b"),       // uniform 2 → 1 bit
      (2L, "a b c d"),       // uniform 4 → 2 bits
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
      TextOps.tokenEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(0L)) < 1e-12)
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L) - 2.0) < 1e-12)
    assert(out(3L) === 0.0 && out(4L) === 0.0)
  }

  test("chunkDocs: window starts, overlap, and tail sizes") {
    val rows = Seq(
      (0L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (1L, "a b c"),                                    // one short chunk
      (2L, ""))                                         // no chunks
      .toDF("doc_id", "text")
    val out = TextOps.chunkDocs(rows, "doc_id", "text",
      chunkSize = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(c => (c._1, c._2))
    // doc 0: starts 0, 48, 96 → sizes 64, 52, 4
    assert(out.map(c => (c._1, c._2, c._3)).toSeq ===
      Seq((0L, 0L, 64L), (0L, 1L, 52L), (0L, 2L, 4L), (1L, 0L, 3L)))
    assert(out(0)._4.startsWith("t1 t2 ") && out(0)._4.endsWith(" t64"))
    assert(out(1)._4.startsWith("t49 ") && out(1)._4.endsWith(" t100"))
    assert(out(2)._4 === "t97 t98 t99 t100")
    // overlap: chunk 1 re-covers tokens 49..64 from chunk 0
    assert(out(0)._4.contains("t49"))
  }

  test("mixture: deterministic, rate-respecting weighted sampling") {
    val rows = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) "keepall" else "half"))
      .toDF("doc_id", "source")
    val kept = CorpusPipeline.mixture(rows, "doc_id", "source",
      Map("keepall" -> 1.0, "half" -> 0.5))
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("keepall") === 1000L, "rate 1.0 must keep every row")
    assert(bySrc("half") > 400 && bySrc("half") < 600,
      s"rate 0.5 kept ${bySrc("half")}/1000")
    // determinism: identical keep set on re-run and on a repartition
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = CorpusPipeline.mixture(rows.repartition(7), "doc_id",
      "source", Map("keepall" -> 1.0, "half" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // rate 0 drops everything
    assert(CorpusPipeline.mixture(rows, "doc_id", "source",
      Map.empty, defaultRate = 0.0).count() === 0L)
  }

  test("sourceCap: under-cap sources untouched, over-cap sources land " +
      "near the cap, decision partition-invariant") {
    val rows = (0L until 2000L).map(i =>
      (i, if (i < 1600) "big" else if (i < 1900) "mid" else "small"))
      .toDF("doc_id", "source")
    val out = CorpusPipeline.sourceCap(rows, "doc_id", "source",
      maxPerSource = 200)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") === 100, "under-cap source must pass through")
    // binomial(n, cap/n): mean 200, sd ~13 (big) / ~11 (mid) — 4σ bands
    assert(kept("big") > 145 && kept("big") < 255, kept.toString)
    assert(kept("mid") > 155 && kept("mid") < 245, kept.toString)
    val again = CorpusPipeline.sourceCap(rows.repartition(13), "doc_id",
      "source", maxPerSource = 200)
      .select("doc_id").as[Long].collect().sorted
    assert(again === out.select("doc_id").as[Long].collect().sorted,
      "keep decision must not depend on partitioning")
  }

  test("decontaminate: flags exactly the train docs sharing an n-gram") {
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "prefix words the quick brown fox jumps over suffix"), // hit 100
      (1L, "pack my box with five dozen liquor jugs verbatim"),   // hit 101
      (2L, "a completely unrelated training document here now"),
      (3L, "quick brown fox jumps but only four shared tokens"))  // < 5-gram
      .toDF("doc_id", "text")
    val out = CorpusPipeline.decontaminate(corpus, evalSet,
      "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.keySet === Set(0L, 1L))
    // doc 0 shares "the quick brown fox jumps" + 3 more shifted 5-grams
    assert(out(0L)._2 === 100L)
    assert(out(0L)._1 >= 1L)
    assert(out(1L)._2 === 101L)
    // doc 3 shares only a 4-token run — below the 5-gram bar
  }

  test("exact dedup on documents: keepers + counts are consistent") {
    val total = docs.count()
    val dd = Dedup.exact(docs, "doc_id", "text")
    val distinctTexts = docs
      .select(lower(regexp_replace(trim($"text"), "\\s+", " "))).distinct()
      .count()
    assert(dd.count() === distinctTexts)
    assert(dd.agg(sum("dup_count")).head().getLong(0) === total)
    val keepers = Dedup.exactKeepers(docs, "doc_id", "text")
    assert(keepers.count() === distinctTexts)
  }

  test("minhash LSH finds planted exact duplicates") {
    // corpus is all-distinct → plant 10 exact copies with new ids
    val planted = docs.limit(10)
      .select(($"doc_id" + 100000).as("doc_id"), $"text")
    val corpus = docs.select("doc_id", "text").unionByName(planted)
    val dupPairs = Dedup.minhashLsh(corpus, "doc_id", "text",
      threshold = 0.95)
    val plantedFound = dupPairs.filter($"dup_id" >= 100000)
      .select("dup_id").distinct().count()
    assert(plantedFound === 10,
      s"found $plantedFound of 10 planted dups")
    // exact copies estimate at jaccard 1.0
    assert(dupPairs.filter($"dup_id" >= 100000 && $"est_jaccard" < 1.0)
      .count() === 0)
  }

  test("simhash: identical text → distance 0; dups found") {
    val sig = docs.select(Dedup.simhash($"text").as("s"),
      TextOps.fingerprint($"text").as("fp"))
    // same fingerprint ⇒ same simhash
    val incoherent = sig.groupBy("fp")
      .agg(countDistinct("s").as("n")).filter($"n" > 1).count()
    assert(incoherent === 0)
    val dups = Dedup.simhashDups(docs, "doc_id", "text", maxHamming = 0)
    assert(dups.count() > 0) // testdata plants exact dups
  }

  test("ngram jaccard finds planted duplicates with jaccard 1.0") {
    val planted = docs.limit(5)
      .select(($"doc_id" + 100000).as("doc_id"), $"text")
    val corpus = docs.limit(100).select("doc_id", "text")
      .unionByName(planted)
    val dups = Dedup.ngramJaccard(corpus, "doc_id", "text",
      n = 3, threshold = 0.99)
    assert(dups.filter($"dup_id" >= 100000).count() === 5,
      dups.collect().mkString(","))
    assert(dups.filter($"jaccard" < 0.99).count() === 0)
  }

  test("capped_collect: true totals with ids bounded at the cap " +
      "across partitions") {
    val bridge = org.apache.spark.sql.graftbridge.GraftColumnBridge
    def cc(cap: Int) = bridge.column(graft.functions.CappedCollect(
      bridge.expression(col("id")), cap).toAggregateExpression())
    val df = spark.range(0, 1000)
      .select((col("id") % 7).as("k"), col("id")).repartition(8)
    val got = df.groupBy("k").agg(cc(10).as("cc"))
      .select($"k", $"cc.total", size($"cc.ids")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length === 7)
    got.foreach { case (k, total, nIds) =>
      assert(total === (0 until 1000).count(_ % 7 == k),
        s"k=$k total=$total")
      assert(nIds === 10, s"k=$k ids not capped: $nIds") // cap < total
    }
    // below the cap: the list is COMPLETE (this is what lets ngram
    // dedup emit pairs straight off the aggregation)
    val small = spark.range(0, 5)
      .select(lit(0L).as("k"), col("id")).repartition(3)
    val ids = small.groupBy("k").agg(cc(10).as("cc"))
      .select(array_sort($"cc.ids")).head().getSeq[Long](0)
    assert(ids === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("capped_collect_pair: aligned (id, val) members, true totals, " +
      "cap respected across partitions") {
    val bridge = org.apache.spark.sql.graftbridge.GraftColumnBridge
    def cc(cap: Int) = bridge.column(graft.functions.CappedCollectPair(
      bridge.expression(col("id")), bridge.expression(col("v")),
      cap).toAggregateExpression())
    val df = spark.range(0, 1000)
      .select((col("id") % 7).as("k"), col("id"), (col("id") * 3).as("v"))
      .repartition(8)
    val got = df.groupBy("k").agg(cc(10).as("cc"))
      .select($"k", $"cc.total", $"cc.ids", $"cc.vals").collect()
    assert(got.length === 7)
    got.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) === (0 until 1000).count(_ % 7 == k))
      val ids = r.getSeq[Long](2)
      val vals = r.getSeq[Long](3)
      assert(ids.length === 10 && vals.length === 10)
      // alignment: vals(i) must be the payload of ids(i), whatever
      // subset the cap kept
      ids.zip(vals).foreach { case (i, v) => assert(v === i * 3) }
    }
    // below the cap the member list is complete
    val small = spark.range(0, 5)
      .select(lit(0L).as("k"), col("id"), (col("id") + 7).as("v"))
      .repartition(3)
    val row = small.groupBy("k").agg(cc(10).as("cc"))
      .select($"cc.ids", $"cc.vals").head()
    val pairs = row.getSeq[Long](0).zip(row.getSeq[Long](1)).sorted
    assert(pairs === Seq((0L, 7L), (1L, 8L), (2L, 9L), (3L, 10L),
      (4L, 11L)))
  }

  test("ngramJaccard and minhash exact-verify release their caches " +
      "deterministically (no accumulation across repeated calls)") {
    val corpus = docs.limit(100).select("doc_id", "text")
    corpus.count() // settle the input's own cache before measuring
    val sc = spark.sparkContext
    def assertReleased(label: String)(run: => org.apache.spark.sql
        .DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      assert(run.count() >= 0)
      // unpersist removes entries from the persistentRdds registry
      // synchronously, so a leaked internal cache is visible here;
      // only the eager localCheckpoint of the small verified-pair
      // result may remain
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1,
        s"$label left ${leaked.size} persisted RDDs behind")
      // drop the checkpoint blocks so the next iteration starts clean
      leaked.foreach(id => sc.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true)))
    }
    for (_ <- 1 to 3) {
      assertReleased("ngramJaccard")(
        Dedup.ngramJaccard(corpus, "doc_id", "text",
          n = 3, threshold = 0.9))
      assertReleased("minhashLsh(exactVerify)")(
        Dedup.minhashLsh(corpus, "doc_id", "text",
          threshold = 0.9, exactVerify = true))
      assertReleased("simhashDups")(
        Dedup.simhashDups(corpus, "doc_id", "text", maxHamming = 3))
    }
  }

  test("planted skew: oversized buckets are chunked, not dropped") {
    // 500 copies of ONE document with caps far below the bucket size —
    // the duplicate-heavy case that a drop-cap silently loses. Every
    // one of the C(500,2) = 124750 pairs must be found exactly once.
    val nCopies = 500
    val expected = nCopies.toLong * (nCopies - 1) / 2
    val copies = spark.range(nCopies)
      .select(($"id" + 1).as("doc_id"),
        lit("alpha beta gamma delta epsilon zeta eta theta").as("text"))
    // simhash: one 500-member bucket per chunk; cap 50 → 10 hash blocks
    val sh = Dedup.simhashDups(copies, "doc_id", "text",
      maxHamming = 0, maxBucket = 50)
    assert(sh.count() === expected)
    assert(sh.filter($"keep_id" >= $"dup_id").count() === 0)
    assert(sh.filter($"hamming" =!= 0).count() === 0)
    // ngram: 500-id posting lists; cap 50 → 10 hash blocks
    val ng = Dedup.ngramJaccard(copies, "doc_id", "text",
      n = 3, threshold = 0.9, maxPosting = 50)
    assert(ng.count() === expected)
    assert(ng.filter($"keep_id" >= $"dup_id").count() === 0)
    assert(ng.filter($"jaccard" =!= 1.0).count() === 0)
    // minhash pairs every copy with the bucket min — no drop cap exists
    val mh = Dedup.minhashLsh(copies, "doc_id", "text",
      threshold = 0.9, exactVerify = true)
    assert(mh.count() === nCopies - 1)
    assert(mh.select(min($"keep_id")).head().getLong(0) === 1L)
    // mixed corpus: the skewed cluster must not perturb normal pairs —
    // the non-planted pair set must equal a run on the base corpus alone
    // (testdata plants its own dups, so the base is not pair-free)
    val base = docs.limit(50).select($"doc_id", $"text")
    val basePairs = Dedup.ngramJaccard(base, "doc_id", "text",
      n = 3, threshold = 0.9, maxPosting = 50)
      .select("keep_id", "dup_id").collect().toSet
    val mixed = base.unionByName(
      copies.select($"doc_id" + 900000, $"text").toDF("doc_id", "text"))
    val ngMixed = Dedup.ngramJaccard(mixed, "doc_id", "text",
      n = 3, threshold = 0.9, maxPosting = 50)
    assert(ngMixed.filter($"dup_id" >= 900000).count() === expected)
    assert(ngMixed.filter($"dup_id" < 900000)
      .select("keep_id", "dup_id").collect().toSet === basePairs)
  }

  test("chunking invariance: tiny caps produce the identical pair set " +
      "as unbounded caps on random clustered corpora") {
    // differential property at the heart of the skew fix: block-pair
    // chunking must be INVISIBLE in the result for any cap value. A
    // tiny cap forces chunking on nearly every posting/bucket; the
    // pair sets must match an effectively-unbounded run exactly.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val base = (1 to 60).map { i =>
        val toks = Vector.fill(5 + rng.nextInt(8))(
          vocab(rng.nextInt(vocab.size)))
        (i.toLong, toks.mkString(" "))
      }
      // planted clusters: copies and one-token mutations of random docs
      val planted = (1 to 25).map { j =>
        val (_, t) = base(rng.nextInt(base.size))
        val toks = t.split(" ").toVector
        val mutated = if (j % 3 == 0)
          toks.updated(rng.nextInt(toks.size),
            vocab(rng.nextInt(vocab.size))).mkString(" ")
        else t
        (1000L + j, mutated)
      }
      val df = (base ++ planted).toDF("doc_id", "text")
      def pairSet(d: org.apache.spark.sql.DataFrame) =
        d.select("keep_id", "dup_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ngTiny = pairSet(Dedup.ngramJaccard(df, "doc_id", "text",
        n = 2, threshold = 0.6, maxPosting = 3))
      val ngBig = pairSet(Dedup.ngramJaccard(df, "doc_id", "text",
        n = 2, threshold = 0.6, maxPosting = 1000000))
      assert(ngTiny === ngBig, s"ngram pair set diverged at seed $seed")
      assert(ngBig.nonEmpty, s"fixture has no pairs at seed $seed")
      val shTiny = pairSet(Dedup.simhashDups(df, "doc_id", "text",
        maxHamming = 6, maxBucket = 2))
      val shBig = pairSet(Dedup.simhashDups(df, "doc_id", "text",
        maxHamming = 6, maxBucket = 1000000))
      assert(shTiny === shBig, s"simhash pair set diverged at seed $seed")
      assert(shBig.nonEmpty, s"fixture has no simhash pairs at seed $seed")
    }
  }

  test("duplicateSpans: cross-doc and within-doc spans, hand-computed") {
    val rows = Seq(
      (1L, "a b c d e f"),          // canonical occurrence of "a b c"
      (2L, "x a b c y z"),          // dup "a b c" at pos 2 → span [2,5)
      (3L, "p q r s p q r s"),      // self-repeat → dups at 5,6 → [5,9)
      (4L, "all fresh tokens here today")) // no dup grams
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(rows, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity)
    assert(spans === Array((2L, 2L, 5L), (3L, 5L, 9L)), spans.mkString(","))
  }

  test("removeSpans cuts spans and keeps canonical occurrences") {
    val rows = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c y z"),
      (3L, "p q r s p q r s"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(rows, "doc_id", "text", k = 3)
    val out = Dedup.removeSpans(rows, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b c d e f")     // canonical doc untouched
    assert(out(2L) === "x y z")           // dup run cut
    assert(out(3L) === "p q r s")         // one copy survives
    // idempotence: re-running finds nothing new
    val again = Dedup.duplicateSpans(
      out.toSeq.toDF("doc_id", "text"), "doc_id", "text", k = 3)
    assert(again.count() === 0)
  }

  test("duplicateSpans under heavy repetition: every copy beyond the " +
      "first is one full-doc span (no occurrence-list skew)") {
    val text = (1 to 50).map(i => s"tok$i").mkString(" ")
    val rows = (0L until 2000L).map(i => (i, text)).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(rows, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.length === 1999, s"got ${spans.length} spans")
    assert(spans.forall { case (id, s, e) => id > 0 && s == 1 && e == 51 })
  }

  test("incrementalDedup drops exactly the cross-batch duplicates") {
    val seen = Seq((0L, "alpha beta"), (2L, "gamma delta"), (4L, "epsilon"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "alpha  BETA "),   // normalizes to a seen doc → drop
      (13L, "gamma delta"),    // exact seen text → drop
      (15L, "zeta eta"),       // new → keep
      (17L, "epsilon theta"))  // superset, different text → keep
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, seen, "doc_id", "text",
      expectedSeen = 100).select("doc_id").as[Long].collect().sorted
    assert(out === Array(15L, 17L))
  }

  test("incrementalDedup stays exact under a saturated bloom filter") {
    // expectedItems 1 at 50% FPP ⇒ nearly every probe is a false
    // positive — the verify join must still keep every non-duplicate
    val seen = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val loose = Dedup.incrementalDedup(incoming, seen, "doc_id", "text",
      filter = Some(Dedup.broadcastSeenFilter(seen, "text",
        expectedItems = 1, fpp = 0.5)))
      .select("doc_id").as[Long].collect().sorted
    val tight = Dedup.incrementalDedup(incoming, seen, "doc_id", "text",
      expectedSeen = 100000)
      .select("doc_id").as[Long].collect().sorted
    assert(loose === tight, "FPP must never change the result")
    // reference semantics: plain anti-join on the fingerprint
    val fp = TextOps.fingerprint($"text")
    val ref = incoming.withColumn("__k", fp)
      .join(seen.select(fp.as("__k")).distinct(), Seq("__k"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(tight === ref)
  }

  test("incrementalDedup shares ONE caller-owned broadcast across " +
      "batches; destroy() ends its lifetime") {
    val seen = docs.filter($"doc_id" % 2 === 0)
    val handle = Dedup.broadcastSeenFilter(seen, "text",
      expectedItems = 100000)
    val fp = TextOps.fingerprint($"text")
    val seenKeys = seen.select(fp.as("__k")).distinct()
    // three ingest batches against the SAME handle — the documented
    // long-running-loop usage that used to leak one broadcast per batch
    (0 until 3).foreach { b =>
      val batch = docs.filter($"doc_id" % 3 === b)
      val got = Dedup.incrementalDedup(batch, seen, "doc_id", "text",
        filter = Some(handle)).select("doc_id").as[Long].collect().sorted
      val ref = batch.withColumn("__k", fp)
        .join(seenKeys, Seq("__k"), "left_anti")
        .select("doc_id").as[Long].collect().sorted
      assert(got === ref, s"batch $b diverged from the anti-join oracle")
    }
    // caller-managed lifetime: after destroy, the executors' copy is
    // gone and further use of the handle must fail — proving the
    // batches shared that single copy rather than private re-broadcasts
    handle.destroy()
    intercept[Exception] {
      Dedup.incrementalDedup(docs.limit(10), seen, "doc_id", "text",
        filter = Some(handle)).collect()
    }
  }

  test("incrementalDedup plan: corpus side joins broadcast, " +
      "never sort-merge") {
    val seen = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val plan = Dedup.incrementalDedup(incoming, seen, "doc_id", "text",
      expectedSeen = 1000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the verify join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("brute-force topk: self is nearest neighbor at cosine 1") {
    val queries = embs.limit(5)
      .select($"vec_id".as("query_id"), $"embedding")
    val topk = Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 3)
    val self = topk.filter($"rank" === 1).collect()
    assert(self.length === 5)
    self.foreach { r =>
      assert(r.getAs[Long]("query_id") === r.getAs[Long]("id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-4)
    }
  }

  test("LSH topk recall vs brute force") {
    val queries = embs.limit(8)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 5)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 5, planes = 6, tables = 6)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("IVF topk recall vs brute force") {
    val queries = embs.limit(8)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 5)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 5, nCells = 16, nProbe = 8)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall too low")
  }

  test("IVF-Flat with every cell probed equals brute force bit-for-bit " +
      "(cell pruning is the ONLY approximation)") {
    val queries = embs.limit(8)
      .select($"vec_id".as("query_id"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
    val exact = rows(Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 5))
    val flat = rows(Similarity.ivfFlatTopK(embs, queries,
      "vec_id", "embedding", "query_id", k = 5, nCells = 8, nProbe = 8))
    assert(flat === exact)
  }

  test("IVF-Flat is partition-invariant and finds a planted twin " +
      "(identical vectors share a deterministic cell)") {
    val base = embs.select($"vec_id", $"embedding")
    val twin = base.limit(1)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val corpus = base.unionByName(twin)
    val queries = embs.limit(1)
      .select($"vec_id".as("query_id"), $"embedding")
    def run(parts: Int) = Similarity.ivfFlatTopK(corpus.repartition(parts),
        queries, "vec_id", "embedding", "query_id", k = 3,
        nCells = 8, nProbe = 2)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
    val one = run(1)
    assert(run(7) === one)
    // the twin is the query's own vector under a new id: both copies
    // land in the same cell (identical quantized distances, same
    // argmin) so ranks 1 and 2 are the pair at cosine 1
    assert(one.take(2).map(_._2).toSet ===
      Set(one.head._1, one.head._1 + 100000L))
    one.take(2).foreach(r => assert(math.abs(r._3 - 1.0) < 1e-9))
  }

  test("centroidOutlierScores: hand-computed distances, partition " +
      "invariance, zero for an all-identical corpus") {
    // vq = floor(v·2^20 + 0.5); sums 3+1+2=6, 6/3=2 → c=(2·u, 0)
    // where u = 2^-20; dists: (1·u)^2-scale → exact integers
    val u = 1.0 / 1048576.0
    val df = Seq(
      (1L, Seq(3 * u, 0.0).map(_.toFloat)),
      (2L, Seq(1 * u, 0.0).map(_.toFloat)),
      (3L, Seq(2 * u, 0.0).map(_.toFloat))).toDF("vec_id", "embedding")
    val got = Similarity.centroidOutlierScores(df, "vec_id", "embedding")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 0L)))
    // truncating (not floor) division on a negative sum: -3/2 = -1 →
    // c = -1; dists (-2+1)^2=1 and (-1+1)^2=0
    val neg = Seq((1L, Seq(-2 * u).map(_.toFloat)),
      (2L, Seq(-1 * u).map(_.toFloat))).toDF("vec_id", "embedding")
    val gotNeg = Similarity.centroidOutlierScores(neg, "vec_id",
      "embedding").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(gotNeg.toSeq === Seq((1L, 1L), (2L, 0L)))
    // real embeddings: partition-invariant, and identical copies of one
    // vector give an all-zero audit
    def run(parts: Int) = Similarity.centroidOutlierScores(
        embs.repartition(parts), "vec_id", "embedding")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(1) === run(7))
    val same = embs.limit(1).select($"embedding").crossJoin(
      spark.range(5).select($"id".as("vec_id")))
    val zeros = Similarity.centroidOutlierScores(same, "vec_id",
      "embedding").collect().map(_.getLong(1))
    assert(zeros.length === 5 && zeros.forall(_ === 0L))
  }

  test("centroidOutlierScores rejects ragged and non-finite corpora " +
      "loudly") {
    val ragged = Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f)))
      .toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.centroidOutlierScores(ragged, "vec_id", "embedding")
        .collect()
    }
    assert(e.getMessage.contains("ragged") ||
      Option(e.getCause).exists(_.getMessage.contains("ragged")))
    // NaN would silently quantize to 0 in the sum while the scoring
    // expression rejects it — the op must fail fast instead
    val nan = Seq((1L, Seq(0.1f, Float.NaN)), (2L, Seq(0.3f, 0.4f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[org.apache.spark.SparkException] {
      Similarity.centroidOutlierScores(nan, "vec_id", "embedding")
        .collect()
    }
    assert(e2.getMessage.contains("non-finite") ||
      Option(e2.getCause).exists(_.getMessage.contains("non-finite")))
  }

  test("tokenBudgetSample: maximal hash-order prefix, exact boundary, " +
      "cum chain, partition invariance, independent md5 order") {
    val d = docs.select($"doc_id",
      TextOps.tokenCount($"text").cast("long").as("n_tokens")).cache()
    val all = CorpusPipeline.tokenBudgetSample(d, "doc_id", "n_tokens",
      budget = Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(all.length.toLong === d.count())
    // the cum chain is consistent: sorted by cum, each cum is the
    // previous plus the row's weight (ties impossible: cum strictly
    // grows except on zero-weight rows, whose order within the chain
    // doesn't alter any cum value)
    val byCum = all.sortBy(r => (r._3, r._1))
    byCum.foldLeft(0L) { case (prev, (_, w, cum)) =>
      assert(cum >= prev); cum
    }
    assert(byCum.map(_._2).sum === byCum.last._3)
    // the order is EXACTLY (md5-lower-4-LE of "<id>:budget", id) — the
    // documented DuckDB md5_number_lower convention, checked against an
    // independent JVM digest
    def refHash(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:budget".getBytes("UTF-8"))
      (0 until 4).map(j => (dig(8 + j).toLong & 0xffL) << (8 * j)).sum
    }
    val refOrder = all.map(_._1).sortBy(id => (refHash(id), id))
    var run = 0L
    val refCums = refOrder.map { id =>
      val w = all.find(_._1 == id).get._2; run += w; (id, run)
    }.toMap
    all.foreach { case (id, _, cum) => assert(refCums(id) === cum,
      s"doc $id cum $cum != reference ${refCums(id)}") }
    // exact boundary: budget = some mid-prefix cum keeps exactly the
    // rows at-or-before it (monotone prefix law)
    val mid = byCum(byCum.length / 2)._3
    val cut = CorpusPipeline.tokenBudgetSample(d, "doc_id", "n_tokens",
      budget = mid).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cut === all.filter(_._3 <= mid).toSet)
    // partition invariance
    val cut7 = CorpusPipeline.tokenBudgetSample(d.repartition(7),
      "doc_id", "n_tokens", budget = mid, partitions = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cut7 === cut)
  }

  test("splitLeakageAudit flags exactly the near-dup clusters whose " +
      "members land in different splits") {
    // 20 planted 2-doc clusters with disjoint vocabularies: ngram
    // pairs exist only within a cluster (jaccard 1), so components =
    // the pairs and the audit reduces to "did the pair straddle?"
    val rows = (0 until 40).map { i =>
      val k = i / 2
      (i.toLong, s"tok${k}a tok${k}b tok${k}c tok${k}d tok${k}e")
    }
    val df = rows.toDF("doc_id", "text")
    val splits = Seq(("a", 0.5), ("b", 0.5))
    val audit = CorpusPipeline.splitLeakageAudit(df, "doc_id", "text",
        splits).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val splitOf = CorpusPipeline.assignSplit(df.select($"doc_id"),
        "doc_id", splits).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = (0 until 20).flatMap { k =>
      val (a, b) = (2L * k, 2L * k + 1)
      if (splitOf(a) != splitOf(b))
        Seq((a, a, splitOf(a), 2L), (b, a, splitOf(b), 2L))
      else Seq.empty
    }.toSet
    assert(expected.nonEmpty, "fixture never straddles — change salt")
    assert(audit === expected)
    // a single-split 'split' can never leak
    val none = CorpusPipeline.splitLeakageAudit(df, "doc_id", "text",
      Seq(("all", 1.0))).count()
    assert(none === 0L)
  }

  test("tokenBudgetSample fails loudly on a negative weight") {
    val bad = Seq((1L, 5L), (2L, -1L)).toDF("doc_id", "n_tokens")
    val e = intercept[org.apache.spark.SparkException] {
      CorpusPipeline.tokenBudgetSample(bad, "doc_id", "n_tokens",
        budget = 100L).collect()
    }
    assert(e.getMessage.contains("negative weight") ||
      Option(e.getCause).exists(_.getMessage.contains("negative weight")))
  }

  test("native codegen cosine matches the HOF formulation bit-exactly") {
    val pairs = embs.limit(50).select($"vec_id", $"embedding")
      .crossJoin(embs.limit(5)
        .select($"vec_id".as("qid"), $"embedding".as("emb2")))
    val hof = pairs
      .withColumn("c", Similarity.cosine($"embedding", $"emb2"))
      .select("vec_id", "qid", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val native = pairs
      .withColumn("c",
        Similarity.cosineNative(spark, $"embedding", $"emb2"))
      .select("vec_id", "qid", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(hof.size === native.size)
    hof.foreach { case (k, v) =>
      assert(v === native(k), s"mismatch at $k")
    }
    // null-safety and zero-norm edge: empty/zero vector → 0.0
    val edge = Seq((Array(0f, 0f), Array(1f, 2f)))
      .toDF("a", "b")
      .withColumn("c", Similarity.cosineNative(spark, $"a", $"b"))
      .head().getDouble(2)
    assert(edge === 0.0)
  }

  test("embedding near-dup self-consistency") {
    // duplicate the first 3 vectors with new ids → must be flagged
    val extra = embs.limit(3)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding", $"label")
    val withDups = embs.unionByName(extra)
    val found = Dedup.embeddingDups(withDups, "vec_id", "embedding",
      minCosine = 0.999)
    assert(found.filter($"dup_id" >= 1000000).count() === 3)
  }

  test("decodeImage parses real PPM/BMP/PNG headers") {
    // P6 PPM with a comment line, 640x480
    val ppm = "P6\n# a comment\n640 480\n255\n".getBytes("US-ASCII")
    // minimal BMP header: 'BM' + width 800 @18, height 600 @22, 24bpp @28
    val bmp = new Array[Byte](54)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(18) = (800 & 0xFF).toByte; bmp(19) = (800 >> 8).toByte
    bmp(22) = (600 & 0xFF).toByte; bmp(23) = (600 >> 8).toByte
    bmp(28) = 24.toByte
    // PNG signature + IHDR: width 320, height 200, colorType 6 (RGBA)
    val png = new Array[Byte](33)
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).zipWithIndex
      .foreach { case (v, i) => png(i) = v.toByte }
    png(12) = 'I'; png(13) = 'H'; png(14) = 'D'; png(15) = 'R'
    png(18) = (320 >> 8).toByte; png(19) = (320 & 0xFF).toByte
    png(22) = (200 >> 8).toByte; png(23) = (200 & 0xFF).toByte
    png(25) = 6.toByte
    val rows = Seq((1L, ppm), (2L, bmp), (3L, png))
      .toDF("id", "bytes")
      .withColumn("meta", Multimodal.decodeImage($"bytes"))
      .select("id", "meta.width", "meta.height", "meta.channels")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(rows(1L) === ((640, 480, 3)), rows.toString)
    assert(rows(2L) === ((800, 600, 3)), rows.toString)
    assert(rows(3L) === ((320, 200, 4)), rows.toString)
  }

  test("pnmChannelStats computes REAL per-channel mean/std for " +
      "P2/P4/P5/P6; rejects truncation and codec formats") {
    // P5 grayscale 2x2, samples 10,20,30,40: mean 25, var 125
    val p5 = "P5\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40)
    val s5 = Multimodal.pnmChannelStats(p5).get
    assert(s5 === Seq((0, 4L, 25.0, math.sqrt(125.0))))
    // P6 RGB 2x1: pixels (0,100,200),(50,150,250) — per-channel means
    // 25/125/225, each channel var = 625
    val p6 = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 200.toByte, 50, 150.toByte, 250.toByte)
    val s6 = Multimodal.pnmChannelStats(p6).get
    assert(s6 === Seq((0, 2L, 25.0, 25.0), (1, 2L, 125.0, 25.0),
      (2, 2L, 225.0, 25.0)))
    // P2 ASCII grayscale matches the binary P5 stats
    val p2 = "P2\n2 2\n255\n10 20\n30 40\n".getBytes("US-ASCII")
    assert(Multimodal.pnmChannelStats(p2).get === s5)
    // P4 packed bitmap 10x2 (rows pad to 2 bytes): row0 all 1s,
    // row1 all 0s → mean 0.5, var 0.25
    val p4 = "P4\n10 2\n".getBytes("US-ASCII") ++
      Array[Byte](0xFF.toByte, 0xC0.toByte, 0x00, 0x00)
    assert(Multimodal.pnmChannelStats(p4).get ===
      Seq((0, 20L, 0.5, 0.5)))
    // 16-bit P5 (maxval > 255): one sample 0x0102 = 258
    val p5w = "P5\n1 1\n65535\n".getBytes("US-ASCII") ++
      Array[Byte](0x01, 0x02)
    assert(Multimodal.pnmChannelStats(p5w).get ===
      Seq((0, 1L, 258.0, 0.0)))
    // truncated payload and non-netpbm bytes → None (stub territory)
    assert(Multimodal.pnmChannelStats(
      "P6\n4 4\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.pnmChannelStats(
      Array[Byte](0x89.toByte, 'P', 'N', 'G')).isEmpty)
    assert(Multimodal.pnmChannelStats("hello".getBytes).isEmpty)
    // column wrapper round-trips through Spark with named struct fields
    val df = Seq((1L, p6)).toDF("id", "bytes")
      .withColumn("st", Multimodal.imageChannelStats($"bytes"))
      .selectExpr("id", "inline(st)")
    val got = df.collect().map(r => (r.getInt(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq((0, 2L, 25.0, 25.0), (1, 2L, 125.0, 25.0),
      (2, 2L, 225.0, 25.0)))
  }

  test("multimodal plumbing: decode/resize/features on fake binaries") {
    val bin = Seq(
      (1L, Array.fill[Byte](4096)(7)),
      (2L, Array.fill[Byte](128)(3)),
      (3L, "hello world".getBytes))
      .toDF("id", "bytes")
    val dec = bin.withColumn("meta", Multimodal.decodeImage($"bytes"))
      .withColumn("resized", Multimodal.resizePlan($"meta", 256))
      .withColumn("emb", Multimodal.extractFeatures($"bytes", 16))
    val rows = dec.select("meta.width", "meta.height", "resized.width",
      "resized.height", "emb").collect()
    rows.foreach { r =>
      assert(r.getInt(0) >= 64 && r.getInt(2) <= 256)
      val e = r.getSeq[Float](4)
      assert(e.length === 16)
      assert(math.abs(e.map(x => x * x).sum - 1.0) < 1e-3) // unit norm
    }
    // determinism
    val a = dec.select("emb").collect().map(_.getSeq[Float](0))
    val b = bin.withColumn("emb", Multimodal.extractFeatures($"bytes", 16))
      .select("emb").collect().map(_.getSeq[Float](0))
    assert(a.zip(b).forall { case (x, y) => x == y })
    val frames = Multimodal.sampleFrames(bin, "id", "bytes", 4, lit(8000))
    assert(frames.count() === 12)
    assert(frames.filter($"offset_ms" === 6000).count() === 3)
  }

  test("assignSplit: disjoint-exhaustive, proportional, and stable " +
      "under corpus growth") {
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val out = CorpusPipeline.assignSplit(docs, "doc_id", splits).cache()
    // exhaustive: every row gets exactly one split label
    assert(out.count() === docs.count())
    assert(out.filter(!$"split".isin("train", "val", "test")).count() === 0)
    // proportional within a generous binomial band (n = 500)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.06, counts.toString)
    assert(math.abs(counts("val") / n - 0.1) < 0.05, counts.toString)
    // growth stability: assignments on a SUBSET are identical to the
    // same rows' assignments on the full corpus (randomSplit breaks
    // this; eval sets must survive corpus refreshes)
    val sub = CorpusPipeline
      .assignSplit(docs.filter($"doc_id" < 100), "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = out.filter($"doc_id" < 100).collect()
      .map(r => (r.getLong(0), r.getAs[String]("split")))
    full.foreach { case (id, sp) => assert(sub(id) === sp) }
    out.unpersist()
  }

  test("packSequences: next-fit bins, oversize truncation, empty docs " +
      "(hand example)") {
    val rows = Seq((0L, 100L), (4L, 100L), (8L, 100L), // shard 0
      (1L, 300L), (5L, 10L), // shard 1: oversize then small
      (2L, 0L)) // shard 2: empty doc
    val df = rows.toDF("doc_id", "n_tokens")
    val out = CorpusPipeline
      .packSequences(df, "doc_id", "n_tokens", 256, 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq === Seq(
      (0L, 0L, 0L, 0L, 100L, false), // opens shard-0 bin 0
      (1L, 1L, 0L, 0L, 256L, true),  // oversize: full bin alone
      (2L, 2L, 0L, 0L, 0L, false),   // empty doc
      (4L, 0L, 0L, 100L, 100L, false), // fits bin 0 at offset 100
      (5L, 1L, 1L, 0L, 10L, false),  // bin after the oversize doc
      (8L, 0L, 1L, 0L, 100L, false))) // 300 > 256 -> new bin
  }

  test("packSequences: partition-invariant and capacity-respecting " +
      "on real documents") {
    val d = docs.select($"doc_id",
      TextOps.tokenCount($"text").cast("long").as("n_tokens"))
    def run(in: org.apache.spark.sql.DataFrame) = CorpusPipeline
      .packSequences(in, "doc_id", "n_tokens", 128, 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(run(d.coalesce(1)).toSeq === run(d.repartition(7)).toSeq,
      "bin assignment must not depend on input partitioning")
    val packed = CorpusPipeline
      .packSequences(d, "doc_id", "n_tokens", 128, 8).cache()
    // no bin exceeds capacity (empty docs may sit at offset==capacity
    // after a truncated doc, contributing 0 tokens)
    val over = packed.groupBy("shard", "bin")
      .agg(sum("tokens_packed").as("t")).filter($"t" > 128).count()
    assert(over === 0, "a bin exceeded capacity")
    // every doc appears exactly once, fully packed unless truncated
    assert(packed.count() === d.count())
    val short = packed.join(d, "doc_id")
      .filter(!$"truncated" && $"tokens_packed" =!= $"n_tokens").count()
    assert(short === 0, "a non-truncated doc was not fully packed")
    packed.unpersist()
  }

  test("cleanCorpus: exact dups, garbage, and near-dups all removed") {
    // corpus: 3 distinct good docs, 1 exact copy, 1 near-copy, 1 garbage
    val good1 = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the quiet green forest before dark tonight"
    val good2 = "distributed systems require careful attention to " +
      "partial failures and retries when the network starts dropping " +
      "packets under heavy sustained load conditions"
    val good3 = "a completely different document about cooking pasta " +
      "with fresh tomatoes garlic olive oil and plenty of grated " +
      "parmesan cheese on top served warm"
    val nearDup = good1.replace("tonight", "today") // high jaccard
    val rows = Seq(
      (0L, good1), (1L, good2), (2L, good3),
      (3L, good1),             // exact dup of 0
      (4L, nearDup),           // near dup of 0
      (5L, "!!! ### @@@ ???")) // garbage (punct, short)
      .toDF("doc_id", "text")
    val out = CorpusPipeline.clean(rows, "doc_id", "text",
      jaccardThreshold = 0.5)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 1L, 2L),
      s"survivors: $ids (expected exact dup 3, near dup 4, garbage 5 gone)")
    // quality columns present and sane
    val r = out.filter($"doc_id" === 0L).head()
    assert(r.getAs[Long]("token_count") >= 10)
    assert(r.getAs[Double]("punct_ratio") <= 0.1)
  }

  test("components match naive union-find on random pair graphs") {
    val rng = new scala.util.Random(31)
    (0 until 3).foreach { trial =>
      val nNodes = 60 + rng.nextInt(60)
      val nEdges = 30 + rng.nextInt(120)
      val pairs = (0 until nEdges).map { _ =>
        val a = rng.nextInt(nNodes).toLong
        val b = rng.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // naive union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = touched.map(x => x -> find(x)).toMap
      val got = Dedup.components(
        pairs.toDF("keep_id", "dup_id"), "keep_id", "dup_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected,
        s"trial $trial: ${got.toSet diff expected.toSet} / " +
          s"${expected.toSet diff got.toSet}")
    }
  }

  test("components closes dup pairs transitively (chain -> one keeper)") {
    // a~b, b~c, plus an unrelated pair d~e
    val pairs = Seq((10L, 20L), (20L, 30L), (50L, 60L))
      .toDF("keep_id", "dup_id")
    val comp = Dedup.components(pairs, "keep_id", "dup_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      50L -> 50L, 60L -> 50L), comp.toString)
    // a longer chain exercises multiple propagation rounds
    val chain = (0 until 12).map(i => (i.toLong, (i + 1).toLong))
      .toDF("keep_id", "dup_id")
    val c2 = Dedup.components(chain, "keep_id", "dup_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2.values.toSet === Set(0L), c2.toString)
  }

  test("topKPerGroup: rank by (score desc, id asc), short groups keep " +
      "all rows, partition-invariant (X53)") {
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 5L),
      ("b", 9L, 7L),
      ("c", 5L, 1L), ("c", 6L, 1L), ("c", 7L, 1L), ("c", 8L, 1L))
    def run(parts: Int) =
      CorpusPipeline.topKPerGroup(
        rows.toDF("g", "id", "s").repartition(parts), "g", "id", "s",
        k = 3)
        .orderBy("group", "rank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSeq
    val r = run(3)
    assert(r === Seq(
      ("a", 2L, 30L, 1), ("a", 3L, 30L, 2), ("a", 1L, 10L, 3),
      ("b", 9L, 7L, 1),
      ("c", 5L, 1L, 1), ("c", 6L, 1L, 2), ("c", 7L, 1L, 3)))
    assert(run(1) === r)
    // exactness at the Long extremes the Double-scored heap would lose
    val big = Seq(("x", 1L, Long.MaxValue - 1L), ("x", 2L, Long.MaxValue))
    val rb = CorpusPipeline.topKPerGroup(big.toDF("g", "id", "s"),
      "g", "id", "s", k = 1).collect()
    assert(rb.head.getLong(1) === 2L)
    assert(rb.head.getLong(2) === Long.MaxValue)
  }

  test("contrastiveTriples: min-id anchor per bucket, near-dup " +
      "positive, sub-ceiling hard negative, partition-invariant (X68)") {
    // geometry pinned against the frozen plane itself: with ONE plane
    // in 2-d, the normal n lands in the dot>=0 bucket, -n in the other,
    // and the orthogonal vector t rides the dot==0 edge into the >=0
    // bucket (the documented sign convention)
    val n = Similarity.hyperplaneNormals(1, 2, 7L)
    val u = Seq(n(0), n(1))
    val t = Seq(-n(1), n(0)) // orthogonal to u → cosine exactly 0
    val w = Seq(-n(0), -n(1)) // the other bucket, alone → no triple
    val rows = Seq((0L, u), (1L, u), (2L, t), (3L, w))
    def run(parts: Int) =
      CorpusPipeline.contrastiveTriples(
        rows.toDF("id", "vec").repartition(parts), "id", "vec",
        posMin = 0.99, negMax = 0.5, planes = 1, seed = 7L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getDouble(5))).toSeq
    val got = run(3)
    assert(got === Seq((1L, 0L, 1L, 1.0, 2L, 0.0)), got.toString)
    assert(run(1) === got)
    // a bucket with a positive but NO sub-ceiling member emits nothing
    val noNeg = CorpusPipeline.contrastiveTriples(
      Seq((0L, u), (1L, u)).toDF("id", "vec"), "id", "vec",
      posMin = 0.99, negMax = 0.5, planes = 1, seed = 7L)
    assert(noNeg.count() === 0L)
  }
  // ---- stratifiedSplit (X76) ----

  test("stratifiedSplit: per-stratum counts are exact to the row " +
      "(25 @ 8/1/1 is always 20/2/3) and sum to n") {
    val df = (0L until 100L).map(i => (i, s"s${i % 4}"))
      .toDF("doc_id", "src")
    val r = CorpusPipeline.stratifiedSplit(df, "doc_id", "src",
      Seq(("train", 8L), ("val", 1L), ("test", 1L)))
      .collect().map(x => (x.getString(1), x.getString(3)))
    val byStrat = r.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).view.mapValues(_.length).toMap).toMap
    byStrat.foreach { case (st, m) =>
      assert(m === Map("train" -> 20, "val" -> 2, "test" -> 3), st)
    }
  }

  test("stratifiedSplit: ranks are a 1..n permutation per stratum, " +
      "split boundaries follow the exact integer rule, and the " +
      "bucketed two-level rank equals the single-bucket global rank") {
    val df = (0L until 67L).map(i => (i, if (i < 50) "a" else "b"))
      .toDF("doc_id", "src")
    def run(b: Int) = CorpusPipeline.stratifiedSplit(df, "doc_id",
        "src", Seq(("train", 3L), ("test", 1L)), buckets = b)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        x.getString(3))).toSeq
    val one = run(1)
    assert(run(16) === one)
    Seq("a" -> 50L, "b" -> 17L).foreach { case (st, n) =>
      val rs = one.filter(_._2 == st)
      assert(rs.map(_._3).sorted === (1L to n))
      rs.foreach { case (_, _, r, split) =>
        val expect = if (r * 4 <= n * 3) "train" else "test"
        assert(split === expect, s"$st rank $r")
      }
    }
  }

  test("stratifiedSplit: partition-invariant; adding a document " +
      "to one stratum never reassigns another stratum's rows") {
    val df = (0L until 80L).map(i => (i, s"g${i % 3}"))
      .toDF("doc_id", "src")
    def run(d: org.apache.spark.sql.DataFrame, parts: Int) =
      CorpusPipeline.stratifiedSplit(d.repartition(parts), "doc_id",
        "src", Seq(("train", 8L), ("val", 1L), ("test", 1L)))
        .orderBy("id").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2),
          x.getString(3))).toSeq
    val base = run(df, 1)
    assert(run(df, 7) === base)
    val grown = run(df.union(Seq((1000L, "g0")).toDF("doc_id", "src")), 3)
    assert(grown.filter(x => x._2 != "g0" && x._1 != 1000L) ===
      base.filter(_._2 != "g0"))
  }

  test("stratifiedSplit validation: empty splits and non-positive " +
      "weights fail fast") {
    val df = Seq((1L, "a")).toDF("doc_id", "src")
    intercept[IllegalArgumentException] {
      CorpusPipeline.stratifiedSplit(df, "doc_id", "src", Seq())
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.stratifiedSplit(df, "doc_id", "src",
        Seq(("a", 1L), ("b", 0L)))
    }
  }
  // ---- distinctiveTerms (X82) ----

  test("distinctiveTerms: exact tf*2^20 div df scores, (score desc, " +
      "token asc) rank, k cut, partition invariance (X82)") {
    // "apple" appears twice in doc 1 and nowhere else: tf=2, df=1 →
    // score 2*2^20. "the" is in all 3 docs: tf=1, df=3 → 2^20 div 3.
    val df = Seq(
      (1L, "apple apple the zebra"),
      (2L, "the zebra"),
      (3L, "the")).toDF("doc_id", "text")
    def run(parts: Int) =
      TextOps.distinctiveTerms(df.repartition(parts), "doc_id",
          "text", k = 2)
        .orderBy("id", "rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = run(1)
    val M = 1048576L
    assert(got === Seq(
      (1L, "apple", 2L, 1L, 2L * M, 1L),
      (1L, "zebra", 1L, 2L, M / 2L, 2L),
      (2L, "zebra", 1L, 2L, M / 2L, 1L),
      (2L, "the", 1L, 3L, M / 3L, 2L),
      (3L, "the", 1L, 3L, M / 3L, 1L)))
    assert(run(7) === got)
    intercept[IllegalArgumentException] {
      TextOps.distinctiveTerms(df, "doc_id", "text", 0)
    }
  }
  // ---- noveltyScores (X84) ----

  test("noveltyScores: exact unseen-gram fraction, short docs carry " +
      "NULL novelty, all-seen and all-new extremes, partition " +
      "invariance (X84)") {
    val ref = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    // doc 1: grams of "a b c d e f" (2 grams: a..e, b..f) — all seen;
    // doc 2: disjoint vocabulary — all new (3 grams);
    // doc 3: "z z a b c d e" → grams {zzabc, zabcd, abcde}: one seen;
    // doc 4: too short (4 tokens) → no grams, NULL novelty
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "p q r s t u v"),
      (3L, "z z a b c d e"),
      (4L, "a b c d")).toDF("doc_id", "text")
    val M = 1048576L
    def run(parts: Int) =
      CorpusPipeline.noveltyScores(corpus.repartition(parts),
          ref, "doc_id", "text", n = 5)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else Long.box(r.getLong(3)))).toSeq
    val got = run(1)
    assert(got === Seq(
      (1L, 2L, 2L, Long.box(0L)),
      (2L, 3L, 0L, Long.box(M)),
      (3L, 3L, 1L, Long.box(2L * M / 3L)),
      (4L, 0L, 0L, null)))
    assert(run(5) === got)
    intercept[IllegalArgumentException] {
      CorpusPipeline.noveltyScores(corpus, ref, "doc_id", "text", 0)
    }
  }
  // ---- semanticDecontaminate (X88) ----

  test("semanticDecontaminate: exact max cosine, smallest-eval-id tie " +
      "rule, unrounded threshold flag, partition invariance (X88)") {
    val ev = Seq((100L, Seq(1.0, 0.0)), (101L, Seq(1.0, 0.0)),
      (102L, Seq(0.0, 1.0))).toDF("id", "vec")
    val corpus = Seq(
      (1L, Seq(2.0, 0.0)),   // cos 1 with evals 100 AND 101 → tie → 100
      (2L, Seq(0.0, -3.0)),  // best is eval 100/101 at cos 0 (102 is -1)
      (3L, Seq(1.0, 1.0)))   // cos 1/sqrt(2) with every eval vector
      .toDF("id", "vec")
    def run(parts: Int) =
      CorpusPipeline.semanticDecontaminate(corpus.repartition(parts),
          ev, "id", "vec", threshold = 0.9)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getBoolean(3))).toSeq
    val got = run(1)
    assert(got(0) === ((1L, 1.0, 100L, true)))
    assert(got(1) === ((2L, 0.0, 100L, false)))
    assert(got(2)._2 === 0.707107) // rounded to 6
    assert(!got(2)._4)
    assert(run(5) === got)
    intercept[IllegalArgumentException] {
      CorpusPipeline.semanticDecontaminate(corpus, ev, "id", "vec", 2.0)
    }
  }
  // ---- budgetedMixture (X91) ----

  test("budgetedMixture: per-stratum maximal hash-order prefixes, " +
      "exact boundary, default budget, bucketed == global, negative " +
      "weight fails loudly, partition-invariant (X91)") {
    val df = (0L until 60L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 10L)).toDF("doc_id", "src", "w")
    def run(parts: Int, b: Int) =
      CorpusPipeline.budgetedMixture(df.repartition(parts), "doc_id",
          "src", "w", Map("a" -> 100L), defaultBudget = 55L,
          buckets = b)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
    val got = run(1, 16)
    // stratum a: budget 100 over 10-token docs → exactly 10 kept with
    // cum 10..100; stratum b: budget 55 → 5 kept (cum 50 fits, 60 not)
    assert(got.count(_._2 == "a") === 10)
    assert(got.count(_._2 == "b") === 5)
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted === rows.map(_._4).min.to(
        rows.map(_._4).max, 10L))
    }
    assert(run(7, 16) === got)
    assert(run(3, 1) === got) // two-level prefix == global prefix
    intercept[Exception] {
      CorpusPipeline.budgetedMixture(
        Seq((1L, "a", -5L)).toDF("doc_id", "src", "w"),
        "doc_id", "src", "w", Map(), defaultBudget = 10L)
        .collect()
    }
    // a NULL weight must fail just as loudly — `w < 0` alone is NULL
    // for nulls and would let the row ride through as zero cost
    // (advisor r18)
    intercept[Exception] {
      CorpusPipeline.budgetedMixture(
        Seq((1L, "a", java.lang.Long.valueOf(5L)),
            (2L, "a", null.asInstanceOf[java.lang.Long]))
          .toDF("doc_id", "src", "w"),
        "doc_id", "src", "w", Map(), defaultBudget = 10L)
        .collect()
    }
  }

  // ---- epochedMixture (X92) ----

  test("epochedMixture: integer epochs + remainder prefix, unmapped " +
      "strata = one epoch, budget 0 drops the stratum, zero-total " +
      "stratum fails loudly, bucketed == global, partition-invariant " +
      "(X92)") {
    val df = (0L until 60L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 10L)).toDF("doc_id", "src", "w")
    def run(parts: Int, b: Int) =
      CorpusPipeline.epochedMixture(df.repartition(parts), "doc_id",
          "src", "w", Map("a" -> 750L), buckets = b)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    val got = run(1, 16)
    // stratum a: total 300, budget 750 → 2 epochs + 150-token
    // remainder = exactly 15 docs repeat 3×, the other 15 repeat 2×;
    // stratum b unmapped → every doc exactly once
    val a = got.filter(_._2 == "a"); val b = got.filter(_._2 == "b")
    assert(a.size === 30 && b.size === 30)
    assert(a.count(_._5 == 3L) === 15 && a.count(_._5 == 2L) === 15)
    assert(b.forall(_._5 == 1L))
    // the 3× docs are exactly the remainder prefix (cum <= 150)
    assert(a.filter(_._5 == 3L).map(_._4).max === 150L)
    assert(a.filter(_._5 == 2L).map(_._4).min === 160L)
    assert(run(7, 16) === got)
    assert(run(3, 1) === got)
    // budget 0 buys nothing: the stratum vanishes
    val z = CorpusPipeline.epochedMixture(df, "doc_id", "src", "w",
      Map("a" -> 0L)).collect()
    assert(z.forall(_.getString(1) == "b"))
    // zero-total stratum with a positive budget is unbounded → loud
    intercept[Exception] {
      CorpusPipeline.epochedMixture(
        Seq((1L, "z", 0L)).toDF("doc_id", "src", "w"),
        "doc_id", "src", "w", Map("z" -> 5L)).collect()
    }
    // zero-total stratum with budget 0 drops silently (nothing owed)
    assert(CorpusPipeline.epochedMixture(
      Seq((1L, "z", 0L)).toDF("doc_id", "src", "w"),
      "doc_id", "src", "w", Map("z" -> 0L)).count() === 0L)
  }

  // ---- labelVotes (X93) ----

  test("labelVotes: majority under the (count desc, label asc) tie " +
      "rule, null labels are abstentions, exact agreement ratio, " +
      "unanimity, partition-invariant (X93)") {
    val rows = Seq(
      (1L, 10L, "a"), (1L, 11L, "a"), (1L, 12L, "b"), // majority a
      (2L, 10L, "b"), (2L, 11L, "a"),                 // tie → a (asc)
      (3L, 10L, null.asInstanceOf[String]),           // abstention only
      (4L, 10L, "x"), (4L, 10L, "x"))                 // 1 labeler, 2 votes
    def run(parts: Int) =
      CorpusPipeline.labelVotes(
          rows.toDF("item", "labeler", "label").repartition(parts),
          "item", "labeler", "label")
        .orderBy("item_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq
    val got = run(1)
    assert(got === Seq(
      (1L, 3L, 3L, "a", 2L, 2L * 1048576L / 3L, 0L),
      (2L, 2L, 2L, "a", 1L, 1048576L / 2L, 0L),
      (4L, 2L, 1L, "x", 2L, 1048576L, 1L)))
    assert(run(6) === got)
  }

  // ---- sharedContentMatrix (X94) ----

  test("sharedContentMatrix: per-pair distinct shared contents under " +
      "the exact-dedup normalization, diagonals, exact Jaccard, no " +
      "row for disjoint pairs, partition-invariant (X94)") {
    val rows = Seq(
      (1L, "A", "t one"), (2L, "A", "t two"), (3L, "A", "t three"),
      (4L, "B", "T  two "),   // normalizes equal to "t two"
      (5L, "B", "t three"), (6L, "B", "t four"), (7L, "B", "t four"),
      (8L, "C", "t five"))
    def run(parts: Int) =
      Dedup.sharedContentMatrix(
          rows.toDF("doc_id", "source", "text").repartition(parts),
          "source", "text")
        .orderBy("src_a", "src_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = run(1)
    assert(got === Seq(
      ("A", "A", 3L, 3L, 3L, 1048576L),
      ("A", "B", 2L, 3L, 3L, 2L * 1048576L / 4L),
      ("B", "B", 3L, 3L, 3L, 1048576L),
      ("C", "C", 1L, 1L, 1L, 1048576L)))
    assert(run(5) === got)
  }

  // ---- shuffleOrder (X98) ----

  test("shuffleOrder: (shard, pos) equals the independent salted-md5 " +
      "global order, shards are the hash high bits, stable across " +
      "runs and partitionings, collisions fail loudly (X98)") {
    def refHash(id: Long, salt: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id$salt".getBytes("UTF-8"))
      (0 until 4).map(j => (dig(8 + j).toLong & 0xffL) << (8 * j)).sum
    }
    val ids = (1L to 120L).map(i => i * 13L)
    val df = ids.toDF("doc_id")
    val shards = 4
    val width = (4294967296L + shards - 1) / shards
    def run(parts: Int) =
      CorpusPipeline.shuffleOrder(df.repartition(parts), "doc_id",
          shards)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    val got = run(1)
    // reference: global (hash, id) order; shard = high bits; pos =
    // rank within shard
    val ordered = ids.sortBy(i => (refHash(i, ":shuffle"), i))
    val expect = ordered.groupBy(i => refHash(i, ":shuffle") / width)
      .toSeq.flatMap { case (sh, member) =>
        member.zipWithIndex.map { case (id, k) =>
          (id, sh, (k + 1).toLong)
        }
      }.sortBy(_._1)
    assert(got === expect)
    assert(run(7) === got) // partition-invariant ⇒ reproducible
    assert(got.map(_._2).forall(s0 => s0 >= 0 && s0 < shards))
    intercept[IllegalArgumentException] {
      CorpusPipeline.shuffleOrder(
        df.withColumn("pos", lit(1)), "doc_id", 4)
    }
  }

  // ---- pairSourceMatrix (X97) ----

  test("pairSourceMatrix: pairs attribute to unordered source pairs, " +
      "unknown ids drop, partition-invariant (X97)") {
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 4L), (2L, 99L))
      .toDF("keep_id", "dup_id")
    def run(parts: Int) =
      Dedup.pairSourceMatrix(pairs.repartition(parts),
          "keep_id", "dup_id", docs.repartition(parts), "doc_id",
          "source")
        .orderBy("src_a", "src_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val got = run(1)
    assert(got === Seq(("A", "A", 1L), ("A", "B", 1L), ("B", "C", 1L)))
    assert(run(5) === got)
  }

  // ---- snapshotDiff (X95) ----

  test("snapshotDiff: added/removed/changed/unchanged per source, " +
      "normalization-insensitive content compare, source moves count " +
      "under the current side, exact churn, partition-invariant " +
      "(X95)") {
    val prev = Seq((1L, "A", "x"), (2L, "A", "y"), (3L, "B", "z"),
      (5L, "B", "w")).toDF("doc_id", "source", "text")
    val cur = Seq((1L, "A", "X  "), // normalizes equal → unchanged
      (2L, "A", "y2"), (4L, "A", "n"), (5L, "C", "w"))
      .toDF("doc_id", "source", "text")
    def run(parts: Int) =
      CorpusPipeline.snapshotDiff(prev.repartition(parts),
          cur.repartition(parts), "doc_id", "source", "text")
        .orderBy("src").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = run(1)
    assert(got === Seq(
      ("A", 1L, 0L, 1L, 1L, 2L * 1048576L / 3L),
      ("B", 0L, 1L, 0L, 0L, 1048576L),
      ("C", 0L, 0L, 0L, 1L, 0L)))
    assert(run(4) === got)
  }

  // ---- oovStats (X96) ----

  test("oovStats: exact per-source token/type/OOV counts, " +
      "case-insensitive vocab match, empty-doc sources absent, " +
      "one-column vocab enforced, partition-invariant (X96)") {
    val d = Seq((1L, "A", "the cat the dog"), (2L, "B", "Bird"),
      (3L, "C", "   ")).toDF("doc_id", "source", "text")
    val vocab = Seq("The", "cat", "cat").toDF("token")
    def run(parts: Int) =
      TextOps.oovStats(d.repartition(parts), "source", "text", vocab)
        .orderBy("src").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = run(1)
    assert(got === Seq(
      ("A", 4L, 1L, 3L, 1L, 1048576L / 4L),
      ("B", 1L, 1L, 1L, 1L, 1048576L)))
    assert(run(4) === got)
    intercept[IllegalArgumentException] {
      TextOps.oovStats(d, "source", "text",
        Seq(("a", "b")).toDF("x", "y"))
    }
  }
}
