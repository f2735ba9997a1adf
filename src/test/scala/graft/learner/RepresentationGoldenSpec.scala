package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * ABSOLUTE model fingerprints, pinned across internal-representation
 * changes (r12: the cached training rows moved from per-row
 * `(TrainInstance, Array[Float])` tuples to per-partition chunked
 * primitive blocks). The partition-invariance goldens elsewhere are
 * RELATIVE (both sides run the current code); these hashes were
 * captured from the r11 tuple representation, so any refactor that
 * changes a single bit of any trained model — or of any per-round
 * metric value — fails here against the PREVIOUS implementation.
 *
 * Every representation-touching path is covered: pointwise gradients,
 * ranking group gradients, margins with k>1, subsample salts,
 * eval-set advance + metric aggregation, DART's fresh-margin rebuild,
 * survival bounds, the adaptive-leaf L1 refresh, categorical bins,
 * weight/base-margin columns, checkpoint fold-in, Cox's global pass,
 * and process_type=update.
 */
class RepresentationGoldenSpec extends SparkTestBase {
  import spark.implicits._
  import java.lang.{Double => JD, Float => JF}

  /** SHA-256 over a canonical full-fidelity serialization of the model
    * (every tree array bit-exact) + the per-round metric histories. */
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

  // deterministic synthetic frames (fixed seeds, fixed partitioning)
  private def regDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val c = rng.nextInt(5).toDouble
      (a, b, c, 1.5 * a - b + 0.3 * c + 0.2 * rng.nextGaussian())
    }.toDF("a", "b", "c", "y").repartition(3)
  }

  private def clsDf(n: Int, k: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val y = ((1.3 * a + 0.9 * b + rng.nextGaussian()) / 3.0)
        .floor.toInt.max(0).min(k - 1)
      (a, b, rng.nextDouble(), y.toDouble)
    }.toDF("a", "b", "noise", "y").repartition(3)
  }

  test("binary logistic + subsample/colsample + shared train eval + " +
      "held-out eval (r11 fingerprint)") {
    val df = clsDf(400, 2, 11)
    val ev = clsDf(120, 2, 12)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 6,
        maxDepth = 4, eta = 0.4, subsample = 0.7, colsampleByTree = 0.8,
        evalMetric = Seq("logloss", "error"), seed = 101),
      evals = Seq(("train", df), ("held", ev)))
    assert(fingerprint(res) === "c6143c4afef2c79416c4f4f0ce834b02")
  }

  test("multi:softprob k=3 + numParallelTree=2 (r11 fingerprint)") {
    val res = GraftBoost.train(clsDf(360, 3, 21), DMatrixSpec("y"),
      TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 4, maxDepth = 3, numParallelTree = 2, seed = 202))
    assert(fingerprint(res) === "efd30291d875f9a851daacc18a7ef335")
  }

  test("rank:ndcg qid groups + group metric (r11 fingerprint)") {
    val rng = new scala.util.Random(31)
    val df = (1 to 40).flatMap { q =>
      (1 to 8).map { _ =>
        val a = rng.nextDouble(); val b = rng.nextDouble()
        (q.toLong, a, b, (3 * a - b + 0.3 * rng.nextGaussian())
          .floor.toInt.max(0).min(3).toDouble)
      }
    }.toDF("qid", "a", "b", "rel").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("qid")),
      TrainParams(objective = "rank:ndcg", numRounds = 5, maxDepth = 3,
        evalMetric = Seq("ndcg@4"), seed = 303),
      evals = Seq(("train", df)))
    assert(fingerprint(res) === "1c0ea2b72ff69ccbb2c0fc6165421734")
  }

  test("dart weighted + rateDrop + eval rebuild (r11 fingerprint)") {
    val res = GraftBoost.train(regDf(300, 41), DMatrixSpec("y"),
      TrainParams(booster = "dart", numRounds = 6, maxDepth = 3,
        rateDrop = 0.4, sampleType = "weighted", oneDrop = true,
        seed = 404),
      evals = Seq(("train", regDf(300, 41))))
    assert(fingerprint(res) === "0ea0c01ed7ac5e3bcda1b29b57145db7")
  }

  test("survival:aft interval bounds (r11 fingerprint)") {
    val rng = new scala.util.Random(51)
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble() * 3
      val t = math.exp(0.8 * a + 0.3 * rng.nextGaussian())
      val cens = rng.nextInt(3)
      val lo = if (cens == 2) t * 0.7 else t
      val hi = if (cens == 0) t else if (cens == 1) Double.NaN else t * 1.4
      (a, rng.nextDouble(), lo, hi)
    }.toDF("a", "b", "lo", "hi").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelLowerCol = Some("lo"), labelUpperCol = Some("hi")),
      TrainParams(objective = "survival:aft", numRounds = 5,
        maxDepth = 3, seed = 505))
    assert(fingerprint(res) === "e3117614d49266a5d13e52a2acc6eaf2")
  }

  test("multi-quantile adaptive leaf refresh (r11 fingerprint)") {
    val res = GraftBoost.train(regDf(350, 61), DMatrixSpec("y"),
      TrainParams(objective = "reg:quantileerror",
        quantileAlphas = Seq(0.1, 0.5, 0.9), numRounds = 4,
        maxDepth = 3, seed = 606))
    assert(fingerprint(res) === "3888fabc0732b8e7cc3e4fdca81e52e3")
  }

  test("MAE adaptive refresh + lossguide (r11 fingerprint)") {
    val res = GraftBoost.train(regDf(350, 71), DMatrixSpec("y"),
      TrainParams(objective = "reg:absoluteerror", numRounds = 4,
        growPolicy = "lossguide", maxLeaves = 12, maxDepth = 6,
        seed = 707))
    assert(fingerprint(res) === "3714cd468928031260fd34e4a03a5f25")
  }

  test("categorical partition + weight + base margin columns " +
      "(r11 fingerprint)") {
    val rng = new scala.util.Random(81)
    val df = (1 to 400).map { _ =>
      val c = rng.nextInt(9).toDouble
      val a = rng.nextDouble() * 2
      (a, c, 0.5 + rng.nextDouble(), rng.nextGaussian() * 0.1,
        (if (c == 2 || c == 5 || c == 7) 3.0 else 1.0) + a +
          0.2 * rng.nextGaussian())
    }.toDF("a", "c", "w", "bm", "y").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelCol = Seq("y"), weightCol = Some("w"),
        baseMarginCol = Some("bm"), categoricalCols = Seq("c")),
      TrainParams(numRounds = 4, maxDepth = 4, maxCatToOnehot = 4,
        seed = 808))
    assert(fingerprint(res) === "df3a818152481fbdf448c15957286940")
  }

  test("checkpoint fold-in resume == uninterrupted (r11 fingerprint)") {
    val df = regDf(300, 91)
    val p = TrainParams(numRounds = 3, maxDepth = 3, seed = 909)
    val first = GraftBoost.train(df, DMatrixSpec("y"), p)
    val res = GraftBoost.train(df, DMatrixSpec("y"), p,
      initModel = Some(first.model))
    assert(fingerprint(res) === "e1e1afd4678d1f3bdb6397ff4d734443")
  }

  test("survival:cox global pass (r11 fingerprint)") {
    val rng = new scala.util.Random(95)
    val df = (1 to 250).map { _ =>
      val a = rng.nextDouble() * 2
      val t = math.exp(-0.6 * a + 0.4 * rng.nextGaussian()) * 10
      // negative label = right-censored at |t| (xgboost cox convention)
      (a, rng.nextDouble(), if (rng.nextBoolean()) t else -t)
    }.toDF("a", "b", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "survival:cox", numRounds = 4,
        maxDepth = 3, seed = 919))
    assert(fingerprint(res) === "93d04c89f4245e18a896235d843cc983")
  }

  test("process_type=update refresh,prune (r11 fingerprint)") {
    val df = regDf(300, 97)
    val base = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(numRounds = 4, maxDepth = 4, seed = 929))
    val res = GraftBoost.train(regDf(300, 98), DMatrixSpec("y"),
      TrainParams(numRounds = 3, maxDepth = 4, seed = 929,
        processType = "update", updater = "refresh,prune", gamma = 0.1),
      initModel = Some(base.model))
    assert(fingerprint(res) === "b620fd5f3cb9de53367622329ed5037e")
  }

  // ---- r13 forward pins: the TrainBlock NULL-column fast paths ----
  // A block whose rows are all qid-0 stores qids = null, and one whose
  // rows are all uncensored stores uppers = null (TrainBlock.scala) —
  // these two tests force WHOLE partitions onto those paths while the
  // trainer still runs the group/bounds machinery, exactly where a
  // packing bug would hide. Captured from the r13 block trainer AFTER
  // the 11 r11 pins above passed, so they extend the same contract.

  test("rank:ndcg with an all-qid-0 partition (null-qids block path, " +
      "r13 fingerprint)") {
    val rng = new scala.util.Random(135)
    // three groups with qids {0, 1, 2}; sortByQid over 3 workers puts
    // the qid-0 group alone in partition 0 → its block stores qids=null
    // while group walking and ndcg eval still run over b.qid(i)
    val df = (0 to 2).flatMap { q =>
      (1 to 24).map { _ =>
        val a = rng.nextDouble(); val b = rng.nextDouble()
        (q.toLong, a, b, (3 * a - b + 0.3 * rng.nextGaussian())
          .floor.toInt.max(0).min(3).toDouble)
      }
    }.toDF("qid", "a", "b", "rel").repartition(2)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("qid")),
      TrainParams(objective = "rank:ndcg", numRounds = 4, maxDepth = 3,
        evalMetric = Seq("ndcg@8"), seed = 1313),
      evals = Seq(("train", df)), numWorkers = 3)
    assert(fingerprint(res) === "65b28e7b3dbf35f41b8bc89446ff0a8c")
  }

  test("multi-label one-pass shared pack (r13 fingerprint)") {
    // toBinned packs all labels once, L per row, and one run trains
    // every label's model from them; pin both per-label models
    // absolutely (weights + base margin columns ride along)
    val rng = new scala.util.Random(155)
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 0.5 + rng.nextDouble(), rng.nextGaussian() * 0.05,
        2.0 * a + 0.1 * rng.nextGaussian(),
        3.0 * b - a + 0.1 * rng.nextGaussian())
    }.toDF("a", "b", "w", "bm", "y1", "y2").repartition(3)
    val res = GraftBoost.trainMultiLabel(df,
      DMatrixSpec(labelCol = Seq("y1", "y2"), weightCol = Some("w"),
        baseMarginCol = Some("bm")),
      TrainParams(numRounds = 3, maxDepth = 3, seed = 1515,
        subsample = 0.85))
    val combined = res.results.map { case (l, r) =>
      s"$l:${fingerprint(r)}"
    }.mkString("|")
    assert(combined === "y1:f6e1ceb936f183f47c6811c004a7d84b|" +
      "y2:909f6c202a0cc42d154d914a69243ffe")
  }

  test("survival:aft all-uncensored point labels (null-uppers block " +
      "path, r13 fingerprint)") {
    val rng = new scala.util.Random(145)
    // labelLowerCol only, no upper column: every row is an uncensored
    // point label (upper == label), so blocks store uppers = null and
    // gradHessBounds + the aft-nloglik metric read b.upper(i) through
    // the null fallback
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble() * 3
      (a, rng.nextDouble(),
        math.exp(0.8 * a + 0.3 * rng.nextGaussian()))
    }.toDF("a", "b", "t").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelLowerCol = Some("t")),
      TrainParams(objective = "survival:aft", numRounds = 4,
        maxDepth = 3, evalMetric = Seq("aft-nloglik"), seed = 1414),
      evals = Seq(("train", df)))
    assert(fingerprint(res) === "5955e1fb1fc8e9431d9055a7bdf1ca3a")
  }

  // ---- tree-walk pins: every binned walk the trainer takes ----
  // The pins below reach the walks no earlier absolute golden reaches:
  // the refresh accumulation over categorical nodes, the adaptive-leaf
  // slot lookup on partition bitmaps, the init-model fold-in over
  // partition nodes, and the vector-leaf trainer's router. Captured
  // from the code before those walks were merged into one, so they
  // pin that merge bit for bit.

  /** Numeric `a` plus a 3-code feature (one-hot at maxCatToOnehot = 4)
    * and a 9-code feature (optimal partition); ~8% missing per
    * column, so every node kind also routes the missing bin. */
  private def catDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    def miss(v: Double) = if (rng.nextInt(12) == 0) Double.NaN else v
    (1 to n).map { _ =>
      val a = rng.nextDouble() * 4
      val c3 = rng.nextInt(3); val c9 = rng.nextInt(9)
      val y = a + (if (c3 == 1) 2.0 else 0.0) +
        (if (c9 == 2 || c9 == 5 || c9 == 7) 3.0 else 0.0) +
        0.2 * rng.nextGaussian()
      (miss(a), miss(c3.toDouble), miss(c9.toDouble), y)
    }.toDF("a", "c3", "c9", "y").repartition(3)
  }
  private val catSpec = DMatrixSpec(labelCol = Seq("y"),
    categoricalCols = Seq("c3", "c9"))

  private def hasNodes(m: GraftModel): (Boolean, Boolean) = {
    val internal = m.trees.flatMap(t =>
      (0 until t.numNodes).filter(t.feature(_) >= 0).map(i => (t, i)))
    (internal.exists { case (t, i) =>
      t.isCatNode(i) && !t.isPartitionNode(i) },
      internal.exists { case (t, i) => t.isPartitionNode(i) })
  }

  test("process_type=update refresh over one-hot and partition " +
      "categorical splits (walk fingerprint)") {
    val p = TrainParams(numRounds = 4, maxDepth = 4, maxCatToOnehot = 4,
      seed = 1161)
    val base = GraftBoost.train(catDf(400, 161), catSpec, p)
    assert(hasNodes(base.model) === ((true, true)))
    val res = GraftBoost.train(catDf(400, 162), catSpec,
      p.copy(numRounds = 3, processType = "update", updater = "refresh"),
      initModel = Some(base.model))
    assert(fingerprint(res) === "4a30ebed23ae3f9328de00c9631b893a")
  }

  test("reg:absoluteerror adaptive refresh over partition splits " +
      "(walk fingerprint)") {
    val res = GraftBoost.train(catDf(400, 171), catSpec,
      TrainParams(objective = "reg:absoluteerror", numRounds = 4,
        maxDepth = 3, maxCatToOnehot = 4, seed = 1171))
    assert(hasNodes(res.model)._2)
    assert(fingerprint(res) === "720d5ec5d0d09b8fd5769fea673bfcef")
  }

  test("continued training from an init model with partition splits " +
      "(walk fingerprint)") {
    val df = catDf(400, 181)
    val p = TrainParams(numRounds = 3, maxDepth = 3, maxCatToOnehot = 4,
      seed = 1181)
    val first = GraftBoost.train(df, catSpec, p)
    assert(hasNodes(first.model)._2)
    val res = GraftBoost.train(df, catSpec, p,
      initModel = Some(first.model))
    assert(fingerprint(res) === "c07469d4de5d297b3ece583f50ebd7c6")
  }

  test("multi_output_tree k=3 depth 4 vector-leaf trees (walk " +
      "fingerprint)") {
    val rng = new scala.util.Random(191)
    val df = (1 to 500).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val c = rng.nextDouble()
      (if (rng.nextInt(10) == 0) Double.NaN else a, b, c,
        2 * a - b + 0.1 * rng.nextGaussian(),
        a * b + 0.1 * rng.nextGaussian(),
        c - a + 0.1 * rng.nextGaussian())
    }.toDF("a", "b", "c", "u", "v", "w").repartition(3)
    val m = GraftBoost.trainMultiOutput(df,
      DMatrixSpec(labelCol = Seq("u", "v", "w")),
      TrainParams(numRounds = 5, maxDepth = 4, seed = 1191))
    assert(m.k === 3)
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
    assert(md.digest().map("%02x".format(_)).mkString.take(32) ===
      "797443459d5a1814dfb203104b2d1631")
  }
}
