package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * Optimal-partition categorical splits (xgboost `max_cat_to_onehot`
 * overflow path): when a node's category count reaches the threshold,
 * categories sorted by gradient ratio G/H are prefix-scanned for the
 * best many-vs-many grouping (Fisher's exact method for second-order
 * losses) instead of one-hot `== code` candidates. The left set rides
 * the model as a 256-bit bitmap per node.
 */
class CatPartitionSpec extends SparkTestBase {
  import spark.implicits._

  private val spec = DMatrixSpec(labelCol = Seq("y"),
    categoricalCols = Seq("cat"))

  /** Codes {1,2,5} carry mean 10, codes {0,3,4} mean 0 — the optimal
    * partition groups the interleaved codes, which no single one-hot
    * or contiguous-threshold split can express. */
  private def groupedDf(n: Int = 1200, noise: Double = 0.0,
      seed: Int = 3) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val c = i % 6
      val base = if (c == 1 || c == 2 || c == 5) 10.0 else 0.0
      (c.toDouble, base + noise * rng.nextGaussian())
    }.toDF("cat", "y")
  }

  private def bitsOf(t: RegTree, i: Int): Seq[Int] =
    (0 until 256).filter(c =>
      ((t.catBits(i)(c >> 6) >>> (c & 63)) & 1L) == 1L)

  test("hand-verifiable partition: interleaved high-mean codes {1,2,5} " +
      "form one side in a single split") {
    val m = GraftBoost.train(groupedDf(), spec, TrainParams(
      numRounds = 1, maxDepth = 1, eta = 1.0, seed = 1)).model
    val t = m.trees.head
    assert(t.feature(0) === 0 && t.isPartitionNode(0),
      "6 categories >= maxCatToOnehot=4 must take the partition path")
    val set = bitsOf(t, 0)
    assert(set === Seq(1, 2, 5) || set === Seq(0, 3, 4),
      s"the optimal grouping must separate the means, got $set")
    // routing: members of the stored set go left
    val leftCodes = set.toSet
    for (c <- 0 until 6) {
      val pred = m.predict(Array(c.toFloat))(0)
      val expectLeft = leftCodes.contains(c)
      val leafVal = t.value(if (expectLeft) t.left(0) else t.right(0))
      assert(pred === 0.5f + leafVal, s"code $c must route " +
        s"${if (expectLeft) "left" else "right"}")
    }
    // a depth-1 ONE-HOT tree cannot reach this fit: best one-hot
    // separates one code only
    val oneHot = GraftBoost.train(groupedDf(), spec, TrainParams(
      numRounds = 1, maxDepth = 1, eta = 1.0, seed = 1,
      maxCatToOnehot = 256)).model
    assert(!oneHot.trees.head.isPartitionNode(0))
  }

  test("maxCatToOnehot boundary: nCats < threshold stays one-hot, " +
      ">= threshold partitions") {
    val df = groupedDf()
    val part = GraftBoost.train(df, spec, TrainParams(numRounds = 1,
      maxDepth = 1, seed = 1, maxCatToOnehot = 6)).model
    assert(part.trees.head.isPartitionNode(0))
    val onehot = GraftBoost.train(df, spec, TrainParams(numRounds = 1,
      maxDepth = 1, seed = 1, maxCatToOnehot = 7)).model
    assert(!onehot.trees.head.isPartitionNode(0) &&
      onehot.trees.head.isCatNode(0))
  }

  test("golden equality: 1-partition model == 8-partition (partition " +
      "split search is histogram-exact)") {
    val rng = new scala.util.Random(17)
    val df = (0 until 3000).map { _ =>
      val c = rng.nextInt(8)
      val x = rng.nextDouble()
      (c.toDouble, x, c * 1.5 + 3 * x + rng.nextGaussian() * 0.3)
    }.toDF("cat", "x", "y")
    val p = TrainParams(numRounds = 4, maxDepth = 3, seed = 7)
    val s2 = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    val m1 = GraftBoost.train(df.repartition(1), s2, p).model
    val m8 = GraftBoost.train(df.repartition(8), s2, p).model
    assert(m1.dump() === m8.dump())
  }

  test("unseen and non-integral categories route right at inference") {
    val m = GraftBoost.train(groupedDf(), spec, TrainParams(
      numRounds = 1, maxDepth = 1, eta = 1.0, seed = 1)).model
    val t = m.trees.head
    val rightVal = 0.5f + t.value(t.right(0))
    val set = bitsOf(t, 0).toSet
    if (!set.contains(7)) {
      assert(m.predict(Array(99f))(0) === rightVal)
      assert(m.predict(Array(7.5f))(0) === rightVal)
    }
  }

  test("save/load round-trips partition bitmaps; dump renders the set") {
    val m = GraftBoost.train(groupedDf(), spec, TrainParams(
      numRounds = 2, maxDepth = 2, seed = 1)).model
    assert(m.dump().contains("in{"),
      "partition nodes must dump their category set")
    val dir = tempDir("catpart").toString
    m.save(spark, dir)
    val back = GraftModel.load(spark, dir)
    assert(back.dump() === m.dump())
    for (c <- 0 until 6) {
      assert(back.predict(Array(c.toFloat))(0) ===
        m.predict(Array(c.toFloat))(0))
    }
  }

  test("SHAP and Saabas walks stay locally accurate over partition " +
      "splits; xgboost-JSON export fails fast") {
    val df = groupedDf(noise = 1.0)
    val m = GraftBoost.train(df, spec, TrainParams(
      numRounds = 3, maxDepth = 2, seed = 5)).model
    for (c <- 0 until 6) {
      val x = Array(c.toFloat)
      val margin = m.margins(x)(0).toDouble
      val shap = m.shapContribs(x).map(_.toDouble)
      assert(math.abs(shap.sum - margin) < 1e-3,
        s"SHAP local accuracy at code $c")
      val saabas = m.contribs(x).map(_.toDouble)
      assert(math.abs(saabas.sum - margin) < 1e-3,
        s"Saabas local accuracy at code $c")
    }
    val ex = intercept[IllegalArgumentException] { m.toXgbJson }
    assert(ex.getMessage.contains("categorical"))
  }

  test("exact SHAP on a PARTITION tree matches brute-force Shapley " +
      "(bitmap routing through the conditioned walks)") {
    val rng = new scala.util.Random(29)
    val df = (0 until 1000).map { _ =>
      val c = rng.nextInt(6)
      val x = rng.nextDouble()
      (c.toDouble, x,
        (if (c == 1 || c == 2 || c == 5) 8.0 else 0.0) + 3 * x +
          rng.nextGaussian() * 0.2)
    }.toDF("cat", "x", "y")
    val s2 = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    val m = GraftBoost.train(df, s2, TrainParams(numRounds = 2,
      maxDepth = 3, seed = 9)).model
    assert(m.trees.exists(t =>
      (0 until t.numNodes).exists(t.isPartitionNode)),
      "the planted grouping must produce at least one partition split")
    def condExp(t: RegTree, x: Array[Float], s: Set[Int]): Double = {
      def rec(i: Int): Double =
        if (t.feature(i) < 0) t.value(i).toDouble
        else if (s.contains(t.feature(i))) {
          val v = x(t.feature(i))
          val goLeft =
            if (t.isPartitionNode(i)) {
              val c = v.toInt
              v == c && c >= 0 && c < 256 &&
                ((t.catBits(i)(c >> 6) >>> (c & 63)) & 1L) == 1L
            } else if (t.isCatNode(i)) v == t.threshold(i)
            else v <= t.threshold(i)
          rec(if (goLeft) t.left(i) else t.right(i))
        } else (t.cover(t.left(i)) * rec(t.left(i)) +
          t.cover(t.right(i)) * rec(t.right(i))) / t.cover(i)
      rec(0)
    }
    def fact(n: Int): Double = (1 to n).foldLeft(1.0)(_ * _)
    for (t <- m.trees; code <- Seq(0f, 1f, 5f)) {
      val x = Array(code, 0.3f)
      val phi = new Array[Double](2)
      val exp = t.shapWalk(x, phi)
      for (f <- 0 until 2) {
        val brute = (Set(0, 1) - f).subsets().toSeq.map { s =>
          val w = fact(s.size) * fact(2 - s.size - 1) / fact(2)
          w * (condExp(t, x, s + f) - condExp(t, x, s))
        }.sum
        assert(math.abs(phi(f) - brute) < 1e-10,
          s"code=$code f=$f shap=${phi(f)} brute=$brute")
      }
      assert(math.abs(phi.sum + exp - t.predictRaw(x)) < 1e-10)
    }
  }

  test("treesToDataFrame surfaces the partition set in `category` " +
      "with a null split") {
    val m = GraftBoost.train(groupedDf(), spec, TrainParams(
      numRounds = 1, maxDepth = 1, eta = 1.0, seed = 1)).model
    val root = m.treesToDataFrame(spark)
      .where(org.apache.spark.sql.functions.col("node") === 0)
      .collect().head
    assert(root.isNullAt(4), "partition split has no numeric threshold")
    val cats = root.getString(10).split(",").map(_.toInt).toSeq
    assert(cats === bitsOf(m.trees.head, 0))
  }

  test("composes with lossguide + dart (goldens) and the facades " +
      "forward maxCatToOnehot") {
    val rng = new scala.util.Random(23)
    val df = (0 until 2000).map { _ =>
      val c = rng.nextInt(6)
      (c.toDouble, (if (c % 2 == 0) 5.0 else 0.0) + rng.nextGaussian())
    }.toDF("cat", "y")
    val p = TrainParams(numRounds = 3, booster = "dart", rateDrop = 0.5,
      growPolicy = "lossguide", maxDepth = 0, maxLeaves = 4, seed = 11)
    val m1 = GraftBoost.train(df.repartition(1), spec, p).model
    val m8 = GraftBoost.train(df.repartition(8), spec, p).model
    assert(m1.dump() === m8.dump())
    val est = new graft.ml.GraftRegressor().setLabelCol("y")
      .setCategoricalCols(Seq("cat")).setMaxCatToOnehot(256)
      .setNumRounds(1).setMaxDepth(1).setSeed(1)
    assert(!est.fit(df).model.trees.head.isPartitionNode(0),
      "native facade must forward maxCatToOnehot")
    val xgb = new graft.ml.GraftXGBRegressor().setLabelCol("y")
      .setCategoricalCols(Array("cat")).setMaxCatToOnehot(256)
      .setNumRounds(1).setMaxDepth(1).setSeed(1)
    assert(!xgb.fit(df).graftModel.trees.head.isPartitionNode(0),
      "MLlib facade must forward maxCatToOnehot")
  }

  test("binned walk over the fitted bins lands on the raw walk's leaf " +
      "(numeric, one-hot and partition nodes; NaN and seen codes)") {
    // bin(x) <= thresholdBin  <=>  x <= threshold, per node kind: the
    // trainer walks bins, predict walks raw floats
    val rng = new scala.util.Random(29)
    def miss(v: Float) = if (rng.nextInt(10) == 0) Float.NaN else v
    val rows = (0 until 1500).map { _ =>
      val x = rng.nextFloat() * 4
      val c3 = rng.nextInt(3); val c9 = rng.nextInt(9)
      val y = x + (if (c3 == 1) 2.0 else 0.0) +
        (if (c9 == 2 || c9 == 5 || c9 == 7) 3.0 else 0.0) +
        0.2 * rng.nextGaussian()
      (Array(miss(x), miss(c3.toFloat), miss(c9.toFloat)), y)
    }
    val df = rows.map { case (f, y) =>
      (f(0).toDouble, f(1).toDouble, f(2).toDouble, y)
    }.toDF("x", "c3", "c9", "y").repartition(3)
    val m = GraftBoost.train(df, DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("c3", "c9")), TrainParams(numRounds = 4,
      maxDepth = 4, maxCatToOnehot = 4, seed = 29)).model
    // the training binner's exact path: the same cuts from the same rows
    val bins = Binner.fit(spark.sparkContext.parallelize(rows.map(_._1)),
      rows.length, catFeatures = Array(false, true, true))
    val nodes = m.trees.toSeq.flatMap(t =>
      (0 until t.numNodes).filter(t.feature(_) >= 0).map((t, _)))
    nodes.foreach { case (t, i) =>
      if (!t.isCatNode(i))
        assert(bins.cuts(t.feature(i))(t.thresholdBin(i)) === t.threshold(i),
          "model thresholds must come from these bins")
    }
    assert(nodes.exists { case (t, i) => !t.isCatNode(i) })
    assert(nodes.exists { case (t, i) =>
      t.isCatNode(i) && !t.isPartitionNode(i) })
    assert(nodes.exists { case (t, i) => t.isPartitionNode(i) })
    assert(rows.exists(_._1.exists(_.isNaN)))
    rows.foreach { case (x, _) =>
      val binned = Array.tabulate(x.length)(f => bins.bin(f, x(f)).toByte)
      m.trees.foreach { t =>
        assert(t.leafBinned(binned, 0, Binner.MissingBin) === t.leafIndex(x),
          s"row ${x.mkString(",")}")
      }
    }
  }
}
