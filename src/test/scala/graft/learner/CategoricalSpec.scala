package graft.learner

import graft.SparkTestBase
import graft.api.{GraftBoost, GraftLinear}
import graft.data.DMatrixSpec

/**
 * Categorical-feature handling — the `enable_categorical` analog
 * (reference matrix.py:142,159,800 forwards the flag into DMatrix):
 * declared category-code columns get one-hot `== code` partition
 * splits in the grower instead of ordered thresholds.
 */
class CategoricalSpec extends SparkTestBase {
  import spark.implicits._

  /** 10 uniform category codes; y = 10 exactly when code == 5. A
    * MIDDLE category is deliberately chosen: a single ordered
    * threshold cannot isolate it, a single one-hot split can. */
  private def midCatDf(n: Int = 1000) = {
    val rng = new scala.util.Random(7)
    (1 to n).map { _ =>
      val c = rng.nextInt(10)
      (c.toDouble, rng.nextDouble(), if (c == 5) 10.0 else 0.0)
    }.toDF("cat", "noise", "y")
  }

  private def trainRmse(df: org.apache.spark.sql.DataFrame,
      spec: DMatrixSpec, params: TrainParams): (GraftModel, Double) = {
    val m = GraftBoost.train(df, spec, params).model
    val sq = GraftBoost.predict(m, df, spec)
      .selectExpr("avg(pow(prediction - y, 2))").head().getDouble(0)
    (m, math.sqrt(sq))
  }

  test("one-hot categorical split isolates a middle category a " +
      "depth-1 numeric threshold cannot") {
    val df = midCatDf().repartition(3)
    // pin the ONE-HOT path: 10 codes would otherwise take the r9
    // optimal-partition path (maxCatToOnehot default 4), which
    // CatPartitionSpec covers
    val params = TrainParams(objective = "reg:squarederror",
      numRounds = 1, maxDepth = 1, seed = 1, maxCatToOnehot = 256)
    val (mCat, rmseCat) = trainRmse(df,
      DMatrixSpec(labelCol = Seq("y"), categoricalCols = Seq("cat")),
      params)
    val (_, rmseNum) = trainRmse(df, DMatrixSpec("y"), params)
    // the categorical stump must actually BE a categorical split on 5
    val t = mCat.trees.head
    assert(t.isCatNode(0), "root should be a one-hot categorical split")
    assert(t.threshold(0) === 5f,
      s"should split on code 5, got ${t.threshold(0)}")
    assert(rmseCat < 0.8 * rmseNum,
      s"categorical rmse $rmseCat should beat numeric $rmseNum")
  }

  test("golden equality: 1-partition categorical model == 8-partition") {
    val df = midCatDf(2000)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    val params = TrainParams(objective = "reg:squarederror",
      numRounds = 3, maxDepth = 3, seed = 5)
    val m1 = GraftBoost.train(df.repartition(1), spec, params).model
    val m8 = GraftBoost.train(df.repartition(8), spec, params).model
    assert(m1.dump() === m8.dump(),
      "categorical trees must be partition-count invariant")
    assert(m1.trees.exists(t => (0 until t.numNodes).exists(t.isCatNode)),
      "the model should contain at least one categorical split")
  }

  test("categorical model save/load round-trips catSplit and predicts " +
      "identically; numeric-model load stays all-numeric") {
    val df = midCatDf(500).repartition(2)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    val m = GraftBoost.train(df, spec, TrainParams(numRounds = 2,
      maxDepth = 2, seed = 3)).model
    val path = tempDir("graft-cat-model").toString
    m.save(spark, path)
    val loaded = GraftModel.load(spark, path)
    assert(loaded.dump() === m.dump())
    val probe = Array(5f, 0.5f)
    assert(loaded.predict(probe).toSeq === m.predict(probe).toSeq)
    // and the reloaded tree still routes == (category 6 ≠ 5 goes right)
    assert(loaded.predict(Array(6f, 0.5f)).toSeq ===
      m.predict(Array(6f, 0.5f)).toSeq)
  }

  test("exact SHAP on a categorical tree matches brute force") {
    val df = midCatDf(400).repartition(2)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    // one-hot pinned: the brute-force helper below uses == routing
    val m = GraftBoost.train(df, spec, TrainParams(numRounds = 2,
      maxDepth = 3, seed = 9, maxCatToOnehot = 256)).model

    // brute-force Shapley with == routing for categorical nodes
    def condExp(t: RegTree, x: Array[Float], s: Set[Int]): Double = {
      def rec(i: Int): Double =
        if (t.feature(i) < 0) t.value(i).toDouble
        else if (s.contains(t.feature(i))) {
          val v = x(t.feature(i))
          val goLeft =
            if (t.isCatNode(i)) v == t.threshold(i)
            else v <= t.threshold(i)
          rec(if (goLeft) t.left(i) else t.right(i))
        } else (t.cover(t.left(i)) * rec(t.left(i)) +
          t.cover(t.right(i)) * rec(t.right(i))) / t.cover(i)
      rec(0)
    }
    def fact(n: Int): Double = (1 to n).foldLeft(1.0)(_ * _)
    for (t <- m.trees; code <- Seq(0f, 5f, 7f)) {
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

  test("eval sets tolerate unseen category codes (bin to the spare " +
      "non-matching bin, route like predict) while train rows fail fast") {
    val df = midCatDf().repartition(3)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    // eval set contains code 12, never seen in training (max 9)
    val evalDf = midCatDf(100)
      .union(Seq((12.0, 0.5, 0.0)).toDF("cat", "noise", "y"))
    val res = GraftBoost.train(df, spec,
      TrainParams(objective = "reg:squarederror", numRounds = 2,
        maxDepth = 2, seed = 1, evalMetric = Seq("rmse")),
      evals = Seq(("val", evalDf)))
    // training completed and the eval metric was computed every round
    assert(res.evalsResult("val")("rmse").size === 2)
    // the same unseen code scores through predict without error and
    // routes off the cat==5 branch (prediction = the "other" leaf)
    val p = GraftBoost.predict(res.model,
      Seq((12.0, 0.5, 0.0)).toDF("cat", "noise", "y"), spec)
      .select("prediction").head().getDouble(0)
    val pOther = GraftBoost.predict(res.model,
      Seq((3.0, 0.5, 0.0)).toDF("cat", "noise", "y"), spec)
      .select("prediction").head().getDouble(0)
    assert(math.abs(p - pOther) < 1e-6,
      "unseen category must route like any non-matching code")
  }

  test("monotone constraint on a declared-categorical feature is " +
      "rejected at validation (one-hot partitions have no order)") {
    val df = midCatDf().repartition(2)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat"))
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, spec,
        TrainParams(objective = "reg:squarederror", numRounds = 1,
          maxDepth = 2, seed = 1,
          monotoneConstraints = Seq(1, 0)))
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
  }

  test("fail-fast: non-integral categorical values") {
    val df = Seq((1.5, 1.0), (2.0, 2.0), (0.0, 0.0)).toDF("cat", "y")
    val e = intercept[Exception] {
      GraftBoost.train(df, DMatrixSpec(labelCol = Seq("y"),
        categoricalCols = Seq("cat")), TrainParams(numRounds = 1))
    }
    assert(e.getMessage.contains("non-integral") ||
      e.getMessage.contains("integer category code"))
  }

  test("fail-fast: more than 255 categories") {
    val df = (0 to 300).map(i => (i.toDouble, i % 2 * 1.0)).toDF("cat", "y")
    val e = intercept[Exception] {
      GraftBoost.train(df, DMatrixSpec(labelCol = Seq("y"),
        categoricalCols = Seq("cat")), TrainParams(numRounds = 1))
    }
    assert(e.getMessage.contains("categories"))
  }

  test("fail-fast: string categorical column names the indexing fix") {
    val df = Seq(("a", 1.0), ("b", 0.0)).toDF("cat", "y")
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec(labelCol = Seq("y"),
        categoricalCols = Seq("cat")), TrainParams(numRounds = 1))
    }
    assert(e.getMessage.toLowerCase.contains("cast") ||
      e.getMessage.contains("StringIndexer"))
  }

  test("fail-fast: categoricalCols with a pre-assembled feature column") {
    val df = Seq((Array(1f, 2f), 1.0), (Array(0f, 1f), 0.0))
      .toDF("features", "y")
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec(labelCol = Seq("y"),
        featureCols = Some(Seq("features")),
        categoricalCols = Seq("features")), TrainParams(numRounds = 1))
    }
    assert(e.getMessage.contains("pre-assembled"))
  }

  test("fail-fast: gblinear rejects categorical columns") {
    val df = Seq((1.0, 1.0), (2.0, 0.0)).toDF("cat", "y")
    val e = intercept[IllegalArgumentException] {
      GraftLinear.train(df, DMatrixSpec(labelCol = Seq("y"),
        categoricalCols = Seq("cat")), TrainParams(numRounds = 1))
    }
    assert(e.getMessage.contains("one-hot"))
  }

  test("sketch path: categorical identity bins + integrality check " +
      "survive the distributed (non-collect) fit") {
    val rows = spark.sparkContext.parallelize(
      (1 to 5000).map(i => Array((i % 13).toFloat, i.toFloat)), 8)
    // force the sketch path with a tiny maxSampleRows
    val bins = Binner.fit(rows, totalRows = 5000, maxBins = 64,
      maxSampleRows = 10, catFeatures = Array(true, false))
    assert(bins.isCat(0) && !bins.isCat(1))
    // identity binning: bin(code) == code for every observed code
    for (c <- 0 until 13) assert(bins.bin(0, c.toFloat) === c)
    assert(bins.numBins(0) === 13)
    // non-integral flows through the same distributed pass
    val bad = spark.sparkContext.parallelize(
      (1 to 5000).map(i => Array(i % 13 + 0.5f, i.toFloat)), 8)
    val e = intercept[Exception] {
      Binner.fit(bad, totalRows = 5000, maxBins = 64,
        maxSampleRows = 10, catFeatures = Array(true, false))
    }
    assert(e.getMessage.contains("non-integral"))
  }

  test("binning a non-integral value against categorical cuts fails " +
      "fast instead of mis-binning") {
    val bins = Binner.Bins(
      Array(Array(0f, 1f, 2f)), Array(true))
    assert(bins.bin(0, 2f) === 2)
    val e = intercept[IllegalArgumentException] { bins.bin(0, 1.5f) }
    assert(e.getMessage.contains("category code"))
    val e2 = intercept[IllegalArgumentException] { bins.bin(0, 9f) }
    assert(e2.getMessage.contains("category code"))
    // NaN is still the missing sentinel, not an error
    assert(bins.bin(0, Float.NaN) === Binner.MissingBin)
  }
}
