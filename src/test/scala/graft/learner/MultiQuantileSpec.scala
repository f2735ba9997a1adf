package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * Vector `quantile_alpha` (xgboost 2.x accepts a list; the reference
 * forwards params verbatim, main.py:1341-1398): one tree per α per
 * round, each output fitting its own pinball gradient and refreshing
 * its leaves to ITS OWN output's residual quantile.
 */
class MultiQuantileSpec extends SparkTestBase {
  import spark.implicits._

  private def noisyDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a - 2 * b + rng.nextGaussian())
    }.toDF("a", "b", "y")
  }

  test("golden: quantileAlphas = Seq(a) is bit-identical to scalar " +
      "quantileAlpha = a") {
    val df = noisyDf(2000, 7).repartition(3)
    val ps = TrainParams(objective = "reg:quantileerror",
      quantileAlpha = 0.75, numRounds = 4, maxDepth = 3, seed = 11)
    val pv = ps.copy(quantileAlphas = Seq(0.75))
    val ms = GraftBoost.train(df, DMatrixSpec("y"), ps).model
    val mv = GraftBoost.train(df, DMatrixSpec("y"), pv).model
    assert(ms.dump() === mv.dump())
    assert(mv.objective === "reg:quantileerror")
  }

  test("golden: vector form is partition-invariant (1 == 8 partitions)") {
    val df = noisyDf(2500, 13)
    val p = TrainParams(objective = "reg:quantileerror",
      quantileAlphas = Seq(0.1, 0.5, 0.9), numRounds = 4, maxDepth = 3,
      seed = 17)
    val m1 = GraftBoost.train(df.repartition(1), DMatrixSpec("y"), p).model
    val m8 = GraftBoost.train(df.repartition(8), DMatrixSpec("y"), p).model
    assert(m1.dump() === m8.dump())
    assert(m1.numClass === 3, "k-output regression model")
    assert(m1.trees.length === 4 * 3, "one tree per alpha per round")
  }

  test("each output converges to its own conditional quantile " +
      "(per-tree residuals, not m(0) — the r9 refactor's point)") {
    // y = 5 + Exp(1): Q_alpha = 5 - ln(1 - alpha); the 0.1/0.9 spread
    // is only recoverable if each output refreshes against its own
    // margin with its own alpha
    val rng = new scala.util.Random(3)
    val df = (1 to 4000).map { _ =>
      (rng.nextDouble(), 5.0 + (-math.log(1.0 - rng.nextDouble())))
    }.toDF("a", "y").repartition(4)
    val p = TrainParams(objective = "reg:quantileerror",
      quantileAlphas = Seq(0.1, 0.9), numRounds = 30, maxDepth = 2,
      eta = 0.3, seed = 5)
    val res = GraftBoost.train(df, DMatrixSpec("y"), p)
    val preds = GraftBoost.predict(res.model, df, DMatrixSpec("y"))
      .select("predictions").as[Seq[Float]].collect()
    val mean0 = preds.map(_(0).toDouble).sum / preds.length
    val mean1 = preds.map(_(1).toDouble).sum / preds.length
    val q10 = 5.0 - math.log(0.9) // ~5.105
    val q90 = 5.0 - math.log(0.1) // ~7.303
    assert(math.abs(mean0 - q10) < 0.2,
      s"output 0 must center on Q_0.1 ~ $q10, got $mean0")
    assert(math.abs(mean1 - q90) < 0.35,
      s"output 1 must center on Q_0.9 ~ $q90, got $mean1")
  }

  test("predict exposes the full vector plus scalar first-alpha " +
      "prediction; save/load round-trips the @-encoded objective") {
    val df = noisyDf(800, 23).repartition(2)
    val p = TrainParams(objective = "reg:quantileerror",
      quantileAlphas = Seq(0.25, 0.75), numRounds = 2, maxDepth = 2,
      seed = 29)
    val res = GraftBoost.train(df, DMatrixSpec("y"), p)
    assert(res.model.objective === "reg:quantileerror@0.25,0.75")
    val out = GraftBoost.predict(res.model, df, DMatrixSpec("y"))
    val row = out.select("predictions", "prediction").head()
    val vec = row.getSeq[Float](0)
    assert(vec.length === 2)
    assert(row.getDouble(1) === vec(0).toDouble,
      "scalar prediction = first alpha's output")

    val dir = tempDir("graft-mq").toString
    res.model.save(spark, dir)
    val loaded = GraftModel.load(spark, dir)
    assert(loaded.dump() === res.model.dump())
    assert(loaded.objective === "reg:quantileerror@0.25,0.75")
    assert(loaded.numClass === 2)
    // a loaded model predicts identically (objective name carries alphas)
    val out2 = GraftBoost.predict(loaded, df, DMatrixSpec("y"))
      .select("predictions").as[Seq[Float]].collect()
    val out1 = out.select("predictions").as[Seq[Float]].collect()
    assert(out1.toSeq === out2.toSeq)
  }

  test("default eval metric is the multi-alpha pinball mean " +
      "(quantile@a1,a2) and it improves over rounds") {
    val rng = new scala.util.Random(41)
    val df = (1 to 2000).map { _ =>
      (rng.nextDouble(), 5.0 + (-math.log(1.0 - rng.nextDouble())))
    }.toDF("a", "y").repartition(3)
    val p = TrainParams(objective = "reg:quantileerror",
      quantileAlphas = Seq(0.1, 0.9), numRounds = 15, maxDepth = 2,
      eta = 0.3, seed = 43)
    val res = GraftBoost.train(df, DMatrixSpec("y"), p,
      evals = Seq(("train", df)))
    val hist = res.evalsResult("train")
    assert(hist.contains("quantile@0.1,0.9"),
      s"default metric must carry both alphas, got ${hist.keySet}")
    val curve = hist("quantile@0.1,0.9")
    assert(curve.last < curve.head * 0.8,
      s"multi-alpha pinball must improve: ${curve.head} -> ${curve.last}")
    // strict arity (r11): an alpha list that mismatches the model's
    // output count must fail loudly, not silently pair wrong slots
    val bad = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec("y"),
        p.copy(numRounds = 1, evalMetric = Seq("quantile@0.1,0.5,0.9")),
        evals = Seq(("train", df)))
    }
    assert(bad.getMessage.contains("alpha"),
      s"expected the alpha-arity message, got: ${bad.getMessage}")
  }

  test("facade: GraftXGBRegressor.setQuantileAlphas trains the vector " +
      "form through the MLlib surface") {
    val df = noisyDf(600, 31).repartition(2)
    val est = new graft.ml.GraftXGBRegressor()
      .setObjective("reg:quantileerror")
      .setQuantileAlphas(Array(0.2, 0.8))
      .setLabelCol("y").setFeaturesCols(Array("a", "b"))
      .setNumRounds(2).setMaxDepth(2).setSeed(37)
    val m = est.fit(df)
    assert(m.graftModel.objective === "reg:quantileerror@0.2,0.8")
    val out = m.transform(df)
    assert(out.columns.contains("prediction"))
    assert(out.columns.contains("predictions"))
    assert(out.count() === 600)
  }
}
