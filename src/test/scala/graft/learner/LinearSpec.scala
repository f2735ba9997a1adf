package graft.learner

import graft.SparkTestBase
import graft.api.GraftLinear
import graft.data.DMatrixSpec
import org.apache.spark.sql.functions._

/**
 * Linear booster (gblinear analog) semantics: convergence to a known
 * linear signal, partition invariance, missing-as-zero, and
 * codegen-predict parity (reference surface:
 * xgboost_ray/tests/test_sklearn.py:493 gblinear).
 */
class LinearSpec extends SparkTestBase {
  import spark.implicits._

  // y = 2·x0 − 3·x1 + 1 with standardized-ish inputs
  private def linearDf(n: Int = 2000) = {
    val rng = new scala.util.Random(7)
    (0 until n).map { _ =>
      val x0 = rng.nextDouble() * 2 - 1
      val x1 = rng.nextDouble() * 2 - 1
      (x0, x1, 2.0 * x0 - 3.0 * x1 + 1.0)
    }.toDF("x0", "x1", "y")
  }

  test("eval sets record per-round metrics and early stopping fires " +
      "once converged (gblinear eval_set surface)") {
    // y = 2x, zero-mean x, no intercept term active: with eta = 0.5
    // and lambda = 0 the weight closes half the gap to 2 each round —
    // geometric convergence until float rounding freezes it, after
    // which rmse goes exactly constant and a 3-round patience must
    // stop well short of numRounds
    val df = Seq(-2.0, -1.0, 1.0, 2.0).flatMap(x =>
      Seq.fill(50)((x, 2.0 * x))).toDF("x", "y").repartition(4)
    val res = GraftLinear.trainWithEvals(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 50,
        eta = 0.5, lambda = 0.0, baseScore = 0.0,
        earlyStoppingRounds = 3),
      evals = Seq(("train", df)))
    val rmse = res.evalsResult("train")("rmse")
    assert(rmse.last < rmse.head, s"rmse did not improve: $rmse")
    assert(rmse.last < 1e-3, s"did not converge: ${rmse.last}")
    assert(rmse.length < 50, s"early stopping never fired: ${rmse.length}")
    assert(res.bestIteration >= 0 && res.bestIteration < rmse.length)
    assert(res.bestScore === rmse(res.bestIteration))
    // the facade surfaces the same history
    val fm = new graft.ml.GraftLinearRegressor()
      .setLabelCol("y")
      .setParams(TrainParams(objective = "reg:squarederror",
        numRounds = 5, eta = 1.0, lambda = 0.0, baseScore = 0.0))
      .setEvalSets(Seq(("train", df)))
      .fit(df)
    assert(fm.evalsResult("train")("rmse").length === 5)
  }

  test("duplicate eval-set names fail fast (they would interleave one " +
      "metric history and misdirect early stopping)") {
    val df = Seq((1.0, 2.0), (2.0, 4.0)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      GraftLinear.trainWithEvals(df, DMatrixSpec("y"),
        TrainParams(objective = "reg:squarederror", numRounds = 2),
        evals = Seq(("eval", df), ("eval", df)))
    }
    assert(e.getMessage.contains("duplicate eval set names"))
  }

  test("wrong-width pre-assembled eval rows fail fast instead of " +
      "scoring as all-missing") {
    val train = Seq((Array(1.0, 2.0), 1.0), (Array(2.0, 1.0), 0.0))
      .toDF("fs", "y")
    val badEval = Seq((Array(1.0, 2.0, 3.0), 1.0)).toDF("fs", "y")
    val spec = DMatrixSpec("y").copy(featureCols = Some(Seq("fs")))
    val e = intercept[org.apache.spark.SparkException] {
      GraftLinear.trainWithEvals(train, spec,
        TrainParams(objective = "reg:squarederror", numRounds = 2),
        evals = Seq(("eval", badEval)))
    }
    assert(e.getMessage.contains("feature row has 3 element(s)") ||
      Option(e.getCause).exists(
        _.getMessage.contains("feature row has 3 element(s)")),
      e.getMessage)
  }

  test("several eval metrics record full per-round histories (single " +
      "margin pass per round)") {
    val df = Seq(-2.0, -1.0, 1.0, 2.0).flatMap(x =>
      Seq.fill(20)((x, 2.0 * x))).toDF("x", "y").repartition(4)
    val res = GraftLinear.trainWithEvals(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 4,
        eta = 0.5, lambda = 0.0, baseScore = 0.0,
        evalMetric = Seq("rmse", "mae")),
      evals = Seq(("train", df)))
    val rmse = res.evalsResult("train")("rmse")
    val mae = res.evalsResult("train")("mae")
    assert(rmse.length === 4 && mae.length === 4)
    assert(rmse.last < rmse.head && mae.last < mae.head)
    // rmse ≥ mae pointwise on any sample (Jensen), a cheap cross-check
    // that the two series really are different metrics on the same rows
    rmse.zip(mae).foreach { case (r, m) => assert(r >= m - 1e-12) }
  }

  test("recovers a linear signal with squared error") {
    val df = linearDf()
    val m = GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 200,
        eta = 0.5, lambda = 0.0, baseScore = 0.0))
    assert(math.abs(m.weights(0)(0) - 2.0) < 0.1,
      m.weights(0).mkString(","))
    assert(math.abs(m.weights(0)(1) + 3.0) < 0.1,
      m.weights(0).mkString(","))
    assert(math.abs(m.bias(0) - 1.0) < 0.1, m.bias(0).toString)
    // prediction RMSE well under the all-mean baseline
    val pred = GraftLinear.predict(m, df, DMatrixSpec("y"))
    val rmse = math.sqrt(pred
      .select(avg(pow(col("prediction") - col("y"), 2))).head.getDouble(0))
    assert(rmse < 0.2, s"rmse=$rmse")
  }

  test("partitioning does not change the learned model") {
    val df = linearDf(500)
    val p = TrainParams(objective = "reg:squarederror", numRounds = 20,
      seed = 3)
    val m1 = GraftLinear.train(df.coalesce(1), DMatrixSpec("y"), p)
    val m8 = GraftLinear.train(df.repartition(8), DMatrixSpec("y"), p)
    // double-precision sums of float inputs: float-rounded weights agree
    (m1.weights(0) zip m8.weights(0)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-5f, s"$a vs $b")
    }
    assert(math.abs(m1.bias(0) - m8.bias(0)) < 1e-5f)
  }

  test("logistic gblinear separates a linear boundary") {
    val rng = new scala.util.Random(11)
    val df = (0 until 2000).map { _ =>
      val x0 = rng.nextDouble() * 2 - 1
      val x1 = rng.nextDouble() * 2 - 1
      (x0, x1, if (x0 - x1 > 0) 1.0 else 0.0)
    }.toDF("x0", "x1", "label")
    val m = GraftLinear.train(df, DMatrixSpec("label"),
      TrainParams(objective = "binary:logistic", numRounds = 100,
        eta = 0.5, lambda = 0.0))
    val acc = GraftLinear.predict(m, df, DMatrixSpec("label"))
      .select(avg(when((col("prediction") >= 0.5) ===
        (col("label") === 1.0), 1.0).otherwise(0.0))).head.getDouble(0)
    assert(acc > 0.95, s"accuracy=$acc")
  }

  test("estimator facade + save/load round-trip") {
    val df = linearDf(800)
    val m = new graft.ml.GraftLinearRegressor()
      .setLabelCol("y")
      .setParams(TrainParams(objective = "reg:squarederror",
        numRounds = 50, eta = 0.5, lambda = 0.0, baseScore = 0.0))
      .fit(df)
    val dir = tempDir("graft-linear").toString + "/m"
    m.save(spark, dir)
    val loaded = GraftLinear.load(spark, dir)
    assert(loaded.weights.map(_.toSeq).toSeq ===
      m.model.weights.map(_.toSeq).toSeq)
    assert(loaded.bias.toSeq === m.model.bias.toSeq)
    assert(loaded.objective === m.model.objective)
    // transform parity between saved and loaded models
    val a = m.transform(df).agg(sum("prediction")).head.getDouble(0)
    val b = GraftLinear.predict(loaded, df, DMatrixSpec("y"))
      .agg(sum("prediction")).head.getDouble(0)
    assert(a === b)
  }

  test("per-row base margins are honored at predict time") {
    // constant residual signal on top of a declared base margin: with
    // bm honored, train and predict agree; a predict that falls back
    // to the init margin would shift every prediction by (bm − init)
    val df = (0 until 400).map { i =>
      val x = i / 400.0
      (x, 5.0, 5.0 + 2.0 * x) // y = bm + 2x
    }.toDF("x", "bm", "y")
    val spec = DMatrixSpec("y").copy(baseMarginCol = Some("bm"))
    val m = GraftLinear.train(df, spec,
      TrainParams(objective = "reg:squarederror", numRounds = 100,
        eta = 0.5, lambda = 0.0))
    val mse = GraftLinear.predict(m, df, spec)
      .select(avg(pow(col("prediction") - col("y"), 2))).head.getDouble(0)
    assert(mse < 0.05, s"mse=$mse — base margin dropped at predict?")
  }

  test("multiclass gblinear separates 3 linearly-separable classes") {
    val rng = new scala.util.Random(17)
    val df = (0 until 3000).map { _ =>
      val x0 = rng.nextDouble() * 2 - 1
      val x1 = rng.nextDouble() * 2 - 1
      val cls = if (x0 > 0.3) 2 else if (x0 < -0.3) 0 else 1
      (x0, x1, cls)
    }.toDF("x0", "x1", "label")
    val m = GraftLinear.train(df, DMatrixSpec("label"),
      TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 150, eta = 0.5, lambda = 0.0))
    assert(m.numClass === 3)
    val out = GraftLinear.predict(m, df, DMatrixSpec("label"))
    val acc = out.select(avg(when(col("prediction") ===
      col("label").cast("double"), 1.0).otherwise(0.0)))
      .head.getDouble(0)
    assert(acc > 0.9, s"accuracy=$acc")
    // probabilities sum to 1
    val psum = out.select(avg(aggregate(col("probabilities"),
      lit(0.0), (a, e) => a + e))).head.getDouble(0)
    assert(math.abs(psum - 1.0) < 1e-9, s"prob sum=$psum")
  }

  test("missing (null) features contribute nothing") {
    // x1 is entirely NULL: the model must learn on x0 alone and assign
    // x1 weight 0 (its gradient sums are empty)
    val df = Seq((1.0, Option.empty[Double], 2.0),
      (2.0, Option.empty[Double], 4.0),
      (3.0, Option.empty[Double], 6.0),
      (4.0, Option.empty[Double], 8.0))
      .toDF("x0", "x1", "y")
    val m = GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 50,
        eta = 0.5, lambda = 0.0, baseScore = 0.0))
    assert(m.weights(0)(1) === 0.0f, m.weights(0).mkString(","))
    val pred = GraftLinear.predict(m, df, DMatrixSpec("y"))
      .select(avg(pow(col("prediction") - col("y"), 2))).head.getDouble(0)
    assert(pred < 0.5, s"mse=$pred")
  }

  test("predictContrib: gblinear contributions are exactly w_j*x_j " +
      "with the bias slot closing each block to the margin") {
    val df = linearDf(800).repartition(3)
    val m = GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 20,
        seed = 3))
    val rows = GraftLinear.predictContrib(m, df, DMatrixSpec("y"))
      .withColumn("margin",
        m.predictExpr(DMatrixSpec("y").featuresArray(df)))
      .select("x0", "x1", "contribs", "margin").collect()
    assert(rows.length === 800)
    rows.foreach { r =>
      val c = r.getSeq[Float](2)
      assert(c.size === 3) // 2 features + bias
      // exact decomposition: entry j is w_j * x_j
      assert(math.abs(c(0) - m.weights(0)(0) * r.getDouble(0)) < 1e-5)
      assert(math.abs(c(1) - m.weights(0)(1) * r.getDouble(1)) < 1e-5)
      // block sums to the margin (float association tolerance)
      assert(math.abs(c.map(_.toDouble).sum - r.getDouble(3)) < 1e-4,
        s"contrib sum ${c.map(_.toDouble).sum} vs margin " +
          s"${r.getDouble(3)}")
    }
  }

  test("predictContrib: missing features contribute zero (sparse " +
      "semantics), base margin rides the bias slot") {
    val df = Seq(
      (1.0, Double.NaN, 0.0, 2.5f),
      (Double.NaN, 2.0, 0.0, Float.NaN)).toDF("x0", "x1", "y", "bm")
    val m = GraftLinear.LinearModel(
      Array(Array(2f, -3f)), Array(0.25f), "reg:squarederror", 0.5)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      baseMarginCol = Some("bm"))
    val rows = GraftLinear.predictContrib(m, df, spec)
      .select("contribs").collect().map(_.getSeq[Float](0))
    // row 0: x1 missing -> 0; bias slot = bm(2.5) + 0.25
    assert(math.abs(rows(0)(0) - 2f) < 1e-6)
    assert(rows(0)(1) === 0f)
    assert(math.abs(rows(0)(2) - 2.75f) < 1e-6)
    // row 1: x0 missing; bias falls back to init margin 0.5 + 0.25
    assert(rows(1)(0) === 0f)
    assert(math.abs(rows(1)(1) - (-6f)) < 1e-6)
    assert(math.abs(rows(1)(2) - 0.75f) < 1e-6)
  }
}
