package graft.ml

import graft.SparkTestBase

/** sklearn-wrapper conformance (reference: tests/test_sklearn.py). */
class EstimatorSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val binaryDf = {
    val rng = new scala.util.Random(23)
    (1 to 400).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, if (a > b) 1 else 0)
    }.toDF("a", "b", "label").repartition(4)
  }

  test("GraftClassifier auto-detects binary vs multiclass objective") {
    val m = new GraftClassifier().setNumRounds(10).setMaxDepth(3)
      .setSeed(1).fit(binaryDf)
    assert(m.model.objective === "binary:logistic")
    val acc = m.transform(binaryDf)
      .selectExpr("avg(case when (prediction > 0.5) = (label = 1) " +
        "then 1.0 else 0.0 end)").head().getDecimal(0).doubleValue()
    assert(acc > 0.93, s"acc=$acc")

    val multi = binaryDf.withColumn("label",
      org.apache.spark.sql.functions.expr(
        "cast(case when a > 0.66 then 2 when a > 0.33 then 1 " +
          "else 0 end as int)"))
    val mm = new GraftClassifier().setNumRounds(10).setMaxDepth(3)
      .setSeed(1).fit(multi)
    assert(mm.model.objective === "multi:softprob")
    assert(mm.numClasses === 3)
    val probs = mm.transform(multi).select("probabilities").head()
      .getSeq[Float](0)
    assert(probs.length === 3)
    assert(math.abs(probs.sum - 1.0) < 1e-5)
  }

  test("GraftRegressor fit/transform + ignoreCols") {
    val df = binaryDf.withColumn("junk",
      org.apache.spark.sql.functions.lit("x"))
      .withColumn("y", $"a" * 2 + $"b")
      .drop("label")
    val m = new GraftRegressor().setLabelCol("y").setIgnoreCols(Seq("junk"))
      .setNumRounds(30).setMaxDepth(4).setSeed(2).fit(df)
    val rmse = m.transform(df)
      .selectExpr("sqrt(avg(pow(prediction - y, 2)))").head().getDouble(0)
    assert(rmse < 0.1, s"rmse=$rmse")
  }

  test("forwarded predict kwargs on the estimator model: leaf / " +
      "contribs / interactions columns with margin-closing sums") {
    val df = binaryDf.withColumn("y", $"a" * 2 + $"b").drop("label")
    val m = new GraftRegressor().setLabelCol("y")
      .setNumRounds(5).setMaxDepth(3).setSeed(2).fit(df)
    val rows = m.transformContrib(df)
      .join(m.transform(df).select($"a", $"b", $"prediction"),
        Seq("a", "b"))
      .select("contribs", "prediction").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getSeq[Float](0)
      assert(c.size === 3) // 2 features + bias
      assert(math.abs(c.map(_.toDouble).sum - r.getDouble(1)) < 1e-3,
        s"SHAP contribs must close to the margin: $c vs ${r.getDouble(1)}")
    }
    val leaf = m.transformLeaf(df).select("leaf_indices").head()
      .getSeq[Int](0)
    assert(leaf.size === m.model.trees.length)
    val inter = m.transformInteractions(df).select("interactions")
      .head().getSeq[Float](0)
    assert(inter.size === 9) // (2 features + bias)^2
    // iteration_range is HONORED (the reference accepts-and-drops it):
    // scoring rounds [0, 2) equals the truncated model's full scoring
    val a = m.transform(df, (0, 2))
      .selectExpr("sum(prediction)").head().getDouble(0)
    val b = graft.api.GraftBoost.predict(m.model.truncate(2), df, m.spec)
      .selectExpr("sum(prediction)").head().getDouble(0)
    assert(a === b)
  }

  test("GraftRFClassifier: one round, many parallel trees") {
    val m = new GraftRFClassifier().setNumTrees(20).setSeed(3)
      .setMaxDepth(4).fit(binaryDf)
    assert(m.model.trees.length === 20)
    val acc = m.transform(binaryDf)
      .selectExpr("avg(case when (prediction > 0.5) = (label = 1) " +
        "then 1.0 else 0.0 end)").head().getDecimal(0).doubleValue()
    assert(acc > 0.9, s"acc=$acc")
  }

  test("GraftRanker trains with qid column") {
    val rng = new scala.util.Random(29)
    val df = (0 until 30).flatMap { q =>
      (0 until 4).map { _ =>
        val x = rng.nextDouble()
        (x, rng.nextDouble(), if (x > 0.5) 1 else 0, q.toLong)
      }
    }.toDF("f0", "f1", "rel", "qid").repartition(3)
    val m = new GraftRanker().setLabelCol("rel").setQidCol("qid")
      .setNumRounds(8).setMaxDepth(2).setEta(0.5).setSeed(4).fit(df)
    // higher f0 should get a higher ranking score
    val scored = m.transform(df)
    val corr = scored.stat.corr("f0", "prediction")
    assert(corr > 0.7, s"corr=$corr")
  }

  test("GraftClassifier label-encodes arbitrary label values " +
      "(advisor r1: {1,2,3} and {-1,1} trained silently wrong)") {
    // multiclass with labels {1,2,3}: must decode predictions back
    val shifted = binaryDf.withColumn("label",
      org.apache.spark.sql.functions.expr(
        "cast(case when a > 0.66 then 3 when a > 0.33 then 2 " +
          "else 1 end as int)"))
    val m = new GraftClassifier().setNumRounds(10).setMaxDepth(3)
      .setSeed(7).fit(shifted)
    assert(m.numClasses === 3)
    assert(m.classLabels.toSeq === Seq(1.0, 2.0, 3.0))
    val preds = m.transform(shifted).select("label", "prediction").collect()
    val predSet = preds.map(_.getDouble(1)).toSet
    assert(predSet.subsetOf(Set(1.0, 2.0, 3.0)), predSet.toString)
    val acc = preds.count(r => r.getInt(0).toDouble == r.getDouble(1))
      .toDouble / preds.length
    assert(acc > 0.9, s"decoded accuracy $acc")

    // binary with labels {-1, 1}: hard-label path decodes
    val pm = binaryDf.withColumn("label",
      org.apache.spark.sql.functions.expr(
        "cast(case when label = 1 then 1 else -1 end as int)"))
    val mb = new GraftClassifier().setNumRounds(10).setMaxDepth(3)
      .setSeed(7).fit(pm)
    assert(mb.classLabels.toSeq === Seq(-1.0, 1.0))
    val hard = mb.transformClass(pm).select("label", "prediction").collect()
    assert(hard.map(_.getDouble(1)).toSet.subsetOf(Set(-1.0, 1.0)))
    val accB = hard.count(r => r.getInt(0).toDouble == r.getDouble(1))
      .toDouble / hard.length
    assert(accB > 0.9, s"binary decoded accuracy $accB")
  }

  test("GraftGridSearch picks the better eta on a validation set (C11)") {
    import graft.data.DMatrixSpec
    import graft.learner.TrainParams
    val df = binaryDf.withColumn("y", $"a" * 3 + $"b").drop("label")
    val Array(tr, va) = df.randomSplit(Array(0.7, 0.3), seed = 11)
    val grid = GraftGridSearch.expand(
      TrainParams(objective = "reg:squarederror", numRounds = 10,
        maxDepth = 3, seed = 1),
      eta = Seq(0.01, 0.3))
    assert(grid.size === 2)
    val res = GraftGridSearch.fit(tr, DMatrixSpec("y"), grid, va)
    assert(res.bestParams.eta === 0.3,
      res.trials.map(t => s"${t.params.eta}->${t.score}").mkString(","))
    assert(res.trials.size === 2)
    assert(res.bestScore ===
      res.trials.filter(_.params.eta == 0.3).head.score)
    // concurrent trials (CrossValidator parallelism idiom) agree
    val par = GraftGridSearch.fit(tr, DMatrixSpec("y"), grid, va,
      parallelism = 2)
    assert(par.bestParams.eta === 0.3)
    assert(par.bestScore === res.bestScore)
    // with early stopping the trial ranks on its BEST iteration, not a
    // possibly-degraded final round (the xgboost/Tune convention,
    // advisor r2)
    val esGrid = GraftGridSearch.expand(
      TrainParams(objective = "reg:squarederror", numRounds = 30,
        maxDepth = 3, seed = 1, earlyStoppingRounds = 3),
      eta = Seq(0.01, 0.3))
    val esRes = GraftGridSearch.fit(tr, DMatrixSpec("y"), esGrid, va)
    val bestTrialRes = esRes.bestResult
    assert(!bestTrialRes.bestScore.isNaN)
    assert(esRes.bestScore === bestTrialRes.bestScore,
      "trial score must be the early-stopping best, not the last round")
    assert(esRes.bestScore <=
      bestTrialRes.evalsResult("val")("rmse").last + 1e-12)
  }

  test("GraftGridSearch ranks trials by the metric early stopping " +
      "watches: the last evaluated metric, a custom one listed first") {
    import graft.data.DMatrixSpec
    import graft.learner.{CustomMetric, TrainParams}
    val df = binaryDf.withColumn("y", $"a" * 3 + $"b").drop("label")
    val Array(tr, va) = df.randomSplit(Array(0.7, 0.3), seed = 11)
    // cm is larger-is-better squared error: it would pick the worse eta
    val cm = CustomMetric("cm", (m, y, wt) => {
      val d = (m(0) - y).toDouble; (d * d * wt, wt.toDouble)
    }, isMaximize = true)
    val grid = GraftGridSearch.expand(
      TrainParams(objective = "reg:squarederror", numRounds = 10,
        maxDepth = 3, seed = 1, evalMetric = Seq("cm", "rmse"),
        customMetrics = Seq(cm)),
      eta = Seq(0.01, 0.3))
    val res = GraftGridSearch.fit(tr, DMatrixSpec("y"), grid, va)
    assert(res.trials.map(_.metric).distinct === Seq("rmse"))
    assert(res.bestParams.eta === 0.3)
    assert(res.bestScore === res.bestResult.evalsResult("val")("rmse").last)
  }

  test("GraftGridSearch.sample draws deterministic Tune-style spaces " +
      "(loguniform eta, uniform subsample, randint maxDepth)") {
    import graft.learner.TrainParams
    val base = TrainParams(objective = "reg:squarederror", numRounds = 5)
    def draw() = GraftGridSearch.sample(base, 20, seed = 42,
      etaLogUniform = Some((1e-4, 1e-1)),
      subsampleUniform = Some((0.5, 1.0)),
      maxDepthRandInt = Some((1, 9)))
    val a = draw(); val b = draw()
    assert(a.map(_.eta) === b.map(_.eta), "same seed, same candidates")
    assert(a.map(_.maxDepth) === b.map(_.maxDepth))
    assert(a.forall(p => p.eta >= 1e-4 && p.eta <= 1e-1))
    assert(a.forall(p => p.subsample >= 0.5 && p.subsample <= 1.0))
    assert(a.forall(p => p.maxDepth >= 1 && p.maxDepth <= 8),
      "randint upper bound is exclusive")
    assert(a.map(_.maxDepth).distinct.size > 1, "spaces actually vary")
    // log-uniform: spread covers more than one decade across 20 draws
    assert(a.map(_.eta).max / a.map(_.eta).min > 10.0)
    val e = intercept[IllegalArgumentException] {
      GraftGridSearch.sample(base, 3, etaLogUniform = Some((0.0, 0.1)))
    }
    assert(e.getMessage.contains("loguniform"))
    // stream stability (review r9): adding a space must not change the
    // draws of the existing spaces — one draw per slot, unconditionally
    val withLambda = GraftGridSearch.sample(base, 20, seed = 42,
      etaLogUniform = Some((1e-4, 1e-1)),
      subsampleUniform = Some((0.5, 1.0)),
      maxDepthRandInt = Some((1, 9)),
      lambdaLogUniform = Some((0.1, 10.0)))
    assert(withLambda.map(_.eta) === a.map(_.eta),
      "adding the lambda space must not shift eta draws")
    assert(withLambda.map(_.maxDepth) === a.map(_.maxDepth))
  }

  test("fitHalving keeps the strong candidate, stops losers early, " +
      "and the winner's model equals one-shot training bit-for-bit") {
    import graft.data.DMatrixSpec
    import graft.learner.TrainParams
    val df = binaryDf.withColumn("y", $"a" * 3 + $"b").drop("label")
    val Array(tr, va) = df.randomSplit(Array(0.7, 0.3), seed = 11)
    val good = TrainParams(objective = "reg:squarederror",
      numRounds = 16, maxDepth = 3, eta = 0.3, seed = 1)
    val bad = good.copy(eta = 1e-4)
    var maxRoundSeen = Map[Double, Int]()
    val res = GraftGridSearch.fitHalving(tr, DMatrixSpec("y"),
      Seq(bad, good), va, minRounds = 4, reduction = 2,
      onRound = (p, r, _) => maxRoundSeen = maxRoundSeen.updated(
        p.eta, math.max(maxRoundSeen.getOrElse(p.eta, 0), r)))
    assert(res.bestParams.eta === 0.3)
    // the loser was eliminated after the first rung (rounds 0..3);
    // round indices are global (warm-started rungs continue counting)
    assert(maxRoundSeen(1e-4) === 3, maxRoundSeen.toString)
    assert(maxRoundSeen(0.3) === 15)
    // warm-started rungs reproduce one-shot training exactly
    val oneShot = graft.api.GraftBoost.train(tr, DMatrixSpec("y"),
      good, evals = Seq(("val", va)))
    assert(res.bestResult.model.trees.length ===
      oneShot.model.trees.length)
    val probe = Array(0.3f, 0.7f)
    assert(res.bestResult.model.margins(probe).toSeq ===
      oneShot.model.margins(probe).toSeq)
    // metric history concatenates across rungs to the full budget
    assert(res.bestResult.evalsResult("val")("rmse").size === 16)
    assert(res.bestResult.evalsResult("val")("rmse").toSeq ===
      oneShot.evalsResult("val")("rmse").toSeq)
    // both candidates appear in the trial history
    assert(res.trials.map(_.params.eta).toSet === Set(1e-4, 0.3))
  }

  test("TuneReportCallback streams per-round metrics and checkpoints " +
      "mid-trial (tune.py TuneReportCheckpointCallback analog)") {
    import graft.api.GraftBoost
    import graft.data.DMatrixSpec
    import graft.learner.{GraftModel, TrainParams}
    val df = binaryDf.withColumn("y", $"a" * 3 + $"b").drop("label")
    val Array(tr, va) = df.randomSplit(Array(0.7, 0.3), seed = 11)
    // per-round streaming through the grid search: every (trial, round)
    // arrives as it completes and matches the trial's final history
    val seen = scala.collection.mutable.ArrayBuffer[
      (Double, Int, Double)]()
    val grid = GraftGridSearch.expand(
      TrainParams(objective = "reg:squarederror", numRounds = 4,
        maxDepth = 2, seed = 1), eta = Seq(0.1, 0.3))
    val res = GraftGridSearch.fit(tr, DMatrixSpec("y"), grid, va,
      onRound = (p, r, m) => seen.synchronized {
        seen += ((p.eta, r, m("val-rmse")))
      })
    assert(seen.size === 8, s"expected 2 trials x 4 rounds, got $seen")
    for (t <- res.trials; (hist, i) <-
        res.bestResult.evalsResult("val")("rmse").zipWithIndex
        if t.params.eta == res.bestParams.eta) {
      val streamed = seen.find(s => s._1 == t.params.eta && s._2 == i).get
      assert(streamed._3 === hist)
    }
    // checkpoint cadence: partial models land under round=<r> and load
    // independently with the right tree counts
    val dir = tempDir("graft-tune")
      .toString
    GraftBoost.train(tr, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 5,
        maxDepth = 2, seed = 2),
      evals = Seq(("val", va)),
      callbacks = Seq(new TuneReportCallback((_, _) => (),
        checkpointEvery = 2, checkpointPath = Some(dir),
        spark = Some(spark))))
    val m1 = GraftModel.load(spark, s"$dir/round=1")
    val m3 = GraftModel.load(spark, s"$dir/round=3")
    assert(m1.trees.length === 2 && m3.trees.length === 4)
  }

  test("featureImportances concentrate on the informative feature") {
    val rng = new scala.util.Random(19)
    // y depends only on a; b is noise
    val df = (1 to 300).map { _ =>
      (rng.nextDouble(), rng.nextDouble())
    }.toDF("a", "b").withColumn("y", $"a" * 5)
    val m = new GraftRegressor().setLabelCol("y")
      .setNumRounds(10).setMaxDepth(3).setSeed(3).fit(df)
    val imp = m.model.featureImportances
    assert(imp.length === 2)
    assert(math.abs(imp.sum - 1.0) < 1e-9)
    assert(imp(0) > 0.9, s"importances: ${imp.mkString(",")}")
    // estimator-model delegate (sklearn importance_type surface)
    assert(m.featureImportances("gain").toSeq ===
      m.model.featureImportances("gain").toSeq)
    // gain/cover variants (xgboost get_score importance types): the
    // informative feature dominates gain even harder than weight
    for (t <- Seq("gain", "total_gain", "cover", "total_cover")) {
      val v = m.model.featureImportances(t)
      assert(v.length === 2 && math.abs(v.sum - 1.0) < 1e-9, t)
    }
    assert(m.model.featureImportances("total_gain")(0) > 0.95)
    // stats survive the parquet round-trip
    val dir = tempDir("graft-imp").toString
    m.model.save(spark, dir)
    val loaded = graft.learner.GraftModel.load(spark, dir)
    assert(loaded.trees.forall(_.hasStats))
    assert(loaded.featureImportances("total_gain").toSeq ===
      m.model.featureImportances("total_gain").toSeq)
    intercept[IllegalArgumentException] {
      m.model.featureImportances("bogus")
    }
  }

  test("predict works on unlabeled data (label column absent)") {
    val m = new GraftClassifier().setNumRounds(5).setMaxDepth(3)
      .setSeed(17).fit(binaryDf)
    val unlabeled = binaryDf.drop("label")
    val withLabel = m.transform(binaryDf)
      .select("a", "prediction").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val noLabel = m.transform(unlabeled)
      .select("a", "prediction").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(noLabel.size === withLabel.size)
    noLabel.foreach { case (a, p) => assert(p === withLabel(a)) }
  }

  test("classifier save/load round-trips the label mapping (S12)") {
    val shifted = binaryDf.withColumn("label",
      org.apache.spark.sql.functions.expr(
        "cast(case when a > 0.66 then 3 when a > 0.33 then 2 " +
          "else 1 end as int)"))
    val m = new GraftClassifier().setNumRounds(5).setMaxDepth(3)
      .setSeed(13).fit(shifted)
    val dir = tempDir("graft-lbl").toString
    m.save(spark, dir)
    val loaded = GraftPredictionModel.loadClassifier(spark, dir, m.spec)
    assert(loaded.classLabels.toSeq === Seq(1.0, 2.0, 3.0))
    val a = m.transform(shifted).select("prediction").collect()
      .map(_.getDouble(0))
    val b = loaded.transform(shifted).select("prediction").collect()
      .map(_.getDouble(0))
    assert(a.sameElements(b))
    assert(b.toSet.subsetOf(Set(1.0, 2.0, 3.0)))
  }

  test("model save/load through estimator wrapper (S12)") {
    val m = new GraftClassifier().setNumRounds(5).setMaxDepth(3)
      .setSeed(5).fit(binaryDf)
    val dir = tempDir("graft-est").toString
    m.save(spark, dir)
    val loaded = GraftPredictionModel.loadClassifier(spark, dir, m.spec)
    val a = m.transform(binaryDf).select("prediction").collect()
      .map(_.getDouble(0))
    val b = loaded.transform(binaryDf).select("prediction").collect()
      .map(_.getDouble(0))
    assert(a.sameElements(b))
  }
}
