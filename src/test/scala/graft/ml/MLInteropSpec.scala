package graft.ml

import graft.SparkTestBase
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.SQLTransformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.functions._

/**
 * MLlib conformance for the Estimator/Model facades — the Spark analog
 * of the reference's sklearn conformance surface (clone
 * tests/test_sklearn.py:603, grid-search compat :363, get_params
 * round-trips).
 */
class MLInteropSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val df = spark.read
    .parquet(sf("sf0.001") + "/lineitem.parquet")
    .select($"l_quantity".cast("double").as("qty"),
      $"l_extendedprice".cast("double").as("price"),
      $"l_discount".cast("double").as("disc"),
      when($"l_returnflag" === "R", 1.0).otherwise(0.0).as("y"))
    .cache()

  test("params: copy/ParamMap round-trip (sklearn clone analog)") {
    val est = new GraftXGBClassifier()
      .setLabelCol("y").setNumRounds(3).setMaxDepth(2).setEta(0.5)
      .setSeed(7L)
    val cloned = est.copy(ParamMap.empty)
    assert(cloned.uid === est.uid)
    assert(cloned.getNumRounds === 3 && cloned.getMaxDepth === 2 &&
      cloned.getEta === 0.5 && cloned.getSeed === 7L)
    // explain/extract surface
    assert(est.explainParams().contains("numRounds"))
    val overridden = est.copy(ParamMap(est.numRounds -> 5))
    assert(overridden.getNumRounds === 5 && est.getNumRounds === 3)
  }

  test("Pipeline with a feature-engineering stage fits, transforms, " +
      "and save/loads") {
    val fe = new SQLTransformer().setStatement(
      "SELECT *, qty * (1.0 - disc) AS net FROM __THIS__")
    val clf = new GraftXGBClassifier()
      .setLabelCol("y").setFeaturesCols(Array("qty", "price", "net"))
      .setNumRounds(4).setMaxDepth(3).setSeed(1L).setNumWorkers(4)
    val pipe = new Pipeline().setStages(Array(fe, clf))
    val model = pipe.fit(df)
    val out = model.transform(df)
    assert(out.columns.contains("prediction"))
    // hard labels (MLlib classifier convention), probability present
    assert(out.select("prediction").distinct().count() <= 2)
    assert(out.columns.contains("probability"))
    val acc = out.filter($"prediction" === $"y").count().toDouble /
      out.count()
    assert(acc > 0.672, s"pipeline accuracy $acc") // beat base rate
    // persistence round-trip through the MLlib writer machinery
    val dir = tempDir("graft-pipe")
      .toString
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val again = loaded.transform(df)
    val a = out.select("prediction").collect().map(_.getDouble(0))
    val b = again.select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b))
  }

  test("VectorAssembler features column feeds the classifier directly " +
      "(MLlib Pipeline convention)") {
    import org.apache.spark.ml.feature.VectorAssembler
    val va = new VectorAssembler()
      .setInputCols(Array("qty", "price", "disc"))
      .setOutputCol("features")
    val clf = new GraftXGBClassifier()
      .setLabelCol("y").setFeaturesCols(Array("features"))
      .setNumRounds(4).setMaxDepth(3).setSeed(1L).setNumWorkers(4)
    val model = new Pipeline().setStages(Array(va, clf)).fit(df)
    val out = model.transform(df)
    val acc = out.filter($"prediction" === $"y").count().toDouble /
      out.count()
    assert(acc > 0.672, s"vector-features accuracy $acc")
    // identical model to the per-column route (same values, same order)
    val direct = new GraftXGBClassifier()
      .setLabelCol("y").setFeaturesCols(Array("qty", "price", "disc"))
      .setNumRounds(4).setMaxDepth(3).setSeed(1L).setNumWorkers(4)
      .fit(df)
    assert(model.stages.last
      .asInstanceOf[GraftXGBClassificationModel].graftModel.dump() ===
      direct.graftModel.dump())
  }

  test("classifier model save/load keeps params, labels, and " +
      "predictions (non-identity label decode)") {
    // labels {1,3,5} force the encode/decode path
    val tri = df.withColumn("y",
      when($"qty" >= 30, 5.0).when($"qty" >= 15, 3.0).otherwise(1.0))
    val est = new GraftXGBClassifier().setLabelCol("y")
      .setNumRounds(3).setMaxDepth(3).setSeed(2L).setNumWorkers(4)
    val model = est.fit(tri)
    assert(model.numClasses === 3)
    assert(model.classLabels.toSeq === Seq(1.0, 3.0, 5.0))
    val dir = tempDir("graft-clf")
      .toString
    model.write.overwrite().save(dir)
    val loaded = GraftXGBClassificationModel.load(dir)
    assert(loaded.uid === model.uid)
    assert(loaded.getNumRounds === 3)
    assert(loaded.classLabels.toSeq === Seq(1.0, 3.0, 5.0))
    val a = model.transform(tri).select("prediction").collect()
      .map(_.getDouble(0))
    val b = loaded.transform(tri).select("prediction").collect()
      .map(_.getDouble(0))
    assert(a.sameElements(b))
    assert(a.toSet.subsetOf(Set(1.0, 3.0, 5.0)))
  }

  test("CrossValidator drives the estimator over a param grid " +
      "(sklearn GridSearchCV compat analog)") {
    val est = new GraftXGBClassifier().setLabelCol("y")
      .setNumRounds(3).setSeed(3L).setNumWorkers(4)
    val grid = new ParamGridBuilder()
      .addGrid(est.maxDepth, Array(2, 4))
      .build()
    val cv = new CrossValidator()
      .setEstimator(est)
      .setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol("y").setPredictionCol("prediction")
        .setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(2)
      .setSeed(11L)
    val cvModel = cv.fit(df.limit(5000))
    assert(cvModel.avgMetrics.length === 2)
    assert(cvModel.avgMetrics.forall(m => m > 0.5 && m <= 1.0),
      cvModel.avgMetrics.toSeq.toString)
    val best = cvModel.bestModel
      .asInstanceOf[GraftXGBClassificationModel]
    assert(Set(2, 4).contains(best.getMaxDepth))
  }

  test("facade setNumClass(2) trains a working BINARY model (numClass " +
      "must not leak into the logistic TrainParams)") {
    // regression: TrainParams.numClass = 2 with binary:logistic used to
    // produce a model with numOutputs = 2 over single-output trees,
    // routing alternate trees to a phantom second output
    val est = new GraftXGBClassifier().setLabelCol("y")
      .setNumClass(2).setNumRounds(4).setMaxDepth(3).setSeed(6L)
      .setNumWorkers(4)
    val model = est.fit(df)
    assert(model.graftModel.numOutputs === 1)
    assert(model.graftModel.trees.length === 4)
    val out = model.transform(df)
    val acc = out.filter($"prediction" === $"y").count().toDouble /
      out.count()
    assert(acc > 0.672, s"declared-binary accuracy $acc")
    // and it must match the label-discovery model exactly
    val disc = new GraftXGBClassifier().setLabelCol("y")
      .setNumRounds(4).setMaxDepth(3).setSeed(6L).setNumWorkers(4)
      .fit(df)
    assert(model.graftModel.dump() === disc.graftModel.dump())
  }

  test("regressor facade fits and save/loads") {
    val est = new GraftXGBRegressor().setLabelCol("qty")
      .setFeaturesCols(Array("price", "disc"))
      .setNumRounds(4).setMaxDepth(3).setSeed(4L).setNumWorkers(4)
    val model = est.fit(df)
    val dir = tempDir("graft-reg")
      .toString
    model.write.overwrite().save(dir)
    val loaded = GraftXGBRegressionModel.load(dir)
    val a = model.transform(df).agg(sum("prediction")).head().getDouble(0)
    val b = loaded.transform(df).agg(sum("prediction")).head().getDouble(0)
    assert(a === b)
  }

  test("dart params survive estimator save/load (shared Param JSON " +
      "writer)") {
    val est = new GraftXGBRegressor().setLabelCol("qty")
      .setFeaturesCols(Array("price", "disc"))
      .setBooster("dart").setRateDrop(0.35).setSkipDrop(0.1)
      .setOneDrop(true).setSampleType("weighted")
      .setNormalizeType("forest")
      .setNumRounds(3).setMaxDepth(2).setSeed(7L)
    val dir = tempDir("graft-dart-est")
      .toString
    est.write.overwrite().save(dir)
    val loaded = GraftXGBRegressor.load(dir)
    assert(loaded.getBooster === "dart")
    assert(loaded.getRateDrop === 0.35 && loaded.getSkipDrop === 0.1)
    assert(loaded.getOneDrop && loaded.getSampleType === "weighted")
    assert(loaded.getNormalizeType === "forest")
    // the loaded estimator trains the same model as the original
    assert(loaded.fit(df).graftModel.dump() ===
      est.fit(df).graftModel.dump())
  }

  test("quantileAlphas survives estimator save/load and the loaded " +
      "estimator trains the identical vector-quantile model") {
    val est = new GraftXGBRegressor().setLabelCol("qty")
      .setFeaturesCols(Array("price", "disc"))
      .setObjective("reg:quantileerror")
      .setQuantileAlphas(Array(0.25, 0.75))
      .setNumRounds(2).setMaxDepth(2).setSeed(11L)
    val dir = tempDir("graft-mq-est")
      .toString
    est.write.overwrite().save(dir)
    val loaded = GraftXGBRegressor.load(dir)
    assert(loaded.getOrDefault(loaded.quantileAlphas).toSeq ===
      Seq(0.25, 0.75))
    val m1 = est.fit(df)
    val m2 = loaded.fit(df)
    assert(m1.graftModel.objective === "reg:quantileerror@0.25,0.75")
    assert(m1.graftModel.dump() === m2.graftModel.dump())
    // fitted-model persistence keeps the multi-output objective intact
    val mdir = tempDir("graft-mq-model")
      .toString
    m1.write.overwrite().save(mdir)
    val lm = GraftXGBRegressionModel.load(mdir)
    assert(lm.graftModel.objective === "reg:quantileerror@0.25,0.75")
    assert(lm.graftModel.dump() === m1.graftModel.dump())
  }

  test("categoricalCols flows through the facade into one-hot splits " +
      "and survives save/load") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val catDf = (1 to 800).map { _ =>
      val c = rng.nextInt(10)
      (c.toDouble, rng.nextDouble(), if (c == 5) 10.0 else 0.0)
    }.toDF("cat", "noise", "qty").repartition(3)
    val est = new GraftXGBRegressor().setLabelCol("qty")
      .setFeaturesCols(Array("cat", "noise"))
      .setCategoricalCols(Array("cat"))
      .setMaxCatToOnehot(256) // pin one-hot; partition path has its own spec
      .setNumRounds(1).setMaxDepth(1).setSeed(1L)
    val model = est.fit(catDf)
    val t = model.graftModel.trees.head
    assert(t.isCatNode(0) && t.threshold(0) === 5f,
      "facade-declared categorical column should yield a == 5 split")
    val dir = tempDir("graft-cat-fac")
      .toString
    model.write.overwrite().save(dir)
    val loaded = GraftXGBRegressionModel.load(dir)
    assert(loaded.getCategoricalCols.toSeq === Seq("cat"))
    val a = model.transform(catDf).agg(sum("prediction")).head()
      .getDouble(0)
    val b = loaded.transform(catDf).agg(sum("prediction")).head()
      .getDouble(0)
    assert(a === b)
  }

  test("regressor facade drives the quantile and pseudo-Huber " +
      "objectives with their knobs") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val df = (1 to 400).map { _ =>
      val x = rng.nextInt(4).toDouble
      (x, x + rng.nextDouble())
    }.toDF("x", "y").repartition(3)
    val q = new GraftXGBRegressor().setLabelCol("y")
      .setObjective("reg:quantileerror").setQuantileAlpha(0.9)
      .setNumRounds(30).setMaxDepth(2).setSeed(1L).fit(df)
    val below = q.transform(df)
      .selectExpr("avg(case when y <= prediction then 1.0D else 0.0D end)")
      .head().getDouble(0)
    assert(below > 0.75, s"0.9-quantile coverage $below")
    val h = new GraftXGBRegressor().setLabelCol("y")
      .setObjective("reg:pseudohubererror").setHuberSlope(2.0)
      .setNumRounds(10).setMaxDepth(2).setSeed(1L).fit(df)
    assert(h.transform(df).columns.contains("prediction"))
  }

  test("forwarded predict kwargs reach the MLlib facade models " +
      "(tree contribs/leaves/interactions + gblinear contribs)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, a * 2 + b)
    }.toDF("a", "b", "qty").repartition(3)
    val m = new GraftXGBRegressor().setLabelCol("qty")
      .setNumRounds(4).setMaxDepth(3).setSeed(1L).fit(df)
    val c = m.transformContrib(df).select("contribs").head().getSeq[Float](0)
    assert(c.size === 3)
    assert(m.transformLeaf(df).select("leaf_indices").head()
      .getSeq[Int](0).size === m.graftModel.trees.length)
    assert(m.transformInteractions(df).select("interactions").head()
      .getSeq[Float](0).size === 9)
    val lin = new GraftXGBLinear().setLabelCol("qty")
      .setNumRounds(10).fit(df)
    assert(lin.transformContrib(df).select("contribs").head()
      .getSeq[Float](0).size === 3)
  }

  test("ranker facade fits in a Pipeline, ranks positives above " +
      "negatives, and save/loads") {
    val rng = new scala.util.Random(19)
    val rows = (1 to 3000).map { i =>
      val q = i / 30 // 100 groups of 30
      val x = rng.nextDouble()
      val rel = if (x + 0.05 * rng.nextGaussian() > 0.6) 1.0 else 0.0
      (x, x * 2 + rng.nextGaussian() * 0.1, rel, q.toLong)
    }
    val rdf = rows.toDF("x0", "x1", "rel", "qid").repartition(4)
    val rk = new GraftXGBRanker().setLabelCol("rel").setQidCol("qid")
      .setFeaturesCols(Array("x0", "x1"))
      .setNumRounds(8).setMaxDepth(3).setSeed(5L).setNumWorkers(4)
    val model = new Pipeline().setStages(Array(rk)).fit(rdf)
    val out = model.transform(rdf).cache()
    assert(out.columns.contains("prediction"))
    val Array(mPos, mNeg) = out.groupBy("rel")
      .agg(avg("prediction")).orderBy(desc("rel"))
      .collect().map(_.getDouble(1))
    assert(mPos > mNeg,
      s"ranking margins do not separate: pos=$mPos neg=$mNeg")
    val dir = tempDir("graft-rank")
      .toString
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val lm = loaded.stages.head.asInstanceOf[GraftXGBRankerModel]
    assert(lm.getQidCol === "qid")
    // explicit sort key: repartitioned input gives no stable collect order
    val a = out.orderBy("qid", "x0").select("prediction")
      .collect().map(_.getDouble(0))
    val b = loaded.transform(rdf).orderBy("qid", "x0").select("prediction")
      .collect().map(_.getDouble(0))
    assert(a.sameElements(b))
    out.unpersist()
  }

  test("linear facade (gblinear) fits in a Pipeline and save/loads " +
      "with coefficients") {
    val lin = new GraftXGBLinear().setLabelCol("qty")
      .setFeaturesCols(Array("price", "disc"))
      .setNumRounds(5).setEta(0.5).setSeed(3L).setNumWorkers(4)
    val model = new Pipeline().setStages(Array(lin)).fit(df)
    val lm = model.stages.head.asInstanceOf[GraftXGBLinearModel]
    assert(lm.coefficients.size === 2)
    val dir = tempDir("graft-lin")
      .toString
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val llm = loaded.stages.head.asInstanceOf[GraftXGBLinearModel]
    assert(llm.coefficients === lm.coefficients)
    assert(llm.intercept === lm.intercept)
    assert(llm.getObjective === "reg:squarederror")
    val a = model.transform(df).agg(sum("prediction")).head().getDouble(0)
    val b = loaded.transform(df).agg(sum("prediction")).head().getDouble(0)
    assert(a === b)
    // logistic variant trains and emits probabilities in (0,1)
    val clf = new GraftXGBLinear().setLabelCol("y")
      .setObjective("binary:logistic")
      .setFeaturesCols(Array("qty", "price", "disc"))
      .setNumRounds(5).setSeed(3L).setNumWorkers(4).fit(df)
    val preds = clf.transform(df).select("prediction")
      .agg(min("prediction"), max("prediction")).head()
    assert(preds.getDouble(0) >= 0.0 && preds.getDouble(1) <= 1.0)
  }

  test("eval sets + early stopping work through the tree facade " +
      "(xgboost eval_set/early_stopping_rounds via MLlib Params)") {
    // validation labels are seeded hash noise, independent of the
    // features: its expected logloss is minimized at the initial
    // p = 0.5 and strictly worsens as the model fits the real train
    // labels — so a correct early stop MUST fire after exactly
    // earlyStoppingRounds non-improving rounds
    val noisyEval = df.withColumn("y",
      pmod(xxhash64($"qty", $"price", $"disc"), lit(2)).cast("double"))
    val clf = new GraftXGBClassifier()
      .setLabelCol("y").setFeaturesCols(Array("qty", "price", "disc"))
      .setNumRounds(50).setMaxDepth(2).setEta(0.9).setSeed(1L)
      .setNumWorkers(4)
      .setEvalMetric(Array("logloss"))
      .setEarlyStoppingRounds(2)
      .setEvalSets(Seq(("val", noisyEval)))
    val model = clf.fit(df)
    val ll = model.evalsResult("val")("logloss")
    assert(ll.nonEmpty && ll.length < 50,
      s"early stopping never fired: ${ll.length} rounds")
    // the Param surface round-trips through copy (sklearn clone analog)
    val cloned = clf.copy(ParamMap.empty)
    assert(cloned.getEarlyStoppingRounds === 2)
    assert(cloned.getEvalMetric === Array("logloss"))
  }

  test("eval sets + early stopping work through the gblinear facade") {
    val d2 = Seq(-2.0, -1.0, 1.0, 2.0).flatMap(x =>
      Seq.fill(50)((x, 2.0 * x))).toDF("x", "y2").repartition(4)
    val lin = new GraftXGBLinear().setLabelCol("y2")
      .setNumRounds(50).setEta(0.5).setLambda(0.0)
      .setEarlyStoppingRounds(3)
      .setEvalSets(Seq(("train", d2)))
    val lm = lin.fit(d2)
    val rmse = lm.evalsResult("train")("rmse")
    assert(rmse.length < 50, s"early stopping never fired: ${rmse.length}")
    assert(lm.bestIteration >= 0 && lm.bestIteration < rmse.length)
    assert(rmse.last < rmse.head)
  }

  test("RF classifier facade fits in a Pipeline and save/loads " +
      "(RayXGBRFClassifier surface)") {
    val fe = new SQLTransformer().setStatement(
      "SELECT *, qty * (1.0 - disc) AS net FROM __THIS__")
    val rf = new GraftXGBRFClassifier()
      .setLabelCol("y").setFeaturesCols(Array("qty", "price", "net"))
      .setNumTrees(20).setMaxDepth(3).setSeed(1L).setNumWorkers(4)
    assert(rf.getSubsample === 0.8) // RF preset default
    val model = new Pipeline().setStages(Array(fe, rf)).fit(df)
    val m = model.stages(1).asInstanceOf[GraftXGBClassificationModel]
    // ONE round of numTrees parallel trees — the RF contract
    assert(m.graftModel.trees.length === 20,
      s"expected 20 trees, got ${m.graftModel.trees.length}")
    val out = model.transform(df)
    val acc = out.filter($"prediction" === $"y").count().toDouble /
      out.count()
    assert(acc > 0.672, s"RF pipeline accuracy $acc")
    val dir = tempDir("graft-rfc")
      .toString
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = out.select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(df).select("prediction").collect()
      .map(_.getDouble(0))
    assert(a.sameElements(b))
  }

  test("RF regressor facade fits in a Pipeline and save/loads " +
      "(RayXGBRFRegressor surface)") {
    val rf = new GraftXGBRFRegressor()
      .setLabelCol("qty").setFeaturesCols(Array("price", "disc"))
      .setNumTrees(15).setMaxDepth(3).setSeed(2L).setNumWorkers(4)
    val model = new Pipeline().setStages(Array(rf)).fit(df)
    val m = model.stages.head.asInstanceOf[GraftXGBRegressionModel]
    assert(m.graftModel.trees.length === 15)
    val dir = tempDir("graft-rfr")
      .toString
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = model.transform(df).agg(sum("prediction")).head().getDouble(0)
    val b = loaded.transform(df).agg(sum("prediction")).head().getDouble(0)
    assert(a === b)
  }

  test("featureImportances surfaces as a normalized Vector on the " +
      "MLlib models (native-API parity)") {
    val clf = new GraftXGBClassifier().setLabelCol("y")
      .setNumRounds(4).setMaxDepth(3).setSeed(1L).setNumWorkers(4)
    val model = clf.fit(df)
    val fi = model.featureImportances
    assert(fi.size === 3, s"expected 3 features, got ${fi.size}")
    assert(math.abs(fi.toArray.sum - 1.0) < 1e-9, fi.toString)
    // exact parity with the native estimator API
    assert(fi.toArray.sameElements(model.inner.featureImportances("weight")))
    val gain = model.featureImportances("gain")
    assert(math.abs(gain.toArray.sum - 1.0) < 1e-9, gain.toString)
    val reg = new GraftXGBRegressor().setLabelCol("qty")
      .setFeaturesCols(Array("price", "disc"))
      .setNumRounds(4).setMaxDepth(3).setSeed(4L).setNumWorkers(4)
      .fit(df)
    val rfi = reg.featureImportances
    assert(rfi.size === 2 && math.abs(rfi.toArray.sum - 1.0) < 1e-9)
  }

  test("declared labels skip the distinct-label scan") {
    // with setNumClass the fit never runs a distinct aggregate over the
    // label column: assert by counting jobs via a listener (atomic —
    // the listener bus delivers on its own thread)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val tri = df.withColumn("y",
      when($"qty" >= 30, 2.0).when($"qty" >= 15, 1.0).otherwise(0.0))
      .cache()
    tri.count()
    val mk = () => new GraftClassifier().setLabelCol("y")
      .setParams(graft.learner.TrainParams(numRounds = 2, maxDepth = 2,
        seed = 5L))
    // the listener bus is async (and private[spark]); wait until the
    // job counter stops moving before reading it
    def settle(): Int = {
      var last = -1
      var tries = 0
      while (jobs.get() != last && tries < 100) {
        last = jobs.get(); Thread.sleep(100); tries += 1
      }
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      mk().fit(tri)
      val withScan = settle()
      jobs.set(0)
      mk().setNumClass(3).fit(tri)
      val withDeclared = settle()
      assert(withDeclared < withScan,
        s"declared-label fit ran $withDeclared jobs vs $withScan")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the declared-label model still predicts identical classes
    val a = mk().fit(tri)
    val b = mk().setNumClass(3).fit(tri)
    val pa = a.transform(tri).select("prediction").collect()
      .map(_.getDouble(0))
    val pb = b.transform(tri).select("prediction").collect()
      .map(_.getDouble(0))
    assert(pa.sameElements(pb))
  }

  test("full regularization Param surface reaches training and " +
      "persists (alpha/gamma/minChildWeight/colsample*/" +
      "scalePosWeight/maxDeltaStep/monotoneConstraints)") {
    val est = new GraftXGBRegressor().setLabelCol("y")
      .setNumRounds(3).setMaxDepth(3).setSeed(3L)
      .setAlpha(0.5).setGamma(1.0).setMinChildWeight(2.0)
      .setColsampleBytree(0.9).setColsampleBylevel(0.8)
      .setColsampleBynode(0.7).setScalePosWeight(2.0)
      .setMaxDeltaStep(0.7)
      .setMonotoneConstraints(Array(1, 0, -1))
    val p = est.mkTrainParams("reg:squarederror")
    assert(p.alpha === 0.5 && p.gamma === 1.0 &&
      p.minChildWeight === 2.0)
    assert(p.colsampleByTree === 0.9 && p.colsampleByLevel === 0.8 &&
      p.colsampleByNode === 0.7)
    assert(p.scalePosWeight === 2.0 && p.maxDeltaStep === 0.7)
    assert(p.monotoneConstraints === Seq(1, 0, -1))
    // the constrained model fits and the constraint holds: prediction
    // must be non-decreasing in qty (constraint +1 on feature 0)
    val m = est.setMonotoneConstraints(Array(1, 0, 0)).fit(df)
    val probe = spark.range(2).toDF("i")
      .selectExpr("cast(10 + i * 30 as double) as qty",
        "1000.0 as price", "0.05 as disc", "0.0 as y")
    val preds = m.transform(probe).select("prediction")
      .collect().map(_.getDouble(0))
    assert(preds(0) <= preds(1) + 1e-9,
      s"monotone +1 on qty violated: ${preds.toSeq}")
    // params persist through the MLlib save/load path
    val dir = tempDir("mlparams")
      .toString + "/m"
    m.save(dir)
    val loaded = GraftXGBRegressionModel.load(dir)
    assert(loaded.getGamma === 1.0)
    assert(loaded.getMonotoneConstraints.toSeq === Seq(1, 0, 0))
    assert(loaded.getColsampleBynode === 0.7)
  }

  test("regressor facade drives count/severity/survival objectives " +
      "(count:poisson, survival:cox via signed labels)") {
    val rng = new scala.util.Random(3)
    val counts = (1 to 200).map { _ =>
      val a = rng.nextDouble()
      (a, 0.5, math.max(0, (3 * a + rng.nextGaussian() * 0.3).round)
        .toDouble)
    }.toDF("a", "b", "y")
    val pm = new GraftXGBRegressor().setLabelCol("y")
      .setObjective("count:poisson").setNumRounds(5).setMaxDepth(3)
      .setSeed(1L).fit(counts)
    assert(pm.transform(counts).select(min("prediction"))
      .collect()(0).getDouble(0) >= 0, "poisson rates are positive")
    val surv = (1 to 200).map { _ =>
      val x = rng.nextDouble()
      val t = 0.2 + 5 * math.exp(-2 * x) * (0.5 + rng.nextDouble())
      (x, 1.0 - x, if (rng.nextDouble() < 0.2) -t else t)
    }.toDF("x", "z", "y")
    val cm = new GraftXGBRegressor().setLabelCol("y")
      .setObjective("survival:cox").setNumRounds(8).setMaxDepth(3)
      .setEta(0.1).setSeed(2L).fit(surv)
    val hz = cm.transform(surv).select("x", "prediction").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val hi = hz.filter(_._1 > 0.7).map(_._2)
    val lo = hz.filter(_._1 < 0.3).map(_._2)
    assert(hi.sum / hi.length > lo.sum / lo.length,
      "higher-risk rows must carry higher hazard ratios")
  }

  test("survival:aft through the facade: bound columns switch to " +
      "interval labels, aftDistribution/aftSigma Params forward") {
    val rng = new scala.util.Random(17)
    val surv = (1 to 300).map { _ =>
      val x = rng.nextDouble() * 5
      val t = math.exp(0.5 * x + 0.1 * rng.nextGaussian())
      (x, t * 0.8, t * 1.25)
    }.toDF("x", "lo", "hi")
    val m = new GraftXGBRegressor()
      .setLabelBoundsCols("lo", "hi")
      .setAftDistribution("logistic").setAftSigma(0.8)
      .setNumRounds(15).setMaxDepth(3).setSeed(4L)
      .fit(surv)
    val preds = m.transform(surv).select("x", "prediction").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val sse = preds.map { case (x, got) =>
      val d = math.log(got) - 0.5 * x; d * d
    }.sum / preds.length
    assert(sse < 0.15, s"facade AFT mean sq log error $sse")
    // half-configured bounds fail fast
    val e = intercept[IllegalArgumentException] {
      new GraftXGBRegressor().setLabelBoundsCols("lo", "")
        .setNumRounds(2).fit(surv)
    }
    assert(e.getMessage.contains("BOTH"))
  }

  test("stacking: a fitted facade model feeds its prediction as a " +
      "feature to a meta-learner in one Pipeline " +
      "(test_sklearn.py test_stacking_* semantics)") {
    // a label the base features actually predict
    val sdf = df.withColumn("yr", $"qty" * 3 + $"price" / 1000)
    val base = new GraftXGBRegressor().setLabelCol("yr")
      .setFeaturesCols(Array("qty", "price", "disc"))
      .setNumRounds(4).setMaxDepth(3).setSeed(5L)
    val baseModel = base.fit(sdf)
    val withBase = baseModel.transform(sdf)
      .withColumnRenamed("prediction", "base_pred")
    // meta learner stacks the base prediction alongside one raw column
    val meta = new GraftXGBRegressor().setLabelCol("yr")
      .setFeaturesCols(Array("base_pred", "disc"))
      .setNumRounds(4).setMaxDepth(2).setSeed(6L)
    val metaModel = meta.fit(withBase)
    val out = metaModel.transform(withBase)
    assert(out.columns.count(_ == "prediction") === 1)
    // the stack must beat the trivial constant predictor
    val sse = out.select(
      sum(pow($"yr" - $"prediction", 2))).collect()(0).getDouble(0)
    val mean = out.agg(avg("yr")).collect()(0).getDouble(0)
    val sst = out.select(sum(pow($"yr" - lit(mean), 2)))
      .collect()(0).getDouble(0)
    assert(sse < sst * 0.8, s"stacked R2 too low: sse=$sse sst=$sst")
    // and the meta model consumed the declared columns, not residuals
    assert(metaModel.inner.spec.featureCols === Some(Seq("base_pred", "disc")))
  }

  test("processType=update through the facade: refreshing on the fit " +
      "data reproduces the trained model bit-for-bit") {
    def mk = new GraftXGBRegressor()
      .setLabelCol("y").setNumRounds(3).setMaxDepth(3).setSeed(19L)
    val m = mk.fit(df)
    val refreshed = mk.setProcessType("update")
      .setInitModel(m.inner.model).fit(df)
    assert(refreshed.inner.model.dump() === m.inner.model.dump())
    // Param round-trips through estimator persistence
    val dir = tempDir("graft-upd-est")
      .toString
    val est = new GraftXGBRegressor().setProcessType("update")
      .setRefreshLeaf(false)
    est.write.overwrite().save(dir)
    val loaded = GraftXGBRegressor.load(dir)
    assert(loaded.getProcessType === "update" && !loaded.getRefreshLeaf)
  }

  test("setInitModel warm start through the tree facade: fit 2 then " +
      "resume 2 == fit 4 in one go (xgb_model= kwarg analog)") {
    def mk(rounds: Int) = new GraftXGBRegressor()
      .setLabelCol("y").setNumRounds(rounds).setMaxDepth(3).setSeed(11L)
    val full = mk(4).fit(df)
    val first = mk(2).fit(df)
    val resumed = mk(2).setInitModel(first.inner.model).fit(df)
    assert(resumed.inner.model.trees.length ===
      full.inner.model.trees.length)
    val pf = full.transform(df).select("prediction").collect()
      .map(_.getDouble(0))
    val pr = resumed.transform(df).select("prediction").collect()
      .map(_.getDouble(0))
    assert(pf.sameElements(pr),
      "resumed facade model must equal the one-shot model bit-for-bit")
  }

  test("setInitModel warm start through the gblinear facade " +
      "continues from the given weights") {
    def mk(rounds: Int) = new GraftXGBLinear()
      .setLabelCol("y").setNumRounds(rounds).setSeed(11L)
    val full = mk(6).fit(df)
    val first = mk(3).fit(df)
    val resumed = mk(3).setInitModel(first.inner.model).fit(df)
    assert(resumed.inner.model.weights.head.toSeq ===
      full.inner.model.weights.head.toSeq)
    assert(resumed.inner.model.bias.toSeq === full.inner.model.bias.toSeq)
  }
}
