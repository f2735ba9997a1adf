package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import org.apache.spark.sql.functions.{col, floor, least, lit}

/**
 * Flagship semantic tests, mirroring the reference's end-to-end suite
 * (xgboost_ray/tests/test_end_to_end.py).
 */
class EndToEndSpec extends SparkTestBase {
  import spark.implicits._

  // F1 fixture: 4 distinct one-hot rows × 8 (test_end_to_end.py:74-93)
  private def onehotDf(repeats: Int = 8) = {
    val base = Seq(
      (1.0, 0.0, 0.0, 0.0, 0),
      (0.0, 1.0, 0.0, 0.0, 1),
      (0.0, 0.0, 1.0, 1.0, 2),
      (0.0, 0.0, 1.0, 0.0, 3))
    Seq.fill(repeats)(base).flatten
      .toDF("f0", "f1", "f2", "f3", "label")
  }

  test("half-data convergence: multi:softmax learns all 4 classes " +
      "across partitions (test_end_to_end.py:57-70 semantics)") {
    // 2 partitions = the reference's 2 actors; each sees interleaved rows.
    // Only cross-partition histogram aggregation can learn all classes.
    val df = onehotDf().repartition(2)
    val res = GraftBoost.train(df, DMatrixSpec("label"),
      TrainParams(objective = "multi:softmax", numClass = 4,
        numRounds = 10, maxDepth = 2, seed = 7))
    assert(res.totalN === 32)
    val pred = GraftBoost.predict(res.model, onehotDf(1), DMatrixSpec("label"))
    val rows = pred.select("label", "prediction").collect()
    assert(rows.forall(r => r.getInt(0) == r.getDouble(1).toInt),
      s"mispredictions: ${rows.mkString(", ")}")
  }

  test("golden equality: 1-partition model == 8-partition model") {
    val df = onehotDf()
    val p = TrainParams(objective = "multi:softmax", numClass = 4,
      numRounds = 5, maxDepth = 2, seed = 3)
    val m1 = GraftBoost.train(df.coalesce(1), DMatrixSpec("label"), p)
      .model.dump()
    val m8 = GraftBoost.train(df.repartition(8), DMatrixSpec("label"), p)
      .model.dump()
    assert(m1 === m8)
  }

  test("duplicate eval-set names fail fast in the tree trainer (same " +
      "guard as gblinear)") {
    val df = Seq((1.0, 2.0, 0.0), (2.0, 1.0, 1.0)).toDF("x0", "x1", "y")
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec("y"),
        TrainParams(objective = "binary:logistic", numRounds = 2,
          maxDepth = 2, seed = 1),
        evals = Seq(("eval", df), ("eval", df)))
    }
    assert(e.getMessage.contains("duplicate eval set names"))
  }

  test("cacheLevel knob (r11): a serialized cache trains the " +
      "bit-identical model; a typo fails at param construction") {
    val rng = new scala.util.Random(307)
    val df = (1 to 600).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 2 * a - b + 0.1 * rng.nextGaussian())
    }.toDF("a", "b", "y").repartition(3)
    val p = TrainParams(numRounds = 3, maxDepth = 3, seed = 311)
    val m1 = GraftBoost.train(df, DMatrixSpec("y"), p).model
    val m2 = GraftBoost.train(df, DMatrixSpec("y"),
      p.copy(cacheLevel = "MEMORY_AND_DISK_SER")).model
    assert(m1.dump() === m2.dump(),
      "storage level must not change the trained model")
    intercept[IllegalArgumentException] {
      TrainParams(cacheLevel = "MEMORY_AND_DISC")
    }
  }

  test("eval set that IS the training frame reuses the binned train " +
      "RDD (r11) and matches a logically-equal copy bit-for-bit") {
    val rng = new scala.util.Random(211)
    val df = (1 to 800).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, if (2 * a + b > 1.4) 1.0 else 0.0)
    }.toDF("a", "b", "y").repartition(3)
    val p = TrainParams(objective = "binary:logistic", numRounds = 4,
      maxDepth = 3, seed = 223, evalMetric = Seq("logloss", "error"))
    // same OBJECT → the reuse path; fresh select → the prepare path
    val reused = GraftBoost.train(df, DMatrixSpec("y"), p,
      evals = Seq(("train", df)))
    val copied = GraftBoost.train(df, DMatrixSpec("y"), p,
      evals = Seq(("train",
        df.select(df.columns.map(org.apache.spark.sql.functions.col): _*))))
    assert(reused.model.dump() === copied.model.dump())
    for (m <- Seq("logloss", "error"))
      assert(reused.evalsResult("train")(m) ===
        copied.evalsResult("train")(m), s"metric $m history diverged")
  }

  test("binary:logistic learns a separable function") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 500).map { _ =>
      val x0 = rng.nextDouble() * 10; val x1 = rng.nextDouble() * 10
      (x0, x1, if (x0 + x1 > 10) 1 else 0)
    }
    val df = rows.toDF("x0", "x1", "y").repartition(4)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 20,
        maxDepth = 4, seed = 5),
      evals = Seq(("train", df)))
    val ll = res.evalsResult("train")("logloss")
    assert(ll.last < 0.2, s"logloss stayed high: ${ll.mkString(",")}")
    assert(ll.last < ll.head, "logloss did not decrease")
    // predictions agree with labels for almost all rows
    val pred = GraftBoost.predict(res.model, df, DMatrixSpec("y"))
    val acc = pred.selectExpr(
      "cast(avg(case when (prediction > 0.5) = (y = 1) " +
        "then 1.0 else 0.0 end) as double)")
      .head().getDouble(0)
    assert(acc > 0.95, s"train accuracy $acc")
  }

  test("reg:squarederror fits a linear target") {
    val rng = new scala.util.Random(13)
    val rows = (1 to 500).map { _ =>
      val x0 = rng.nextDouble(); val x1 = rng.nextDouble()
      (x0, x1, 3.0 * x0 - 2.0 * x1 + 1.0)
    }
    val df = rows.toDF("x0", "x1", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 40,
        maxDepth = 4, eta = 0.3, seed = 5),
      evals = Seq(("train", df)))
    assert(res.evalsResult("train")("rmse").last < 0.12)
  }

  test("early stopping halts before numRounds and reports best round") {
    val df = onehotDf().repartition(2)
    val res = GraftBoost.train(df, DMatrixSpec("label"),
      TrainParams(objective = "multi:softmax", numClass = 4,
        numRounds = 50, maxDepth = 2, earlyStoppingRounds = 3, seed = 1),
      evals = Seq(("val", onehotDf(2))))
    assert(res.roundsCompleted < 50)
    // best_iteration/best_score contract (xgboost early stopping)
    assert(res.bestIteration >= 0 &&
      res.bestIteration <= res.roundsCompleted - 1)
    assert(!res.bestScore.isNaN)
    val merr = res.evalsResult("val")("merror")
    assert(res.bestScore === merr(res.bestIteration))
    // truncation to the best round: 4 trees per round (numClass)
    val best = res.modelAt(res.bestIteration + 1)
    assert(best.trees.length === (res.bestIteration + 1) * 4)
  }

  test("model save/load round-trip preserves predictions") {
    val df = onehotDf().repartition(2)
    val res = GraftBoost.train(df, DMatrixSpec("label"),
      TrainParams(objective = "multi:softprob", numClass = 4,
        numRounds = 3, maxDepth = 2, seed = 9))
    val dir = tempDir("graft-model")
      .toString
    res.model.save(spark, dir)
    val loaded = GraftModel.load(spark, dir)
    assert(loaded.dump() === res.model.dump())
    assert(loaded.objective === "multi:softprob")
  }

  test("histogram chunking under maxHistBytes does not change the model") {
    val rng = new scala.util.Random(71)
    val rows = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      val c = rng.nextDouble(); val d = rng.nextDouble()
      (a, b, c, d, 2 * a - b + 0.5 * c)
    }
    val df = rows.toDF("a", "b", "c", "d", "y").repartition(3)
    val p = TrainParams(objective = "reg:squarederror", numRounds = 5,
      maxDepth = 4, seed = 9)
    val whole = GraftBoost.train(df, DMatrixSpec("y"), p)
    // ~16KB per node forces multi-chunk levels at depth 3-4
    val chunked = GraftBoost.train(df, DMatrixSpec("y"),
      p.copy(maxHistBytes = 16L << 10))
    assert(chunked.model.dump() === whole.model.dump(),
      "chunked histogram aggregation changed the model")
  }

  test("long runs cross the 50-round lineage truncation safely") {
    val rng = new scala.util.Random(73)
    val rows = (1 to 200).map { _ =>
      val a = rng.nextDouble(); (a, rng.nextDouble(), 3 * a)
    }
    val df = rows.toDF("a", "b", "y").repartition(2)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 60,
        maxDepth = 2, seed = 11),
      evals = Seq(("train", df)))
    assert(res.roundsCompleted === 60)
    val rmse = res.evalsResult("train")("rmse")
    assert(rmse.last < rmse.head / 5, s"rmse: ${rmse.head} -> ${rmse.last}")
  }

  test("checkpoint-resume golden equality: 5+5 rounds == 10 rounds " +
      "(C4, test_fault_tolerance.py:401-453 semantics)") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 400).map { _ =>
      val x0 = rng.nextDouble() * 10; val x1 = rng.nextDouble() * 10
      (x0, x1, if (x0 + x1 > 10) 1 else 0)
    }
    val df = rows.toDF("x0", "x1", "y").repartition(4)
    val p = TrainParams(objective = "binary:logistic", numRounds = 10,
      maxDepth = 3, seed = 3)
    val full = GraftBoost.train(df, DMatrixSpec("y"), p)

    val ckpt = tempDir("graft-ckpt")
      .toString
    GraftBoost.train(df, DMatrixSpec("y"),
      p.copy(numRounds = 5, checkpointEvery = 5,
        checkpointPath = Some(ckpt)))
    val loaded = GraftModel.load(spark, ckpt)
    assert(loaded.trees.length === 5)
    val resumed = GraftBoost.train(df, DMatrixSpec("y"),
      p.copy(numRounds = 5), initModel = Some(loaded))
    assert(resumed.model.trees.length === 10)
    assert(resumed.model.dump() === full.model.dump(),
      "resumed model diverged from uninterrupted training")

    // shape fail-fasts (review r9): a single-output objective makes the
    // trees-multiple check vacuous, so class/feature mismatches need
    // their own guards instead of silent margin corruption / AIOOBE
    val rng2 = new scala.util.Random(31)
    val tri = (1 to 150).map { _ =>
      val a = rng2.nextDouble(); (a, rng2.nextDouble(),
        if (a > 0.6) 2.0 else if (a > 0.3) 1.0 else 0.0)
    }.toDF("x0", "x1", "y")
    val multi = GraftBoost.train(tri, DMatrixSpec("y"),
      TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 2, maxDepth = 2, seed = 1)).model
    val eClass = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec("y"),
        p.copy(numRounds = 2), initModel = Some(multi))
    }
    assert(eClass.getMessage.contains("output"))
    val wide = df.withColumn("x2", $"x0" * 2)
    val wideModel = GraftBoost.train(wide, DMatrixSpec("y"),
      p.copy(numRounds = 2)).model
    val eWidth = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec("y"),
        p.copy(numRounds = 2), initModel = Some(wideModel))
    }
    assert(eWidth.getMessage.contains("feature"))
  }

  test("boost from prediction: training on the first model's margins " +
      "as base_margin grows the SAME trees as continued training " +
      "(test_sklearn.py test_boost_from_prediction_* semantics)") {
    val rng = new scala.util.Random(41)
    val rows = (1 to 400).map { _ =>
      val x0 = rng.nextDouble() * 10; val x1 = rng.nextDouble() * 10
      (x0, x1, if (x0 + x1 > 10) 1 else 0)
    }
    val df = rows.toDF("x0", "x1", "y").repartition(4)
    val p = TrainParams(objective = "binary:logistic", numRounds = 4,
      maxDepth = 3, seed = 9)
    val first = GraftBoost.train(df, DMatrixSpec("y"), p).model

    // path A: continued training (warm start folds margins in)
    val contA = GraftBoost.train(df, DMatrixSpec("y"), p,
      initModel = Some(first)).model

    // path B: the first model's raw margins ride as base_margin
    val withMargin = GraftBoost.predict(first, df, DMatrixSpec("y"),
      outputMargin = true)
      .withColumnRenamed("prediction", "bm")
    val specB = DMatrixSpec(labelCol = Seq("y"),
      baseMarginCol = Some("bm"), ignore = Seq("bm"))
    val contB = GraftBoost.train(withMargin, specB, p).model

    // the gradients agree, so the NEW trees must be identical
    val newA = contA.trees.drop(first.trees.length)
    assert(newA.length === contB.trees.length)
    for ((ta, tb) <- newA.zip(contB.trees); i <- 0 until ta.numNodes) {
      assert(ta.feature(i) === tb.feature(i))
      assert(ta.value(i) === tb.value(i), s"node $i value")
      if (ta.feature(i) >= 0)
        assert(ta.threshold(i) === tb.threshold(i), s"node $i threshold")
    }
    // and composed scoring agrees: (A+B trees) == A margins + B@bm
    val probe = Array(5.0f, 5.0f)
    // marginsFrom(_, 0) = the B trees' sum alone (no init margin)
    val composed = first.margins(probe).head +
      contB.marginsFrom(probe, 0f).head
    assert(math.abs(contA.margins(probe).head - composed) < 1e-5)
  }

  test("custom objective parity: custom squared-error == builtin (E6, " +
      "test_xgboost_api.py:77-103 semantics)") {
    val rng = new scala.util.Random(29)
    val rows = (1 to 300).map { _ =>
      val x0 = rng.nextDouble(); val x1 = rng.nextDouble()
      (x0, x1, 3.0 * x0 - 2.0 * x1 + 1.0)
    }
    val df = rows.toDF("x0", "x1", "y").repartition(3)
    val customSq = new Objective {
      val name = "custom:squarederror"
      val numOutputs = 1
      def initMargin(b: Double): Float = b.toFloat
      def transform(m: Array[Float]): Array[Float] = m
      def gradHess(m: Array[Float], y: Float, g: Array[Float],
          h: Array[Float]): Unit = { g(0) = m(0) - y; h(0) = 1.0f }
    }
    val p = TrainParams(numRounds = 8, maxDepth = 3, seed = 5)
    val builtin = GraftBoost.train(df, DMatrixSpec("y"),
      p.copy(objective = "reg:squarederror"))
    val custom = GraftBoost.train(df, DMatrixSpec("y"),
      p.copy(customObjective = Some(customSq)))
    assert(custom.model.dump() === builtin.model.dump())
    assert(custom.model.objective === "custom:squarederror")
    // save/load round-trips; custom-objective predictions are raw margins
    val dir = tempDir("graft-cobj").toString
    custom.model.save(spark, dir)
    val loaded = GraftModel.load(spark, dir)
    val a = GraftBoost.predict(builtin.model, df, DMatrixSpec("y"))
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(loaded, df, DMatrixSpec("y"))
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 })
  }

  test("custom eval metric: rmsle tracked per round (E7, " +
      "test_xgboost_api.py:104-153 semantics)") {
    val rng = new scala.util.Random(31)
    val rows = (1 to 300).map { _ =>
      val x0 = rng.nextDouble(); val x1 = rng.nextDouble()
      (x0, x1, 4.0 * x0 + x1)
    }
    val df = rows.toDF("x0", "x1", "y").repartition(3)
    val rmsle = CustomMetric("rmsle", (m, y, wt) => {
      val d = math.log1p(math.max(m(0), 0.0)) - math.log1p(y)
      (d * d * wt, wt.toDouble)
    })
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 10,
        maxDepth = 3, seed = 5, evalMetric = Seq("rmse"),
        customMetrics = Seq(rmsle)),
      evals = Seq(("train", df)))
    val track = res.evalsResult("train")("rmsle")
    assert(track.length === 10)
    assert(track.last < track.head, s"rmsle did not improve: $track")
    // value is sqrt-able mean: spot-check the final round against a
    // direct computation over the final model's predictions
    val pred = GraftBoost.predict(res.model, df, DMatrixSpec("y"))
      .select("prediction", "y").collect()
    val manual = pred.map { r =>
      val d = math.log1p(math.max(r.getDouble(0), 0.0)) -
        math.log1p(r.getDouble(1))
      d * d
    }.sum / pred.length
    assert(math.abs(track.last - manual) < 1e-6)
  }

  test("mlogloss under multi:softmax does not throw (advisor r1)") {
    val df = onehotDf().repartition(2)
    val res = GraftBoost.train(df, DMatrixSpec("label"),
      TrainParams(objective = "multi:softmax", numClass = 4,
        numRounds = 3, maxDepth = 2, seed = 7,
        evalMetric = Seq("mlogloss", "merror")),
      evals = Seq(("train", onehotDf(2))))
    val ml = res.evalsResult("train")("mlogloss")
    assert(ml.length === 3 && ml.forall(v => !v.isNaN))
    assert(ml.last < ml.head)
  }

  test("multi-label training: one ensemble per label column " +
      "(matrix.py:410-425 semantics)") {
    val rng = new scala.util.Random(61)
    val rows = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 2.0 * a, 3.0 * b - a)
    }
    val df = rows.toDF("a", "b", "y1", "y2").repartition(3)
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val res = GraftBoost.trainMultiLabel(df, spec,
      TrainParams(objective = "reg:squarederror", numRounds = 25,
        maxDepth = 3, seed = 5))
    assert(res.models.map(_._1) === Seq("y1", "y2"))
    // both targets use the same 2-feature set (labels excluded)
    res.models.foreach { case (_, m) => assert(m.numFeatures === 2) }
    val pred = GraftBoost.predictMultiLabel(res, df, spec)
    val rmse = pred.selectExpr(
      "sqrt(avg(pow(prediction_y1 - y1, 2))) as r1",
      "sqrt(avg(pow(prediction_y2 - y2, 2))) as r2").head()
    assert(rmse.getDouble(0) < 0.1, s"y1 rmse ${rmse.getDouble(0)}")
    assert(rmse.getDouble(1) < 0.15, s"y2 rmse ${rmse.getDouble(1)}")
    // single-label train still rejects multi-label specs
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, spec, TrainParams(numRounds = 1))
    }
    assert(e.getMessage.contains("single label"))
  }

  test("multi-label prediction under multi:softprob and multi-quantile " +
      "keeps each label's output array out of later feature sets") {
    val rng = new scala.util.Random(67)
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, math.min(2, (3 * a).toInt).toDouble,
        math.min(2, (3 * b).toInt).toDouble)
    }.toDF("a", "b", "y1", "y2")
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val runs = Seq(
      (TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 10, maxDepth = 3, seed = 5), "probabilities"),
      (TrainParams(objective = "reg:quantileerror",
        quantileAlphas = Seq(0.1, 0.9), numRounds = 10, maxDepth = 3,
        seed = 5), "predictions"))
    for ((params, array) <- runs) {
      val res = GraftBoost.trainMultiLabel(df, spec, params)
      val pred = GraftBoost.predictMultiLabel(res, df, spec)
      assert(pred.columns.toSeq === df.columns.toSeq ++ Seq(
        s"${array}_y1", "prediction_y1", s"${array}_y2", "prediction_y2"))
      // each label's columns equal its model scored alone
      res.models.foreach { case (l, m) =>
        val other = if (l == "y1") "y2" else "y1"
        val alone = GraftBoost.predict(m, df,
          DMatrixSpec(labelCol = Seq(l), ignore = Seq(other)))
          .select(array, "prediction").collect().toSeq
        assert(pred.select(s"${array}_$l", s"prediction_$l")
          .collect().toSeq === alone, s"${params.objective} $l")
        if (array == "probabilities") {
          val acc = pred.where(s"prediction_$l = $l").count() / 300.0
          assert(acc > 0.9, s"$l accuracy $acc")
        }
      }
    }
  }

  test("multi-label shared pack == independent per-label training " +
      "(weights + base margin), bit-for-bit on exchange-free input") {
    // no repartition: both plans scan the local relation in input
    // order, so the r13 one-pass shared pack must reproduce the
    // per-label pipeline exactly, including the role columns
    val rng = new scala.util.Random(63)
    val df = (1 to 250).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 0.5 + rng.nextDouble(), rng.nextGaussian() * 0.05,
        2.0 * a + 0.1 * rng.nextGaussian(),
        3.0 * b - a + 0.1 * rng.nextGaussian())
    }.toDF("a", "b", "w", "bm", "y1", "y2")
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"),
      weightCol = Some("w"), baseMarginCol = Some("bm"))
    // classes 0..2 for softmax: y1 by thirds of a, y2 by thirds of b
    val classes = df
      .withColumn("y1", floor(least(col("a") * 3, lit(2.0))))
      .withColumn("y2", floor(least(col("b") * 3, lit(2.0))))
    // c > 1 outputs per label (softprob classes, quantile alphas), the
    // latter with its per-output adaptive leaf refresh; then a per-label
    // global pass (Cox) and per-label drop sets (DART)
    val inputs = Seq(
      (TrainParams(numRounds = 3, maxDepth = 3, seed = 9,
        subsample = 0.9), df),
      (TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 3, maxDepth = 3, seed = 9, subsample = 0.9), classes),
      (TrainParams(objective = "reg:quantileerror",
        quantileAlphas = Seq(0.1, 0.9), numRounds = 3, maxDepth = 3,
        seed = 9, subsample = 0.9), df),
      (TrainParams(objective = "survival:cox", numRounds = 3, maxDepth = 3,
        seed = 9, subsample = 0.9), df),
      (TrainParams(booster = "dart", rateDrop = 0.5, sampleType = "weighted",
        numRounds = 4, maxDepth = 3, seed = 9, subsample = 0.9), df))
    def hash(m: GraftModel): Int = modelStructureHash(m)
    for ((p, in) <- inputs) {
      val shared = GraftBoost.trainMultiLabel(in, spec, p)
      Seq("y1", "y2").foreach { l =>
        val solo = GraftBoost.train(in,
          spec.copy(labelCol = Seq(l),
            ignore = spec.ignore ++ spec.labelCol.filterNot(_ == l)), p)
        val sharedModel = shared.models.toMap.apply(l)
        assert(hash(sharedModel) === hash(solo.model),
          s"${p.objective} label $l")
        assert(sharedModel.featureNames === solo.model.featureNames)
      }
    }
  }

  test("multi-label with an eval set and early stopping == per-label " +
      "solo runs: best iteration, history, rounds and model") {
    // y1 is learnable and y2 is noise, so the labels stop at different
    // rounds; exchange-free input, as in the shared-pack test above
    def frame(seed: Int, n: Int) = {
      val rng = new scala.util.Random(seed)
      (1 to n).map { _ =>
        val a = rng.nextDouble(); val b = rng.nextDouble()
        (a, b, 2.0 * a + b + 0.1 * rng.nextGaussian(), rng.nextGaussian())
      }.toDF("a", "b", "y1", "y2")
    }
    val df = frame(71, 300)
    val valid = frame(73, 200)
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val p = TrainParams(numRounds = 40, maxDepth = 3, seed = 11,
      earlyStoppingRounds = 3, evalMetric = Seq("mae", "rmse"))
    val evals = Seq(("train", df), ("valid", valid))
    val shared = GraftBoost.trainMultiLabel(df, spec, p, evals).results.toMap
    val rounds = Seq("y1", "y2").map { l =>
      val solo = GraftBoost.train(df,
        spec.copy(labelCol = Seq(l), ignore = Seq("y1", "y2").filterNot(_ == l)),
        p, evals)
      val r = shared(l)
      assert(r.bestIteration === solo.bestIteration, s"label $l")
      assert(r.bestScore === solo.bestScore, s"label $l")
      assert(r.roundsCompleted === solo.roundsCompleted, s"label $l")
      assert(r.evalsResult.keySet === Set("train", "valid"), s"label $l")
      assert(r.evalsResult === solo.evalsResult, s"label $l")
      assert(r.totalN === solo.totalN, s"label $l")
      assert(modelStructureHash(r.model) === modelStructureHash(solo.model),
        s"label $l")
      r.roundsCompleted
    }
    assert(rounds(0) > rounds(1) && rounds(1) < 40,
      s"the labels should stop at different rounds: $rounds")
  }

  test("multi-label checkpoints: each label saves under " +
      "<checkpointPath>/<label>, one-pass and per-label paths alike") {
    val rng = new scala.util.Random(79)
    val df = (1 to 200).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, (rng.nextInt(4)).toLong, 2.0 * a, b - a)
    }.toDF("a", "b", "q", "y1", "y2")
    val p = TrainParams(numRounds = 4, maxDepth = 2, seed = 13,
      checkpointEvery = 2)
    // no qid: one input pass; a declared qid column: one run per label
    for (qid <- Seq(None, Some("q"))) {
      val ckpt = tempDir("graft-ml-ckpt").toString
      val res = GraftBoost.trainMultiLabel(df,
        DMatrixSpec(labelCol = Seq("y1", "y2"), qidCol = qid,
          ignore = if (qid.isEmpty) Seq("q") else Nil),
        p.copy(checkpointPath = Some(ckpt)))
      res.models.foreach { case (l, m) =>
        val saved = GraftModel.load(spark, s"$ckpt/$l")
        assert(saved.trees.length === 4, s"qid $qid label $l")
        assert(modelStructureHash(saved) === modelStructureHash(m),
          s"qid $qid label $l")
      }
    }
  }

  test("feature_weights steer node column sampling " +
      "(test_end_to_end.py:429-470 semantics)") {
    val rng = new scala.util.Random(37)
    val rows = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, a + b) // both features equally informative
    }
    val df = rows.toDF("a", "b", "y").repartition(2)
    // weight 0 on feature 1 + colsample_bynode 0.5 (pick 1 of 2):
    // every node must sample feature 0 only
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 5,
        maxDepth = 3, seed = 5, colsampleByNode = 0.5,
        featureWeights = Some(Array(1.0, 0.0))))
    val dump = res.model.dump()
    assert(dump.contains("[f0<="), "feature 0 never used")
    assert(!dump.contains("[f1<="), s"zero-weighted feature 1 was used:\n$dump")
    // flipped weights → only feature 1
    val res2 = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 5,
        maxDepth = 3, seed = 5, colsampleByNode = 0.5,
        featureWeights = Some(Array(0.0, 1.0))))
    assert(!res2.model.dump().contains("[f0<="))
  }

  test("weightCol: zero-weight rows do not influence the model") {
    // discrete feature grid so quantile cuts are identical across the
    // two datasets; the zero-weight rows carry corrupted labels
    val rng = new scala.util.Random(43)
    val base = (1 to 200).map { _ =>
      val a = rng.nextInt(10).toDouble; val b = rng.nextInt(10).toDouble
      (a, b, a - b, 1.0)
    }
    val poisoned = base ++ base.map { case (a, b, y, _) =>
      (a, b, -10.0 * y + 7.0, 0.0) // garbage label, weight 0
    }
    val spec = DMatrixSpec(labelCol = Seq("y"), weightCol = Some("w"))
    val p = TrainParams(objective = "reg:squarederror", numRounds = 5,
      maxDepth = 3, seed = 5)
    val clean = GraftBoost.train(
      base.toDF("a", "b", "y", "w").coalesce(1), spec, p)
    val withZeros = GraftBoost.train(
      poisoned.toDF("a", "b", "y", "w").coalesce(1), spec, p)
    assert(clean.model.dump() === withZeros.model.dump(),
      "zero-weight rows changed the model")
  }

  test("missing= value is treated exactly like NaN") {
    val rng = new scala.util.Random(47)
    val rows = (1 to 300).map { i =>
      val a = rng.nextInt(20).toDouble; val b = rng.nextInt(20).toDouble
      (if (i % 7 == 0) -999.0 else a, b, a + 2 * b)
    }
    val sentinel = rows.toDF("a", "b", "y")
    val nan = rows.map { case (a, b, y) =>
      (if (a == -999.0) Double.NaN else a, b, y)
    }.toDF("a", "b", "y")
    val p = TrainParams(objective = "reg:squarederror", numRounds = 5,
      maxDepth = 3, seed = 5)
    val mSentinel = GraftBoost.train(sentinel.coalesce(1),
      DMatrixSpec(labelCol = Seq("y"), missing = Some(-999.0)), p)
    val mNan = GraftBoost.train(nan.coalesce(1),
      DMatrixSpec(labelCol = Seq("y")), p)
    assert(mSentinel.model.dump() === mNan.model.dump(),
      "missing=-999 diverged from NaN handling")
  }

  test("truncate keeps whole forests with numParallelTree > 1 " +
      "(advisor r2) and save/load preserves the forest width") {
    val rng = new scala.util.Random(53)
    val rows = (1 to 200).map { _ =>
      val a = rng.nextDouble(); (a, rng.nextDouble(), 2 * a)
    }
    val df = rows.toDF("a", "b", "y").repartition(2)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 3,
        maxDepth = 2, numParallelTree = 4, subsample = 0.8, seed = 5))
    assert(res.model.trees.length === 12) // 3 rounds × 4 parallel trees
    assert(res.model.treesPerRound === 4)
    val one = res.modelAt(1)
    assert(one.trees.length === 4, "truncate cut mid-forest")
    // a whole forest averages to an unbiased round — predictions from
    // the 1-round model must differ from the full model but stay finite
    val dir = tempDir("graft-rf").toString
    res.model.save(spark, dir)
    val loaded = GraftModel.load(spark, dir)
    assert(loaded.numParallelTree === 4)
    assert(loaded.truncate(2).trees.length === 8)
  }

  test("slice([a,b)) follows xgboost sliced-booster semantics: margins " +
      "are additive across a round partition, class groups stay whole") {
    val rng = new scala.util.Random(91)
    val rows = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a - b)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 5,
        maxDepth = 3, seed = 7))
    val m = res.model
    assert(m.numRounds === 5)
    assert(m.slice(0, 2).dump() === m.truncate(2).dump())
    // identity link: prediction == margin == base + Σ tree contribs, so
    // pred(full) - base must equal Σ over a partition of round ranges
    val x = Array(0.4f, 0.7f)
    val base = m.slice(0, 0).margins(x)(0)
    val full = m.margins(x)(0)
    val front = m.slice(0, 2).margins(x)(0)
    val back = m.slice(2, 5).margins(x)(0)
    assert(math.abs((full - base) - ((front - base) + (back - base)))
      < 1e-5, s"margins not additive: full=$full front=$front back=$back")
    // out-of-range bounds clamp instead of throwing
    assert(m.slice(-3, 99).dump() === m.dump())
    assert(m.slice(4, 2).numRounds === 0)
    // a hand-assembled model with a trailing PARTIAL round is rejected
    // at construction — slice/numRounds would silently drop it
    // (advisor r7)
    val e = intercept[IllegalArgumentException] {
      new GraftModel(m.trees.take(3), m.objective, numClass = 2,
        m.baseScore, m.missingBin, m.numFeatures)
    }
    assert(e.getMessage.contains("treesPerRound"))
    // multi-class: each round appends numClass trees; a mid-model slice
    // must keep whole class groups
    val mc = (1 to 150).map { i =>
      val a = rng.nextDouble()
      (a, rng.nextDouble(), (i % 3).toDouble)
    }.toDF("a", "b", "y")
    val sm = GraftBoost.train(mc, DMatrixSpec("y"),
      TrainParams(objective = "multi:softmax", numClass = 3,
        numRounds = 4, maxDepth = 2, seed = 8)).model
    assert(sm.treesPerRound === 3)
    assert(sm.slice(1, 3).trees.length === 6)
    assert(sm.slice(1, 3).numRounds === 2)
  }

  test("rank:pairwise improves AUC over rounds (F4 fixture)") {
    val rng = new scala.util.Random(17)
    // 40 groups of 5; relevance correlates with feature 0
    val rows = (0 until 40).flatMap { q =>
      (0 until 5).map { _ =>
        val x = rng.nextDouble()
        (x, rng.nextDouble(), if (x > 0.6) 1 else 0, q.toLong)
      }
    }
    val df = rows.toDF("a", "b", "rel", "group").repartition(4)
    val spec = DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("group"))
    val res = GraftBoost.train(df, spec,
      TrainParams(objective = "rank:pairwise", numRounds = 10,
        maxDepth = 3, eta = 1.0, seed = 2),
      evals = Seq(("train", df)))
    val auc = res.evalsResult("train")("auc")
    assert(auc.last > 0.9, s"AUC: ${auc.mkString(",")}")
    assert(auc.last >= auc.head)
  }

  test("streamed ranking gradients: one giant partition trains the " +
      "identical model as many partitions") {
    val rng = new scala.util.Random(23)
    val rows = (0 until 60).flatMap { q =>
      (0 until 8).map { _ =>
        val x = rng.nextDouble()
        (x, rng.nextDouble(), if (x > 0.5) 1 else 0, q.toLong)
      }
    }
    val df = rows.toDF("a", "b", "rel", "group")
    val spec = DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("group"))
    val p = TrainParams(objective = "rank:pairwise", numRounds = 4,
      maxDepth = 3, seed = 9)
    // numWorkers=1: the whole dataset is ONE partition — the qid-run
    // streaming buffer must never need the full partition in its arrays
    // (it holds one 8-row group at a time); numWorkers=5 splits groups
    // across partitions. Identical models ⇒ the gradient values are
    // partition-layout-independent and the streaming refactor preserved
    // the buffered formulation bit for bit.
    val one = GraftBoost.train(df, spec, p, numWorkers = 1)
    val many = GraftBoost.train(df, spec, p, numWorkers = 5)
    assert(one.model.dump() === many.model.dump())
  }

  test("predictLeaf: leaf indices reconstruct the margin exactly " +
      "(pred_leaf analog)") {
    val rng = new scala.util.Random(31)
    val rows = (1 to 400).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, if (a + b > 1.0) 1.0 else 0.0)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 3,
        maxDepth = 3, seed = 7))
    val m = res.model
    val got = GraftBoost.predictLeaf(m, df, DMatrixSpec("y"))
    val margins = GraftBoost.predict(m, df, DMatrixSpec("y"),
      outputMargin = true).select("a", "prediction").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val leaves = got.select("a", "leaf_indices").collect()
    assert(leaves.length === 400)
    leaves.foreach { r =>
      val li = r.getSeq[Int](1)
      assert(li.size === m.trees.length)
      // replay the ensemble's float accumulation over the leaf values:
      // bias + Σ value(leaf_t) must equal the margin bit for bit
      var acc = 0.0f // logistic initMargin(0.5) = 0
      li.zipWithIndex.foreach { case (leaf, t) =>
        assert(m.trees(t).feature(leaf) < 0, "index is not a leaf")
        acc += m.trees(t).value(leaf)
      }
      assert(acc.toDouble === margins(r.getDouble(0)))
    }
  }

  test("numClass with a single-output objective cannot poison the " +
      "model's output count") {
    val rng = new scala.util.Random(43)
    val rows = (1 to 200).map { _ =>
      val a = rng.nextDouble(); (a, if (a > 0.5) 1.0 else 0.0)
    }
    val df = rows.toDF("a", "y").repartition(2)
    // e.g. a spark.graft.numClass conf overlay left set while switching
    // to a binary objective
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numClass = 2,
        numRounds = 4, maxDepth = 2, seed = 1))
    assert(res.model.numOutputs === 1)
    assert(res.model.trees.length === 4)
    val clean = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 4,
        maxDepth = 2, seed = 1))
    assert(res.model.dump() === clean.model.dump())
    val acc = GraftBoost.predict(res.model, df, DMatrixSpec("y"))
      .filter(($"prediction" > 0.5).cast("int") === $"y")
      .count().toDouble / 200
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("predict honors the per-row base margin (DMatrix base_margin " +
      "semantics) and falls back to init when absent") {
    val rng = new scala.util.Random(41)
    val rows = (1 to 300).map { i =>
      val a = rng.nextDouble()
      (i, a, 3 * a + 1, a.toFloat * 2) // bm varies per row
    }
    val df = rows.toDF("id", "a", "y", "bm").repartition(3)
    val spec = DMatrixSpec(labelCol = Seq("y"),
      baseMarginCol = Some("bm"), featureCols = Some(Seq("a")))
    val res = GraftBoost.train(df, spec,
      TrainParams(objective = "reg:squarederror", numRounds = 3,
        maxDepth = 2, seed = 3))
    val m = res.model
    val leaves = GraftBoost.predictLeaf(m, df, spec)
      .select("id", "leaf_indices").collect()
      .map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    val bm = rows.map(r => r._1 -> r._4).toMap
    // with the margin column present: margin = row base + Σ leaf values
    val withBm = GraftBoost.predict(m, df, spec, outputMargin = true)
      .select("id", "prediction").collect()
    withBm.foreach { r =>
      var acc = bm(r.getInt(0))
      leaves(r.getInt(0)).zipWithIndex
        .foreach { case (l, t) => acc += m.trees(t).value(l) }
      assert(acc.toDouble === r.getDouble(1))
    }
    // without the column: falls back to the objective init margin
    val noBm = GraftBoost.predict(m, df.drop("bm"), spec,
      outputMargin = true).select("id", "prediction").collect()
    noBm.foreach { r =>
      var acc = 0.5f // squared-error initMargin(baseScore 0.5)
      leaves(r.getInt(0)).zipWithIndex
        .foreach { case (l, t) => acc += m.trees(t).value(l) }
      assert(acc.toDouble === r.getDouble(1))
    }
  }

  test("predictContrib: Saabas contributions sum to the margin and " +
      "concentrate on the informative feature (pred_contribs analog)") {
    val rng = new scala.util.Random(37)
    // y depends on a only; b is pure noise
    val rows = (1 to 500).map { _ =>
      val a = rng.nextDouble(); (a, rng.nextDouble(), 3 * a + 1)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 5,
        maxDepth = 3, seed = 7))
    val m = res.model
    val margins = GraftBoost.predict(m, df, DMatrixSpec("y"),
      outputMargin = true).select("a", "prediction").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val got = GraftBoost.predictContrib(m, df, DMatrixSpec("y"),
      approxContribs = true)
      .select("a", "contribs").collect()
    assert(got.length === 500)
    var massA = 0.0; var massB = 0.0
    got.foreach { r =>
      val c = r.getSeq[Float](1)
      assert(c.size === 3) // 2 features + bias
      // telescoping sum property: Σ contribs + bias == margin (float
      // association differs from the predict path → small tolerance)
      val sum = c.map(_.toDouble).sum
      assert(math.abs(sum - margins(r.getDouble(0))) < 1e-4,
        s"contrib sum $sum vs margin ${margins(r.getDouble(0))}")
      massA += math.abs(c(0)); massB += math.abs(c(1))
    }
    assert(massA > 10 * massB,
      s"informative-feature mass a=$massA vs noise b=$massB")
  }

  test("predictInteractions: symmetric matrix whose row sums telescope " +
      "to the Saabas contribs (pred_interactions analog)") {
    val rng = new scala.util.Random(41)
    // y = 3a + 2ab: a main effect plus a genuine a×b interaction the
    // trees can only express by splitting on both features on one path
    val rows = (1 to 600).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a + 2 * a * b)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 5,
        maxDepth = 4, seed = 7))
    val m = res.model
    val contribs = GraftBoost.predictContrib(m, df, DMatrixSpec("y"),
      approxContribs = true) // row sums reproduce SAABAS contribs
      .select("a", "contribs").collect()
      .map(r => r.getDouble(0) -> r.getSeq[Float](1)).toMap
    val got = GraftBoost.predictInteractions(m, df, DMatrixSpec("y"),
      approxInteractions = true) // the SAABAS variant under test here
      .select("a", "interactions").collect()
    assert(got.length === 600)
    val w = 3 // 2 features + bias
    var offDiagMass = 0.0
    got.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.size === w * w)
      val mm = Array.tabulate(w, w)((i, j) => v(i * w + j).toDouble)
      // symmetry
      for (i <- 0 until w; j <- 0 until w)
        assert(math.abs(mm(i)(j) - mm(j)(i)) < 1e-6,
          s"asymmetric at ($i,$j)")
      // row sums reproduce the contribs vector (the xgboost
      // pred_interactions contract: row sums = pred_contribs)
      val c = contribs(r.getDouble(0))
      for (i <- 0 until w)
        assert(math.abs(mm(i).sum - c(i)) < 1e-4,
          s"row $i sum ${mm(i).sum} vs contrib ${c(i)}")
      offDiagMass += math.abs(mm(0)(1))
    }
    // the planted a×b interaction must register as off-diagonal mass
    assert(offDiagMass > 1.0, s"a×b interaction mass $offDiagMass")
  }

  test("EnsembleScore compiles under codegen-only mode in every output") {
    val df = Seq((1.0, 2.0, 5.0), (2.0, 1.0, 8.0), (0.5, 0.5, 3.0))
      .toDF("a", "b", "y")
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 2,
        maxDepth = 2, seed = 1))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val (m, s) = (res.model, DMatrixSpec("y"))
      // (output frame, its array column, per-row length)
      Seq(
        (GraftBoost.predict(m, df, s, outputMargin = true), "prediction", 0),
        (GraftBoost.predict(m, df, s), "prediction", 0),
        (GraftBoost.predictLeaf(m, df, s), "leaf_indices", 2),
        (GraftBoost.predictContrib(m, df, s, true), "contribs", 3),
        (GraftBoost.predictContrib(m, df, s), "contribs", 3),
        (GraftBoost.predictInteractions(m, df, s, true), "interactions", 9),
        (GraftBoost.predictInteractions(m, df, s), "interactions", 9)
      ).foreach { case (out, c, len) =>
        val ok =
          if (len == 0) org.apache.spark.sql.functions.col(c).isNotNull
          else org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.col(c)) === len
        assert(out.filter(ok).count() === 3L, c)
      }
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
