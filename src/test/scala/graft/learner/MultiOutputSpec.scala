package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import org.apache.spark.sql.functions._

/**
 * Vector-leaf multi-output trees (xgboost 2.x
 * `multi_strategy = "multi_output_tree"` analog, verdict r19 #5):
 * closed-form stump arithmetic per target, the golden 1-vs-8
 * partition invariance every trainer variant carries, structure
 * sharing across output slices, and the one-tree-per-round layout
 * that distinguishes the strategy from trainMultiLabel's
 * one-model-per-label.
 */
class MultiOutputSpec extends SparkTestBase {
  import spark.implicits._

  private def moDump(m: MultiOutput.MultiOutputModel): Seq[String] =
    m.trees.map { t =>
      (t.feature.toSeq, t.thresholdBin.toSeq, t.threshold.toSeq,
        t.defaultLeft.toSeq, t.left.toSeq, t.right.toSeq,
        t.values.toSeq, t.gain.toSeq, t.cover.toSeq).toString
    }

  // binary feature x ∈ {0,1}; two targets with OPPOSITE signals so a
  // wrong output indexing cannot cancel out
  private def stumpDf(n: Int = 400) =
    (0 until n).map { i =>
      val y = (i % 50).toDouble
      (if (y >= 25) 1.0 else 0.0, y, 50.0 - y)
    }.toDF("x", "y1", "y2")

  test("closed-form stump: leaf_j = -eta*(0.5*n - sum y_j)/(n+1) per " +
      "side per target (the ml_stump arithmetic, vectorized)") {
    val df = stumpDf()
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(numRounds = 1, maxDepth = 1, seed = 1), numWorkers = 4)
    assert(m.trees.length == 1 && m.k == 2)
    val t = m.trees.head
    assert(t.feature(0) == 0, "must split on the only feature")

    // closed form per side: g = 0.5 - y (squared error from base 0.5)
    val rows = df.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    def leaf(side: Double, y: Int): Float = {
      val grp = rows.filter(_._1 == side)
      val n = grp.length
      val sy = grp.map(r => if (y == 0) r._2 else r._3).sum
      ((-0.3 * (0.5 * n - sy)) / (n + 1.0)).toFloat
    }
    val pred = GraftBoost.predictMultiOutput(m, df, spec)
      .groupBy("x").agg(max("prediction_y1").as("p1"),
        max("prediction_y2").as("p2"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1),
        r.getDouble(2))).sortBy(_._1)
    pred.foreach { case (x, p1, p2) =>
      assert(p1 == (0.5f + leaf(x, 0)).toDouble,
        s"x=$x y1: got $p1 want ${0.5f + leaf(x, 0)}")
      assert(p2 == (0.5f + leaf(x, 1)).toDouble,
        s"x=$x y2: got $p2 want ${0.5f + leaf(x, 1)}")
    }
  }

  test("golden equality: 1-partition model == 8-partition model") {
    val rng = new scala.util.Random(41)
    val df = (1 to 800).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      (a, b, 2 * a - b + 0.05 * rng.nextGaussian(),
        a * b + 0.05 * rng.nextGaussian())
    }.toDF("a", "b", "u", "v")
    val spec = DMatrixSpec(labelCol = Seq("u", "v"))
    val p = TrainParams(numRounds = 4, maxDepth = 3, seed = 17)
    val m1 = GraftBoost.trainMultiOutput(df.coalesce(1), spec, p)
    val m8 = GraftBoost.trainMultiOutput(df.repartition(8), spec, p)
    assert(moDump(m1) === moDump(m8))
  }

  test("output slices share structure arrays by reference and feed " +
      "the standard codegen predict path") {
    val df = stumpDf()
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(numRounds = 2, maxDepth = 2, seed = 5))
    val s0 = m.sliceModel(0); val s1 = m.sliceModel(1)
    (s0.trees zip s1.trees).foreach { case (a, b) =>
      assert(a.feature eq b.feature)
      assert(a.left eq b.left)
      assert(a.threshold eq b.threshold)
      assert(!(a.value eq b.value))
    }
    // slices are whole single-output GraftModels: rounds and predict
    assert(s0.numRounds == 2 && s0.numOutputs == 1)
    val scored = GraftBoost.predict(s0, df, spec.copy(
      labelCol = Seq("y1"), ignore = Seq("y2")))
    assert(scored.count() == 400)
    // and the slice scores through the codegen EnsembleScore
    // expression, never a UDF (the A4 plan contract). Repartition
    // first: a bare LocalRelation fixture would be constant-folded by
    // ConvertToLocalRelation and show no expression at all.
    val plan = GraftBoost.predictMultiOutput(m, df.repartition(2), spec)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("ensemblescore"), plan.take(400))
    assert(!plan.contains("UDF"),
      s"multi-output predict routes a UDF:\n${plan.take(400)}")
  }

  test("slice models round-trip the xgboost-JSON sink and their SHAP " +
      "contribs sum to the margin (the scaladoc's export/SHAP claim)") {
    val df = stumpDf().repartition(2)
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(numRounds = 3, maxDepth = 2, seed = 9))
    Seq(0, 1).foreach { j =>
      val s = m.sliceModel(j)
      val specJ = spec.copy(labelCol = Seq(spec.labelCol(j)),
        ignore = Seq(spec.labelCol(1 - j)))
      // export → import → identical predictions
      val re = GraftModel.fromXgbJson(s.toXgbJson)
      val a = GraftBoost.predict(s, df, specJ)
        .select("x", "prediction").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
      val b = GraftBoost.predict(re, df, specJ)
        .select("x", "prediction").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
      assert(a.toSeq == b.toSeq,
        s"output $j: re-imported slice predicts differently")
      // exact TreeSHAP on the slice: per-row contribs (+ bias slot)
      // sum to the regression margin
      val rows = GraftBoost.predictContrib(s, df, specJ)
        .select("x", "contribs").collect()
      rows.foreach { r =>
        val margin =
          s.margins(Array(r.getDouble(0).toFloat))(0).toDouble
        val sum = r.getSeq[Float](1).map(_.toDouble).sum
        assert(math.abs(sum - margin) < 1e-4,
          s"output $j: contribs sum $sum != margin $margin")
      }
    }
  }

  test("one tree per round learns BOTH targets (vs one model per " +
      "label), and boosting reduces both errors") {
    val rng = new scala.util.Random(99)
    val df = (1 to 2000).map { _ =>
      val a = rng.nextDouble() * 2; val b = rng.nextDouble() * 2
      (a, b, 3 * a + b, a - 2 * b)
    }.toDF("a", "b", "u", "v").repartition(4)
    val spec = DMatrixSpec(labelCol = Seq("u", "v"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(numRounds = 8, maxDepth = 4, seed = 7))
    assert(m.trees.length == 8, "exactly one tree per round")
    val pred = GraftBoost.predictMultiOutput(m, df, spec)
    val r = pred.agg(
      sqrt(avg(pow(col("prediction_u") - col("u"), 2))),
      sqrt(avg(pow(col("prediction_v") - col("v"), 2))),
      stddev("u"), stddev("v")).head()
    assert(r.getDouble(0) < 0.3 * r.getDouble(2),
      s"u rmse ${r.getDouble(0)} vs sd ${r.getDouble(2)}")
    assert(r.getDouble(1) < 0.3 * r.getDouble(3),
      s"v rmse ${r.getDouble(1)} vs sd ${r.getDouble(3)}")
  }

  test("a training past the 50-round lineage checkpoint completes " +
      "and keeps one tree per round (long-run posture)") {
    val df = stumpDf(120).repartition(2)
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(numRounds = 55, maxDepth = 1, seed = 2))
    assert(m.trees.length == 55)
    // predictions remain finite and consistent after the truncation
    val p = GraftBoost.predictMultiOutput(m, df, spec)
      .agg(max(abs(col("prediction_y1"))), max(abs(col("prediction_y2"))))
      .head()
    assert(!p.getDouble(0).isNaN && p.getDouble(0) < 100.0)
    assert(!p.getDouble(1).isNaN && p.getDouble(1) < 100.0)
  }

  test("per-target binary:logistic gradients work (sigmoid transform " +
      "per slice), and unsupported knobs fail loudly") {
    val rng = new scala.util.Random(3)
    val df = (1 to 1200).map { _ =>
      val a = rng.nextDouble() * 2 - 1
      val b = rng.nextDouble() * 2 - 1
      (a, b, if (a > 0) 1.0 else 0.0, if (a + b > 0) 1.0 else 0.0)
    }.toDF("a", "b", "y1", "y2").repartition(3)
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(objective = "binary:logistic", numRounds = 6,
        maxDepth = 3, seed = 13))
    val pred = GraftBoost.predictMultiOutput(m, df, spec)
    val acc = pred.agg(
      avg(when((col("prediction_y1") > 0.5) === (col("y1") === 1.0),
        1.0).otherwise(0.0)),
      avg(when((col("prediction_y2") > 0.5) === (col("y2") === 1.0),
        1.0).otherwise(0.0))).head()
    assert(acc.getDouble(0) > 0.95, s"y1 acc ${acc.getDouble(0)}")
    assert(acc.getDouble(1) > 0.9, s"y2 acc ${acc.getDouble(1)}")

    val e = intercept[IllegalArgumentException] {
      GraftBoost.trainMultiOutput(df, spec,
        TrainParams(numRounds = 1, subsample = 0.5, seed = 1))
    }
    assert(e.getMessage.contains("not supported"))
    val e2 = intercept[IllegalArgumentException] {
      GraftBoost.trainMultiOutput(df, spec,
        TrainParams(numRounds = 1, booster = "dart", seed = 1))
    }
    assert(e2.getMessage.contains("not supported"))
    val e3 = intercept[IllegalArgumentException] {
      GraftBoost.trainMultiOutput(df, spec,
        TrainParams(objective = "binary:logistic", numRounds = 1,
          scalePosWeight = 3.0, seed = 1))
    }
    assert(e3.getMessage.contains("scale_pos_weight"))
    val e4 = intercept[IllegalArgumentException] {
      GraftBoost.trainMultiOutput(df, spec,
        TrainParams(numRounds = 1, etaSchedule = Some(_ => 0.1), seed = 1))
    }
    assert(e4.getMessage.contains("eta_schedule"))
    // the adaptive leaf refresh of the L1 family has no vector form
    Seq(TrainParams(objective = "reg:absoluteerror", numRounds = 1),
      TrainParams(objective = "reg:quantileerror", quantileAlpha = 0.3,
        numRounds = 1)).foreach { p =>
      val e5 = intercept[IllegalArgumentException] {
        GraftBoost.trainMultiOutput(df, spec, p)
      }
      assert(e5.getMessage.contains("not supported"), p.objective)
    }
  }
}
