package graft.learner

import graft.SparkTestBase
import graft.api.GraftLinear
import graft.api.GraftLinear.LinearModel
import graft.data.DMatrixSpec
import org.apache.spark.sql.functions._

/**
 * gblinear xgboost-JSON interchange (`GraftLinear.toXgbJson` /
 * `fromXgbJson`) — the linear-booster half of the model IO the
 * reference's users arrive with (`predict(model, data)` takes an
 * existing `xgb.Booster`, main.py:1810; gblinear conformance surface:
 * tests/test_sklearn.py:493).
 *
 * Pins the stock weight layout concretely: ONE flat vector of
 * (num_feature+1)×num_groups floats, feature-major / group-inner,
 * biases in the trailing block — a hand-written JSON with known
 * weights must produce exactly the expected margins.
 */
class GblinearJsonSpec extends SparkTestBase {
  import spark.implicits._

  private def trainLinear(objective: String, numClass: Int = 0)
      : LinearModel = {
    val rng = new scala.util.Random(91)
    val rows = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      val y = objective match {
        case "multi:softprob" =>
          if (a > 0.6) 2.0 else if (b > 0.5) 1.0 else 0.0
        case _ => 3 * a - 2 * b + 0.5
      }
      (a, b, y)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(objective = objective, numClass = numClass,
        numRounds = 5, seed = 7))
  }

  test("regression model round-trips export -> import bit-for-bit") {
    val m = trainLinear("reg:squarederror")
    val im = GraftLinear.fromXgbJson(GraftLinear.toXgbJson(m))
    assert(im.weights.map(_.toSeq).toSeq === m.weights.map(_.toSeq).toSeq)
    assert(im.bias.toSeq === m.bias.toSeq)
    assert(im.objective === m.objective)
    assert(im.baseScore === m.baseScore)
  }

  test("feature names (r11) ride training, the JSON export/import, " +
      "and the parquet sink") {
    val m = trainLinear("reg:squarederror")
    assert(m.featureNames === Seq("a", "b"))
    val json = GraftLinear.toXgbJson(m)
    assert(json.contains(""""feature_names":["a","b"]"""))
    assert(json.contains(""""feature_types":["float","float"]"""))
    assert(GraftLinear.fromXgbJson(json).featureNames === Seq("a", "b"))
    val dir = tempDir("linfn")
    GraftLinear.save(m, spark, dir.toString)
    assert(GraftLinear.load(spark, dir.toString).featureNames ===
      Seq("a", "b"))
    // unnamed models still emit the empty lists
    assert(GraftLinear.toXgbJson(m.copy(featureNames = Nil))
      .contains(""""feature_names":[]"""))
  }

  test("multi-class model round-trips (feature-major/group-inner " +
      "flat layout inverts exactly)") {
    val m = trainLinear("multi:softprob", numClass = 3)
    val im = GraftLinear.fromXgbJson(GraftLinear.toXgbJson(m))
    assert(im.numClass === 3)
    assert(im.weights.map(_.toSeq).toSeq === m.weights.map(_.toSeq).toSeq)
    assert(im.bias.toSeq === m.bias.toSeq)
  }

  private def handJson(numClass: Int, numFeature: Int, weights: String,
      objective: String = "reg:squarederror"): String =
    s"""{"learner":{"attributes":{},"feature_names":[],
       |"feature_types":[],"gradient_booster":{"model":{
       |"weights":$weights},"name":"gblinear"},
       |"learner_model_param":{"base_score":"2.5E-1",
       |"boost_from_average":"1","num_class":"$numClass",
       |"num_feature":"$numFeature","num_target":"1"},
       |"objective":{"name":"$objective",
       |"reg_loss_param":{"scale_pos_weight":"1"}}},"version":[2,0,0]}"""
      .stripMargin.replaceAll("\n", "")

  test("hand-written stock JSON: flat weights parse feature-major " +
      "with trailing bias block, and predict applies them") {
    // d=2, k=1: [w0, w1, bias] = [0.5, -1.0, 2.0]
    val im = GraftLinear.fromXgbJson(
      handJson(0, 2, "[0.5,-1.0,2.0]"))
    assert(im.weights.map(_.toSeq).toSeq === Seq(Seq(0.5f, -1.0f)))
    assert(im.bias.toSeq === Seq(2.0f))
    assert(im.baseScore === 0.25)
    val df = Seq((1.0, 3.0, 0.0), (2.0, 0.5, 0.0)).toDF("a", "b", "y")
    val preds = GraftLinear.predict(im, df, DMatrixSpec("y"))
      .select("prediction").collect().map(_.getDouble(0))
    // margin = base(0.25) + bias(2.0) + 0.5*a - 1.0*b
    assert(math.abs(preds(0) - (0.25 + 2.0 + 0.5 - 3.0)) < 1e-6)
    assert(math.abs(preds(1) - (0.25 + 2.0 + 1.0 - 0.5)) < 1e-6)
  }

  test("hand-written multi-class JSON: group-inner stride " +
      "[w0c0,w0c1,b0,b1]") {
    // d=1, k=2: weights [1, 2, 10, 20]
    val im = GraftLinear.fromXgbJson(
      handJson(2, 1, "[1.0,2.0,10.0,20.0]", "multi:softprob"))
    assert(im.weights.map(_.toSeq).toSeq === Seq(Seq(1.0f), Seq(2.0f)))
    assert(im.bias.toSeq === Seq(10.0f, 20.0f))
  }

  test("fail-fasts: tree JSON routes to GraftModel.fromXgbJson; " +
      "wrong weight count; unknown objective") {
    val m = {
      val rng = new scala.util.Random(3)
      val df = (1 to 100).map(_ =>
        (rng.nextDouble(), rng.nextDouble(), rng.nextDouble()))
        .toDF("a", "b", "y")
      graft.api.GraftBoost.train(df, DMatrixSpec("y"),
        TrainParams(numRounds = 1, maxDepth = 2, seed = 1)).model
    }
    val e1 = intercept[IllegalArgumentException] {
      GraftLinear.fromXgbJson(m.toXgbJson)
    }
    assert(e1.getMessage.contains("GraftModel.fromXgbJson"))
    val e2 = intercept[IllegalArgumentException] {
      GraftLinear.fromXgbJson(handJson(0, 3, "[0.5,-1.0,2.0]"))
    }
    assert(e2.getMessage.contains("weights length"))
    val e3 = intercept[IllegalArgumentException] {
      GraftLinear.fromXgbJson(
        handJson(0, 2, "[0.5,-1.0,2.0]", "reg:squaredlogerror"))
    }
    assert(e3.getMessage.contains("reg:squaredlogerror"))
  }

  test("imported linear models support continued training (unlike " +
      "tree imports: weights fully describe the model)") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 200).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a - 2 * b + 0.5)
    }
    val df = rows.toDF("a", "b", "y").repartition(2)
    val m = GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(numRounds = 3, seed = 7))
    val im = GraftLinear.fromXgbJson(GraftLinear.toXgbJson(m))
    // resume both the original and the imported copy: identical result
    val r1 = GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(numRounds = 2, seed = 7), initModel = Some(m))
    val r2 = GraftLinear.train(df, DMatrixSpec("y"),
      TrainParams(numRounds = 2, seed = 7), initModel = Some(im))
    assert(r1.weights.map(_.toSeq).toSeq === r2.weights.map(_.toSeq).toSeq)
    assert(r1.bias.toSeq === r2.bias.toSeq)
  }

  test("file round-trip: saveXgbJson -> loadXgbJson") {
    val m = trainLinear("reg:squarederror")
    val dir = tempDir("gblinjson")
    val path = dir.resolve("m.json").toString
    GraftLinear.saveXgbJson(m, path)
    val im = GraftLinear.loadXgbJson(path)
    assert(im.weights.map(_.toSeq).toSeq === m.weights.map(_.toSeq).toSeq)
    assert(im.bias.toSeq === m.bias.toSeq)
  }
}
