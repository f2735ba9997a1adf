package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/**
 * xgboost-JSON export conformance: parse the emitted schema with an
 * independent JSON reader and score rows with STOCK xgboost's decision
 * rule (strict `x < split_condition` goes left, NaN takes
 * default_left) — the per-tree sums must reproduce this engine's
 * margins exactly. Reference surface: the reference's model sink is
 * `bst.save_model(path)` (tune.py:130-156).
 */
class XgbJsonSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** Score one tree the way xgboost does from its JSON arrays. */
  private def xgbTreeScore(tree: JsonNode, x: Array[Float]): Float = {
    def arr(name: String): JsonNode = tree.get(name)
    var i = 0
    while (arr("left_children").get(i).asInt() != -1) {
      val f = arr("split_indices").get(i).asInt()
      val cond = arr("split_conditions").get(i).floatValue()
      val v = x(f)
      i = if (v.isNaN) {
        if (arr("default_left").get(i).asInt() == 1)
          arr("left_children").get(i).asInt()
        else arr("right_children").get(i).asInt()
      } else if (v < cond) arr("left_children").get(i).asInt()
      else arr("right_children").get(i).asInt()
    }
    arr("split_conditions").get(i).floatValue()
  }

  private def conformance(m: GraftModel, probes: Seq[Array[Float]])
      : Unit = {
    val root = mapper.readTree(m.toXgbJson)
    val learner = root.get("learner")
    val booster = learner.get("gradient_booster")
    // dart wraps the gbtree model one level down (Dart::SaveModel);
    // stock dart predict is sum(weight_drop[t] * leaf) — the export
    // emits all-1.0 weights (values are baked), so the plain tree sum
    // below IS the stock dart score
    val gb =
      if (booster.get("name").asText() == "dart") {
        val wd = booster.get("weight_drop")
        assert(wd != null && wd.size() == m.trees.length)
        for (t <- 0 until wd.size())
          assert(wd.get(t).asDouble() === 1.0)
        booster.get("gbtree").get("model")
      } else booster.get("model")
    val trees = gb.get("trees")
    assert(trees.size() === m.trees.length)
    assert(gb.get("gbtree_model_param").get("num_trees").asText()
      === m.trees.length.toString)
    assert(learner.get("learner_model_param").get("num_feature")
      .asText() === m.numFeatures.toString)
    assert(learner.get("objective").get("name").asText() === m.objective)
    val k = m.numOutputs
    for (x <- probes) {
      // per-class tree sums from the JSON == engine margins − bias
      val fromJson = new Array[Double](k)
      for (t <- 0 until trees.size()) {
        val cls = gb.get("tree_info").get(t).asInt()
        fromJson(cls) += xgbTreeScore(trees.get(t), x).toDouble
      }
      val margins = m.margins(x)
      val bias = m.slice(0, 0).margins(x)
      for (c <- 0 until k)
        assert(math.abs(fromJson(c) - (margins(c) - bias(c))) < 1e-4,
          s"class $c: json ${fromJson(c)} vs engine " +
            s"${margins(c) - bias(c)} on ${x.toSeq}")
    }
  }

  test("regression model round-trips through the xgboost JSON schema " +
      "(strict < routing + nextUp thresholds, NaN default direction)") {
    val rng = new scala.util.Random(71)
    val rows = (1 to 400).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a + 2 * a * b)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    val m = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", numRounds = 4,
        maxDepth = 4, seed = 13)).model
    val probes = (1 to 25).map(_ =>
      Array(rng.nextFloat(), rng.nextFloat())) ++
      // exact threshold hits exercise the <= vs < boundary adjustment
      m.trees.flatMap(t => (0 until t.numNodes)
        .filter(t.feature(_) >= 0).take(3)
        .map(i => Array(
          if (t.feature(i) == 0) t.threshold(i) else 0.5f,
          if (t.feature(i) == 1) t.threshold(i) else 0.5f))) :+
      Array(Float.NaN, 0.5f) :+ Array(0.5f, Float.NaN)
    conformance(m, probes)
  }

  test("multi-class softprob model exports per-class tree_info and " +
      "iteration_indptr on round boundaries") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, if (a > 0.6) 2.0 else if (b > 0.5) 1.0 else 0.0)
    }
    val df = rows.toDF("a", "b", "y").repartition(2)
    val m = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 3, maxDepth = 3, seed = 5)).model
    val root = mapper.readTree(m.toXgbJson)
    val gb = root.get("learner").get("gradient_booster").get("model")
    val info = (0 until gb.get("tree_info").size())
      .map(gb.get("tree_info").get(_).asInt())
    assert(info === (0 until 9).map(_ % 3))
    val indptr = (0 until gb.get("iteration_indptr").size())
      .map(gb.get("iteration_indptr").get(_).asInt())
    assert(indptr === Seq(0, 3, 6, 9))
    assert(root.get("learner").get("learner_model_param")
      .get("num_class").asText() === "3")
    conformance(m, (1 to 10).map(_ =>
      Array(rng.nextFloat(), rng.nextFloat())))
  }

  test("saveXgbJson writes a parseable file; categorical and custom " +
      "objectives fail fast") {
    val rng = new scala.util.Random(31)
    val df = (1 to 200).map { _ =>
      val a = rng.nextDouble(); (a, 2 * a + 1)
    }.toDF("a", "y").repartition(2)
    val m = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(numRounds = 2, maxDepth = 2, seed = 1)).model
    val f = tempDir("graft-xgb").resolve("model.json")
    m.saveXgbJson(f.toString)
    val parsed = mapper.readTree(java.nio.file.Files.readAllBytes(f))
    assert(parsed.get("version").get(0).asInt() === 2)

    // categorical model → fail-fast with guidance
    val catDf = (1 to 300).map { _ =>
      val c = rng.nextInt(6)
      (c.toDouble, if (c == 3) 5.0 else 0.0)
    }.toDF("cat", "y").repartition(2)
    val mc = GraftBoost.train(catDf, DMatrixSpec(labelCol = Seq("y"),
      categoricalCols = Seq("cat")),
      TrainParams(numRounds = 1, maxDepth = 1, seed = 1)).model
    val e = intercept[IllegalArgumentException] { mc.toXgbJson }
    assert(e.getMessage.contains("categorical"))

    // multi-quantile model → fail-fast: the "@a1,a2" objective name
    // and num_class routing have no stock-xgboost encoding (r11)
    val mq = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:quantileerror",
        quantileAlphas = Seq(0.25, 0.75), numRounds = 1, maxDepth = 2,
        seed = 3)).model
    val eq = intercept[IllegalArgumentException] { mq.toXgbJson }
    assert(eq.getMessage.contains("multi-quantile"))
    // the escape hatch the message suggests works: a model trained at
    // a single alpha exports fine (scalar objective name is parseable)
    assert(GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:quantileerror", quantileAlpha = 0.25,
        numRounds = 1, maxDepth = 2, seed = 3)).model
      .toXgbJson.contains("reg:quantileerror"))
  }

  test("dart-trained models export under the DART schema (r10) and " +
      "stock traversal predicts identically") {
    // graft's dart rescales STORED leaf values at every drop, so the
    // final ensemble is a plain additive tree sum; the export wraps it
    // in xgboost's dart layout ({"name":"dart","gbtree":...,
    // "weight_drop":[1.0,...]}) so stock xgboost loads a DART booster
    // — all-1.0 weights keep stock's sum(w_t·leaf) prediction-exact.
    val rng = new scala.util.Random(47)
    val rows = (1 to 500).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 2 * a - b + 0.2 * rng.nextGaussian())
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    val m = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "reg:squarederror", booster = "dart",
        rateDrop = 0.5, numRounds = 5, maxDepth = 3, seed = 29)).model
    val probes = (1 to 25).map(_ =>
      Array(rng.nextFloat(), rng.nextFloat()))
    conformance(m, probes)
  }
}
