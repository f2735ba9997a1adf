package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * DART weight bookkeeping (r10): the model carries xgboost's
 * cumulative `weight_drop` vector alongside the baked leaf values —
 * predict is untouched (weights are already IN the values); the vector
 * exists so checkpoint resume continues `sample_type = "weighted"`
 * probabilities where training stopped and so the xgboost-JSON sink can
 * emit the `booster: "dart"` schema.
 */
class DartWeightsSpec extends SparkTestBase {
  import spark.implicits._

  private def regDf(n: Int = 2000, seed: Int = 7) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3 * a - 2 * b + 0.3 * rng.nextGaussian())
    }.toDF("a", "b", "y")
  }

  private val spec = DMatrixSpec("y")

  test("closed form: two-round rateDrop=1 'tree' weights are both " +
      "1/(1+eta); gbtree models carry no weights") {
    val df = regDf().repartition(4)
    val base = TrainParams(objective = "reg:squarederror",
      numRounds = 2, maxDepth = 2, eta = 1.0, seed = 9)
    val gb = GraftBoost.train(df, spec, base).model
    assert(gb.dartWeights.isEmpty, "gbtree model must carry no weights")
    val dart = GraftBoost.train(df, spec,
      base.copy(booster = "dart", rateDrop = 1.0)).model
    // round 2 drops the only tree: dropScale = kd/(kd+lr) = 1/2,
    // newWeight = 1/(kd+lr) = 1/2 (eta=1, one tree per round)
    assert(dart.dartWeights.toSeq === Seq(0.5, 0.5))
    // weights stay consistent with the baked values: value ≈ raw·w
    assert(dart.trees.length === 2)
  }

  test("save/load round-trips the weight vector; slice slices it") {
    val df = regDf().repartition(3)
    val m = GraftBoost.train(df, spec, TrainParams(
      objective = "reg:squarederror", booster = "dart", numRounds = 4,
      maxDepth = 2, eta = 0.5, rateDrop = 1.0, seed = 13)).model
    assert(m.dartWeights.length === 4)
    val dir = tempDir("graft-dw").toString
    m.save(spark, dir)
    val loaded = GraftModel.load(spark, dir)
    assert(loaded.dump() === m.dump())
    assert(loaded.dartWeights.toSeq === m.dartWeights.toSeq)
    val sliced = m.slice(1, 3)
    assert(sliced.dartWeights.toSeq === m.dartWeights.slice(1, 3).toSeq)
    // a non-dart save leaves no weights behind
    val gb = GraftBoost.train(df, spec, TrainParams(numRounds = 1,
      maxDepth = 2, seed = 1)).model
    val dir2 = tempDir("graft-dw2")
      .toString
    gb.save(spark, dir2)
    assert(GraftModel.load(spark, dir2).dartWeights.isEmpty)
  }

  test("resume seeds stored weights: continued weighted-sampling run " +
      "multiplies the historical cumulative product") {
    val df = regDf().repartition(2)
    val base = TrainParams(objective = "reg:squarederror",
      booster = "dart", maxDepth = 2, eta = 1.0, rateDrop = 1.0,
      sampleType = "weighted", seed = 17)
    val m2 = GraftBoost.train(df, spec, base.copy(numRounds = 2)).model
    assert(m2.dartWeights.toSeq === Seq(0.5, 0.5))
    val m3 = GraftBoost.train(df, spec, base.copy(numRounds = 1),
      initModel = Some(m2)).model
    assert(m3.trees.length === 3)
    // round 3 drops both seeded trees: kd = 2, lr = 1 ⇒ old ×= 2/3,
    // new = 1/3; without seeding the math is identical here (rateDrop=1
    // drops everything regardless of weight) but the STORED vector must
    // continue the cumulative product, not restart at 1.0
    assert(m3.dartWeights.take(2).toSeq === Seq(0.5 * (2.0 / 3.0),
      0.5 * (2.0 / 3.0)))
    assert(m3.dartWeights(2) === 1.0 / 3.0)
  }

  test("xgboost-JSON export emits the dart schema and round-trips " +
      "bit-for-bit with identical predictions") {
    val df = regDf().repartition(3)
    val m = GraftBoost.train(df, spec, TrainParams(
      objective = "reg:squarederror", booster = "dart", numRounds = 3,
      maxDepth = 2, eta = 0.5, rateDrop = 0.6, seed = 23)).model
    val json = m.toXgbJson
    assert(json.contains("\"name\":\"dart\""))
    assert(json.contains("\"weight_drop\""))
    val back = GraftModel.fromXgbJson(json)
    assert(back.dartWeights.nonEmpty,
      "imported dart model stays marked dart")
    // baked values + weight_drop 1.0 ⇒ folding is the identity and the
    // re-import scores bit-identically
    val p1 = GraftBoost.predict(m, df, spec)
      .select("prediction").as[Double].collect()
    val p2 = GraftBoost.predict(back, df, spec)
      .select("prediction").as[Double].collect()
    assert(p1.toSeq === p2.toSeq)
    // and a re-EXPORT of the import keeps the dart schema
    assert(back.toXgbJson.contains("\"name\":\"dart\""))
    // gbtree export is unchanged by the r10 wrapper
    val gb = GraftBoost.train(df, spec, TrainParams(numRounds = 1,
      maxDepth = 2, seed = 1)).model
    assert(!gb.toXgbJson.contains("\"name\":\"dart\""))
  }
}
