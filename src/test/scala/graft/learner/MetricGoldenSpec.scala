package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * ABSOLUTE metric values, bit for bit. Each (loss, weight) metric sums
 * a per-row term per partition in row order and the partition partials
 * in partition-index order; these goldens pin both orders together with
 * the per-row arithmetic. They were captured from the one-metric-per-job
 * implementation over fixed 4-partition inputs, so a change of the
 * evaluation path that moves any value by one ulp fails here.
 */
class MetricGoldenSpec extends SparkTestBase {
  import java.lang.{Double => JD}

  private type Rows = Seq[(Array[Float], Float, Float)]

  /** `n` rows of `k` margins in [-2, 2), a label from `label` and a
    * weight in [0.5, 2). */
  private def rows(n: Int, k: Int, seed: Long)(
      label: java.util.Random => Float): Rows = {
    val r = new java.util.Random(seed)
    Seq.fill(n) {
      val m = Array.fill(k)(r.nextFloat() * 4f - 2f)
      (m, label(r), 0.5f + r.nextFloat() * 1.5f)
    }
  }

  private val binary = rows(1000, 1, 1)(r => if (r.nextBoolean()) 1f else 0f)
  private val positive = rows(1000, 1, 2)(r => 0.1f + r.nextFloat() * 4.9f)
  private val multi = rows(1000, 3, 3)(r => r.nextInt(3).toFloat)

  private def obj(name: String, numClass: Int = 0): Objective =
    Objectives.resolve(TrainParams(objective = name, numClass = numClass))

  private val custom = CustomMetric("custom-cube",
    (m: Array[Float], y: Float, w: Float) => {
      val d = (m(0) - y).toDouble
      (d * d * math.abs(d) * w, w.toDouble)
    })

  /** (metric, objective, rows) of every (loss, weight) metric. */
  private lazy val cases: Seq[(String, Objective, Rows)] = Seq(
    ("rmse", obj("reg:squarederror"), positive),
    ("mae", obj("reg:squarederror"), positive),
    ("logloss", obj("binary:logistic"), binary),
    ("mlogloss", obj("multi:softprob", 3), multi),
    ("error", obj("binary:logistic"), binary),
    ("error@0.7", obj("binary:logistic"), binary),
    ("merror", obj("multi:softprob", 3), multi),
    ("gamma-deviance", obj("reg:gamma"), positive),
    ("rmsle", obj("reg:squarederror"), positive),
    ("mape", obj("reg:squarederror"), positive),
    ("poisson-nloglik", obj("count:poisson"), positive),
    ("gamma-nloglik", obj("reg:gamma"), positive),
    ("tweedie-nloglik@1.5", obj("reg:tweedie"), positive),
    ("mphe", obj("reg:pseudohubererror"), positive),
    ("quantile@0.5", obj("reg:quantileerror"), positive),
    ("custom-cube", obj("reg:squarederror"), positive))

  private val golden: Map[String, String] = Map(
    "rmse" -> "4008a358166f16dc",
    "mae" -> "4004db2e33dea2ba",
    "logloss" -> "3feae6f514df6ac2",
    "mlogloss" -> "3ff7b14583fda1b2",
    "error" -> "3fe00f8c6faa2a9f",
    "error@0.7" -> "3fdf44953beeb2ed",
    "merror" -> "3fe53aa590621c2f",
    "gamma-deviance" -> "4015b1a26bcf1c81",
    "rmsle" -> "40315ba5031474a2",
    "mape" -> "3ff59e89fa719f17",
    "poisson-nloglik" -> "400ad5e80ce68fb2",
    "gamma-nloglik" -> "40116e41a2bd246b",
    "tweedie-nloglik@1.5" -> "40203ed0c2611fdc",
    "mphe" -> "3ffe37460f138065",
    "quantile@0.5" -> "3ff4db2e33dea2ba",
    "custom-cube" -> "40440ad87d5fca73")

  private def bits(v: Double): String = JD.doubleToLongBits(v).toHexString

  test("every (loss, weight) metric reproduces its golden bits") {
    val customs = Map(custom.name -> custom)
    val got = cases.map { case (mn, o, rs) =>
      mn -> bits(Metrics.compute(mn, o, spark.sparkContext.parallelize(rs, 4),
        customs))
    }.toMap
    got.toSeq.sortBy(_._1).foreach { case (m, b) => info(s"$m -> $b") }
    assert(got === golden)
  }

  test("the metrics of one objective and row set, computed in one pass, " +
      "reproduce the same golden bits") {
    val customs = Map(custom.name -> custom)
    val got = cases.groupBy { case (_, o, rs) =>
      (o.name, System.identityHashCode(rs))
    }.values.flatMap { group =>
      val names = group.map(_._1)
      names.zip(Metrics.computeAll(names, group.head._2,
        spark.sparkContext.parallelize(group.head._3, 4), customs)
        .map(bits))
    }.toMap
    assert(got === golden)
  }

  /** A 4-partition learnable binary frame. */
  private def frame(n: Int, seed: Long) = {
    val r = new java.util.Random(seed)
    val data = Seq.fill(n) {
      val x = Array.fill(4)(r.nextDouble())
      val y =
        if (x(0) + 0.5 * x(1) + 0.3 * r.nextGaussian() > 0.8) 1.0 else 0.0
      (x(0), x(1), x(2), x(3), y)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4))
      .toDF("a", "b", "c", "d", "y")
  }

  private val historyGolden: Map[String, Seq[String]] = Map(
    "train-logloss" -> Seq(
      "3fe2d2a37f85e462", "3fe0f6d93301b478", "3fdfb087726602b0",
      "3fde3f496c6c3e99", "3fdd3db3755a825e"),
    "train-error" -> Seq(
      "3fcb17e4b17e4b18", "3fcad65b7a328470", "3fcac083126e978d",
      "3fca32846ff513cc", "3fc9af72015d867c"),
    "train-auc" -> Seq(
      "3febb8e19d1e9940", "3febe951e0cf85f8", "3febfa3439490012",
      "3fec10759ab9390e", "3fec2853d3353722"),
    "valid-logloss" -> Seq(
      "3fe30dd13589ab88", "3fe164eb23e0ec3a", "3fe070531ed5b2fe",
      "3fdfc7af7fd454e0", "3fdf2af8a46be022"),
    "valid-error" -> Seq(
      "3fcc6a7ef9db22d1", "3fcd0e5604189375", "3fcc28f5c28f5c29",
      "3fccac083126e979", "3fcc6a7ef9db22d1"),
    "valid-auc" -> Seq(
      "3feb24c23b9ec905", "3feb418d8316d429", "3feb5e7628aceda1",
      "3feb612a657163d2", "3feb6692defa5034"))

  test("a 5-round binary:logistic evalsResult reproduces its golden bits") {
    val train = frame(3000, 11)
    val valid = frame(1000, 12)
    val res = GraftBoost.train(train, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 5,
        maxDepth = 4, evalMetric = Seq("logloss", "error", "auc"), seed = 5),
      evals = Seq(("train", train), ("valid", valid)))
    val got = res.evalsResult.toSeq.flatMap { case (n, ms) =>
      ms.toSeq.map { case (m, vs) => s"$n-$m" -> vs.map(bits).toSeq }
    }.toMap
    got.toSeq.sortBy(_._1).foreach { case (m, b) =>
      info(s"$m -> ${b.mkString("\"", "\", \"", "\"")}")
    }
    assert(got === historyGolden)
  }
}
