package graft.api

import graft.learner.TrainParams
import org.apache.spark.sql.SparkSession

/**
 * `spark.graft.*` configuration surface (C13) — the Spark-idiomatic
 * analog of the reference's env-var/config knobs (reference:
 * xgboost_ray/main.py:70-92 reads RXGB_* environment variables;
 * session.py config). Set via `--conf spark.graft.numRounds=50` or
 * `spark.conf.set(...)`, then overlay onto a base `TrainParams`:
 *
 * {{{
 *   val params = GraftConf.overlay(spark, TrainParams())
 * }}}
 *
 * Only keys that are present override the base; everything else keeps
 * the base value, so code-level params and cluster-level config compose.
 */
object GraftConf {

  val Prefix = "spark.graft."

  def overlay(spark: SparkSession,
      base: TrainParams = TrainParams()): TrainParams = {
    def get(k: String): Option[String] =
      spark.conf.getOption(Prefix + k).map(_.trim).filter(_.nonEmpty)
    var p = base
    get("objective").foreach(v => p = p.copy(objective = v))
    get("numClass").foreach(v => p = p.copy(numClass = v.toInt))
    get("numRounds").foreach(v => p = p.copy(numRounds = v.toInt))
    get("maxDepth").foreach(v => p = p.copy(maxDepth = v.toInt))
    get("eta").foreach(v => p = p.copy(eta = v.toDouble))
    get("lambda").foreach(v => p = p.copy(lambda = v.toDouble))
    get("alpha").foreach(v => p = p.copy(alpha = v.toDouble))
    get("gamma").foreach(v => p = p.copy(gamma = v.toDouble))
    get("minChildWeight").foreach(v => p = p.copy(minChildWeight = v.toDouble))
    get("subsample").foreach(v => p = p.copy(subsample = v.toDouble))
    get("colsampleByTree").foreach(v => p = p.copy(colsampleByTree = v.toDouble))
    get("colsampleByLevel").foreach(v => p = p.copy(colsampleByLevel = v.toDouble))
    get("colsampleByNode").foreach(v => p = p.copy(colsampleByNode = v.toDouble))
    get("maxBins").foreach(v => p = p.copy(maxBins = v.toInt))
    get("baseScore").foreach(v => p = p.copy(baseScore = v.toDouble))
    get("numParallelTree").foreach(v => p = p.copy(numParallelTree = v.toInt))
    get("pairCap").foreach(v => p = p.copy(pairCap = v.toInt))
    get("aftSigma").foreach(v => p = p.copy(aftSigma = v.toDouble))
    get("aftDistribution").foreach(v => p = p.copy(aftDistribution = v))
    get("tweedieVariancePower").foreach(v =>
      p = p.copy(tweedieVariancePower = v.toDouble))
    get("seed").foreach(v => p = p.copy(seed = v.toLong))
    get("earlyStoppingRounds").foreach(v =>
      p = p.copy(earlyStoppingRounds = v.toInt))
    get("evalMetric").foreach(v =>
      p = p.copy(evalMetric = v.split(",").map(_.trim).filter(_.nonEmpty)
        .toSeq))
    get("checkpointEvery").foreach(v => p = p.copy(checkpointEvery = v.toInt))
    get("checkpointPath").foreach(v => p = p.copy(checkpointPath = Some(v)))
    get("maxHistBytes").foreach(v => p = p.copy(maxHistBytes = v.toLong))
    get("scalePosWeight").foreach(v =>
      p = p.copy(scalePosWeight = v.toDouble))
    get("maxDeltaStep").foreach(v =>
      p = p.copy(maxDeltaStep = v.toDouble))
    get("huberSlope").foreach(v => p = p.copy(huberSlope = v.toDouble))
    get("quantileAlpha").foreach(v =>
      p = p.copy(quantileAlpha = v.toDouble))
    // xgboost 2.x list form: "0.1,0.5,0.9" or "[0.1, 0.5, 0.9]"
    get("quantileAlphas").foreach(v =>
      p = p.copy(quantileAlphas = v.replaceAll("[\\[\\]()\\s]", "")
        .split(",").filter(_.nonEmpty).map(_.toDouble).toSeq))
    get("booster").foreach(v => p = p.copy(booster = v))
    get("rateDrop").foreach(v => p = p.copy(rateDrop = v.toDouble))
    get("oneDrop").foreach(v => p = p.copy(oneDrop = v.toBoolean))
    get("skipDrop").foreach(v => p = p.copy(skipDrop = v.toDouble))
    get("sampleType").foreach(v => p = p.copy(sampleType = v))
    get("normalizeType").foreach(v => p = p.copy(normalizeType = v))
    get("growPolicy").foreach(v => p = p.copy(growPolicy = v))
    get("processType").foreach(v => p = p.copy(processType = v))
    get("refreshLeaf").foreach(v => p = p.copy(refreshLeaf = v.toBoolean))
    get("updater").foreach(v => p = p.copy(updater = v))
    get("maxLeaves").foreach(v => p = p.copy(maxLeaves = v.toInt))
    get("cacheLevel").foreach(v => p = p.copy(cacheLevel = v))
    get("maxCatToOnehot").foreach(v =>
      p = p.copy(maxCatToOnehot = v.toInt))
    // xgboost string forms: "(1,0,-1)" and "[[0,1],[2,3]]"
    get("monotoneConstraints").foreach(v => p = p.copy(
      monotoneConstraints = v.replaceAll("[()\\[\\]\\s]", "")
        .split(",").filter(_.nonEmpty).map(_.toInt).toSeq))
    get("interactionConstraints").foreach(v => p = p.copy(
      interactionConstraints = v.replaceAll("\\s", "")
        .stripPrefix("[").stripSuffix("]")
        .split("\\],\\[").filter(_.nonEmpty).map(grp =>
          grp.replaceAll("[\\[\\]]", "").split(",")
            .filter(_.nonEmpty).map(_.toInt).toSeq).toSeq))
    p
  }
}
