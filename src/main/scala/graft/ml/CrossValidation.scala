package graft.ml

import graft.api.GraftBoost
import graft.data.DMatrixSpec
import graft.learner.{Metrics, Objectives, TrainParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * `xgb.cv`-style k-fold cross validation — the per-round mean±std
 * metric curves xgboost users read to pick `num_boost_round` before a
 * final fit (the reference's users bring this workflow from stock
 * xgboost; its Tune integration samples params, this reads ROUNDS).
 *
 * Folds are deterministic in (seed, row content): fold =
 * pmod(xxhash64(whole row, seed), nfold), so the same call replays the
 * same split across runs, partitionings, and retries — `randomSplit`
 * guarantees none of those. Duplicate rows share a fold (content
 * addressing), which is the safe direction for dedup-style data: a
 * duplicated row can never sit on both sides of a fold boundary and
 * leak itself into its own eval.
 *
 * Each fold trains fully distributed with the SAME params (one
 * sequential trial per fold, the CrossValidator idiom); histories
 * aggregate per round into xgb.cv's column convention
 * (`test-<metric>-mean` / `test-<metric>-std`, plus the train pair).
 * `earlyStoppingRounds` (on TrainParams) applies INSIDE each fold as
 * usual; ragged histories (folds stopping at different rounds)
 * aggregate over the folds still running at that round, like xgb.cv.
 */
object GraftCV {

  /** Per-round cross-fold aggregate for one metric on one split. */
  final case class CvCurve(mean: Seq[Double], std: Seq[Double])

  /** `curves` keys follow xgb.cv: "train-<metric>" / "test-<metric>". */
  final case class CvResult(curves: Map[String, CvCurve],
      foldRounds: Seq[Int]) {
    /** Round index minimizing (or maximizing) the test mean of
      * `metric` — the `num_boost_round` xgb.cv users read off. */
    def bestRound(metric: String, maximize: Boolean = false): Int = {
      val m = curves(s"test-$metric").mean
      val it = m.zipWithIndex
      if (maximize) it.maxBy(_._1)._2 else it.minBy(_._1)._2
    }
  }

  def cv(df: DataFrame, spec: DMatrixSpec, params: TrainParams,
      nfold: Int = 5, seed: Long = 0L,
      numWorkers: Int = 0): CvResult = {
    require(nfold >= 2, s"nfold must be >= 2, got $nfold")
    val foldCol = "__graft_fold"
    require(!df.columns.contains(foldCol),
      s"input already has a $foldCol column")
    // content-deterministic fold assignment; cache for the fold loop
    val withFold = df.withColumn(foldCol,
      pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*),
        lit(seed)), lit(nfold)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the fold column must not leak into the feature set
    val cvSpec = spec.copy(ignore = spec.ignore :+ foldCol)
    try {
      val metricNames =
        Metrics.resolveNames(params, Objectives.resolve(params).name)
      val folds = (0 until nfold).map { k =>
        val train = withFold.filter(col(foldCol) =!= k)
        val test = withFold.filter(col(foldCol) === k)
        GraftBoost.train(train, cvSpec, params,
          evals = Seq(("train", train), ("test", test)),
          numWorkers = numWorkers).evalsResult
      }
      val foldRounds = folds.map(
        _.values.head.values.headOption.map(_.size).getOrElse(0))
      val curves = (for {
        set <- Seq("train", "test")
        mn <- metricNames
      } yield {
        val histories = folds.map(_(set)(mn))
        val rounds = histories.map(_.size).max
        val mean = new Array[Double](rounds)
        val std = new Array[Double](rounds)
        var r = 0
        while (r < rounds) {
          // folds that early-stopped before r drop out (xgb.cv shape)
          val vals = histories.filter(_.size > r).map(_(r))
          val m = vals.sum / vals.size
          mean(r) = m
          std(r) = math.sqrt(
            vals.map(v => (v - m) * (v - m)).sum / vals.size)
          r += 1
        }
        s"$set-$mn" -> CvCurve(mean.toSeq, std.toSeq)
      }).toMap
      CvResult(curves, foldRounds)
    } finally withFold.unpersist(blocking = false)
  }
}
