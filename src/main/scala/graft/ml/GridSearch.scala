package graft.ml

import graft.api.GraftBoost
import graft.data.DMatrixSpec
import graft.learner.{Metrics, Objectives, TrainParams, TrainResult}
import org.apache.spark.sql.DataFrame

/**
 * Hyperparameter grid search — the Tune-analog recipe (C11; reference:
 * xgboost_ray/tune.py:26-104, where each Tune trial runs one distributed
 * `train()`). On Spark the cluster is shared, so trials run
 * sequentially, each using the full parallelism (the MLlib
 * CrossValidator idiom); the winner is the candidate with the best
 * last-round metric on the validation set.
 */
object GraftGridSearch {

  final case class Trial(params: TrainParams, metric: String,
      score: Double)
  final case class Result(bestResult: TrainResult,
      bestTrial: Trial, trials: Seq[Trial]) {
    def bestParams: TrainParams = bestTrial.params
    def bestScore: Double = bestTrial.score
  }

  /** Metric used for ranking: the last metric the booster evaluates,
    * the one early stopping watches ([[Metrics.EarlyStop]]). */
  private def rankingMetric(p: TrainParams): String =
    Metrics.resolveNames(p, Objectives.resolve(p).name).last

  /** Cartesian expansion helper over the most-tuned knobs; any other
    * knob can be varied by passing explicit `TrainParams` copies. */
  def expand(base: TrainParams,
      eta: Seq[Double] = Nil,
      maxDepth: Seq[Int] = Nil,
      subsample: Seq[Double] = Nil,
      numRounds: Seq[Int] = Nil): Seq[TrainParams] = {
    val es = if (eta.isEmpty) Seq(base.eta) else eta
    val ds = if (maxDepth.isEmpty) Seq(base.maxDepth) else maxDepth
    val ss = if (subsample.isEmpty) Seq(base.subsample) else subsample
    val rs = if (numRounds.isEmpty) Seq(base.numRounds) else numRounds
    for (e <- es; d <- ds; s <- ss; r <- rs)
      yield base.copy(eta = e, maxDepth = d, subsample = s, numRounds = r)
  }

  /**
   * Train every candidate, score on `valDf`, return the best.
   * Each candidate's training is fully distributed; the search loop is
   * driver-side (tune.py's trial loop analog). `parallelism > 1` runs
   * that many trials as concurrent Spark job groups (the MLlib
   * CrossValidator parallelism idiom) — useful when single trials
   * cannot saturate the cluster.
   */
  def fit(df: DataFrame, spec: DMatrixSpec, grid: Seq[TrainParams],
      valDf: DataFrame, numWorkers: Int = 0,
      parallelism: Int = 1,
      /** Per-round trial stream (the tune.report analog): invoked with
        * (trial params, round, metrics) as each round of each trial
        * completes — lets a search-side consumer monitor or log
        * mid-trial instead of waiting for the final ranking. */
      onRound: (TrainParams, Int, Map[String, Double]) => Unit =
        (_, _, _) => ()): Result = {
    require(grid.nonEmpty, "empty parameter grid")
    // When every candidate shares the binning inputs (objective,
    // baseScore, maxBins, seed — the usual eta/depth/subsample/rounds
    // grid does), the whole search trains against ONE materialized
    // BinnedMatrix + one val binding: the dominant prepare→bin→pack
    // cost is paid once instead of once per trial, and each trial's
    // margin generations share the static block columns with the cache
    // by reference. A grid that varies binning inputs falls back to
    // per-trial one-shot training.
    val shared = sharedMatrix(df, valDf, spec, grid, numWorkers)
    def trial(p: TrainParams): (Trial, TrainResult) = {
      val metric = rankingMetric(p)
      val cbs = Seq(new TuneReportCallback((r, m) => onRound(p, r, m)))
      val res = shared match {
        case Some((m, v)) =>
          m.train(p, evals = Seq(("val", v)), callbacks = cbs)
        case None => GraftBoost.train(df, spec, p,
          evals = Seq(("val", valDf)), numWorkers = numWorkers,
          callbacks = cbs)
      }
      // with early stopping active, rank on the best iteration's score
      // (the xgboost/Tune convention), not the possibly-degraded final
      // round (advisor r2)
      val value =
        if (p.earlyStoppingRounds > 0 && !res.bestScore.isNaN) res.bestScore
        else res.evalsResult("val")(metric).last
      (Trial(p, metric, value), res)
    }
    val scored: Seq[(Trial, TrainResult)] =
      try {
        if (parallelism <= 1) grid.map(trial)
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors
            .newFixedThreadPool(math.min(parallelism, grid.size))
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          try Await.result(Future.sequence(grid.map(p =>
            Future(trial(p)))), Duration.Inf)
          finally pool.shutdown()
        }
      } finally shared.foreach { case (m, v) =>
        v.unpersist(); m.unpersist()
      }
    val customByName = grid.head.customMetrics.map(m => m.name -> m).toMap
    val best = scored.minBy { case (t, _) =>
      if (Metrics.maximize(t.metric, customByName)) -t.score else t.score
    }
    Result(best._2, best._1, scored.map(_._1))
  }

  /** Materialize (train, val) once for the whole search iff every
    * candidate shares the binning-relevant params. */
  private def sharedMatrix(df: DataFrame, valDf: DataFrame,
      spec: DMatrixSpec, grid: Seq[TrainParams], numWorkers: Int)
      : Option[(GraftBoost.BinnedMatrix, GraftBoost.BinnedMatrix)] =
    if (grid.map { p =>
        val o = Objectives.resolve(p)
        // numOutputs is part of the key: a grid sweeping numClass
        // resolves to one objective NAME but different margin strides,
        // which must not share one packed matrix.
        (o.name, o.numOutputs, p.baseScore, p.maxBins, p.seed,
          p.storageLevel)
      }.distinct.size == 1) {
      val m = GraftBoost.materialize(df, spec, grid.head, numWorkers)
      // scoring on the training frame itself (the dtrain idiom):
      // alias the train matrix instead of binding a duplicate copy.
      // A failing val binding must not leak the (dataset-sized) train
      // cache — the caller's try/finally is not reachable yet.
      val v =
        try {
          if (valDf eq df) m
          else GraftBoost.materializeEval(valDf, m, spec, grid.head,
            numWorkers)
        } catch {
          case t: Throwable => m.unpersist(); throw t
        }
      Some((m, v))
    } else None

  /**
   * Random search-space sampling — the `tune.run(config, num_samples=)`
   * analog over the spaces the reference's Tune examples use
   * (examples/simple_tune.py:45-47: `eta` loguniform, `subsample`
   * uniform, `max_depth` randint). Deterministic in `seed`: the same
   * call yields the same candidate list across runs, so a search is
   * replayable. Ranges follow Tune's conventions: loguniform samples
   * `exp(U(ln lo, ln hi))`, randint's upper bound is EXCLUSIVE.
   */
  def sample(base: TrainParams, numSamples: Int, seed: Long = 0L,
      etaLogUniform: Option[(Double, Double)] = None,
      subsampleUniform: Option[(Double, Double)] = None,
      maxDepthRandInt: Option[(Int, Int)] = None,
      lambdaLogUniform: Option[(Double, Double)] = None,
      numRoundsRandInt: Option[(Int, Int)] = None): Seq[TrainParams] = {
    require(numSamples > 0, s"numSamples must be positive: $numSamples")
    etaLogUniform.foreach { case (lo, hi) => require(0 < lo && lo <= hi,
      s"loguniform needs 0 < lo <= hi, got ($lo, $hi)") }
    lambdaLogUniform.foreach { case (lo, hi) => require(0 < lo && lo <= hi,
      s"loguniform needs 0 < lo <= hi, got ($lo, $hi)") }
    subsampleUniform.foreach { case (lo, hi) => require(lo <= hi,
      s"uniform needs lo <= hi, got ($lo, $hi)") }
    maxDepthRandInt.foreach { case (lo, hi) => require(lo < hi,
      s"randint needs lo < hi (exclusive upper), got ($lo, $hi)") }
    numRoundsRandInt.foreach { case (lo, hi) => require(0 < lo && lo < hi,
      s"randint needs 0 < lo < hi (exclusive upper), got ($lo, $hi)") }
    val rng = new scala.util.Random(seed)
    def logU(lo: Double, hi: Double, u: Double): Double =
      math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))
    (1 to numSamples).map { _ =>
      // every sample consumes ONE uniform draw per space SLOT,
      // unconditionally — adding or removing a space changes only that
      // space's values, never the draws (and thus the candidates) of
      // the others (review r9: conditional draws shifted the whole
      // stream when a space was added, breaking seeded replay)
      val uEta = rng.nextDouble(); val uSub = rng.nextDouble()
      val uDepth = rng.nextDouble(); val uLambda = rng.nextDouble()
      val uRounds = rng.nextDouble()
      var p = base
      etaLogUniform.foreach { case (lo, hi) =>
        p = p.copy(eta = logU(lo, hi, uEta)) }
      subsampleUniform.foreach { case (lo, hi) =>
        p = p.copy(subsample = lo + uSub * (hi - lo)) }
      maxDepthRandInt.foreach { case (lo, hi) =>
        p = p.copy(maxDepth = lo + (uDepth * (hi - lo)).toInt) }
      lambdaLogUniform.foreach { case (lo, hi) =>
        p = p.copy(lambda = logU(lo, hi, uLambda)) }
      numRoundsRandInt.foreach { case (lo, hi) =>
        p = p.copy(numRounds = lo + (uRounds * (hi - lo)).toInt) }
      p
    }
  }

  /**
   * Successive halving — the ASHAScheduler-style early-stopping search
   * the reference gets from Tune (tune.py's per-round `tune.report`
   * stream exists exactly so a scheduler can kill bad trials early).
   *
   * Rung k trains every surviving candidate to `minRounds·reduction^k`
   * total boosting rounds, scores on `valDf`, and keeps the best
   * `ceil(m/reduction)`; the budget doubles (by `reduction`) until it
   * reaches each candidate's own `numRounds`, which caps its training.
   * Crucially, rungs CONTINUE training via the warm start
   * (`initModel`) rather than retraining from scratch — resumed
   * boosting is bit-identical to one-shot here (golden-tested), so a
   * candidate that survives to its cap produces EXACTLY the model
   * `fit` would have trained, while losers cost only their early
   * rungs. Total work for n candidates is O(n·minRounds·reduction/
   * (reduction−1)) instead of grid search's O(n·numRounds).
   *
   * Early stopping inside candidates is rejected (the rung schedule IS
   * the early stopping); `evalsResult` histories concatenate across
   * rungs on the returned winner.
   */
  def fitHalving(df: DataFrame, spec: DMatrixSpec,
      grid: Seq[TrainParams], valDf: DataFrame, numWorkers: Int = 0,
      minRounds: Int = 4, reduction: Int = 2,
      onRound: (TrainParams, Int, Map[String, Double]) => Unit =
        (_, _, _) => ()): Result = {
    require(grid.nonEmpty, "empty parameter grid")
    require(minRounds > 0, s"minRounds must be positive: $minRounds")
    require(reduction > 1, s"reduction must be > 1: $reduction")
    require(grid.forall(_.earlyStoppingRounds == 0),
      "halving owns the stopping schedule — candidates must have " +
        "earlyStoppingRounds == 0")
    // one materialized matrix serves every rung of every candidate
    // (rungs warm-start against the SAME bins by construction); grids
    // that vary binning inputs fall back to per-rung one-shot training
    val shared = sharedMatrix(df, valDf, spec, grid, numWorkers)
    val customByName = grid.head.customMetrics.map(m => m.name -> m).toMap
    // state per survivor: (params, rounds trained so far, last result)
    final case class St(p: TrainParams, trained: Int,
        res: TrainResult, score: Double)
    def rank(metric: String, s: Double): Double =
      if (Metrics.maximize(metric, customByName)) -s else s
    def advance(p: TrainParams, prev: Option[St], upTo: Int): St = {
      val metric = rankingMetric(p)
      val add = upTo - prev.map(_.trained).getOrElse(0)
      // the trainer reports GLOBAL round indices under a warm start
      // (startRound offset from the init model's tree count), so the
      // stream needs no re-offsetting here
      val cbs = Seq(new TuneReportCallback((r, m) => onRound(p, r, m)))
      val res = shared match {
        case Some((m, v)) => m.train(p.copy(numRounds = add),
          evals = Seq(("val", v)), callbacks = cbs,
          initModel = prev.map(_.res.model))
        case None => GraftBoost.train(df, spec, p.copy(numRounds = add),
          evals = Seq(("val", valDf)), numWorkers = numWorkers,
          callbacks = cbs, initModel = prev.map(_.res.model))
      }
      val merged = prev match {
        case Some(st) => res.copy(
          roundsCompleted = st.res.roundsCompleted + res.roundsCompleted,
          evalsResult = st.res.evalsResult.map { case (set, ms) =>
            set -> ms.map { case (m, h) =>
              m -> (h ++ res.evalsResult(set)(m))
            }
          })
        case None => res
      }
      St(p, upTo, merged, merged.evalsResult("val")(metric).last)
    }
    try {
    var budget = minRounds
    var survivors: Seq[St] =
      grid.map(p => advance(p, None, math.min(budget, p.numRounds)))
    val history = scala.collection.mutable.ArrayBuffer[Trial]()
    def trialOf(s: St) = Trial(s.p, rankingMetric(s.p), s.score)
    while (survivors.size > 1 &&
      survivors.exists(s => s.trained < s.p.numRounds)) {
      val keep = math.max(1,
        (survivors.size + reduction - 1) / reduction)
      val ranked = survivors.sortBy(s => rank(rankingMetric(s.p), s.score))
      history ++= ranked.drop(keep).map(trialOf) // eliminated this rung
      budget *= reduction
      survivors = ranked.take(keep).map { s =>
        val cap = math.min(budget, s.p.numRounds)
        if (cap > s.trained) advance(s.p, Some(s), cap) else s
      }
    }
    // train any remaining survivor out to its full budget
    survivors = survivors.map { s =>
      if (s.trained < s.p.numRounds) advance(s.p, Some(s), s.p.numRounds)
      else s
    }
    val best = survivors.minBy(s => rank(rankingMetric(s.p), s.score))
    history ++= survivors.map(trialOf)
    Result(best.res, trialOf(best), history.toSeq)
    } finally shared.foreach { case (m, v) =>
      v.unpersist(); m.unpersist()
    }
  }
}
