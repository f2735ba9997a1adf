package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared core of the dev mains (`BenchProfile`, `PlanDump`,
  * `ChaosCheck`, `SkewCheck`, `BenchLarge`): environment, session,
  * query list, between-query state drop and PASS/FAIL exit status.
  * `Bench` and `Verify` keep their own, byte for byte. */
private[graft] object DevHarness {

  /** `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_ONLY`
    * (comma-separated query names; unset = every query). */
  final case class Env(sfDir: String, cpus: Int, only: Option[Set[String]]) {
    def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
    def session(appName: String): SparkSession =
      DevHarness.session(s"local[$cpus]", cpus, appName)
  }

  /** Fails on a `SPARK_GRAFT_ONLY` with an undeclared name, or none,
    * instead of running no query. */
  def env(vars: Map[String, String] = sys.env): Env = {
    val only = vars.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet).toSeq.sorted
      require(names.nonEmpty && unknown.isEmpty, "SPARK_GRAFT_ONLY must " +
        s"list declared query names; unknown: ${unknown.mkString(", ")}")
    }
    Env(vars.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      vars.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, only)
  }

  def session(master: String, shufflePartitions: Int, appName: String,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder().master(master).appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drops cached tables, persistent RDDs and their garbage, so one
    * query's leftovers do not skew the next one. */
  def dropState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** `apply` names a check's verdict; any FAIL makes `exitCode` 1. */
  final class Verdicts {
    private var failed = false
    def apply(ok: Boolean): String = {
      failed ||= !ok
      if (ok) "PASS" else "FAIL"
    }
    def exitCode: Int = if (failed) 1 else 0
  }

  /** Runs `body`, stops the session, then exits with `body`'s code
    * (non-zero when it throws). */
  def run(session: => SparkSession)(body: SparkSession => Int): Unit = {
    val spark = session
    val code = try body(spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
