package graft

/**
 * Dumps `.explain("formatted")` for declared queries to files — the
 * optimization rounds' plan-evidence deliverable (`plans/r<N>/...`).
 * Usage: PlanDump <outDir> [suffix] with the usual SPARK_GRAFT_* env.
 * A query whose plan cannot be built prints `PLAN FAIL <name>` on
 * stderr and makes the exit status 1.
 * Plans are captured WITHOUT executing the query (planning only), so
 * AQE-final shapes are not included — the committed files show the
 * static plan the optimizer chose (Exchange count, join strategy,
 * PushedFilters/ReadSchema, codegen spans).
 *
 * Queries whose construction itself runs jobs (training loops,
 * iterative profilers) execute that driver-side work during planning;
 * that is unavoidable and harmless here.
 *
 * Not part of the driver contract — a developer tool only.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [suffix]")
    val env = DevHarness.env()
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = if (args.length > 1) args(1) else "before"
    java.nio.file.Files.createDirectories(outDir)
    DevHarness.run(env.session("graft-plandump")) { spark =>
      val v = new DevHarness.Verdicts
      env.queries.foreach { case (name, fn) =>
        try {
          val df = fn(spark, env.sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"dumped $name")
        } catch {
          case e: Throwable =>
            v(ok = false)
            System.err.println(s"PLAN FAIL $name: $e")
        }
        DevHarness.dropState(spark)
      }
      v.exitCode
    }
  }
}
