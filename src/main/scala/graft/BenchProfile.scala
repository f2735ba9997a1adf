package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Measurement harness for the optimization rounds (guide §1: measure
 * first). Runs selected queries exactly like Bench (same session conf,
 * same noop sink) but with a SparkListener that attributes wall time
 * per query to: number of Spark jobs, summed job time, and the
 * driver-side "gap" (wall − job time ≈ planning/collect/think time).
 * Prints one line per query so a regression in job COUNT (the usual
 * local-mode cost driver) is visible, not just seconds.
 *
 * Not part of the driver contract — a developer tool only.
 */
object BenchProfile {
  private final class JobLog extends SparkListener {
    case class J(id: Int, t0: Long, var t1: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.Map[Int, J]()
    val stageTasks = mutable.Map[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized {
        val j = J(e.jobId, e.time)
        j.stages = e.stageInfos.size
        j.tasks = e.stageInfos.map(_.numTasks).sum
        jobs(e.jobId) = j
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
    def reset(): Unit = synchronized { jobs.clear() }
    def summary(): (Int, Double, Int, Int) = synchronized {
      val done = jobs.values.filter(_.t1 >= 0)
      (done.size, done.map(j => (j.t1 - j.t0) / 1e3).sum,
        done.map(_.stages).sum, done.map(_.tasks).sum)
    }
  }

  def main(args: Array[String]): Unit = {
    val env = DevHarness.env()
    DevHarness.run(env.session("graft-benchprofile")) { spark =>
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      val queries = env.queries
      // same warmup discipline as Bench
      val warmDir = "/root/testdata/sf0.001"
      queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
      DevHarness.dropState(spark)
      println(f"${"query"}%-24s ${"wall_s"}%8s ${"jobs"}%5s " +
        f"${"job_s"}%8s ${"gap_s"}%8s ${"stages"}%6s ${"tasks"}%6s")
      queries.foreach { case (name, fn) =>
        log.reset()
        val t0 = System.nanoTime()
        try fn(spark, env.sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"FAIL $name: $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        val (nJobs, jobS, nStages, nTasks) = log.summary()
        println(f"$name%-24s $wall%8.2f $nJobs%5d $jobS%8.2f " +
          f"${wall - jobS}%8.2f $nStages%6d $nTasks%6d")
        DevHarness.dropState(spark)
      }
      0
    }
  }
}
