package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Benchmark-owned Spark listener: one record per job, with the counts
  * of its tasks summed onto it. Everything stays in memory and is
  * written out once the workload ends. */
final class JobTracer extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val name: String,
      val group: String) {
    var endMs = 0L
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var resultBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L

    def toJson: Json.Obj = Json.Obj(
      "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs,
      "name" -> name, "group" -> group, "stages" -> stages,
      "tasks" -> tasks, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "result_bytes" -> resultBytes,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes)
  }

  private val jobs = mutable.ArrayBuffer[Job]()
  private val byId = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage has the highest id; its name is the job's call
    // site, e.g. "aggregate at Trainer.scala:740"
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      .getOrElse("?")
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, e.time, name, group)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.resultBytes += m.resultSize
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def records: Seq[Json.Obj] = synchronized { jobs.map(_.toJson).toSeq }
}

/** Samples used heap at 20 Hz; the maximum over samples bounds the true
  * peak from below. */
final class HeapSampler extends AutoCloseable {
  @volatile private var running = true
  @volatile var peakBytes = 0L
  private val thread = new Thread(() => {
    val rt = Runtime.getRuntime
    while (running) {
      peakBytes = math.max(peakBytes, rt.totalMemory() - rt.freeMemory())
      Thread.sleep(50)
    }
  })
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = { running = false; thread.join() }
}

/** Minimal JSON encoder for the harness report. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj =>
      o.fields.map { case (k, x) => quote(k) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case xs: Array[_] => encode(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
