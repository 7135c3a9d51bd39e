package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Counters for one tagged span (a query's build or exec phase). */
final class Counts {
  var jobs = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  var inputB = 0L; var inputRows = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs, "shuffle_write_b" -> shuffleWriteB,
    "shuffle_read_b" -> shuffleReadB, "spill_b" -> spillB,
    "input_b" -> inputB, "input_rows" -> inputRows)
}

/** Attributes job, task, shuffle, spill and scan counters to the job
  * tag the benchmark sets around each call (see [[Main.tagOf]]). Jobs
  * without a benchmark tag are ignored. Registered only in traced
  * runs. */
final class Tracer extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counts]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(Main.TagPrefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      byTag.getOrElseUpdate(t, new Counts).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byTag.getOrElseUpdate(t, new Counts)
      val info = e.taskInfo
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.memoryBytesSpilled
      c.inputB += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
    }
  }

  def counts(tag: String): Option[Counts] = synchronized(byTag.get(tag))
}

/** One node of the span tree workload → pass → query → {build, exec}. */
final case class Span(id: Int, parent: Option[Int], name: String,
    kind: String, startNs: Long, var endNs: Long = -1L)

/** Spans kept in memory and written out when the run ends. */
final class Spans(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def open(parent: Option[Span], name: String, kind: String): Span = {
    val s = Span(buf.size, parent.map(_.id), name, kind, System.nanoTime())
    buf += s
    s
  }
  def close(s: Span): Span = { s.endNs = System.nanoTime(); s }
  def all: Seq[Span] = buf.toSeq
}
