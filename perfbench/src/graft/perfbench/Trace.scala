package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: the jobs whose job group is the
  * span's id, and the stages and tasks of those jobs.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var scanTasks = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "scan_tasks" -> scanTasks)
}

/** Counts jobs, stages and task metrics per job group. The job group is
  * the id of the innermost open [[Tracer]] span on the thread that
  * started the job; jobs with no group count under "0".
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()

  private def acc(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("0")
    val c = acc(g)
    c.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      acc(stageGroup.getOrElse(e.stageInfo.stageId, "0")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(stageGroup.getOrElse(e.stageId, "0"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) c.scanTasks += 1
    }
  }

  def counters(group: String): Counters = synchronized {
    byGroup.getOrElse(group, new Counters)
  }
}

/** One timed region of the benchmark: a call into a layer of the program.
  * The layer is the name up to the first dot.
  */
final case class Span(id: Long, name: String, parent: Long, runId: String,
    startNs: Long, var endNs: Long = 0L)

/** Spans kept in memory and written when the run ends. With tracing off,
  * [[span]] only runs its body: no job groups are set and no listener is
  * attached, so untraced runs execute exactly the program's own work.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val listener = if (enabled) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1L, name, open.headOption.fold(0L)(_.id),
        runId, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every span with its listener counters, plus the counters of jobs no
    * span owned, after the listener bus has delivered all pending events.
    * Detaches the listener.
    */
  def finish(): Map[String, Any] = listener match {
    case None => Map("spans" -> Nil)
    case Some(l) =>
      org.apache.spark.perfbench.BusDrain.drain(sc)
      sc.removeSparkListener(l)
      Map(
        "spans" -> spans.map(s => Map[String, Any](
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "counters" -> l.counters(s.id.toString).toMap)).toSeq,
        "unattributed" -> l.counters("0").toMap)
  }
}
