package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** In-memory spans: one per set-up, set-up step, statement and statement
  * phase. Opened and closed on the client thread only; Spark's job events
  * carry wall-clock milliseconds, so spans keep both clocks. */
final class Spans {
  final case class Span(
      id: Int, kind: String, parent: Int, stmt: Int,
      startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L)

  val all = ArrayBuffer.empty[Span]

  def open(kind: String, parent: Int, stmt: Int = -1): Int = {
    val id = all.size + 1
    all += Span(id, kind, parent, stmt, System.currentTimeMillis(), System.nanoTime())
    id
  }

  def close(id: Int): Unit = {
    val s = all(id - 1)
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
  }

  def span[T](kind: String, parent: Int)(f: => T): T = {
    val id = open(kind, parent)
    try f finally close(id)
  }
}

/** SparkListener tallying every job with its stages and tasks. A job is
  * later attributed to the innermost span open at its submission time,
  * which with one client thread is exact and also covers jobs submitted
  * from `Future`s (they carry no job group).
  *
  * Each job is also attributed to the engine source file that started it:
  * the first `graft.` frame of its call stack. Adaptive query execution
  * submits most jobs from its own threads, so the stack is taken from the
  * job's SQL execution when it has one, else from its result stage. */
final class Tracer extends SparkListener {
  final class Job(
      val id: Int, val startMs: Long, val desc: String, val site: String,
      val stageIds: Seq[Int]) {
    var endMs = -1L
    var ok = false
  }
  final class Stage {
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var schedMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var result = 0L
    var completed = false
  }

  private val jobs = ArrayBuffer.empty[Job]
  private val jobById = scala.collection.mutable.Map.empty[Int, Job]
  private val stages = scala.collection.mutable.Map.empty[Int, Stage]
  // a shuffle stage reused by a later job is skipped there: it belongs
  // to the first job that listed it
  private val stageOwner = scala.collection.mutable.Map.empty[Int, Int]
  private val execStacks = scala.collection.mutable.Map.empty[Long, String]

  private val EngineFrame = """(?m)^\s*graft\.[\w.$]*\(([A-Za-z0-9_]+)\.scala:\d+\)""".r
  private val HarnessFrame = """(?m)^\s*perfbench\.""".r

  /** Engine file on the stack, or "harness" / "other". */
  private def siteOf(stack: String): String =
    EngineFrame.findFirstMatchIn(stack).map(_.group(1)).getOrElse(
      if (HarnessFrame.findFirstIn(stack).isDefined) "harness" else "other")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execStacks(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) =>
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the result stage (highest id) carries the action's call stack
    val stageStack =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val stack = prop("spark.sql.execution.id")
      .flatMap(id => execStacks.get(id.toLong)).getOrElse(stageStack)
    val site = siteOf(stack)
    val desc = prop("spark.job.description").getOrElse("")
    e.stageIds.foreach(id => stageOwner.getOrElseUpdate(id, e.jobId))
    val j = new Job(
      e.jobId, e.time, desc, site, e.stageIds.filter(stageOwner(_) == e.jobId))
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stage(e.stageInfo.stageId).completed = true }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.result += m.resultSize
      // the UI's "scheduler delay": task wall time not spent running,
      // deserializing, serializing or fetching the result
      val info = e.taskInfo
      if (info != null && info.finishTime > 0)
        s.schedMs += math.max(0L,
          info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
    }
  }

  /** Spans and jobs as JSON; attribution and roll-ups happen downstream. */
  def report(spans: Spans): String = synchronized {
    val spanRows = spans.all.map { s =>
      Seq(s.id, s.kind, s.parent, s.stmt, s.startMs, s.endMs,
        s.endNs - s.startNs)
    }
    val jobRows = jobs.map { j =>
      val ss = j.stageIds.flatMap(stages.get)
      val done = ss.filter(_.completed)
      Seq(
        j.id, j.startMs, j.endMs, j.ok, j.desc, j.site, done.size,
        ss.map(_.tasks).sum, ss.map(_.failedTasks).sum, ss.map(_.runMs).sum,
        ss.map(_.schedMs).sum, ss.map(_.shuffleRead).sum,
        ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum, ss.map(_.result).sum)
    }
    Json.value(Map(
      "span_fields" -> Seq("id", "kind", "parent", "stmt", "start_ms",
        "end_ms", "dur_ns"),
      "spans" -> spanRows,
      "job_fields" -> Seq("id", "start_ms", "end_ms", "ok", "desc", "site",
        "stages", "tasks", "failed_tasks", "run_ms", "sched_ms",
        "shuffle_read", "shuffle_write", "spill", "result"),
      "jobs" -> jobRows))
  }
}
