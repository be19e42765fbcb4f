package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Always-on counters for the end-to-end metrics: summed executor run
  * time and rows/bytes written. Cheap enough to stay registered in
  * untraced runs (a few atomic adds per task).
  */
final class Meter extends SparkListener {
  val taskMs = new AtomicLong
  val recordsWritten = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }
}

/** The traced run's recorder: every job, stage, task, SQL execution,
  * planning-phase summary and streaming progress event, kept in memory
  * as JSON lines and written out when the run ends. Registered only for
  * traced rounds, so untraced rounds measure the overhead it adds.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val lines = new ConcurrentLinkedQueue[String]()
  private def emit(fields: (String, Any)*): Unit = lines.add(Json.write(Map(fields: _*)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String): String = if (p == null) null else p.getProperty(k)
    val last = if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId)
    val site = Option(prop("callSite.short")).getOrElse(if (last == null) "" else last.name)
    emit("ev" -> "job", "job" -> e.jobId, "t" -> e.time,
      "stages" -> e.stageIds, "site" -> site,
      "exec" -> prop("spark.sql.execution.id"),
      "op" -> prop(Spans.OpKey), "phase" -> prop(Spans.PhaseKey))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    emit("ev" -> "stage", "stage" -> e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) emit("ev" -> "task", "stage" -> e.stageId,
      "t0" -> i.launchTime, "t1" -> i.finishTime,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "sh_r" -> m.shuffleReadMetrics.totalBytesRead,
      "sh_w" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "in_b" -> m.inputMetrics.bytesRead,
      "out_b" -> m.outputMetrics.bytesWritten)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // formatted plan: the node tree, a blank line, then per-node details
      val lines = s.physicalPlanDescription.linesIterator.toVector
      val tree = lines.drop(1).takeWhile(_.trim.nonEmpty)
      val write = lines.dropWhile(l => !(l.startsWith("(") &&
          l.contains("InsertIntoHadoopFsRelationCommand")))
        .find(_.startsWith("Arguments:")).getOrElse("")
      emit("ev" -> "sql", "exec" -> s.executionId, "t" -> s.time,
        "desc" -> s.description, "long" -> s.details,
        "write" -> write.take(400), "tree" -> tree.take(40).mkString("\n"))
    case s: SparkListenerSQLExecutionEnd =>
      emit("ev" -> "sql_end", "exec" -> s.executionId, "t" -> s.time)
    case _ =>
  }

  // planning phases of every action that completes
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def span(k: String): Seq[Long] =
      ph.get(k).map(p => Seq(p.startTimeMs, p.endTimeMs)).getOrElse(Nil)
    emit("ev" -> "plan", "analysis" -> span("analysis"), "optimization" -> span("optimization"),
      "planning" -> span("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      emit("ev" -> "batch", "rows" -> e.progress.numInputRows)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

/** Local-property keys that tie jobs to the harness operation (span)
  * that issued them, and to its phase: `build` while a public function
  * constructs its DataFrame, `exec` while the harness materializes it.
  */
object Spans {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
