package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Named totals; the Python side turns them into metrics. */
final class Counters {
  val v = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, details: String,
                        sqlExecution: Long, streaming: Boolean, stageIds: Seq[Int],
                        var ok: Boolean)

final case class StageRec(id: Int, submitMs: Long, completeMs: Long, tasks: Int)

/** Records jobs, stages and per-stage task totals. Listener events arrive
  * asynchronously, so nothing here is bucketed by "the current query":
  * the Python side attributes each job to a query span by its start time,
  * and each stage's tasks to the job that owns the stage.
  */
final class LayerListener(streams: StreamProbe) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val stageTotals = mutable.HashMap.empty[Int, Counters]
  /** SQL execution id -> its call site. Jobs that adaptive execution
    * submits from its own threads carry no graft frame; the SQL execution
    * that spawned them was started from the calling thread and does.
    */
  val sqlDetails = mutable.HashMap.empty[Long, String]
  private val open = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's own call site: its final (highest-id) stage was created for it
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val streaming = prop("sql.streaming.queryId").isDefined
    val sqlExecution = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val j = JobRec(e.jobId, e.time, -1L, details, sqlExecution, streaming, e.stageIds,
      ok = false)
    open(e.jobId) = j
    jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += StageRec(s.stageId, s.submissionTime.getOrElse(-1L),
      s.completionTime.getOrElse(-1L), s.numTasks)
  }

  // Streaming progress reaches every SparkListener, whichever session runs
  // the query; the graded drains run on their own `newSession()`s, whose
  // StreamingQueryManagers a listener on the benchmark's session never sees.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => streams.record(p)
    case x: SparkListenerSQLExecutionStart => synchronized { sqlDetails(x.executionId) = x.details }
    case _ => ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageTotals.getOrElseUpdate(e.stageId, new Counters)
    val info = e.taskInfo
    c.add("tasks", 1)
    if (!info.successful) c.add("failed_tasks", 1)
    c.add("task_s", info.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      c.add("run_s", m.executorRunTime / 1e3)
      c.add("cpu_s", m.executorCpuTime / 1e9)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("deser_s", m.executorDeserializeTime / 1e3)
      // the UI's scheduler delay: task time not spent deserializing,
      // running, serializing the result or fetching it
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      c.add("task_wait_s", math.max(0L,
        info.duration - m.executorRunTime - overhead - info.gettingResultTime) / 1e3)
      c.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      c.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.add("read_b", m.inputMetrics.bytesRead.toDouble)
      c.add("read_rows", m.inputMetrics.recordsRead.toDouble)
      c.add("write_b", m.outputMetrics.bytesWritten.toDouble)
      c.add("write_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }
}

/** Streaming micro-batch progress, one record per trigger, stamped with
  * the trigger's start time for attribution to a query span. Fed by
  * [[LayerListener]], which sees the progress events of every session: a
  * `StreamingQueryListener` only hears the queries of the session it is
  * registered on, and the graded drains run on their own `newSession()`s.
  */
final class StreamProbe {
  val progress = mutable.ArrayBuffer.empty[(Long, Counters)]
  def record(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def s(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
    val c = new Counters
    c.add("batches", 1)
    c.add("trigger_s", s("triggerExecution"))
    c.add("planning_s", s("queryPlanning"))
    c.add("commit_s", s("walCommit") + s("commitOffsets"))
    c.add("input_rows", p.numInputRows.toDouble)
    p.stateOperators.foreach { st =>
      c.add("state_commit_s", st.commitTimeMs / 1e3)
      c.add("state_rows", st.numRowsTotal.toDouble)
    }
    val at = java.time.Instant.parse(p.timestamp).toEpochMilli
    synchronized { progress += ((at, c)) }
  }
}
