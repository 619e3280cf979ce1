package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span buffer for traced passes. Listener threads append while
  * `enabled`; the harness drains the listener bus after each key and
  * takes everything buffered so far, so every span belongs to the key
  * that was running (keys run one after another on one thread). Spans are
  * JSON-ready maps; times are epoch milliseconds. */
object Recorder {
  @volatile var enabled = false
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  def add(span: => Map[String, Any]): Unit = if (enabled) buf.add(span)

  def take(): Seq[Map[String, Any]] = {
    val out = Seq.newBuilder[Map[String, Any]]
    var s = buf.poll()
    while (s != null) { out += s; s = buf.poll() }
    out.result()
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, a static conf,
  * so every session gets one, including the `newSession()` children that
  * `graft.Scoped` hands out (a runtime `listenerManager.register` on the
  * root session would not reach those). */
class QeListener extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution, ok: Boolean, ns: Long): Unit =
    Recorder.add {
      val phases = qe.tracker.phases.map { case (name, p) =>
        name -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }
      // The span runs from the first planning phase to the listener's
      // callback, which the bus delivers shortly after the execution ends.
      val endMs = System.currentTimeMillis()
      val startMs = (qe.tracker.phases.values.map(_.startTimeMs) ++
        Seq(endMs - ns / 1000000L)).min
      Map("kind" -> "qe", "name" -> func, "exec_id" -> qe.id, "ok" -> ok,
        "start_ms" -> startMs, "end_ms" -> endMs, "duration_ms" -> ns / 1e6,
        "phases" -> phases)
    }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(func, qe, ok = true, ns)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false, 0L)
}

/** Registered through `spark.extraListeners`: one span per job and per
  * stage; a stage span carries the sums of its tasks' metrics. */
class JobListener extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  // Per-stage task sums, in this order.
  private val fields = Seq("tasks", "task_failures", "run_ms", "cpu_ms", "gc_ms",
    "sched_wait_ms", "scan_bytes", "scan_rows", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "fetch_wait_ms", "output_bytes",
    "output_rows")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Recorder.enabled) jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobStart.remove(e.jobId)
    if (start != null) Recorder.add(Map("kind" -> "job", "job_id" -> e.jobId,
      "start_ms" -> start.longValue, "end_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Recorder.enabled) {
    val m = e.taskMetrics
    val info = e.taskInfo
    val a = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new Array[Long](fields.size))
    val ok = info.successful
    val vals: Seq[Long] = if (m == null) Seq(1L, if (ok) 0L else 1L) else {
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      Seq(1L, if (ok) 0L else 1L, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, math.max(0L, sched), m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleReadMetrics.fetchWaitTime,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
    a.synchronized { vals.indices.foreach(i => a(i) += vals(i)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val sums = Option(stageTasks.remove((s.stageId, s.attemptNumber())))
    Recorder.add {
      val a = sums.getOrElse(new Array[Long](fields.size))
      Map("kind" -> "stage", "stage_id" -> s.stageId,
        "start_ms" -> s.submissionTime.getOrElse(0L),
        "end_ms" -> s.completionTime.getOrElse(0L)) ++
        fields.zip(a.toSeq).toMap
    }
  }
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, a
  * static conf, so the streaming query manager of every session gets one.
  * One span per streaming query and one per micro-batch trigger, with the
  * trigger's input rows and the state its stateful operators hold. */
class StreamListener extends StreamingQueryListener {
  private val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (Recorder.enabled) started.put(e.runId, epochMs(e.timestamp))

  override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.add {
    val p = e.progress
    val start = epochMs(p.timestamp)
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    Map("kind" -> "trigger", "name" -> s"batch${p.batchId}", "run_id" -> p.runId.toString,
      "start_ms" -> start, "end_ms" -> (start + ms), "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  // The bus delivers the termination shortly after the query ends, so the
  // span's end is the callback time.
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val start = started.remove(e.runId)
    if (start != null) Recorder.add(Map("kind" -> "stream_query", "name" -> "stream",
      "run_id" -> e.runId.toString, "start_ms" -> start.longValue,
      "end_ms" -> System.currentTimeMillis(), "ok" -> e.exception.isEmpty))
  }
}
