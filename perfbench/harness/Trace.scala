package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run: spans recorded by the harness
  * around each call into the program, plus the events Spark's public
  * listener APIs deliver. Nothing is written until the run ends; while
  * `enabled` is false every recorder returns at once, so untraced passes
  * pay only a volatile read per event.
  *
  * All times are epoch nanoseconds (a nanoTime clock anchored once to the
  * wall clock), so harness spans and listener timestamps (epoch millis)
  * share one axis.
  */
object Trace {
  @volatile var enabled = false

  private val anchor = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = anchor + System.nanoTime()

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String)
  val spans = ArrayBuffer.empty[Span]
  /** Rows of (kind, epoch-ns start, epoch-ns end, numeric fields). */
  val events = ArrayBuffer.empty[(String, Long, Long, Map[String, Double])]

  private var nextId = 0
  private var open = List.empty[Int]

  /** Runs `body` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = now()
      try body
      finally {
        open = open.tail
        val end = now()
        synchronized { spans += Span(id, name, start, end, parent, op) }
      }
    }

  /** A span whose interval Spark measured itself (e.g. the analysis phase). */
  def record(name: String, op: String, startMs: Long, endMs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, name, startMs * 1000000L, endMs * 1000000L,
        open.headOption.getOrElse(0), op)
    }

  def event(kind: String, startNs: Long, endNs: Long, fields: Map[String, Double]): Unit =
    if (enabled) synchronized { events += ((kind, startNs, endNs, fields)) }
}

/** Task, stage and job counters from the shared SparkContext: every session
  * clone the program creates runs its jobs here.
  */
final class TraceSparkListener extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) {
    val m = e.taskMetrics
    val info = e.taskInfo
    val fields = if (m == null) Map.empty[String, Double] else Map(
      "run_ms" -> m.executorRunTime.toDouble,
      "cpu_ns" -> m.executorCpuTime.toDouble,
      "gc_ms" -> m.jvmGCTime.toDouble,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
      "input_records" -> m.inputMetrics.recordsRead.toDouble,
      "output_bytes" -> m.outputMetrics.bytesWritten.toDouble)
    Trace.event("task", info.launchTime * 1000000L, info.finishTime * 1000000L, fields)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.event("job", e.time * 1000000L, e.time * 1000000L, Map.empty)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    Trace.event("stage", t * 1000000L, t * 1000000L, Map.empty)
  }
}

/** Registered through the static conf `spark.sql.queryExecutionListeners`,
  * so every session (including the program's posture clones) reports here.
  * Catalog DDL is every eagerly executed command except the file writes.
  */
final class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) {
      val node = qe.logical.nodeName
      val catalog = funcName == "command" && !node.startsWith("InsertInto") && !node.contains("Write")
      val end = Trace.now()
      Trace.event(if (catalog) "catalog_command" else "query_action", end - durationNs, end,
        Map("duration_ns" -> durationNs.toDouble))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`: one
  * event per micro-batch, with Spark's own per-phase durations.
  */
final class TraceStreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.enabled) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val d = p.durationMs
      def dur(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val states = p.stateOperators
      Trace.event("micro_batch", start, start + (dur("triggerExecution") * 1e6).toLong, Map(
        "latest_offset_ms" -> dur("latestOffset"),
        "query_planning_ms" -> dur("queryPlanning"),
        "add_batch_ms" -> dur("addBatch"),
        "wal_commit_ms" -> dur("walCommit"),
        "commit_offsets_ms" -> dur("commitOffsets"),
        "state_rows" -> states.map(_.numRowsTotal.toDouble).sum,
        "state_commit_ms" -> states.map(_.commitTimeMs.toDouble).sum,
        "input_rows" -> p.numInputRows.toDouble))
    }
}
