package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one benchmark run: spans the benchmark records
  * around its calls into each layer, plus Spark's own job/stage events
  * and streaming progress. Nothing is written until [[dump]].
  *
  * Times are epoch milliseconds with sub-millisecond fraction, so spans
  * line up with the epoch-millisecond stage and progress timestamps
  * Spark reports.
  */
object Trace {
  @volatile var on = false

  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis().toDouble
  def nowMs: Double = toMs(System.nanoTime())
  def toMs(nanos: Long): Double = baseMillis + (nanos - baseNanos) / 1e6

  final case class Span(id: Long, name: String, parent: Long,
      start: Double, end: Double, attrs: Map[String, Any])

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()

  def newId(): Long = ids.incrementAndGet()

  /** Time `body` as a span when tracing is on; `body` gets the span id
    * so nested calls can name it as their parent.
    */
  def span[T](name: String, parent: Long = 0L, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = newId()
      val t0 = nowMs
      try body(id)
      finally spans.add(Span(id, name, parent, t0, nowMs, attrs))
    }

  /** Record a span whose interval was measured elsewhere. */
  def record(name: String, start: Double, end: Double, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty, id: Long = 0L): Unit =
    if (on) spans.add(Span(if (id != 0L) id else newId(), name, parent, start, end, attrs))

  /** Job and stage events from the scheduler. */
  final class JobStageListener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (on) jobStarts.put(j.jobId, (j.time.toDouble, j.stageIds))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach { case (t0, stageIds) =>
        jobs.add(Map("job" -> j.jobId, "start" -> t0, "end" -> j.time.toDouble,
          "stages" -> stageIds))
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (on) {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val base = Map[String, Any]("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
          "name" -> si.name, "tasks" -> si.numTasks,
          "submit" -> si.submissionTime.map(_.toDouble).getOrElse(-1.0),
          "complete" -> si.completionTime.map(_.toDouble).getOrElse(-1.0),
          "failed" -> si.failureReason.isDefined)
        stages.add(if (m == null) base else base ++ Map(
          "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_b" -> m.inputMetrics.bytesRead,
          "input_rows" -> m.inputMetrics.recordsRead))
      }
  }

  /** Per-batch streaming progress. Registered through
    * `spark.sql.streaming.streamingQueryListeners`, so every session
    * (including the clones stateful pipelines run on) reports here.
    */
  final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (on) progress.add(Map("event" -> "start", "run_id" -> e.runId.toString,
        "name" -> Option(e.name).getOrElse(""),
        "ts" -> java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        progress.add(Map("event" -> "progress", "run_id" -> p.runId.toString,
          "name" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
          "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "rows" -> p.numInputRows,
          "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state" -> p.stateOperators.toSeq.map(so => Map(
            "op" -> so.operatorName, "rows_total" -> so.numRowsTotal,
            "rows_updated" -> so.numRowsUpdated, "mem_b" -> so.memoryUsedBytes,
            "commit_ms" -> so.commitTimeMs, "update_ms" -> so.allUpdatesTimeMs))))
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (on) progress.add(Map("event" -> "end", "run_id" -> e.runId.toString,
        "ts" -> System.currentTimeMillis().toDouble))
  }

  def dump(path: String, meta: Map[String, Any]): Unit = {
    val doc = meta ++ Map(
      "spans" -> spans.asScala.toSeq.sortBy(_.start).map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)),
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "progress" -> progress.asScala.toSeq)
    Json.write(path, doc)
  }
}
