package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Wall clock shared by every record the benchmark writes: epoch
  * milliseconds with sub-millisecond resolution, so the benchmark's own
  * spans and the times Spark's listeners report (epoch ms) line up. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded by the benchmark around each call into a library layer.
  * A span is (id, name, start, end, parent, job): spans of one job share
  * the job id; the parent is the span open on the driver thread when it
  * began. Spans stay in memory and are written out when the run ends.
  * When tracing is off, `span` runs its body and records nothing. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  @volatile var job: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.length
      spans += Map.empty
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        spans(id) = Map("id" -> id, "name" -> name, "start" -> start,
          "end" -> Clock.nowMs, "parent" -> parent, "job" -> job)
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq

  /** Counts taken at the same boundaries as the spans. */
  private val counted = ArrayBuffer.empty[Map[String, Any]]
  def count(name: String, value: => Double): Unit =
    if (on) counted += Map("name" -> name, "value" -> value, "job" -> job)
  def counts: Seq[Map[String, Any]] = counted.toSeq

  /** Nodes in the analyzed logical plan of a built pipeline. */
  def planNodes(ds: org.apache.spark.sql.Dataset[_]): Unit =
    count("api.plan_nodes", ds.queryExecution.analyzed.collect { case p => p }.size)
}

object Tracer {
  val Off = new Tracer(false)
}

/** Per-layer counters seen from outside the library, through Spark's
  * public listener interfaces: scheduler events (jobs, stages, tasks and
  * their metrics) and the planning phases of every query execution.
  * Raw records are kept; the runner aggregates them per job. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val queries = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, (Double, Int)]
  private var shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.job")))
    jobStart(e.jobId) = (e.time.toDouble, tag.map(_.toInt).getOrElse(-1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val (start, tag) = jobStart.remove(e.jobId).getOrElse((e.time.toDouble, -1))
    jobs += Map("id" -> e.jobId, "start" -> start, "end" -> e.time.toDouble,
      "job" -> tag, "ok" -> (e.jobResult == JobSucceeded))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    stages += Map("id" -> i.stageId, "tasks" -> i.numTasks,
      "start" -> i.submissionTime.map(_.toDouble).getOrElse(0.0),
      "end" -> i.completionTime.map(_.toDouble).getOrElse(0.0),
      "failed" -> i.failureReason.isDefined)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val base = Map[String, Any]("stage" -> e.stageId,
      "launch" -> ti.launchTime.toDouble, "finish" -> ti.finishTime.toDouble,
      "failed" -> ti.failed)
    tasks += (if (m == null) base else {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      shuffleBytes += sr.totalBytesRead + sw.bytesWritten
      base ++ Map("run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
        "sw_bytes" -> sw.bytesWritten, "sw_ns" -> sw.writeTime,
        "sw_records" -> sw.recordsWritten, "sr_bytes" -> sr.totalBytesRead,
        "sr_wait_ms" -> sr.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak_exec_bytes" -> m.peakExecutionMemory,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_records" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten)
    })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordQuery(qe)

  private def recordQuery(qe: QueryExecution): Unit = lock.synchronized {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs.toDouble, "end" -> p.endTimeMs.toDouble)
    }
    queries += Map("phases" -> phases)
  }

  /** Every counter the runner reports, as one comparable value: the bus
    * counts as drained only once none of them moves between polls. */
  def fingerprint: (Int, Int, Int, Int, Long) = lock.synchronized {
    (jobs.length, stages.length, tasks.length, queries.length, shuffleBytes)
  }

  def snapshot: Map[String, Any] = lock.synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList,
      "tasks" -> tasks.toList, "queries" -> queries.toList)
  }
}

object LayerListener {
  /** Polls `probe` every 100 ms until three consecutive reads agree, or
    * gives up after `timeoutMs`; returns whether the bus drained. */
  def awaitStable[A](probe: => A, timeoutMs: Long = 15000L): Boolean = {
    var prev = probe
    var same = 0
    val deadline = System.currentTimeMillis() + timeoutMs
    while (same < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = probe
      if (now == prev) same += 1 else { same = 0; prev = now }
    }
    same >= 3
  }

  def attach(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: LayerListener): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}

/** Records every micro-batch progress report of the streaming queries. */
final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[Map[String, Any]]
  @volatile var failure: Option[String] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val durations = p.durationMs
    def d(k: String): Long = Option(durations.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val rec = Map[String, Any]("query" -> p.name, "batch" -> p.batchId,
      "start" -> start, "end" -> (start + p.batchDuration),
      "duration_ms" -> p.batchDuration, "rows" -> p.numInputRows,
      "addBatch_ms" -> d("addBatch"), "queryPlanning_ms" -> d("queryPlanning"),
      "walCommit_ms" -> d("walCommit"), "latestOffset_ms" -> d("latestOffset"),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "end_offset" -> p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(_.toLongOption).getOrElse(-1L))
    progress.synchronized { progress += rec }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(msg => failure = Some(msg))

  def records: List[Map[String, Any]] = progress.synchronized(progress.toList)
}
