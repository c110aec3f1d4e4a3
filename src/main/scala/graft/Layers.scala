package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBusDrain
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** What one measured body cost, layer by layer: the record
  * [[Layers.measure]] returns and Bench writes per cell to `BENCH_FULL.json`.
  *
  *   - scheduling: `jobs` started, `stages` completed, `tasks` ended;
  *   - executor work: task run, CPU and GC time (ms);
  *   - data movement: shuffle read and write bytes, memory and disk spill
  *     bytes, and the largest peak execution memory of any one task;
  *   - driver planning: `planningMs` by `QueryPlanningTracker` phase
  *     (parsing, analysis, optimization, planning), summed over every query
  *     the body executed;
  *   - `codegenCompiles`: classes the body compiled;
  *   - streaming: `batches` is the number of micro-batch progress reports,
  *     and `batchMs` sums their `durationMs` by phase (addBatch,
  *     queryPlanning, walCommit, ...). Both are 0/empty for a batch body.
  */
final case class Layers(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    runMs: Long = 0L, cpuMs: Long = 0L, gcMs: Long = 0L,
    shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
    memorySpillBytes: Long = 0L, diskSpillBytes: Long = 0L,
    peakExecutionMemoryBytes: Long = 0L,
    planningMs: Map[String, Long] = Map.empty,
    codegenCompiles: Long = 0L,
    batches: Int = 0, batchMs: Map[String, Long] = Map.empty)

object Layers {
  /** Runs `body` and returns its result with what it cost. The listener bus
    * is drained before a fresh listener is registered and again after
    * `body`, so the record holds exactly the events `body` caused; both
    * drains lie outside `body`, so a timer inside it is unaffected. */
  def measure[A](spark: SparkSession)(body: => A): (A, Layers) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val c = new Collector
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    try {
      val compiles0 = compiles
      val out = body
      ListenerBusDrain(sc)
      (out, c.result.copy(codegenCompiles = compiles - compiles0))
    } finally {
      spark.listenerManager.unregister(c)
      sc.removeSparkListener(c)
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def add(m: Map[String, Long], k: String, v: Long): Map[String, Long] =
    m.updated(k, m.getOrElse(k, 0L) + v)

  /** One listener for every layer: Spark's scheduler events, the session's
    * query executions, and streaming progress, which
    * `StreamingQueryListenerBus` forwards to the same bus. */
  private final class Collector extends SparkListener with QueryExecutionListener {
    private var l = Layers()

    def result: Layers = synchronized(l)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { l = l.copy(jobs = l.jobs + 1) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { l = l.copy(stages = l.stages + 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      l = if (m == null) l.copy(tasks = l.tasks + 1)
      else l.copy(tasks = l.tasks + 1,
        runMs = l.runMs + m.executorRunTime,
        cpuMs = l.cpuMs + m.executorCpuTime / 1000000L,
        gcMs = l.gcMs + m.jvmGCTime,
        shuffleReadBytes = l.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = l.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        memorySpillBytes = l.memorySpillBytes + m.memoryBytesSpilled,
        diskSpillBytes = l.diskSpillBytes + m.diskBytesSpilled,
        peakExecutionMemoryBytes =
          math.max(l.peakExecutionMemoryBytes, m.peakExecutionMemory))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        l = l.copy(batches = l.batches + 1,
          batchMs = p.progress.durationMs.asScala.foldLeft(l.batchMs) {
            case (m, (k, v)) => add(m, k, v.longValue)
          })
      }
      case _ =>
    }

    private def planned(qe: QueryExecution): Unit = synchronized {
      l = l.copy(planningMs = qe.tracker.phases.foldLeft(l.planningMs) {
        case (m, (k, p)) => add(m, k, p.durationMs)
      })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  }
}
