package perfbench

import graft.api.StreamContext
import graft.streaming.Streaming
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Open-loop event-time windowing. A generator thread replays the seeded
  * event schedule (`stream.bin`: user, event time and due time of each
  * event, in due order) at each event's due time, whether or not the
  * system keeps up, into `StreamContext.streamAsync`. The query counts
  * events per user in tumbling event-time windows, in update mode, and
  * its `foreachBatch` sink stamps each emitted row. An event's creation
  * time is its due time, so a stall of the generator counts against
  * latency too. */
final class StreamWindow(inputs: String, runDir: String) extends Workload {
  private val plan = Json.read(s"$inputs/stream_plan.json")
  private def planLong(k: String): Long = plan(k).toString.toDouble.toLong
  private val windowMs = planLong("window_ms")
  private val delayMs = planLong("delay_ms")
  private val warmMs = planLong("warm_ms")
  /** Each poll of the source hands over every event queued within this
    * time as one item, the way a broker client returns record batches. */
  private val LingerMs = 20L

  private val (users, tsMs, dueUs) = {
    val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$inputs/stream.bin")))
      .order(ByteOrder.LITTLE_ENDIAN)
    val n = b.getLong().toInt
    def arr(): Array[Long] = Array.fill(n)(b.getLong())
    (arr(), arr(), arr())
  }
  private val n = users.length
  private val warmEnd = dueUs.indexWhere(_ >= warmMs * 1000) match {
    case -1 => n
    case i => i
  }
  /** Due times of the events each (user, window) count covers, in feed
    * order: the n-th entry is the newest event behind a count of n.
    * Late events are dropped by the watermark and never counted. */
  private val onTime: mutable.HashMap[(Long, Long), mutable.ArrayBuffer[Long]] = {
    val late = planLong("late_before_ms")
    val m = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[Long]]
    for (i <- 0 until n if tsMs(i) >= late)
      m.getOrElseUpdate((users(i), math.floorDiv(tsMs(i), windowMs) * windowMs),
        mutable.ArrayBuffer.empty) += dueUs(i)
    m
  }

  private val progress = new ProgressListener
  private var listening: StreamContext = _
  private var runs = 0
  private var run: Run = _

  def prepare(ctx: StreamContext): Unit = {
    val rows = Json.read(s"$inputs/manifest.json")("rows").asInstanceOf[Map[String, Any]]
    val want = rows("stream").toString.toLong
    val seen = ctx.streamParquet(s"$inputs/stream").count()
    require(seen == want && n == want, s"stream input has $seen/$n events, manifest says $want")
  }

  /** Starts a fresh query and feeds it the warm-up segment. */
  def warmUp(ctx: StreamContext): Unit = {
    release()
    run = new Run(ctx)
    run.replay(0, warmEnd, 0L)
    run.awaitProcessed()
  }

  override def release(): Unit = if (run != null) { run.stop(); run = null }

  /** Feeds the rate ladder, whose length the generator already fitted to
    * the window; the window ends when the last event is due. A query that
    * already saw the ladder is replaced first. */
  def runTimed(ctx: StreamContext, tracer: Tracer, seconds: Double,
      label: String): Map[String, Any] = {
    if (run == null || run.used) warmUp(ctx)
    run.used = true
    val (start, lags) = tracer.span("job")(run.replay(warmEnd, n, warmMs * 1000))
    val end = Clock.nowMs
    run.awaitProcessed()
    val file = s"stream_$label.json"
    Json.write(Paths.get(runDir, file), run.result(start, end, lags))
    Map("stream" -> file, "window_start" -> start, "window_end" -> end,
      "query_failure" -> progress.failure.orNull)
  }

  /** One query with its async source and sink. */
  private final class Run(ctx: StreamContext) {
    import ctx.spark.implicits._
    var used = false
    private val id = { runs += 1; runs }
    if (listening ne ctx) { ctx.spark.streams.addListener(progress); listening = ctx }

    private val End = (Long.MinValue, Long.MinValue)
    private val queue = new LinkedBlockingQueue[(Long, Long)]()
    /** Events handed to the source up to each of its offsets. */
    private val handed = mutable.ArrayBuffer.empty[Long]
    private val source = ctx.streamAsync[Seq[(Long, Long)]] { () =>
      val first = queue.take()
      Thread.sleep(LingerMs)
      val chunk = new java.util.ArrayList[(Long, Long)]()
      chunk.add(first)
      queue.drainTo(chunk)
      val events = chunk.asScala.toVector.filter(_ != End)
      handed.synchronized(handed += handed.lastOption.getOrElse(0L) + events.size)
      scala.concurrent.Future.successful(if (chunk.contains(End)) None else Some(events))
    }
    private val lastCount = mutable.HashMap.empty[(Long, Long), Long]
    private val latency = mutable.ArrayBuffer.empty[(Double, Double)]
    @volatile private var t0Ms = 0.0
    @volatile private var t0Due = 0L

    private val query: StreamingQuery = {
      val events = Streaming.withEventTime(
        source.stream.flatMap(identity).toDF("user", "ts_ms")
          .withColumn("ts", timestamp_millis(col("ts_ms"))),
        "ts", s"$delayMs milliseconds")
      Streaming.tumblingCounts(events, "ts", s"$windowMs milliseconds", col("user"))
        .writeStream.queryName(s"tumbling_$id").outputMode("update")
        .option("checkpointLocation", s"$runDir/checkpoints/run_$id")
        .foreachBatch { (df: Dataset[Row], _: Long) => emit(df.collect()) }
        .start()
    }

    /** The sink: keeps each (user, window)'s latest count and the latency
      * of the newest event behind it. */
    private def emit(rows: Array[Row]): Unit = {
      val emitted = Clock.nowMs
      lastCount.synchronized {
        rows.foreach { r =>
          val key = (r.getLong(2), r.getTimestamp(0).getTime)
          val count = r.getLong(1)
          lastCount(key) = count
          onTime.get(key).filter(_.length >= count).foreach { dues =>
            val due = (dues((count - 1).toInt) - t0Due) / 1000.0
            if (due >= 0) latency += ((due, emitted - (t0Ms + due)))
          }
        }
      }
    }

    /** Feeds events [from, to) at their due times, relative to now; returns
      * the replay start (epoch ms) and how late each event was sent. */
    def replay(from: Int, to: Int, dueBase: Long): (Double, Array[Float]) = {
      val lags = new Array[Float](to - from)
      val startNs = System.nanoTime()
      lastCount.synchronized {
        latency.clear()
        t0Ms = Clock.nowMs
        t0Due = dueBase
      }
      var i = from
      while (i < to) {
        val dueNs = startNs + (dueUs(i) - dueBase) * 1000
        val wait = dueNs - System.nanoTime()
        if (wait > 20000) LockSupport.parkNanos(wait)
        queue.put((users(i), tsMs(i)))
        lags(i - from) = ((System.nanoTime() - dueNs) / 1e6).toFloat
        i += 1
      }
      (t0Ms, lags)
    }

    /** Waits until the pump has handed every queued event to the source
      * and the query has processed all of it. */
    def awaitProcessed(): Unit = {
      while (!queue.isEmpty) Thread.sleep(5)
      Thread.sleep(2 * LingerMs)
      query.processAllAvailable()
    }

    def result(start: Double, end: Double, lags: Array[Float]): Map[String, Any] = {
      val offsets = handed.synchronized(handed.toVector)
      val batches = progress.records.filter(_("query") == s"tumbling_$id").map { p =>
        val off = p("end_offset").asInstanceOf[Long]
        p ++ Map("events" -> (if (off < 0) 0L else offsets(off.toInt)))
      }
      lastCount.synchronized {
        Map("window_start" -> start, "window_end" -> end, "gen_lag_ms" -> lags.toSeq,
          "latency" -> latency.map(t => Seq(t._1, t._2)).toList,
          "counts" -> lastCount.toList.map { case ((u, w), c) => Seq(u, w, c) },
          "progress" -> batches)
      }
    }

    def stop(): Unit = {
      query.stop()
      queue.put(End)
      source.pumpThread.join(10000)
    }
  }
}
