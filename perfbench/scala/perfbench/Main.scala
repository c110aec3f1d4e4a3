package perfbench

import graft.api.StreamContext
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One workload as the benchmark process drives it. `prepare` verifies
  * the inputs through a fresh session; `warmUp` runs untimed work so JIT
  * and lazy state are settled; `runTimed` measures for the given wall
  * time and returns its raw records. */
trait Workload {
  def prepare(ctx: StreamContext): Unit
  def warmUp(ctx: StreamContext): Unit
  def runTimed(ctx: StreamContext, tracer: Tracer, seconds: Double,
      label: String): Map[String, Any]
  def release(): Unit = ()
}

/** Benchmark process. Arguments (all required):
  * --workload NAME --seconds S --trace 0|1 --inputs DIR --run-dir DIR
  * --setups N --cores C.
  *
  * Writes `raw.json` into the run directory: set-up timings, per-job
  * records, process CPU and memory, and, when tracing, spans and the raw
  * listener records. The Python runner turns these into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val inputs = opt("inputs")
    val runDir = opt("run-dir")
    val setups = opt("setups").toInt
    val cores = opt("cores").toInt
    val tmpDir = System.getProperty("java.io.tmpdir")

    val workload: Workload = name match {
      case "keyed_batch" => new KeyedBatch(inputs, runDir)
      case "stream_window" => new StreamWindow(inputs, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    // set-up, repeated: the first one counts from JVM start; later ones
    // include stopping the previous session
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    var ctx: StreamContext = null
    val setupRecs = ArrayBuffer.empty[Map[String, Any]]
    for (k <- 0 until setups) {
      val t0 = if (k == 0) jvmStart else Clock.nowMs
      if (spark != null) { workload.release(); spark.stop() }
      val s1 = Clock.nowMs
      spark = StreamContext.localSession(cores)
      ctx = new StreamContext(spark)
      val s2 = Clock.nowMs
      workload.prepare(ctx)
      val s3 = Clock.nowMs
      workload.warmUp(ctx)
      val s4 = Clock.nowMs
      setupRecs += Map("total_ms" -> (s4 - t0), "session_ms" -> (s2 - s1),
        "verify_ms" -> (s3 - s2), "warmup_ms" -> (s4 - s3))
    }
    out("setups") = setupRecs.toList
    val cacheBefore = CacheStores.list(tmpDir)

    if (!trace) {
      out("timed") = measured(workload, ctx, Tracer.Off, seconds, "timed")
    } else {
      // untraced then traced halves: their difference is the tracing
      // overhead; the listeners are attached for the traced half only
      out("untraced") = measured(workload, ctx, Tracer.Off, seconds / 2, "untraced")
      val listener = LayerListener.attach(spark)
      val traced = new Tracer(true)
      val rec = measured(workload, ctx, traced, seconds / 2, "traced")
      val drained = LayerListener.awaitStable(listener.fingerprint)
      LayerListener.detach(spark, listener)
      out("traced") = rec ++ Map("drained" -> drained, "spans" -> traced.records.toList,
        "counts" -> traced.counts.toList,
        "listener" -> listener.snapshot)
      // single-threaded baseline of the same work
      workload.release(); spark.stop()
      spark = StreamContext.localSession(1)
      ctx = new StreamContext(spark)
      workload.prepare(ctx)
      workload.warmUp(ctx)
      out("local1") = measured(workload, ctx, Tracer.Off, seconds / 4, "local1")
    }
    out("cache_rebuilds") = (CacheStores.list(tmpDir) -- cacheBefore).size
    out("peak_rss_mb") = Proc.peakRssMb
    workload.release()
    spark.stop()
    Json.write(Paths.get(runDir, "raw.json"), out.toMap)
    System.exit(0)
  }

  /** Timed window plus the process CPU it used. */
  private def measured(w: Workload, ctx: StreamContext, tracer: Tracer,
      seconds: Double, label: String): Map[String, Any] = {
    val cpu0 = Proc.cpuMs
    val start = Clock.nowMs
    val rec = w.runTimed(ctx, tracer, seconds, label)
    val end = Clock.nowMs
    rec ++ Map("start" -> start, "end" -> end, "cpu_ms" -> (Proc.cpuMs - cpu0))
  }
}

/** Build-once store directories (`graft_*`, the `functions.CacheKey`
  * naming) present in a temp root. */
object CacheStores {
  def list(root: String): Set[String] =
    Option(new File(root).list()).map(_.filter(_.startsWith("graft_")).toSet)
      .getOrElse(Set.empty)
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** The process high-water resident set (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: java.nio.file.Path, value: Any): Unit =
    Files.write(path, mapper.writeValueAsBytes(value))
  def read(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[Map[String, Any]])
}
