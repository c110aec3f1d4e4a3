package perfbench

import graft.algorithms.Graph
import graft.api.{StreamContext, WindowDescr}
import graft.functions.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

final case class Event(user: Long, ts: Long, value: Long)
final case class User(user: Long, region: Int)

/** One job runs three kinds of pipeline over seeded inputs:
  *  - executor-bound: wordcount and a windowed, joined, per-region top-k
  *    over Zipf-keyed events through the façade's keyed operators, and
  *    the clean and dedup stages of the curation composition
  *    (`q_e2e_curation`) over generated documents, each stage forced
  *    inside its own span;
  *  - driver-bound: delta PageRank on a small power-law graph, where
  *    planning and per-round scheduling dominate and executors are
  *    mostly idle. */
final class KeyedBatch(inputs: String, runDir: String) extends Workload {
  private val tables = Seq("text", "events", "users", "documents", "edges")
  private val PageRankRounds = 2
  /** One partition per round, as the catalog's small-graph cells run. */
  private val Parallelism = Some(1)

  /** Re-reads every input and refuses a row count that differs from the
    * generator's manifest. */
  def prepare(ctx: StreamContext): Unit = {
    val rows = Json.read(s"$inputs/manifest.json")("rows").asInstanceOf[Map[String, Any]]
    tables.foreach { t =>
      val n = if (t == "text") ctx.streamFile(s"$inputs/text").collectCount()
        else ctx.streamParquet(s"$inputs/$t").count()
      val want = rows(t).toString.toLong
      require(n == want, s"input $t has $n rows, manifest says $want")
    }
    // the catalog's oracle for the profile stage, for the runner's check
    Files.writeString(Paths.get(runDir, "profile_oracle.sql"),
      graft.Queries.oracle("q_text_profile"))
  }

  def warmUp(ctx: StreamContext): Unit = {
    val dir = s"$runDir/out/warmup"
    job(ctx, Tracer.Off, dir)
    Proc.deleteTree(new java.io.File(dir))
  }

  /** Closed loop with one client: the next job starts when the previous
    * one has written its results; jobs start until `seconds` have passed. */
  def runTimed(ctx: StreamContext, tracer: Tracer, seconds: Double,
      label: String): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    val tmpDir = System.getProperty("java.io.tmpdir")
    val deadline = Clock.nowMs + seconds * 1000
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (Clock.nowMs < deadline) {
      val outDir = s"$runDir/out/$label/job_$i"
      val stores = CacheStores.list(tmpDir)
      tracer.job = i
      sc.setLocalProperty("perfbench.job", i.toString)
      val start = Clock.nowMs
      val error =
        try { tracer.span("job")(job(ctx, tracer, outDir)); None }
        catch { case e: Exception => Some(e.toString) }
      val end = Clock.nowMs
      sc.setLocalProperty("perfbench.job", null)
      jobs += Map("id" -> i, "start" -> start, "end" -> end, "out" -> outDir,
        "error" -> error.orNull,
        "cache_rebuilds" -> (CacheStores.list(tmpDir) -- stores).size)
      i += 1
    }
    Map("jobs" -> jobs.toList)
  }
  private val WindowMs = 3600L * 1000L
  private val TopK = 20

  /** One job: reads the inputs, writes every result under `outDir`. */
  private def job(ctx: StreamContext, tracer: Tracer, outDir: String): Unit = {
    import ctx.spark.implicits._
    val counts = tracer.span("api.build") {
      ctx.streamFile(s"$inputs/text")
        .flatMap(_.split(" ").iterator.filter(_.nonEmpty))
        .groupBy(w => w)
        .fold(0L)((n, _) => n + 1, _ + _)
    }
    tracer.planNodes(counts.ds)
    tracer.span("sink.write")(counts.writeParquet(s"$outDir/wordcount"))

    val top = tracer.span("api.build") {
      val users = ctx.streamParquetAs[User](s"$inputs/users")
      ctx.streamParquetAs[Event](s"$inputs/events")
        .keyBy(_.user)
        .window(WindowDescr.EventTimeWindow.tumbling[Event](WindowMs)(_.ts))
        .sum(_.value)
        .joinWith(users)(_._1, _.user).inner
        .map { case (u, ((_, total), usr)) => (usr.region, (total, u)) }
        .toKeyed
        .topK(TopK)(identity)
        .flatMap { case (region, xs) =>
          xs.iterator.zipWithIndex.map { case ((total, u), i) => (region, i + 1, u, total) }
        }
    }
    tracer.planNodes(top.ds)
    tracer.span("sink.write") {
      top.ds.toDF("region", "rank", "user", "total").write.mode("overwrite")
        .parquet(s"$outDir/topk")
    }

    val docs = ctx.streamParquet(s"$inputs/documents")
    val gated = tracer.span("functions.profile") {
      val g = TextAnalysis.profile(docs, "doc_id", "text")
        .filter(col("quality") >= 0.5)
        .persist(StorageLevel.MEMORY_AND_DISK)
      g.count()
      g
    }
    tracer.span("functions.dedup") {
      val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
      val survivors = gated.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang_guess"), col("n_tokens"))
      tracer.planNodes(survivors)
      tracer.span("sink.write")(survivors.write.mode("overwrite").parquet(s"$outDir/survivors"))
    }
    gated.unpersist()

    val pairs = ctx.streamParquet(s"$inputs/edges").select(col("src"), col("dst"))
    tracer.span("iteration.pageRankDelta") {
      val (ranks, worksets) = Graph.pageRankDelta(pairs, maxIter = PageRankRounds,
        parallelism = Parallelism)
      tracer.count("iteration.rounds", worksets.length)
      tracer.count("iteration.workset_rows", worksets.sum)
      tracer.span("sink.write")(ranks.write.mode("overwrite").parquet(s"$outDir/pagerank"))
    }
  }
}
