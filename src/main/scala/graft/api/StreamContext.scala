package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** Entry point of the engine — the analog of the reference's `StreamContext`
  * (reference: src/environment.rs:42-113). Where the reference owns a
  * scheduler and network topology, we delegate scheduling, shuffles and
  * fault-tolerance to Spark: a `StreamContext` is a thin wrapper over a
  * [[SparkSession]] that builds [[Stream]]s (lazily-composed `Dataset`s).
  *
  * Everything is lazy: composing operators builds a Catalyst logical plan;
  * nothing runs until a sink action (`collectVec`, `writeParquet`, ...) —
  * exactly like the reference's graph-then-`execute_blocking()` lifecycle
  * (reference: src/environment.rs:97).
  */
final class StreamContext(val spark: SparkSession) {
  import spark.implicits._

  /** In-memory source, single logical iterator.
    * Reference: `stream_iter`, src/operator/source/iterator.rs:14. */
  def streamIter[T: Encoder](data: Seq[T]): Stream[T] =
    new Stream(spark.createDataset(data))

  /** In-memory source split across `parallelism` partitions.
    * Reference: `stream_par_iter`, src/operator/source/parallel_iterator.rs:129. */
  def streamParIter[T: Encoder](data: Seq[T], parallelism: Int): Stream[T] =
    new Stream(spark.createDataset(data).repartition(parallelism))

  /** Replica-indexed generator source: `gen(replicaId, instances)` yields the
    * items of that replica — the exact contract of the reference's
    * `ParallelIteratorSource` generator (src/operator/source/parallel_iterator.rs:230-291). */
  def streamParIterGen[T: Encoder](parallelism: Int)(
      gen: (Int, Int) => Iterator[T]): Stream[T] = {
    val ds = spark.range(parallelism.toLong)
      .repartition(parallelism)
      .flatMap(i => gen(i.toInt, parallelism))
    new Stream(ds)
  }

  /** `0 until n` as a distributed range (replaces iterator sources in tests). */
  def streamRange(n: Long, parallelism: Option[Int] = None): Stream[Long] = {
    val r = parallelism.map(p => spark.range(0, n, 1, p)).getOrElse(spark.range(n))
    new Stream(r.as[Long])
  }

  /** Line-by-line text file source. The reference splits the file in byte
    * ranges per replica aligned to newlines (src/operator/source/file.rs:78-120);
    * Hadoop input splits do the identical alignment for free. */
  def streamFile(path: String): Stream[String] =
    new Stream(spark.read.textFile(path))

  /** CSV source (reference: `stream_csv`, src/operator/source/csv.rs:89).
    * Returns an untyped frame; `.as[T]` for the serde-typed equivalent. */
  def streamCsv(path: String, options: Map[String, String] = Map("header" -> "true")): DataFrame =
    spark.read.options(options).csv(path)

  /** JSON-Lines source (beyond-reference: JSONL is the interchange format
    * of LLM training corpora). Spark's reader splits files line-parallel;
    * schema is inferred unless provided via options. */
  def streamJsonl(path: String, options: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(options).json(path)

  /** Typed JSONL source. */
  def streamJsonlAs[T: Encoder](path: String): Stream[T] =
    new Stream(spark.read.json(path).as[T])

  /** Parquet source (reference: src/operator/source/parquet.rs:21). Spark's
    * reader is already parallel + columnar; the reference's single-reader
    * `Replication::One` restriction does not apply. Like the reference's
    * source, it runs nothing to learn its schema: [[graft.sources.Parquet]]
    * reads one footer on the driver (`_common_metadata`, else `_metadata`,
    * else the first data file in path order) and converts it with Spark's
    * own code under the session's current conf. Spark infers instead —
    * one Spark job — for a glob path, with `mergeSchema` on, or when the
    * path holds no file to read. */
  def streamParquet(path: String): DataFrame = graft.sources.Parquet.read(spark, path)

  /** Typed parquet source — `stream_parquet_one().to_rows::<T>()`. */
  def streamParquetAs[T: Encoder](path: String): Stream[T] =
    new Stream(graft.sources.Parquet.read(spark, path).as[T])

  /** ORC source (beyond-reference: the other columnar format Spark ships
    * natively — predicate pushdown and column pruning work like parquet's). */
  def streamOrc(path: String): DataFrame = spark.read.orc(path)

  /** Typed ORC source. */
  def streamOrcAs[T: Encoder](path: String): Stream[T] =
    new Stream(spark.read.orc(path).as[T])

  /** Avro source (reference: src/operator/source/avro.rs:49). Uses the
    * spark-avro connector when present; otherwise the built-in avro-core
    * reader ([[graft.sources.AvroIO]]) for flat primitive records. */
  def streamAvro(path: String): DataFrame =
    try spark.read.format("avro").load(path)
    catch {
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("Failed to find") =>
        graft.sources.AvroIO.read(spark, path)
    }

  /** Async-producer streaming source (reference:
    * src/operator/source/async_stream.rs — a futures `Stream` drained into
    * the dataflow). Spark-first shape: a driver-side pump thread awaits the
    * producer and feeds a `MemoryStream` micro-batch source; `None` ends the
    * stream. Each micro-batch reads `defaultParallelism` partitions however
    * many items were polled into it (an unsized memory source plans one
    * partition, so one task, per polled item). The returned handle exposes
    * the streaming Dataset plus the pump thread (join it to know the
    * producer is drained). */
  def streamAsync[T: Encoder](
      poll: () => scala.concurrent.Future[Option[T]],
      pollTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(300, "s")): StreamContext.AsyncSource[T] = {
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T](
      spark, spark.sparkContext.defaultParallelism)
    val handle = new StreamContext.AsyncSource[T](ms.toDS())
    val pumpThread = new Thread(() => {
      try {
        var done = false
        while (!done) scala.concurrent.Await.result(poll(), pollTimeout) match {
          case Some(v) => ms.addData(v)
          case None => done = true
        }
      } catch {
        // a failed/timed-out producer future must be observable: record it
        // so the caller can distinguish clean completion from mid-stream
        // death (pump.join alone cannot)
        case e: Throwable => handle.failed = Some(e)
      }
    }, "graft-async-source-pump")
    pumpThread.setDaemon(true)
    handle.pump = pumpThread
    pumpThread.start()
    handle
  }

  /** Wrap an existing Dataset (escape hatch / interop). */
  def fromDataset[T](ds: Dataset[T]): Stream[T] = new Stream(ds)
}

object StreamContext {
  def apply(spark: SparkSession): StreamContext = new StreamContext(spark)

  /** Handle returned by [[StreamContext.streamAsync]]: the streaming
    * Dataset, the pump thread (join it to await the producer), and — after
    * the pump ends — whether it ended because the producer failed. */
  final class AsyncSource[T](val stream: Dataset[T]) {
    @volatile private[api] var pump: Thread = _
    @volatile var failed: Option[Throwable] = None
    def pumpThread: Thread = pump
  }

  /** The one session recipe: every main, example and spec builds its
    * session from this conf. Shuffle partitions sized for the machine (not
    * 200); AQE on for runtime re-planning (skew joins, partition coalescing
    * — load-bearing at large scale); AQE may also re-plan CACHED plan
    * materialization (off by default for partitioning-compat only — without
    * it every persist materializes at the session width regardless of size;
    * loop inputs whose co-partitioning must survive caching pin it
    * explicitly, see the Graph.scala repartition notes); UTC; no UI;
    * TIMESTAMP(NANOS) parquet read as epoch-nano longs; non-ANSI semantics
    * for wrapping Long arithmetic (minhash permutations); a JVM-wide
    * codegen cache of 4096 classes, not 100, because one catalog pass
    * generates ~2,600 distinct classes and one façade job over 100, so at
    * the default every job recompiled classes the previous one had built
    * (static: it binds when this recipe creates the SparkContext); and
    * `file:` paths on [[graft.sources.NioLocalFileSystem]] (`FileSystem`,
    * `fs.file.impl`) and [[graft.sources.NioLocalFs]] (`FileContext`,
    * `fs.AbstractFileSystem.file.impl`, the streaming checkpoint and state
    * store path), because without a native Hadoop library Hadoop's own
    * local file system forks `chmod` per created file and `readlink` per
    * checkpoint rename: over 100 forks of ~2 ms each per micro-batch of a
    * stateful query. */
  def sessionConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.NioLocalFs].getName)

  /** Local session built from [[sessionConf]]. */
  def localSession(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    session(s"local[$cores]", sessionConf(cores))

  /** `getOrCreate` with `conf` on `master`. On an existing session only the
    * runtime SQL keys of `conf` take effect (Spark's getOrCreate contract). */
  private[graft] def session(master: String, conf: Seq[(String, String)]): SparkSession = {
    val spark = conf
      .foldLeft(SparkSession.builder().master(master).appName("renoirspark")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
