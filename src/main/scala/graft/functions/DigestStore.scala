package graft.functions

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent content-digest history for incremental exact dedup — the
  * stored-state half of [[Dedup.exactIncremental]], paralleling what
  * [[IvfIndex]] is to [[Similarity.ivfTopK]]: the crawl cycle signs each
  * increment, dedups it against the store, then appends the surviving
  * digests.
  *
  * On disk the store is a parquet table of one `digest` (md5 hex) column,
  * bucketed by nothing: every read path here either scans it once into a
  * Bloom filter or semi-joins a broadcast probe set against it, so no
  * shuffle-friendly layout is needed (see the scale note on
  * [[Dedup.exactIncremental]] — the history is scanned, never shuffled).
  * Appends go to `<path>/inc=<n>/` subdirectories, so each cycle is one
  * immutable directory write (no read-modify-write of earlier increments,
  * safe under retried jobs) and the store composes as a plain recursive
  * parquet read.
  */
object DigestStore {

  /** Create an empty store at `path` (a schema-bearing empty increment). */
  def init(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Seq.empty[String].toDF("digest")
      .write.mode("overwrite").parquet(s"$path/inc=0")
  }

  /** The full digest history: a recursive read over every increment. */
  def load(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, s"$path/inc=*")

  /** Highest increment present (the SketchStore/HistStore sibling). */
  private def latestInc(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incs = fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("inc=") => s.drop(4).toInt }
    require(incs.nonEmpty, s"no increments at $path — call init first")
    incs.max
  }

  /** One crawl cycle: dedup `newDocs` against the store (within-increment
    * dups collapsed too), append the surviving digests as increment `inc`,
    * and return the new-content rows (digest, keep_id, n_copies).
    *
    * The returned DataFrame stays persisted: it IS the cycle's result and
    * the append above already materialized it. Callers release it with
    * `unpersist()` once consumed — a long-running crawl driver that skips
    * this accumulates one result cache per cycle. */
  def dedupCycle(spark: SparkSession, path: String, inc: Int,
      newDocs: DataFrame, idCol: String, textCol: String,
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    // monotonic-increment guard (the SketchStore/HistStore discipline): a
    // retried driver that reran an already-written inc would find its own
    // docs in the history, get an EMPTY result, and overwrite that inc's
    // digests with it — reporting the docs as dups this cycle AND
    // re-admitting them as new in every future one
    val last = latestInc(spark, path)
    require(inc > last, s"increment $inc must advance past the stored $last")
    // exactIncremental returns its result already persisted AND
    // materialized (it owns materialization — single owner, no second
    // persist here); the append write below reads from that cache
    val out = Dedup.exactIncremental(newDocs, load(spark, path), idCol,
        textCol, expectedItems = expectedItems, fpp = fpp)
    out.select(col("digest")).write.mode("overwrite").parquet(s"$path/inc=$inc")
    out
  }
}
