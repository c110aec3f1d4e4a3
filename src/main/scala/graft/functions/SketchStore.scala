package graft.functions

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent KMV sketch store — crawl-cycle cardinality tracking, the
  * sketch sibling of [[DigestStore]] (incremental exact dedup) and
  * [[IvfIndex]] (persistent ANN): each cycle sketches ONLY the new
  * increment and merges it with the stored sketch, so "distinct URLs /
  * documents seen so far" stays queryable at any point of a long crawl
  * without ever re-reading history — the store holds k hashes, not the
  * distinct universe.
  *
  * Layout: `meta/` holds one (k, portable) row written at init — update
  * cycles READ the parameters instead of trusting callers to repeat them,
  * so a crawl driver cannot silently merge sketches built under different
  * k or hash modes (the [[IvfIndex]] frozen-quantizer discipline applied
  * to sketch parameters). Each cycle writes the merged sketch as an
  * immutable `inc=<n>/` directory (retry-safe, auditable); `load` reads
  * the HIGHEST increment — unlike [[DigestStore]] the history does not
  * accumulate into the read path, because a merged KMV sketch REPLACES
  * its predecessor.
  */
object SketchStore {

  /** Create a store at `path`: parameters in `meta/`, an empty sketch as
    * increment 0. */
  def init(spark: SparkSession, path: String, k: Int,
      portable: Boolean = false): Unit = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import spark.implicits._
    Seq((k, portable)).toDF("k", "portable")
      .write.mode("overwrite").parquet(s"$path/meta")
    Seq.empty[Long].toDF("h").write.mode("overwrite").parquet(s"$path/inc=0")
  }

  /** The stored (k, portable) parameters. */
  def params(spark: SparkSession, path: String): (Int, Boolean) = {
    val r = Parquet.read(spark, s"$path/meta").head()
    (r.getInt(0), r.getBoolean(1))
  }

  private def latestInc(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incs = fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("inc=") => s.drop(4).toInt }
    require(incs.nonEmpty, s"no increments at $path — call init first")
    incs.max
  }

  /** The current sketch: the highest increment's k smallest hashes. */
  def load(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, s"$path/inc=" + latestInc(spark, path))

  /** One crawl cycle: sketch the new increment only, merge with the
    * stored sketch under the stored parameters, write the result as
    * increment `inc`, and return it. `inc` must advance monotonically
    * (enforced against the store, so a retried driver can't write a stale
    * cycle over a newer one). */
  def updateCycle(spark: SparkSession, path: String, inc: Int,
      df: DataFrame, c: org.apache.spark.sql.Column): DataFrame = {
    val last = latestInc(spark, path)
    require(inc > last, s"increment $inc must advance past the stored $last")
    val (k, portable) = params(spark, path)
    val merged = Sketches.kmvMerge(
      load(spark, path), Sketches.kmvSketch(df, c, k, portable), k)
    merged.write.mode("overwrite").parquet(s"$path/inc=$inc")
    Parquet.read(spark, s"$path/inc=$inc")
  }

  /** Distinct-count estimate from the current sketch, under the stored
    * parameters. Driver-side action. */
  def estimate(spark: SparkSession, path: String): Double = {
    val (k, portable) = params(spark, path)
    Sketches.kmvEstimate(load(spark, path), k, portable)
  }

  /** Retention: delete all but the newest `keepLast` increments (a merged
    * sketch REPLACES its predecessor; old increments are audit trail). The
    * counter stays monotone, so the stale-write guard keeps holding.
    * Returns the deleted increment numbers. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Seq[Int] =
    StoreOps.vacuum(spark, path, keepLast)
}
