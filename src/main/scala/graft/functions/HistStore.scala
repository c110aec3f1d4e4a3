package graft.functions

import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Persistent frozen-grid histogram store — crawl-cycle distribution
  * tracking (the quantile sibling of [[SketchStore]]): each cycle
  * histograms ONLY its increment and bin-wise-sums it with the stored
  * state, so "the corpus quantiles so far" stay queryable at any point of
  * a long crawl without re-reading history. Exact algebra: unlike the
  * probabilistic sketches, bin-sum merge loses NOTHING — two cycles
  * compose to the bit-identical histogram of the union.
  *
  * Layout and discipline are [[SketchStore]]'s: `meta/` freezes
  * (bins, lo, hi) at init (update cycles READ the grid instead of trusting
  * callers — histograms on different grids must never merge), each cycle
  * writes the merged state as an immutable `inc=<n>/` directory, `load`
  * reads the highest increment (merged state REPLACES its predecessor).
  */
object HistStore {

  /** Create a store: the frozen grid in `meta/`, an empty histogram as
    * increment 0. */
  def init(spark: SparkSession, path: String, bins: Int, lo: Double,
      hi: Double): Unit = {
    require(bins >= 2 && hi > lo, "need bins >= 2 and hi > lo")
    import spark.implicits._
    Seq((bins, lo, hi)).toDF("bins", "lo", "hi")
      .write.mode("overwrite").parquet(s"$path/meta")
    Seq.empty[(Long, Long)].toDF("bin", "cnt")
      .write.mode("overwrite").parquet(s"$path/inc=0")
  }

  /** The frozen (bins, lo, hi) grid. */
  def params(spark: SparkSession, path: String): (Int, Double, Double) = {
    val r = Parquet.read(spark, s"$path/meta").head()
    (r.getInt(0), r.getDouble(1), r.getDouble(2))
  }

  private def latestInc(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incs = fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("inc=") => s.drop(4).toInt }
    require(incs.nonEmpty, s"no increments at $path — call init first")
    incs.max
  }

  /** The current (bin, cnt) state. */
  def load(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, s"$path/inc=" + latestInc(spark, path))

  /** One crawl cycle: histogram the increment only on the STORED grid,
    * bin-wise-sum with the stored state, write as increment `inc` (must
    * advance monotonically — a retried driver can't overwrite a newer
    * cycle with a stale one). */
  def updateCycle(spark: SparkSession, path: String, inc: Int,
      df: DataFrame, c: Column): DataFrame = {
    val last = latestInc(spark, path)
    require(inc > last, s"increment $inc must advance past the stored $last")
    val (bins, lo, hi) = params(spark, path)
    val merged = Sketches.histogramMerge(
      load(spark, path), Sketches.histogram(df, c, bins, lo, hi))
    merged.write.mode("overwrite").parquet(s"$path/inc=$inc")
    Parquet.read(spark, s"$path/inc=$inc")
  }

  /** Interpolated quantiles of the current state, under the stored grid.
    * (One tiny task over the ≤ bins-row sketch.) */
  def quantiles(spark: SparkSession, path: String,
      probs: Seq[Double]): DataFrame = {
    val (bins, lo, hi) = params(spark, path)
    Sketches.histogramQuantiles(load(spark, path), bins, lo, hi, probs)
  }

  /** Retention: delete all but the newest `keepLast` increments (merged
    * state REPLACES its predecessor, so old increments are audit trail
    * only). The increment counter stays monotone — `updateCycle`'s
    * stale-write guard keeps holding after a vacuum. Returns the deleted
    * increment numbers. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Seq[Int] =
    StoreOps.vacuum(spark, path, keepLast)
}

/** Shared increment-directory retention for the replace-style stores
  * ([[SketchStore]], [[HistStore]] — NOT [[DigestStore]], whose history IS
  * the data). */
private[functions] object StoreOps {
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the newest increment")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incs = fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("inc=") => s.drop(4).toInt }
      .sorted
    val drop = incs.dropRight(keepLast)
    drop.foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"inc=$i"), true); ()
    }
    drop.toSeq
  }
}
