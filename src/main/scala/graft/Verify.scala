package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import Harness.json
/** Driver-run correctness dump: each catalog cell's result (portable
  * hashing) → parquet, plus oracle_sql.json, for the driver's DuckDB
  * compare. */
object Verify {

  /** Runs one catalog query and writes its result parquet; on failure writes
    * a one-row SENTINEL result (a column name no real query uses) so the
    * driver's DuckDB compare still runs and records an explicit mismatch for
    * the entry instead of the entry silently vanishing from CORRECTNESS
    * (round-6 verdict #3). Returns the failure message, if any. Extracted
    * from main so GatesSpec can pin the loud-failure contract. */
  def runOne(spark: SparkSession, outDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      val msg = String.valueOf(e.getMessage).take(500)
      try {
        import spark.implicits._
        Seq(s"QUERY ERRORED: $msg")
          .toDF("__graft_query_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
      Some(msg)
    }

  /** The oracle SQL of the selected cells only, so a compare over the
    * output directory finds a result for every entry. */
  def oracleFor(selected: String => Boolean): Map[String, String] =
    SparkEntry.oracleSql.filter { case (name, _) => selected(name) }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the exact session the bench times, so the oracle sweep proves the
    // recipe result-neutral; GRAFT_MASTER/GRAFT_JARS/GRAFT_STATE_STORE give
    // the multi-JVM and RocksDB legs (see Harness)
    val spark = Harness.session(defaultCores = 4)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // correctness runs the portable (md5-derived) hash mode: the oracle SQL
    // recomputes those exact signatures/buckets. Bench measures the
    // xxhash64 production paths.
    Queries.catalog.filter(c => Harness.selected(c.name)).foreach { c =>
      runOne(spark, outDir, c.name, c.run(_, _, true), sfDir)
        .foreach(failures(c.name) = _)
      // queries that return persisted results would otherwise accumulate
      // cached data across the whole catalog (see the Bench note)
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(oracleFor(Harness.selected)))
    // machine-readable failure manifest next to the results: even a reader
    // that ignores the sentinel parquet sees which entries errored and why
    Files.writeString(Paths.get(s"$outDir/failures.json"), json.writeValueAsString(failures))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
