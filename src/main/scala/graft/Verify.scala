package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
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

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the exact session the bench times, so the oracle sweep proves the
    // recipe result-neutral; GRAFT_MASTER/GRAFT_JARS/GRAFT_STATE_STORE give
    // the multi-JVM and RocksDB legs (see Harness)
    val spark = Harness.session(defaultCores = 4)
    // correctness runs the portable (md5-derived) hash mode: the oracle SQL
    // recomputes those exact signatures/buckets. Bench leaves the flag false
    // and measures the xxhash64 production paths.
    Queries.portableMode = true
    new java.io.File(outDir).mkdirs()
    // local-iteration aid: GRAFT_ONLY=q_a,q_b runs a subset (driver unset → all)
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      runOne(spark, outDir, name, fn, sfDir).foreach(failures(name) = _)
      // queries that return persisted results would otherwise accumulate
      // cached data across the whole catalog (see the Bench note)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure manifest next to the results: even a reader
    // that ignores the sentinel parquet sees which entries errored and why
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
