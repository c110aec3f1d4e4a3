package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

/** Loud-failure contract for the two driver gates (round-6 verdict #3):
  * a deliberately-broken query must leave a VISIBLE trace in both artifacts
  * — an explicit mismatch row in the correctness pipeline (via Verify's
  * sentinel result) and a `failed` count + name list in the bench JSON —
  * never silently vanish while the artifacts stay "all green".
  */
class GatesSpec extends SparkSpec {
  test("Verify.runOne writes a sentinel result for an erroring query") {
    val out = Files.createTempDirectory("graft-gates").toString
    val broken: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately broken")
    val err = Verify.runOne(spark, out, "q_broken", broken, "/nonexistent")
    assert(err.exists(_.contains("deliberately broken")))
    // the sentinel parquet exists and carries the marker column, so the
    // driver's DuckDB compare records an explicit mismatch for this entry
    val df = spark.read.parquet(s"$out/q_broken")
    assert(df.columns.toSeq == Seq("__graft_query_error"))
    val msg = df.collect().map(_.getString(0)).mkString
    assert(df.count() == 1L && msg.startsWith("QUERY ERRORED:"))
    assert(msg.contains("deliberately broken"))
  }

  test("Verify.runOne leaves a healthy query's result untouched") {
    val out = Files.createTempDirectory("graft-gates-ok").toString
    val fine: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).toDF("id")
    assert(Verify.runOne(spark, out, "q_fine", fine, "/nonexistent").isEmpty)
    assert(spark.read.parquet(s"$out/q_fine").count() == 3L)
  }

  test("Bench.renderArtifacts surfaces -1.0 queries as failed count + names in BOTH artifacts") {
    val results = Seq("q_a" -> 0.5, "q_bad" -> -1.0, "q_c" -> 1.25)
    val (full, stdout, failed) =
      Bench.renderArtifacts(results, repeat = 2, sf = "0.01", fullOut = "BENCH_FULL.json")
    assert(failed == Seq("q_bad"))
    assert(full.contains("\"failed\":1"))
    assert(full.contains("\"failed_queries\":[\"q_bad\"]"))
    assert(full.contains("\"q_bad\":-1.0"))
    assert(stdout.contains("\"failed\":1"))
    // total excludes the failure but the count makes the exclusion visible
    assert(full.contains("\"value\":1.750"))
  }

  test("Bench.renderArtifacts reports failed:0 on a clean run") {
    val (full, stdout, failed) =
      Bench.renderArtifacts(Seq("q_a" -> 0.5), 2, "0.01", "BENCH_FULL.json")
    assert(failed.isEmpty)
    assert(full.contains("\"failed\":0") && full.contains("\"failed_queries\":[]"))
    assert(stdout.contains("\"failed\":0"))
  }
}
