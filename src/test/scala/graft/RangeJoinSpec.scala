package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.functions._

/** Bucketed range join: must equal the naive `between` join on every
  * configuration, never plan a nested-loop/cartesian join, and stay
  * duplicate-free without a distinct. */
class RangeJoinSpec extends SparkSpec {
  def fixtures(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    // points at every 0.5 in [0, 50); intervals of mixed lengths, some
    // empty (hi < lo is generated too via the -3 offset), some negative
    val points = (0 until 100).map(i => (i.toLong, i * 0.5 - 5.0))
      .toDF("p_id", "x")
    val intervals = (0 until 30).map { i =>
      val lo = i * 1.7 - 6.0
      (i.toLong, lo, lo + (i % 5) * 2.0 - 3.0) // lengths -3, -1, +1, +3, +5
    }.toDF("i_id", "lo", "hi")
    (points, intervals)
  }

  def naive(points: org.apache.spark.sql.DataFrame,
      intervals: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    points.join(intervals, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("p_id", "i_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("matches the naive between-join across bin widths") {
    val (points, intervals) = fixtures()
    val expect = naive(points, intervals)
    assert(expect.nonEmpty)
    for (w <- Seq(0.3, 1.0, 2.5, 100.0)) {
      val got = RangeJoin
        .pointInInterval(points, intervals, "x", "lo", "hi", binWidth = w)
        .select("p_id", "i_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"duplicate pairs at binWidth=$w")
      assert(got.toSet == expect, s"mismatch at binWidth=$w")
    }
  }

  test("keyed variant matches the keyed naive join") {
    val (points0, intervals0) = fixtures()
    val points = points0.withColumn("k", (col("p_id") % 3).cast("int"))
    val intervals = intervals0.withColumn("k", (col("i_id") % 3).cast("int"))
    val expect = points.join(intervals,
        points("k") === intervals("k") && col("x") >= col("lo") && col("x") <= col("hi"))
      .select(points("p_id"), intervals("i_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = RangeJoin
      .pointInInterval(points, intervals, "x", "lo", "hi",
        binWidth = 2.0, keys = Seq("k"))
      .select("p_id", "i_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.nonEmpty && got == expect)
  }

  test("plans an equi-join, not a nested-loop/cartesian join") {
    val (points, intervals) = fixtures()
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = RangeJoin
        .pointInInterval(points, intervals, "x", "lo", "hi", binWidth = 2.0)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"range join planned a quadratic join:\n$plan")
      // the naive lowering IS quadratic — pin the contrast so a future
      // Spark version that learns range joins makes this test obsolete
      // loudly rather than silently
      val naivePlan = points
        .join(intervals, col("x") >= col("lo") && col("x") <= col("hi"))
        .queryExecution.executedPlan.toString
      assert(naivePlan.contains("NestedLoop") || naivePlan.contains("Cartesian"))
    }
  }

  test("oversized intervals fail fast instead of exploding") {
    val (points, _) = fixtures()
    import spark.implicits._
    val huge = Seq((1L, 0.0, 1e12)).toDF("i_id", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(points, huge, "x", "lo", "hi",
        binWidth = 0.001, maxBinsPerInterval = 1000).count()
    }
    assert(e.getMessage != null)
  }

  // ---- interval × interval overlap ----

  def overlapFixtures(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    // mixed lengths incl. empty (hi < lo), exact-touch endpoints, nesting
    val l = (0 until 40).map { i =>
      val lo = i * 1.3 - 8.0
      (i.toLong, lo, lo + (i % 6) * 1.5 - 2.0) // lengths -2 .. +5.5
    }.toDF("l_id", "l_lo", "l_hi")
    val r = (0 until 35).map { i =>
      val lo = i * 1.9 - 10.0
      (i.toLong, lo, lo + (i % 4) * 2.5 - 1.0) // lengths -1 .. +6.5
    }.toDF("r_id", "r_lo", "r_hi")
    (l, r)
  }

  test("intervalOverlap matches the naive theta join across bin widths, duplicate-free") {
    val (l, r) = overlapFixtures()
    // degenerate (hi < lo) intervals match nothing — same semantics as
    // pointInInterval; the raw theta condition is meaningless on them
    val expect = l.filter(col("l_hi") >= col("l_lo"))
      .join(r.filter(col("r_hi") >= col("r_lo")),
        col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    for (w <- Seq(0.7, 2.0, 5.0, 50.0)) {
      val rows = RangeJoin.intervalOverlap(l, r, "l_lo", "l_hi", "r_lo", "r_hi",
          binWidth = w)
        .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(rows.length == rows.toSet.size, s"duplicates at binWidth=$w")
      assert(rows.toSet == expect, s"mismatch at binWidth=$w")
    }
  }

  test("intervalOverlap honors equi-keys and exact endpoint touch") {
    import spark.implicits._
    val l = Seq((1L, "u", 0.0, 10.0), (2L, "v", 0.0, 10.0))
      .toDF("l_id", "k", "l_lo", "l_hi")
    val r = Seq((7L, "u", 10.0, 20.0), (8L, "u", 10.000001, 20.0),
        (9L, "v", 30.0, 40.0))
      .toDF("r_id", "k", "r_lo", "r_hi")
    val got = RangeJoin.intervalOverlap(l, r, "l_lo", "l_hi", "r_lo", "r_hi",
        binWidth = 5.0, keys = Seq("k"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // inclusive touch at 10.0 matches; 10.000001 does not; key v blocks 9
    assert(got == Set((1L, 7L)))
  }
}
