package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** Closed-form as-of join semantics: backward/forward direction, inclusive
  * equal-ts match, left-outer nulls, tolerance gate, tie-break, and the
  * one-shuffle plan shape (no Cartesian/range-join candidate blow-up). */
class AsOfJoinSpec extends SparkSpec {
  private def quotes = {
    val s = spark
    import s.implicits._
    // key, ts, px
    Seq(("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 3.0),
        ("b", 15L, 9.0)).toDF("k", "q_ts", "px")
  }
  private def trades = {
    val s = spark
    import s.implicits._
    // key, ts, trade id
    Seq(("a", 5L, 1), ("a", 20L, 2), ("a", 25L, 3), ("a", 99L, 4),
        ("b", 14L, 5), ("c", 50L, 6)).toDF("k", "t_ts", "tid")
  }

  test("backward: latest quote at-or-before each trade, inclusive ties") {
    val r = AsOfJoin.backward(trades, quotes, Seq("k"), "t_ts", "q_ts")
      .select("tid", "q_ts", "px").collect()
      .map(x => (x.getInt(0),
        if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) -1.0 else x.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(r == Seq(
      (1, -1L, -1.0),  // trade before any quote → no match
      (2, 20L, 2.0),   // equal ts matches (inclusive)
      (3, 20L, 2.0),   // latest at-or-before 25
      (4, 30L, 3.0),   // far future trade still sees last quote
      (5, -1L, -1.0),  // b quote is at 15 > 14
      (6, -1L, -1.0))) // key with no quotes at all
  }

  test("forward: earliest quote at-or-after each trade") {
    val r = AsOfJoin.forward(trades, quotes, Seq("k"), "t_ts", "q_ts")
      .select("tid", "q_ts").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .sortBy(_._1).toSeq
    assert(r == Seq((1, 10L), (2, 20L), (3, 30L), (4, -1L), (5, 15L), (6, -1L)))
  }

  test("tolerance nulls out matches further than the bound") {
    val r = AsOfJoin.backward(trades, quotes, Seq("k"), "t_ts", "q_ts",
        tolerance = Some(lit(5L)))
      .select("tid", "q_ts").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .sortBy(_._1).toSeq
    // trade 3 at 25: quote 20 is within 5; trade 4 at 99: quote 30 is 69 away
    assert(r == Seq((1, -1L), (2, 20L), (3, 20L), (4, -1L), (5, -1L), (6, -1L)))
  }

  test("tie-break picks the greatest tiebreak column at equal (key, ts)") {
    val s = spark
    import s.implicits._
    val right = Seq(("a", 10L, 1, "lo"), ("a", 10L, 7, "hi"))
      .toDF("k", "q_ts", "seq", "tag")
    val left = Seq(("a", 12L, 99)).toDF("k", "t_ts", "tid")
    val r = AsOfJoin.backward(left, right, Seq("k"), "t_ts", "q_ts",
        tieBreak = Seq("seq"))
      .select("tag").collect().map(_.getString(0)).toSeq
    assert(r == Seq("hi"))
    // forward direction applies the SAME rule (the ts ordering flips, the
    // tieBreak ordering must not): greatest seq wins here too
    val leftFwd = Seq(("a", 5L, 99)).toDF("k", "t_ts", "tid")
    val f = AsOfJoin.forward(leftFwd, right, Seq("k"), "t_ts", "q_ts",
        tieBreak = Seq("seq"))
      .select("tag").collect().map(_.getString(0)).toSeq
    assert(f == Seq("hi"))
  }

  test("nearest: closest quote either direction, tie resolves backward") {
    val r = AsOfJoin.nearest(trades, quotes, Seq("k"), "t_ts", "q_ts")
      .select("tid", "q_ts").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .sortBy(_._1).toSeq
    assert(r == Seq(
      (1, 10L),  // only forward exists (5 → 10)
      (2, 20L),  // exact hit
      (3, 20L),  // 25: back 20 (d=5) vs fwd 30 (d=5) — tie → backward
      (4, 30L),  // only backward exists
      (5, 15L),  // 14: fwd 15 (d=1), no backward
      (6, -1L))) // key with no quotes
  }

  test("nearest: tolerance bounds the absolute distance") {
    val r = AsOfJoin.nearest(trades, quotes, Seq("k"), "t_ts", "q_ts",
        tolerance = Some(lit(4L)))
      .select("tid", "q_ts").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
      .sortBy(_._1).toSeq
    // trade 1 at 5: nearest quote 10 is 5 away > 4 → null; trade 3 at 25:
    // chosen backward 20 is 5 away → null; trade 5 at 14: 15 is 1 away → ok
    assert(r == Seq((1, -1L), (2, 20L), (3, -1L), (4, -1L), (5, 15L), (6, -1L)))
  }

  test("nearest plan: both directional windows share ONE key Exchange") {
    val plan = AsOfJoin.nearest(trades, quotes, Seq("k"), "t_ts", "q_ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nearest as-of must not plan a quadratic join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shared key shuffle, got $exchanges:\n$plan")
  }

  test("plan: one Exchange on the key, window over sort — no join node") {
    val plan = AsOfJoin.backward(trades, quotes, Seq("k"), "t_ts", "q_ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a quadratic join:\n$plan")
    assert(plan.contains("Window"), s"expected a window lowering:\n$plan")
    // exactly one shuffle: the hashpartitioning on the key for the window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 key shuffle, got $exchanges:\n$plan")
  }
}
