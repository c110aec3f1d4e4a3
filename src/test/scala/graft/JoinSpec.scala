package graft

import graft.api._

/** Golden join tests mirroring the reference doctests
  * (reference: src/operator/join/mod.rs:99-113, 149-161, 196-210:
  * streams 0..5 and 0..4 with keyers n%2 — hand-computed pairs). */
class JoinSpec extends SparkSpec {
  test("inner join with keyers (reference join doctest shape)") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq(0, 1, 2, 3, 4))
    val b = ctx.streamIter(Seq(0, 1, 2))
    val r = a.joinWith(b)(_ % 2, _ % 2).inner.collectVec()
      .map { case (k, (x, y)) => (k, x, y) }.sorted
    // key 0: {0,2,4}×{0,2}; key 1: {1,3}×{1}
    assert(r == Seq((0, 0, 0), (0, 0, 2), (0, 2, 0), (0, 2, 2), (0, 4, 0), (0, 4, 2),
                    (1, 1, 1), (1, 3, 1)))
  }

  test("left outer join yields None for unmatched") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq(1, 2))
    val b = ctx.streamIter(Seq(4))
    val r = a.joinWith(b)(_ % 2, _ % 2).leftOuter.collectVec()
      .map { case (k, (x, oy)) => (k, x, oy) }.sortBy(t => (t._1, t._2))
    assert(r == Seq((0, 2, Some(4)), (1, 1, None)))
  }

  test("full outer join yields None on both sides") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq(1))     // key 1 only
    val b = ctx.streamIter(Seq(2))     // key 0 only
    val r = a.joinWith(b)(_ % 2, _ % 2).fullOuter.collectVec()
      .map { case (k, (ox, oy)) => (k, ox, oy) }.sortBy(_._1)
    assert(r == Seq((0, None, Some(2)), (1, Some(1), None)))
  }

  test("broadcast-right ship strategy gives identical results") {
    val s = imp
    import s._
    val a = ctx.streamRange(20)
    val b = ctx.streamRange(6)
    val hash = a.joinWith(b)(_ % 3, _ % 3).shipHash.inner.collectVec().sorted
    val bc = a.joinWith(b)(_ % 3, _ % 3).shipBroadcastRight.inner.collectVec().sorted
    assert(hash == bc && hash.nonEmpty)
  }

  test("keyed co-partitioned join") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq((1, "a"), (2, "b"))).keyBy(_._1).map(_._2)
    val b = ctx.streamIter(Seq((1, 10), (3, 30))).keyBy(_._1).map(_._2)
    val r = Joins.keyedJoin(a, b).collectVec()
    assert(r == Seq((1, ("a", 10))))
  }

  test("interval join: ts2 in [ts1-lower, ts1+upper], output ts = max") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq((0, ("x", 100L)))).keyBy(_._1).map(_._2)
    val b = ctx.streamIter(Seq((0, ("near", 104L)), (0, ("far", 200L)),
      (0, ("early", 96L)), (0, ("tooearly", 80L)))).keyBy(_._1).map(_._2)
    val r = Joins.intervalJoin(a, b)(_._2, _._2)(5L, 5L).collectVec()
      .map { case (k, (ts, x, y)) => (y._1, ts) }.sorted
    assert(r == Seq(("early", 100L), ("near", 104L)))
  }

  test("interval join plan: residual inside the join condition, no typed filter") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq((0, ("x", 100L)), (1, ("y", 50L)))).keyBy(_._1).map(_._2)
    val b = ctx.streamIter(Seq((0, ("p", 104L)), (1, ("q", 500L)))).keyBy(_._1).map(_._2)
    val opt = Joins.intervalJoin(a, b)(_._2, _._2)(5L, 5L)
      .ds.queryExecution.optimizedPlan
    // the round-4 shape filtered joined pairs through an opaque closure —
    // every pair paid deserialization and the range was invisible to
    // Catalyst. Pin: no TypedFilter anywhere, and the Join node itself
    // carries the two-sided range residual.
    assert(!opt.toString.contains("TypedFilter"),
      s"typed post-join filter survived:\n$opt")
    val joinConds = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.toString).getOrElse("")
    }
    assert(joinConds.exists(c => c.contains(">=") && c.contains("<=")),
      s"range residual not in the join condition: $joinConds\n$opt")
  }

  test("intersect / except (additive set ops)") {
    val s = imp
    import s._
    val a = ctx.streamIter(Seq(1, 2, 3, 4))
    val b = ctx.streamIter(Seq(3, 4, 5))
    assert(a.intersect(b).collectVec().sorted == Seq(3, 4))
    assert(a.except(b).collectVec().sorted == Seq(1, 2))
  }

  test("tpch5 plan: date filter pushed into the orders scan, no cartesian") {
    val df = Queries.q_tpch5(spark, "/root/testdata/sf0.001")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("GreaterThanOrEqual(o_orderdate"),
      s"date lower bound must reach the parquet scan:\n$formatted")
    assert(formatted.contains("LessThan(o_orderdate"),
      s"date upper bound must reach the parquet scan:\n$formatted")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"six-table join must stay equi-join only:\n$physical")
  }

  test("addTimestamps / reorder / dropTimestamps round-trip") {
    val s = imp
    import s._
    val tagged = ctx.streamIter(Seq("b", "a", "c")).addTimestamps {
      case "a" => 1L; case "b" => 2L; case _ => 3L
    }
    val back = tagged.reorder.dropTimestamps.collectVec()
    assert(back.sorted == Seq("a", "b", "c"))
  }
}
