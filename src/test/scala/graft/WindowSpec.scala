package graft

import graft.api._
import graft.api.WindowDescr._

/** Golden tests for the typed window descriptors, mirroring the reference's
  * window tests (reference: tests/window/, src/operator/window/descr/ unit
  * tests — closed-form expected window contents). */
class WindowSpec extends SparkSpec {
  test("CountWindow.sliding(3,2) exact over 0..10 keyed by %2") {
    val s = imp
    import s._
    val r = ctx.streamRange(10).groupBy(_ % 2)
      .window(CountWindow.sliding[Long, Long](3, 2)(identity))
      .sum(identity[Long])
      .collectVec().sorted
    // key 0: [0,2,4],[4,6,8] ; key 1: [1,3,5],[5,7,9]
    assert(r == Seq((0L, 6L), (0L, 18L), (1L, 9L), (1L, 21L)))
  }

  test("CountWindow tumbling inexact emits first trailing partial window") {
    val s = imp
    import s._
    val r = ctx.streamRange(10).groupBy(_ % 2)
      .window(CountWindow[Long, Long](2, 2, exact = false, identity))
      .sum(identity[Long])
      .collectVec().sorted
    // key 0: [0,2],[4,6],[8] ; key 1: [1,3],[5,7],[9]
    assert(r == Seq((0L, 2L), (0L, 8L), (0L, 10L), (1L, 4L), (1L, 9L), (1L, 12L)))
  }

  test("LastKWindow(3) emits one window per element") {
    val s = imp
    import s._
    val r = ctx.streamIter(Seq(0L, 2L, 4L, 6L, 8L)).groupBy(_ => 0)
      .window(LastKWindow[Long, Long](3, identity))
      .sum(identity[Long])
      .collectVec().map(_._2).sorted
    // [0],[0,2],[0,2,4],[2,4,6],[4,6,8]
    assert(r == Seq(0L, 2L, 6L, 12L, 18L))
  }

  test("degenerate window parameters fail fast at construction") {
    // k <= 0 would emit EMPTY windows and blow up head-reading aggregators
    // deep inside an executor stage; gapMs <= 0 would make one session per
    // element with colliding session ids that windowJoin silently drops
    intercept[IllegalArgumentException](LastKWindow[Long, Long](0, identity))
    intercept[IllegalArgumentException](LastKWindow[Long, Long](-1, identity))
    intercept[IllegalArgumentException](SessionWindow[Long](0L, identity))
    intercept[IllegalArgumentException](SessionWindow[Long](-5L, identity))
  }

  test("EventTimeWindow tumbling assigns by timestamp") {
    val s = imp
    import s._
    val data = Seq((0L, 1.0), (5L, 2.0), (10L, 3.0), (14L, 4.0), (20L, 5.0))
    val r = ctx.streamIter(data).groupBy(_ => 0)
      .window(EventTimeWindow.tumbling[(Long, Double)](10)(_._1))
      .sum(_._2)
      .collectVec().map(_._2).sorted
    assert(r == Seq(3.0, 5.0, 7.0)) // [0,5],[10,14],[20]
  }

  test("EventTimeWindow sliding(10,5) double-assigns") {
    val s = imp
    import s._
    val data = Seq((0L, 1.0), (5L, 2.0), (12L, 3.0))
    val r = ctx.streamIter(data).groupBy(_ => 0)
      .window(EventTimeWindow.sliding[(Long, Double)](10, 5)(_._1))
      .sum(_._2)
      .collectVec().map(_._2)
    // windows: start -5:[0], 0:[0,5], 5:[5,12], 10:[12]
    assert(r.sorted == Seq(1.0, 3.0, 3.0, 5.0))
  }

  test("SessionWindow(gap=5) splits on gaps >= 5") {
    val s = imp
    import s._
    val data = Seq(0L, 1L, 2L, 10L, 11L, 25L).map(t => (t, 1))
    val r = ctx.streamIter(data).groupBy(_ => 0)
      .window(SessionWindow[(Long, Int)](5, _._1))
      .count
      .collectVec().map(_._2).sorted
    assert(r == Seq(1L, 2L, 3L))
  }

  test("AllWindow aggregates everything; first/last/nth/toVec/maxBy") {
    val s = imp
    import s._
    val data = Seq((0L, "a"), (1L, "b"), (2L, "c"))
    val ws = ctx.streamIter(data).groupBy(_ => 0)
      .window(CountWindow.tumbling[(Long, String), Long](3)(_._1))
    assert(ws.first.collectVec().map(_._2) == Seq((0L, "a")))
    assert(ws.last.collectVec().map(_._2) == Seq((2L, "c")))
    assert(ws.nth(1).collectVec().map(_._2) == Seq(Some((1L, "b"))))
    assert(ws.toVec.collectVec().head._2.map(_._2) == Seq("a", "b", "c"))
    assert(ws.maxBy(_._1).collectVec().map(_._2) == Seq((2L, "c")))
    val all = ctx.streamRange(5).windowAll(AllWindow[Long]()).sum(identity[Long])
      .collectVec().map(_._2)
    assert(all == Seq(10L))
  }

  test("foldFirst folds seeded by the first element (reference aggr/fold.rs:142)") {
    val s = imp
    import s._
    // per window [0,2,4] and [4,6,8]: first-seeded left fold of (a,v)=>a*10+v
    val r = ctx.streamIter(Seq(0L, 2L, 4L, 6L, 8L)).groupBy(_ => 0)
      .window(CountWindow.sliding[Long, Long](3, 2)(identity))
      .foldFirst((a, v) => a * 10 + v)
      .collectVec().map(_._2).sorted
    assert(r == Seq(24L, 468L)) // (0*10+2)*10+4 ; (4*10+6)*10+8
    // singleton window: the seed IS the result, f never runs
    val one = ctx.streamIter(Seq(7L)).groupBy(_ => 0)
      .window(AllWindow[Long]())
      .foldFirst((_, _) => sys.error("must not be called"): Long)
      .collectVec().map(_._2)
    assert(one == Seq(7L))
    // foldFirst ≡ reduceLeft: cross-check against fold(head)(f) shape
    val viaFold = ctx.streamIter(Seq(0L, 2L, 4L, 6L, 8L)).groupBy(_ => 0)
      .window(CountWindow.sliding[Long, Long](3, 2)(identity))
      .fold(Seq.empty[Long])((acc, v) => acc :+ v)
      .collectVec().map { case (_, w) => w.reduceLeft((a, v) => a * 10 + v) }.sorted
    assert(r == viaFold)
  }

  test("toColumnar transposes a window into struct-of-arrays (reference aggr/columnar.rs:51)") {
    val s = imp
    import s._
    val data = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
    val ws = ctx.streamIter(data).groupBy(_._1 % 2)
      .window(CountWindow.tumbling[(Long, String), Long](2)(_._1))
    val cols = ws.toColumnar[(Seq[Long], Seq[String])].collectVec().sortBy(_._1)
    assert(cols == Seq(
      (0L, (Seq(0L, 2L), Seq("a", "c"))),
      (1L, (Seq(1L, 3L), Seq("b", "d")))))
    // scalar elements degrade to the single-column layout ≡ toVec
    val scalarCols = ctx.streamRange(4).groupBy(_ % 2)
      .window(CountWindow.tumbling[Long, Long](2)(identity))
      .toColumnar[Seq[Long]].collectVec().sortBy(_._1)
    assert(scalarCols == Seq((0L, Seq(0L, 2L)), (1L, Seq(1L, 3L))))
    // triple elements
    val t3 = ctx.streamIter(Seq((1L, "x", 0.5), (2L, "y", 1.5))).groupBy(_ => 0)
      .window(AllWindow[(Long, String, Double)]())
      .toColumnar[(Seq[Long], Seq[String], Seq[Double])].collectVec().map(_._2)
    assert(t3 == Seq((Seq(1L, 2L), Seq("x", "y"), Seq(0.5, 1.5))))
  }

  test("TransactionWindow: Commit / Discard / CommitAfter") {
    val s = imp
    import s._
    // commit every time v % 5 == 4 → [0..4],[5..9]
    val commits = ctx.streamRange(10).groupBy(_ => 0)
      .window(TransactionWindow[Long, Long](
        v => if (v % 5 == 4) Commit else Continue, identity, identity))
      .sum(identity[Long]).collectVec().map(_._2).sorted
    assert(commits == Seq(10L, 35L))

    // discard at 3, commit at 9 → [4..9] only
    val disc = ctx.streamRange(10).groupBy(_ => 0)
      .window(TransactionWindow[Long, Long](
        v => if (v == 3) Discard else if (v == 9) Commit else Continue, identity, identity))
      .sum(identity[Long]).collectVec().map(_._2)
    assert(disc == Seq(39L))

    // CommitAfter(5) at v=2 → committed when 6 arrives: [0..5]
    val after = ctx.streamRange(10).groupBy(_ => 0)
      .window(TransactionWindow[Long, Long](
        v => if (v == 2) CommitAfter(5L) else Continue, identity, identity))
      .sum(identity[Long]).collectVec().map(_._2)
    assert(after == Seq(15L))
  }

  test("incremental event-time accumulators: hot key, results equal the collect path") {
    val s = imp
    import s._
    // one hot key with 200k elements across 20 sliding windows: the
    // incremental path holds O(#windows) accumulators, not the 200k
    // elements the collect path would materialize
    val n = 200000L
    val descr = EventTimeWindow.sliding[Long](20000, 10000)(identity)
    assert(descr.elementWindows.isDefined)
    val ks = ctx.streamRange(n).groupBy(_ => 0L)
    val inc = ks.window(descr).sum(identity[Long]).collectVec().sorted
    // collect-path equivalent via the order-preserving general fold
    val ref = ks.window(descr).fold(0L)(_ + _).collectVec().sorted
    assert(inc == ref)
    val incMin = ks.window(descr).min(identity[Long]).collectVec().sorted
    val incMax = ks.window(descr).max(identity[Long]).collectVec().sorted
    val incCnt = ks.window(descr).count.collectVec().sorted
    // closed forms: window [s, s+20000) holds ids s..s+19999 (clamped)
    val starts = (0L until n by 10000L) ++ Seq(-10000L)
    def ids(st: Long) = (math.max(0L, st) until math.min(n, st + 20000L))
    val expMin = starts.filter(st => ids(st).nonEmpty).map(st => (0L, ids(st).head)).sorted
    val expMax = starts.filter(st => ids(st).nonEmpty).map(st => (0L, ids(st).last)).sorted
    val expCnt = starts.filter(st => ids(st).nonEmpty)
      .map(st => (0L, ids(st).size.toLong)).sorted
    assert(incMin == expMin && incMax == expMax && incCnt == expCnt)
  }

  test("windowJoin aligns event-time windows by identity, not position") {
    val s = imp
    import s._
    // left has data in windows [0,10) and [20,30); right only in [20,30):
    // positional pairing would wrongly join left-[0,10) with right-[20,30)
    val left = ctx.streamIter(Seq((1L, "a"), (21L, "b"))).groupBy(_ => 0)
    val right = ctx.streamIter(Seq((22L, "x"))).groupBy(_ => 0)
    val joined = left.window(EventTimeWindow.tumbling[(Long, String)](10)(_._1))
      .windowJoin(right, EventTimeWindow.tumbling[(Long, String)](10)(_._1))
      .collectVec().map { case (_, (l, r)) => (l._2, r._2) }
    assert(joined == Seq(("b", "x")))
  }

  test("windowJoin: per-window cartesian") {
    val s = imp
    import s._
    val left = ctx.streamIter(Seq(1, 2, 3, 4)).groupBy(_ => 0)
    val right = ctx.streamIter(Seq(10, 20, 30, 40)).groupBy(_ => 0)
    val joined = left.window(CountWindow.tumbling[Int, Int](2)(identity))
      .windowJoin(right, CountWindow.tumbling[Int, Int](2)(identity))
      .collectVec().map(_._2).sorted
    // window0: [1,2]x[10,20], window1: [3,4]x[30,40]
    assert(joined == Seq((1, 10), (1, 20), (2, 10), (2, 20),
                         (3, 30), (3, 40), (4, 30), (4, 40)))
  }
}
