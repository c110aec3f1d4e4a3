package graft

import graft.api._

/** Closed-form golden tests mirroring the reference's per-operator test style
  * (reference: tests/aggregators.rs:6-52 etc. — sorted-collect equality
  * against hand-computed values). */
class FacadeSpec extends SparkSpec {
  test("map / filter / flatMap / filterMap") {
    val s = imp
    import s._
    val r = ctx.streamRange(10).map(_ * 2).filter(_ % 3 == 0).collectVec().sorted
    assert(r == Seq(0L, 6L, 12L, 18L))
    val fm = ctx.streamRange(3).flatMap(x => Seq(x, x + 10)).collectVec().sorted
    assert(fm == Seq(0L, 1L, 2L, 10L, 11L, 12L))
    val om = ctx.streamRange(5).filterMap(x => if (x % 2 == 0) Some(x * 100) else None)
      .collectVec().sorted
    assert(om == Seq(0L, 200L, 400L))
  }

  test("group_by_sum over 0..10 keyed by %2 — reference tests/aggregators.rs golden") {
    val s = imp
    import s._
    val r = ctx.streamRange(10).groupBy(_ % 2).sum(identity[Long]).collectVec().sorted
    assert(r == Seq((0L, 20L), (1L, 25L)))
  }

  test("keyed count / avg / maxElement / minElement") {
    val s = imp
    import s._
    val ks = ctx.streamRange(10).groupBy(_ % 3)
    assert(ks.count.collectVec().sorted == Seq((0L, 4L), (1L, 3L), (2L, 3L)))
    val avg = ctx.streamRange(4).groupBy(_ % 2).avg(_.toDouble).collectVec().sorted
    assert(avg == Seq((0L, 1.0), (1L, 2.0)))
    val mx = ctx.streamRange(10).groupBy(_ % 2).maxElement(identity[Long]).collectVec().sorted
    assert(mx == Seq((0L, 8L), (1L, 9L)))
    val mn = ctx.streamRange(10).groupBy(_ % 2).minElement(identity[Long]).collectVec().sorted
    assert(mn == Seq((0L, 0L), (1L, 1L)))
  }

  test("fold (sequential) and foldAssoc (partial+final) agree") {
    val s = imp
    import s._
    val seqFold = ctx.streamRange(100).fold(0L)(_ + _).collectVec()
    val assocFold = ctx.streamRange(100).foldAssoc(0L)(_ + _, _ + _).collectVec()
    assert(seqFold == Seq(4950L) && assocFold == Seq(4950L))
    val red = ctx.streamRange(100).reduceAssoc(math.max).collectVec()
    assert(red == Seq(99L))
  }

  test("keyed fold via Aggregator (partial-agg path)") {
    val s = imp
    import s._
    val r = ctx.streamRange(10).groupBy(_ % 2)
      .fold(0L)((acc, v) => acc + v * v, _ + _)
      .collectVec().sorted
    assert(r == Seq((0L, 0L + 4 + 16 + 36 + 64), (1L, 1L + 9 + 25 + 49 + 81)))
  }

  test("foldScan: global aggregate then per-element map") {
    val s = imp
    import s._
    val r = ctx.streamRange(5).foldScan(0L)(_ + _, _ + _)((total, x) => x.toDouble / total)
      .collectVec().sorted
    assert(r == Seq(0.0, 0.1, 0.2, 0.3, 0.4))
  }

  test("reduceScan") {
    val s = imp
    import s._
    val r = ctx.streamRange(5).reduceScan(identity[Long])(math.max)((mx, x) => x - mx)
      .collectVec().sorted
    assert(r == Seq(-4L, -3L, -2L, -1L, 0L))
  }

  test("split: unpersisting one branch keeps the shared cache for siblings") {
    import org.apache.spark.storage.StorageLevel
    val s = imp; import s._
    val branches = ctx.streamRange(100).map(_ * 2).split(3)
    val cachedDs = branches.head.ds // split branches share ONE persisted ds
    assert(branches.head.collectVec().size == 100)
    // releasing two of three branches must NOT evict the shared prefix —
    // for split() the branch ds IS the cached dataset, so a direct
    // ds.unpersist() here would silently degrade the remaining sibling
    branches(0).unpersist()
    branches(1).unpersist()
    assert(cachedDs.storageLevel != StorageLevel.NONE,
      "shared cache evicted while a sibling branch is still live")
    assert(branches(2).collectVec().size == 100)
    // double-unpersist on an already-released branch must not steal the
    // last reference either
    branches(0).unpersist()
    assert(cachedDs.storageLevel != StorageLevel.NONE)
    branches(2).unpersist() // last reference → actually released
    assert(cachedDs.storageLevel == StorageLevel.NONE)
  }

  test("route: cache() actually caches the derived branch; unpersist frees both") {
    import org.apache.spark.storage.StorageLevel
    val s = imp; import s._
    val Seq(evens, odds) = ctx.streamRange(40)
      .route(_ % 2 == 0, _ % 2 == 1)
    // a route() branch is a DERIVED dataset: cache() must persist it (not
    // silently no-op just because a shared handle exists)
    val c = evens.cache()
    assert(c.collectVec().size == 20)
    assert(c.ds.storageLevel != StorageLevel.NONE,
      "cache() on a route branch did not persist the derived dataset")
    // unpersist releases BOTH the branch's own cache and one prefix ref
    val after = c.unpersist()
    assert(after.ds.storageLevel == StorageLevel.NONE)
    assert(odds.collectVec().size == 20) // sibling still functional
    odds.unpersist()
  }

  test("foldAssoc: non-commutative (associative) combine is partition-ordered") {
    val s = imp; import s._
    // string concatenation is associative but NOT commutative — the global
    // combine must fold partials in partition-index order, not shuffle
    // arrival order, and repeat runs must agree
    val runs = (1 to 3).map { _ =>
      ctx.streamParIter(Seq("a", "b", "c", "d", "e", "f"), 3)
        .map(identity)
        .foldAssoc("")((acc, x) => acc + x, (x, y) => x + y)
        .collectVec().head
    }
    assert(runs.distinct.size == 1, s"nondeterministic combine: $runs")
    assert(runs.head.sorted == "abcdef", runs.head)
  }

  test("split: cache() on a branch keeps the shared-cache handle") {
    import org.apache.spark.storage.StorageLevel
    val s = imp; import s._
    val branches = ctx.streamRange(50).map(_ + 1).split(2)
    val cachedDs = branches.head.ds
    assert(branches.head.collectVec().size == 50)
    // cache() on a branch head must propagate the handle: unpersisting the
    // cached alias releases ONE reference, not the whole shared prefix
    branches(0).cache().unpersist()
    assert(cachedDs.storageLevel != StorageLevel.NONE,
      "cache() dropped the shared handle — unpersist bypassed the refcount")
    branches(1).unpersist() // last reference → actually released
    assert(cachedDs.storageLevel == StorageLevel.NONE)
  }

  test("uniqueAssoc / merge / route") {
    val s = imp
    import s._
    val u = ctx.streamIter(Seq(1, 1, 2, 3, 3, 3)).uniqueAssoc().collectVec().sorted
    assert(u == Seq(1, 2, 3))
    val m = ctx.streamIter(Seq(1, 2)).merge(ctx.streamIter(Seq(3))).collectVec().sorted
    assert(m == Seq(1, 2, 3))
    val routes = ctx.streamRange(10).route(_ < 3, _ < 7)
    assert(routes(0).collectVec().sorted == Seq(0L, 1L, 2L))
    assert(routes(1).collectVec().sorted == Seq(3L, 4L, 5L, 6L)) // first-match-wins
  }

  test("zip pairs in partition order") {
    val s = imp
    import s._
    val z = ctx.streamIter(Seq("a", "b", "c")).zip(ctx.streamRange(3)).collectVec()
    assert(z.map(_._1).sorted == Seq("a", "b", "c") && z.map(_._2).sorted == Seq(0L, 1L, 2L))
  }

  test("richMap per-partition state and mapMemo") {
    val s = imp
    import s._
    // per-partition counter: every partition starts at 0 — state is created
    // inside the partition, never serialized stale
    val counts = ctx.streamRange(8, Some(2))
      .richMap(() => new java.util.concurrent.atomic.AtomicLong())((st, _) => st.incrementAndGet())
      .collectVec()
    assert(counts.count(_ == 1L) == 2) // two partitions each saw a first element
    val memo = ctx.streamIter(Seq(1, 1, 2, 2, 3)).mapMemo(10)(_ * 2).collectVec().sorted
    assert(memo == Seq(2, 2, 4, 4, 6))
  }

  test("keyed rich variants and collectTo") {
    val s = imp
    import s._
    val ks = ctx.streamRange(6).keyBy(_ % 2)
    // per-key running index: state is fresh per key
    val fm = ks.richFlatMapPerKey(() => new java.util.concurrent.atomic.AtomicLong())(
      (st, v) => Seq(st.getAndIncrement())).collectVec().sorted
    assert(fm == Seq((0L, 0L), (0L, 1L), (0L, 2L), (1L, 0L), (1L, 1L), (1L, 2L)))
    val filt = ks.richFilterMapPerKey(() => ())((_, v) => if (v >= 4) Some(v) else None)
      .collectVec().sorted
    assert(filt == Seq((0L, 4L), (1L, 5L)))
    val set: Set[Long] = ctx.streamRange(3).collectTo[Set[Long]]
    assert(set == Set(0L, 1L, 2L))
  }

  test("mapAsync preserves order; mapAsyncMemoBy caches") {
    val s = imp
    import s._
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val r = ctx.streamRange(20, Some(1)).mapAsync(4)(x => Future(x * 2)).collectVec()
    assert(r == (0L until 20L).map(_ * 2))
    val memo = ctx.streamIter(Seq(1, 1, 2, 2)).mapAsyncMemoBy(2, 10)(identity)(
      x => Future(x * 10)).collectVec()
    assert(memo.sorted == Seq(10, 10, 20, 20))
  }

  test("toKeyed reinterprets pairs without shuffle") {
    val s = imp
    import s._
    val r = ctx.streamIter(Seq((1, "a"), (2, "b"))).toKeyed.count.collectVec().sorted
    assert(r == Seq((1, 1L), (2, 1L)))
  }

  test("sortedBy / limit / sortedLimitBy") {
    val s = imp
    import s._
    val sorted = ctx.streamIter(Seq(3, 1, 2)).sortedBy(identity[Int]).collectVec()
    assert(sorted == Seq(1, 2, 3))
    assert(ctx.streamRange(100).limit(5).collectVec().size == 5)
    val top = ctx.streamRange(100)
      .sortedLimitBy(3, 0, org.apache.spark.sql.functions.col("id").desc)
      .collectVec()
    assert(top == Seq(99L, 98L, 97L))
  }

  test("keyed topK: k largest per key, descending, bounded buffer") {
    val s = imp
    import s._
    val data = (0 until 100).map(i => (i % 3, i))
    val got = ctx.streamIter(data).toKeyed.topK(4)(identity[Int])
      .collectVec().toMap
    assert(got(0) == Seq(99, 96, 93, 90))
    assert(got(1) == Seq(97, 94, 91, 88))
    assert(got(2) == Seq(98, 95, 92, 89))
    // k larger than the group returns the whole group, still descending
    val small = ctx.streamIter(Seq((1, 5), (1, 9))).toKeyed
      .topK(10)(identity[Int]).collectVec().toMap
    assert(small(1) == Seq(9, 5))
  }
}
