package graft.examples

import graft.api.{Joins, Stream, StreamContext}

/** Triangle counting in the reference's fold shape (reference:
  * examples/triangles_fold.rs): normalize each edge to (lo, hi), group by the
  * low vertex folding the neighbor list, emit every wedge (v2, v3) with
  * v1 < v2 < v3, and keep the wedges closed by an actual edge. Exercises
  * group_by_fold → flat_map → join → fold_assoc end to end.
  *
  * Scale note: the fold materializes each low-vertex adjacency list — the
  * same memory model as the reference; wedge count is Σ deg(v)², so for
  * power-law graphs the low-vertex normalization (each edge folded at its
  * SMALLER endpoint) is what keeps hub degrees bounded. */
object Triangles {

  /** The count as a (lazy) single-element stream — usable as a catalog
    * query or collected by [[count]]. Feeds the normalized edges to both
    * consumers WITHOUT split()'s cache: a lazy result cannot release a
    * persist, and re-running one narrow map beats leaking session cache
    * ([[countRichMap]] demonstrates the reference's split(2) shape, where
    * eager collection lets it unpersist). */
  def countStream(edges: Stream[(Long, Long)]): Stream[Long] = {
    val s = edges.spark
    import s.implicits._
    val norm = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val e1 = norm
    val e2 = norm
    val wedges = e1.toKeyed[Long, Long]
      .groupByFold(Seq.empty[Long])((acc, v) => v +: acc, _ ++ _)
      .flatMap { case (_, nbrs0) =>
        val nbrs = nbrs0.toIndexedSeq
        for (i <- nbrs.indices; j <- 0 until i) yield
          (math.min(nbrs(i), nbrs(j)), math.max(nbrs(i), nbrs(j)))
      }
    val closed = Joins.joinWith(wedges, e2)(identity, identity).inner
    closed.foldAssoc(0L)((n, _) => n + 1L, _ + _)
  }

  def count(edges: Stream[(Long, Long)]): Long = {
    val counts = countStream(edges).collectVec()
    if (counts.isEmpty) 0L else counts.head
  }

  /** The reference's other formulation (reference:
    * examples/triangles_rich_map.rs): wedges emitted INCREMENTALLY by a
    * stateful per-key rich map — each arriving neighbor pairs with the
    * neighbors seen so far — instead of folding the whole adjacency first.
    * Same wedge multiset, same count; exercises the keyed rich-state path. */
  def countRichMap(edges: Stream[(Long, Long)]): Long = {
    val s = edges.spark
    import s.implicits._
    val norm = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val Seq(e1, e2) = norm.split(2)
    val wedges = e1.toKeyed[Long, Long]
      .richFlatMapPerKey(() => scala.collection.mutable.ArrayBuffer.empty[Long]) {
        (seen, v) =>
          val out = seen.map(u => (math.min(u, v), math.max(u, v))).toSeq
          seen += v
          out
      }
      .dropKey
    val closed = Joins.joinWith(wedges, e2)(identity, identity).inner
    val counts = closed.foldAssoc(0L)((n, _) => n + 1L, _ + _).collectVec()
    // release via the BRANCH handles — norm holds no SharedCacheHandle, so
    // norm.unpersist() would evict the shared prefix directly, bypassing
    // the reference count e1/e2 hold (the Stream.unpersist contract)
    e1.unpersist(); e2.unpersist()
    if (counts.isEmpty) 0L else counts.head
  }

  def main(args: Array[String]): Unit = {
    val spark = StreamContext.localSession(4)
    import spark.implicits._
    val ctx = new StreamContext(spark)
    // two disjoint 4-cliques: C(4,3) * 2 = 8 triangles
    val clique = for (c <- 0 to 1; i <- 0 to 3; j <- 0 until i)
      yield (c * 10 + j.toLong, c * 10 + i.toLong)
    val n = count(ctx.streamIter(clique))
    println(s"triangles\t$n")
    spark.stop()
  }
}
