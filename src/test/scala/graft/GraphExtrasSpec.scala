package graft

import graft.algorithms.Graph
import org.apache.spark.sql.functions._

/** Round-8 graph additions: integer HITS, common-neighbor link
  * prediction, and fixed-point weighted PageRank — closed forms on tiny
  * graphs plus the invariants the fixed-point arithmetic exists for. */
class GraphExtrasSpec extends SparkSpec {
  test("hits: 2-round closed form on a star-plus-chain") {
    val s = spark; import s.implicits._
    // 1 -> {10, 11, 12}; 2 -> {10}. a1 = indegree: a1(10)=2, a1(11)=a1(12)=1.
    // h1(1) = a1(10)+a1(11)+a1(12) = 4; h1(2) = a1(10) = 2.
    // a2(10) = h1(1)+h1(2) = 6; a2(11) = a2(12) = h1(1) = 4.
    // h2(1) = 6+4+4 = 14; h2(2) = 6.
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hits(e, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 14L, 0L), (2L, 6L, 0L),
      (10L, 0L, 6L), (11L, 0L, 4L), (12L, 0L, 4L)))
  }

  test("commonNeighbors: closed form, adjacency excluded, hub cap drops whole") {
    val s = spark; import s.implicits._
    // square 1-2-3-4-1: (1,3) and (2,4) are the non-adjacent diagonals,
    // each with 2 common neighbors, deg 2 everywhere -> jaccard 2/(2+2-2)=1
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.commonNeighbors(sq, maxDegree = 10, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5))).toSet
    assert(got == Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
    // hub 99 over the degree cap: its wedges vanish entirely
    val withHub = sq.union(Seq((99L, 1L), (99L, 2L), (99L, 3L), (99L, 4L),
      (99L, 5L)).toDF("src", "dst"))
    val capped = Graph.commonNeighbors(withHub, maxDegree = 3, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("pageRankWeightedFixed: mass conservation, weight sensitivity, partition independence") {
    val s = spark; import s.implicits._
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val r = Graph.pageRankWeightedFixed(e, iterations = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // every node keeps at least the teleport floor; the heavier 1->2 edge
    // must rank 2 above 3's OTHER in-mass profile after 3 rounds
    assert(r.values.forall(_ > 0L))
    // exact reproducibility across partitionings — the point of the
    // fixed-point arithmetic: integer sums are order-independent
    val r2 = Graph.pageRankWeightedFixed(e.repartition(7), iterations = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == r2)
    // weights matter: collapsing the 3x edge to 1x changes node 2's rank
    val eq = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val rq = Graph.pageRankWeightedFixed(eq, iterations = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(2L) > rq(2L))
  }

  test("pageRankWeightedFixed: overflow guard rejects weights past the int64 bound") {
    val s = spark; import s.implicits._
    // damping 0.9993 -> dN=9993: safe weight bound shrinks ~600x vs 0.85;
    // a weight that silently wrapped pre-guard must now throw up-front
    val big = Seq((1L, 2L, Long.MaxValue / 1000L), (2L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRankWeightedFixed(big, iterations = 1, damping = 0.9993)
    }
    assert(ex.getMessage.contains("overflow"))
    // non-4-decimal damping is rejected, per the documented restriction
    val ok = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    intercept[IllegalArgumentException] {
      Graph.pageRankWeightedFixed(ok, iterations = 1, damping = 1.0 / 3)
    }
  }

  test("fixedPointFits bounds the full numerator, not just the rank term") {
    // damping 0.0001 reduces to dN=1, dD=10000: the rank-term-only bound
    // admits w up to ~3.69e6 regardless of w_out. A per-src out-weight of
    // 4e14 (≈1e8 such edges from one src) then wraps the dD·w_out addend
    // — the pre-fix guard passed this; the full-numerator bound rejects it
    assert(Graph.fixedPointFits(1L, 10000L, 3600000L, 3600000L))
    assert(!Graph.fixedPointFits(1L, 10000L, 3600000L, 400000000000000L))
    // denominator 2·dD·w_out must fit independently of the numerator
    assert(!Graph.fixedPointFits(1L, 10000L, 1L, Long.MaxValue / 10000L))
    // the classic damping keeps its old effective weight ceiling
    assert(Graph.fixedPointFits(17L, 20L, 100000L, 2000000L))
    assert(!Graph.fixedPointFits(17L, 20L, Long.MaxValue / 1000L, 1L))
  }
}
