package graft

import graft.functions.CoOccurrence
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence: counts dedup within a basket, oversized
  * baskets drop whole, ratios are exact, and the per-item top-k lowers
  * to a WindowGroupLimit. */
class CoOccurrenceSpec extends SparkSpec {
  test("pairs: in-basket duplicates collapse; oversized baskets drop whole") {
    val s = spark; import s.implicits._
    // basket 1: items a,b (b twice — must count once); basket 2: a,b,c;
    // basket 3: a,b; basket 9: 4 items, over the cap of 3 — contributes
    // NOTHING (neither pairs nor item counts nor the basket total)
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "b"),
      (9L, "a"), (9L, "b"), (9L, "x"), (9L, "y")
    ).toDF("bk", "it")
    val got = CoOccurrence.pairs(df, "bk", "it", maxBasketSize = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val (nAb, nA, nB, jac, lift) = got(("a", "b"))
    assert(nAb == 3 && nA == 3 && nB == 3) // basket 9 excluded everywhere
    assert(jac == 3.0 / 3.0 && lift == 3.0 * 3.0 / (3.0 * 3.0))
    assert(got(("a", "c"))._1 == 1 && got(("a", "c"))._4 == 1.0 / 3.0)
  }

  test("pairs equal a naive all-pairs count on capped baskets; minCount filters") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map(i => (rnd.nextInt(60).toLong, s"it${rnd.nextInt(25)}"))
    val df = rows.toDF("bk", "it")
    val naive = rows.distinct.groupBy(_._1).values
      .filter(_.size <= 100)
      .flatMap(b => for (x <- b; y <- b if x._2 < y._2) yield (x._2, y._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2)
    val got = CoOccurrence.pairs(df, "bk", "it", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == naive)
  }

  test("topPartners: exactly k per item, ordered, and plans a WindowGroupLimit") {
    val s = spark; import s.implicits._
    val pairs = CoOccurrence.pairs(
      (1 to 300).map(i => (i.toLong % 40, s"it${i % 17}")).toDF("bk", "it"),
      "bk", "it")
    val top = CoOccurrence.topPartners(pairs.select("a_item", "b_item", "n_ab"), 3)
    val rows = top.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.groupBy(_._1).values.forall(_.length <= 3))
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length.toLong).toSeq)
      // rank respects (n_ab desc, partner asc)
      assert(sorted.sliding(2).forall { w =>
        w.length < 2 || {
          val (x, y) = (w(0), w(1))
          x._3 > y._3 || (x._3 == y._3 && x._2 < y._2)
        }
      })
    }
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-item top-k should lower to WindowGroupLimit:\n$plan")
  }

  test("labelPropagation: two cliques bridged by one edge separate; deterministic") {
    val s = spark; import s.implicits._
    // clique A = {1,2,3,4}, clique B = {10,11,12,13}, one bridge 4-10
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L, 10L)).toDF("src", "dst")
    val got = graft.algorithms.Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every member of each clique lands on that clique's minimum label;
    // the single bridge edge cannot outvote three clique neighbors
    assert(Seq(1L, 2L, 3L, 4L).map(got).distinct.size == 1)
    assert(Seq(10L, 11L, 12L, 13L).map(got).distinct.size == 1)
    assert(got(1L) != got(10L), s"bridge must not merge the cliques: $got")
    val again = graft.algorithms.Graph
      .labelPropagation(edges.repartition(5), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again, "result must be partition-independent")
  }

  test("kCore: clique survives with full degree, pendant chain peels away") {
    val s = spark; import s.implicits._
    // K4 clique {1,2,3,4} + a chain 4-20-21-22 hanging off it
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      Seq((4L, 20L), (20L, 21L), (21L, 22L))).toDF("src", "dst")
    val core = graft.algorithms.Graph.kCore(edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the 3-core is exactly the clique; chain nodes peel off one per round
    // (22 first, then 21, then 20 — multi-round, not single-pass-degree)
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")
    // fixpoint mode equals a generous fixed-round run
    val fixed = graft.algorithms.Graph.kCore(edges, k = 3, rounds = Some(10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == fixed)
    // k above the max degree empties the graph without error
    assert(graft.algorithms.Graph.kCore(edges, k = 5).count() == 0)
    // K4 plus a 12-node tail 4-30-31-…-41: the 2-core peels one tail node
    // per round, so the fixpoint runs past 5 rounds and still ends at the
    // clique, while 5 fixed rounds leave the tail's head standing
    val tail = (4L +: (30L to 41L)).sliding(2).map(p => (p(0), p(1))).toSeq
    val tailed = (clique(Seq(1L, 2L, 3L, 4L)) ++ tail).toDF("src", "dst")
    val core2 = graft.algorithms.Graph.kCore(tailed, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core2")
    val five = graft.algorithms.Graph.kCore(tailed, k = 2, rounds = Some(5))
      .collect().map(_.getLong(0)).toSet
    assert(five == Set(1L, 2L, 3L, 4L) ++ (30L to 36L), s"got $five")
  }

  test("clusteringCoefficient: closed-form on triangle+pendant; hub cap subgraph") {
    val s = spark; import s.implicits._
    // triangle {1,2,3} with pendant 4 off node 3
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.algorithms.Graph.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 1.0)) && got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, 2.0 * 1 / (3 * 2))))
    assert(got(4L) == ((1L, 0L, 0.0)))
    // a hub above the cap drops WHOLE and its edges with it: capping at 2
    // removes node 3 (degree 3), leaving edge 1-2 only
    val capped = graft.algorithms.Graph.clusteringCoefficient(edges, maxDegree = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(capped.keySet == Set(1L, 2L) &&
      capped.values.toSet == Set((1L, 0L)), s"got $capped")
  }

  test("skipGramCounts: closed-form window pairs; no per-key quadratic blowup") {
    val s = spark; import s.implicits._
    // one user, sequence a b c (positions 1,2,3), window 1:
    // (a,b,+1) (b,a,-1) (b,c,+1) (c,b,-1) each once
    val df = Seq((7L, 1L, "a"), (7L, 2L, "b"), (7L, 3L, "c"))
      .toDF("user", "t", "item")
    val got = graft.functions.SequencePairs
      .skipGramCounts(df, "user", Seq(col("t")), "item", window = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("a", "b", 1L, 1L), ("b", "a", -1L, 1L),
      ("b", "c", 1L, 1L), ("c", "b", -1L, 1L)))
    // volume law: output pair INSTANCES = sum over rows of reachable
    // neighbors — for a single key of n rows and window w, exactly
    // 2*(n*w - w*(w+1)/2); never n^2
    val n = 200; val w2 = 2
    val big = (1 to n).map(i => (1L, i.toLong, s"x${i % 5}")).toDF("user", "t", "item")
    val total = graft.functions.SequencePairs
      .skipGramCounts(big, "user", Seq(col("t")), "item", window = w2)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == 2L * (n * w2 - w2 * (w2 + 1) / 2))
  }
}
