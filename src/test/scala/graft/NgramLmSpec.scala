package graft

import graft.functions.NgramLm
import org.apache.spark.sql.functions.{col, max, min}

/** Pins the stupid-backoff trigram scorer (functions.NgramLm): exact level
  * resolution and micro-integer scores on a hand-computed corpus, plus the
  * self-scoring invariant (a split scored against itself never backs off —
  * every one of its trigrams is in the model by construction). */
class NgramLmSpec extends SparkSpec {
  /** Driver-side reimplementation of the score for the expected values —
    * same rounding discipline (6-dp round, ×1e6 to long, sum, /1e6/n). */
  private def micro(x: Double): Long =
    math.round(BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)

  test("hand-computed corpus: levels and scores are exact") {
    import spark.implicits._
    // train (even ids): t1 a:3 b:3 c:2 d:1 (N=9, V=4)
    //   t2 "a b":3 "b c":2 "c a":1 "b d":1
    //   t3 "a b c":2 "b c a":1 "c a b":1 "a b d":1
    val train = Seq((0L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c x"), // "a b c" lvl3 2/3; "b c x" lvl1 (x unseen)
      (3L, "b c a b"), // "b c a" lvl3 1/2; "c a b" lvl3 1/1
      (5L, "x"),       // too short: zeros
      (7L, "x a b")    // "x a b" lvl2: 0.4*c("a b")/c(a) = 0.4*3/3
    ).toDF("doc_id", "text")
    val out = NgramLm.scoreAgainst(train, score, "doc_id", "text")
    val rows = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    out.unpersist()

    def expected(ms: Long*): Double = ms.sum.toDouble / 1e6 / ms.size
    val d1 = expected(micro(2.0 / 3), micro(0.16 * 1 / 14.0))
    assert(rows(1L) == ((2L, 1L, 0L, 1L, d1)))
    val d3 = expected(micro(1.0 / 2), micro(1.0 / 1))
    assert(rows(3L) == ((2L, 2L, 0L, 0L, d3)))
    assert(rows(5L) == ((0L, 0L, 0L, 0L, 0.0)))
    val d7 = expected(micro(0.4 * 3 / 3.0))
    assert(rows(7L) == ((1L, 0L, 1L, 0L, d7)))
  }

  test("stream-static twin equals the batch scorer row-for-row") {
    val dir = "/root/testdata/sf0.001"
    val batch = Queries.q_ngram_lm(spark, dir)
    val b = batch.collect().map(_.toSeq).toSet
    batch.unpersist()
    val s = Queries.q_stream_ngram_lm(spark, dir).collect().map(_.toSeq).toSet
    assert(s == b)
  }

  test("perplexity tiers: ceil-first thirds, unscored outside the rank") {
    val out = Queries.q_perplexity_tiers(spark, "/root/testdata/sf0.001")
    val byTier = out.groupBy("tier").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = byTier.getOrElse("head", 0L) + byTier.getOrElse("middle", 0L) +
      byTier.getOrElse("tail", 0L)
    // ntile ceil-first: head gets ceil(n/3), head+middle get ceil(2n/3)
    assert(byTier("head") == (n + 2) / 3)
    assert(byTier("head") + byTier("middle") == (2 * n + 2) / 3)
    // kept ⇔ not tail/unscored; every head score ≥ every tail score
    val kept = out.filter(col("kept")).groupBy("tier").count().collect()
      .map(_.getString(0)).toSet
    assert(kept == Set("head", "middle"))
    val minHead = out.filter(col("tier") === "head").agg(min(col("score"))).head().getDouble(0)
    val maxTail = out.filter(col("tier") === "tail").agg(max(col("score"))).head().getDouble(0)
    assert(minHead >= maxTail)
    out.unpersist()
  }

  test("scores are partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val a = NgramLm.scoreAgainst(even, odd, "doc_id", "text")
    val one = a.collect().map(_.toSeq).toSet
    a.unpersist()
    val b = NgramLm.scoreAgainst(even.repartition(7), odd.repartition(5),
      "doc_id", "text")
    val many = b.collect().map(_.toSeq).toSet
    b.unpersist()
    assert(one == many)
  }

  test("self-scoring never backs off and is total") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = NgramLm.scoreAgainst(docs, docs, "doc_id", "text")
    val agg = out.selectExpr("sum(n_bi)", "sum(n_uni)",
      "count(*)", "sum(CASE WHEN n_grams = n_tri THEN 1 ELSE 0 END)").head()
    out.unpersist()
    assert(agg.getLong(0) == 0L && agg.getLong(1) == 0L)
    assert(agg.getLong(2) == docs.count())
    assert(agg.getLong(3) == agg.getLong(2))
  }
}
