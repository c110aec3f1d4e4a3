package graft

import graft.functions.CacheKey

class CacheKeySpec extends SparkSpec {
  test("cache key is parameter-complete: any param change builds a fresh path") {
    val base = CacheKey.path("copurchase", 1, "sf0.01", Seq(20, 2L), "100_42")
    // same inputs -> same path (the build-once/query-many reuse contract)
    assert(base == CacheKey.path("copurchase", 1, "sf0.01", Seq(20, 2L), "100_42"))
    // a parameter edit (basket cap, min count) MUST change the path —
    // this is the round-8 staleness hazard: pre-fix, changing maxBasketSize
    // silently reused the old artifact while the oracle recomputed fresh
    assert(base != CacheKey.path("copurchase", 1, "sf0.01", Seq(21, 2L), "100_42"))
    assert(base != CacheKey.path("copurchase", 1, "sf0.01", Seq(20, 3L), "100_42"))
    // a logic-version bump (derivation code changed shape) gets a fresh path
    assert(base != CacheKey.path("copurchase", 2, "sf0.01", Seq(20, 2L), "100_42"))
    // a regenerated corpus (new fingerprint) gets a fresh path
    assert(base != CacheKey.path("copurchase", 1, "sf0.01", Seq(20, 2L), "101_42"))
    // a different scale tag gets a fresh path
    assert(base != CacheKey.path("copurchase", 1, "sf0.1", Seq(20, 2L), "100_42"))
  }

  test("cache key tokens are filesystem-safe and unambiguous") {
    val p = CacheKey.path("histstore", 1, "sf0.01", Seq(256, 900.0, 105000.0),
      "7_9")
    // NB: Scala unifies the mixed literal Seq to Seq[Double], so the Int
    // bins renders as 256.0 — deterministic, which is all the key needs
    assert(p == "/tmp/graft_histstore_v1_256.0_900.0_105000.0_sf0.01_7-9")
    // strings with separators are sanitized, not passed through
    val q = CacheKey.path("invidx", 1, "tag", Seq("doc id", "a/b"), "1_2")
    assert(!q.drop("/tmp/".length).contains("/") && !q.contains(" "))
    // param-free form has no dangling separator
    assert(CacheKey.path("wordcount", 1, "t", Nil, "1_2")
      == "/tmp/graft_wordcount_v1_t_1-2")
  }

  test("cache key is injective: axis values cannot smuggle the separator") {
    // pre-fix, sfTag/fp passed through raw, so distinct (sfTag, fp) pairs
    // could render the SAME path by moving an '_' across the boundary
    assert(CacheKey.path("k", 1, "a_b", Nil, "c")
      != CacheKey.path("k", 1, "a", Nil, "b_c"))
    // same for a param/sfTag boundary slide
    assert(CacheKey.path("k", 1, "b_t", Seq("a"), "f")
      != CacheKey.path("k", 1, "t", Seq("a_b"), "f"))
  }

  test("contentFp covers the payload: changed values under identical ids change the fingerprint") {
    // the round-15 stale-cache bug: the IVF store fingerprinted vec_id
    // only, so a corpus whose VECTORS changed under unchanged ids served
    // a stale index from a prior session's /tmp. contentFp is the one
    // shared fingerprint; this pins its coverage and order-independence.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def df(shift: Float) =
      (0L until 40L).map(i =>
        (i, Array.tabulate(8)(d => (i * 8 + d).toFloat + shift)))
        .toDF("vec_id", "embedding")
    val base = CacheKey.contentFp(df(0f), col("vec_id"), col("embedding"))
    // same content -> same fp (the reuse contract)
    assert(base == CacheKey.contentFp(df(0f), col("vec_id"), col("embedding")))
    // shuffled row order -> same fp (order-independent sum)
    assert(base == CacheKey.contentFp(
      df(0f).orderBy(col("vec_id").desc).repartition(3),
      col("vec_id"), col("embedding")))
    // identical ids + changed payload -> DIFFERENT fp (the bug class)
    assert(base != CacheKey.contentFp(df(1f), col("vec_id"), col("embedding")))
    // id-only coverage would NOT see the payload change — the hazard the
    // per-site column list must avoid
    assert(CacheKey.contentFp(df(0f), col("vec_id"))
      == CacheKey.contentFp(df(1f), col("vec_id")))
    // dropped rows -> different fp (count axis)
    assert(base != CacheKey.contentFp(
      df(0f).filter(col("vec_id") < 39), col("vec_id"), col("embedding")))
  }
}
