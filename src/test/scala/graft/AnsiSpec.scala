package graft

import graft.functions.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession

/** ANSI-mode robustness: Spark 4 defaults to spark.sql.ansi.enabled=true,
  * where overflowing Column arithmetic THROWS instead of wrapping. The
  * dedup/ANN hot paths do their arithmetic inside native expressions and
  * typed aggregates (JVM wrapping semantics, ANSI-independent), so a user on
  * stock Spark 4 defaults must get bit-identical results to the ansi-off
  * sessions Verify/Bench run — pinned here by running the same inputs
  * through both session modes. */
class AnsiSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  /** Runs `f` in a sibling session (same SparkContext) with ANSI ON. */
  def inAnsiSession[A](f: SparkSession => A): A = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ansi = prev.newSession()
      ansi.conf.set("spark.sql.ansi.enabled", "true")
      ansi.conf.set("spark.sql.shuffle.partitions", "4")
      SparkSession.setActiveSession(ansi)
      SparkSession.setDefaultSession(ansi)
      assert(ansi.conf.get("spark.sql.ansi.enabled") == "true")
      f(ansi)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("minhash near-dups are identical under ANSI mode (wrapping math is JVM-side)") {
    def run(s: SparkSession): Set[(Long, Long, Double)] = {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val out = Dedup.minhashNearDups(docs, "doc_id", "text", minEstSim = 0.5)
      val res = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      out.unpersist()
      res
    }
    val off = run(spark)
    val on = inAnsiSession(run)
    assert(off.nonEmpty && off == on)
  }

  test("simhash near-dups and ANN buckets are identical under ANSI mode") {
    def runSim(s: SparkSession): Set[(Long, Long)] =
      Dedup.simhashNearDups(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def runAnn(s: SparkSession): Set[(Long, Long, Long)] =
      Similarity.annTopK(s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", maxQueryId = 20, k = 3, bits = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(runSim(spark) == inAnsiSession(runSim))
    val annOff = runAnn(spark)
    assert(annOff.nonEmpty && annOff == inAnsiSession(runAnn))
  }

  test("round-4/5 catalog queries run identically under ANSI mode") {
    // the risk class: an expression that silently relied on non-ANSI
    // semantics (wrapping overflow, 1/0 inside a pruned projection — the
    // weightedSample regression in round 4). Each new query must produce
    // the same row count and run without throwing on stock Spark 4
    // defaults. Round-5 additions: q_zip, the rewritten
    // q_heavy_hitters (heavy-cell candidate probe) + q_ann_ivfpq
    // (pre-encoded lists), q_zorder (z-value interleave), and q_char_lm
    // again after the native CharBigramCounts rewrite.
    val names = Seq("q_range_join", "q_topk_group", "q_char_lm",
      "q_fuzzy_join", "q_ann_pq", "q_winnow", "q_pack_sequences",
      "q_diversity_sample", "q_weighted_sample", "q_group_stats",
      "q_rollup", "q_pivot", "q_analytic", "q_asof_forward",
      "q_zip", "q_heavy_hitters", "q_ann_ivfpq", "q_zorder", "q_bpe",
      "q_chunk", "q_token_mixture", "q_epoch_mixture",
      "q_quality_classifier", "q_cluster_split", "q_embed_int8",
      "q_ann_int8", "q_html_extract",
      // round-7 additions: the recovered event-time reader (dtype branch),
      // DSIR scoring (aggregate over gram arrays), temperature mixture
      // (isqrt-derived budgets), and a streaming twin
      "q_window_tumbling", "q_interval_join", "q_dsir",
      "q_temperature_mixture", "q_stream_session",
      // round-7 late additions: nearest as-of, funnel staging, rolling
      // z-score (decimal frame sums), streaming tumbling twin
      "q_asof_nearest", "q_funnel", "q_anomaly", "q_retention",
      "q_stream_tumbling",
      // continuation additions: sessionization (lag/running-sum windows),
      // HLL (bin/shiftright bit math), frozen-grid histogram quantiles
      // (ceil/floor-heavy), PPR, trending WindowGroupLimit, Bloom-pruned
      // and six-table joins, negative sampling (hash mod N), struct-max
      // compaction
      "q_sessionize", "q_distinct_hll", "q_quantile_hist",
      "q_quantile_group", "q_ppr", "q_trending", "q_join_bloom",
      "q_tpch3", "q_tpch5", "q_tpch18", "q_negative_sample",
      "q_compact_latest")
    def counts(s: SparkSession): Seq[(String, Long)] = {
      s.catalog.clearCache()
      // events.parquet stores TIMESTAMP(NANOS) — same conf Verify/Bench set
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      names.map(n => n -> Queries.all(n)(s, dir).collect().length.toLong)
    }
    val off = counts(spark)
    val on = inAnsiSession(counts)
    assert(off == on, s"ANSI divergence: off=$off on=$on")
    assert(off.forall(_._2 > 0))
  }
}
