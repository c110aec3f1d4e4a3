package graft

import graft.operators.Scale
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Skew + bucketing machinery: salted aggregates must equal their unsalted
  * counterparts; bucketed joins must plan WITHOUT a shuffle exchange. */
class ScaleSpec extends SparkSpec {
  // assert the raw plan shape: AQE off so the exchange (or its absence)
  // is visible; broadcast off so the shuffle sanity-check join shuffles
  def withPlanShapeConfs[A](f: => A): A = withConf(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  test("saltedSum / saltedCount equal unsalted aggregation") {
    val s = imp; import s._
    // skewed: 90% of rows on key 0
    val df = spark.range(10000).select(
      when(col("id") % 10 < 9, 0L).otherwise(col("id") % 7).as("k"),
      lit(1.0).as("v"))
    val plain = df.groupBy(col("k")).agg(sum(col("v")).as("sum"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val ss = Scale.saltedSum(df, col("k"), col("v"), 8, "k", "sum")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val sc = Scale.saltedCount(df, col("k"), 8, "k", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ss == plain.view.mapValues(_._1).toMap)
    assert(sc == plain.view.mapValues(_._2).toMap)
  }

  test("saltedJoin equals plain join on skewed data") {
    val s = imp; import s._
    val left = spark.range(5000).select(
      when(col("id") % 5 > 0, 1L).otherwise(col("id") % 100).as("k"),
      col("id").as("v"))
    val right = spark.range(100).select(col("id").as("rk"), (col("id") * 10).as("rv"))
    val plain = left.join(right, col("k") === col("rk")).agg(
      count(lit(1)), sum(col("v") + col("rv"))).head()
    val salted = Scale.saltedJoin(left, right, col("k"), col("rk"), 8).agg(
      count(lit(1)), sum(col("v") + col("rv"))).head()
    assert(plain == salted)
  }

  test("bloomPrunedJoin equals the plain join; pruning actually strips the probe") {
    val s = imp; import s._
    // probe: 10k rows over 1k keys; build: 20 selective keys
    val probe = (1 to 10000).map(i => (i.toLong % 1000, i.toLong)).toDF("k", "v")
    val build = (0 until 20).map(i => (i * 50L, s"b$i")).toDF("bk", "tag")
    val got = Scale.bloomPrunedJoin(probe, build, "k", "bk",
        expectedItems = 1000)
      .select("k", "v", "tag").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val plain = probe.join(build, col("k") === col("bk"))
      .select("k", "v", "tag").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got == plain && got.nonEmpty)
    // a deliberately tiny, FP-heavy Bloom still yields the exact result —
    // false positives only survive pruning, never the join
    val sloppy = Scale.bloomPrunedJoin(probe, build, "k", "bk",
        expectedItems = 4, fpp = 0.5)
      .select("k", "v", "tag").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(sloppy == plain)
    // the filter itself prunes: count the probe rows that pass the ACTUAL
    // native prefilter (plans.BloomExpressions — the expression the join
    // uses), and pin that an empty build side yields no filter at all
    val bloom = graft.plans.BloomExpressions
      .buildBloom(build, col("bk"), 1000, 0.01).get
    val passed = probe.filter(
      graft.plans.BloomExpressions.mightContain(bloom, col("k"))).count()
    assert(passed < 10000 / 2,
      s"Bloom should strip most of a selective probe, passed $passed/10000")
    assert(graft.plans.BloomExpressions
      .buildBloom(build.filter(lit(false)), col("bk"), 1000, 0.01).isEmpty)
    // a budget ABOVE the runtime-filter session caps (4M items / 64M bits)
    // must come back at the requested size, not silently clamped — a
    // clamped filter saturates at history scale and prunes nothing
    val bigBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(8L << 20, 0.01)
    assert(bigBits > (64L << 20)) // the request genuinely exceeds the cap
    val big = graft.plans.BloomExpressions
      .buildBloom(build, col("bk"), 8L << 20, 0.01).get
    // bitSize comes back word-aligned (rounded up to a multiple of 64)
    assert(big.bitSize() >= bigBits && big.bitSize() < bigBits + 64,
      s"expected un-clamped ~${bigBits} bits, got ${big.bitSize()}")
    // and the caps themselves were restored after the build
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong == 4000000L)
    // and the empty-build join itself degrades to the plain (empty) join
    assert(Scale.bloomPrunedJoin(probe, build.filter(lit(false)), "k", "bk",
      expectedItems = 1000).count() == 0L)
    // outer/anti joins must emit unmatched probe rows — pruning would drop
    // them, so those join types are rejected up front, never miscomputed
    for (bad <- Seq("left_outer", "full_outer", "left_anti")) {
      val e = intercept[IllegalArgumentException] {
        Scale.bloomPrunedJoin(probe, build, "k", "bk",
          expectedItems = 1000, joinType = bad)
      }
      assert(e.getMessage.contains("bloomPrunedJoin"), e.getMessage)
    }
    // semi stays allowed (probe-side-only output, pruning-safe)
    val semi = Scale.bloomPrunedJoin(probe, build, "k", "bk",
      expectedItems = 1000, joinType = "left_semi").count()
    assert(semi == plain.map(t => (t._1, t._2)).distinct.size.toLong)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in plan)") {
    val s = imp; import s._
    // 1 key holds ~all left rows; thresholds lowered so sf-tiny data skews
    val left = (1 to 50000).map(i => (if (i % 50 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val right = (1 to 2000).map(i => (i.toLong, s"r$i")).toDF("rk", "w")
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = left.join(right, col("k") === col("rk"))
      // execute THIS QueryExecution (count()/foreach plan separate queries
      // and leave j's adaptive plan unfinalized)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join side:\n$plan")
    }
  }

  test("compactLatest: argmax survivor, partial-agg plan, no window sort") {
    val s = imp; import s._
    // key 1: versions 3 > 2 > 1; key 2: version TIE at 5 broken by tie id
    val df = Seq(
      (1L, 1L, 10L, "a"), (1L, 3L, 11L, "b"), (1L, 2L, 12L, "c"),
      (2L, 5L, 20L, "d"), (2L, 5L, 21L, "e"))
      .toDF("k", "v", "id", "payload")
    val got = graft.operators.Scale.compactLatest(df, "k", "v", "id",
        Seq("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, 11L, "b"), (2L, 5L, 21L, "e")))
    // repartition-independent (max is assoc/comm)
    val again = graft.operators.Scale.compactLatest(df.repartition(5), "k",
        "v", "id", Seq("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got == again)
    val plan = graft.operators.Scale.compactLatest(df, "k", "v", "id",
      Seq("payload")).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"must not be a window argmax:\n$plan")
    assert(plan.contains("partial"), s"needs map-side partial max:\n$plan")
  }

  test("snapshotDiff: added/removed/changed labels; digests, not payloads, shuffle") {
    val s = imp; import s._
    val prev = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
        (5L, null.asInstanceOf[String], 5.0))
      .toDF("k", "p1", "p2")
    val cur = Seq((1L, "a", 1.0), (2L, "B", 2.0), (4L, "d", 4.0),
        (5L, "", 5.0))
      .toDF("k", "p1", "p2")
    val got = graft.operators.Scale.snapshotDiff(prev, cur, "k",
        Seq("p1", "p2"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // 1 unchanged (dropped), 2 changed, 3 removed, 4 added,
    // 5 null -> "" must read as CHANGED (the sentinel separates them)
    assert(got == Seq((2L, "changed"), (3L, "removed"), (4L, "added"),
      (5L, "changed")))
    val all = graft.operators.Scale.snapshotDiff(prev, cur, "k",
        Seq("p1", "p2"), keepUnchanged = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(all.contains((1L, "unchanged")) && all.length == 5)
    // the join input schema carries (key, digest) only — payloads pruned
    // before the exchange
    val plan = graft.operators.Scale.snapshotDiff(prev, cur, "k",
      Seq("p1", "p2")).queryExecution.executedPlan.toString
    assert(!plan.contains("p1#") || !plan.split("Exchange").last.contains("p1#"),
      s"payload columns must not survive to the join:\n$plan")
  }

  test("bucketed join plans without a shuffle exchange") {
    val s = imp; import s._
    withPlanShapeConfs {
      val wh = Files.createTempDirectory("graft-wh").toString
      val facts = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("a"))
      val dims = spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("b"))
      Scale.writeBucketed(facts, "graft_facts", "k", 8, Some(s"$wh/facts"))
      Scale.writeBucketed(dims, "graft_dims", "k", 8, Some(s"$wh/dims"))
      val joined = Scale.readBucketed(spark, "graft_facts")
        .join(Scale.readBucketed(spark, "graft_dims"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan:\n$plan")
      assert(joined.count() == 1000)
    }
  }

  test("unbucketed baseline DOES shuffle (sanity for the assertion above)") {
    val s = imp; import s._
    withPlanShapeConfs {
      val a = spark.range(1000).select(col("id").as("k"))
      val b = spark.range(1000).select(col("id").as("k"))
      val plan = a.join(b, Seq("k")).queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"))
    }
  }

  test("contamination broadcasts the benchmark grams; training grams never shuffle") {
    val s = imp; import s._
    // broadcast threshold -1 would defeat the explicit broadcast() hint's
    // point — keep AQE off only, so the raw shape is stable
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val train = spark.range(100).select(col("id").as("doc_id"),
        concat(lit("common prefix words here item "), col("id")).as("text"))
      val bench = Seq("common prefix words here item 5").toDF("text")
      val q = graft.functions.Dedup.contamination(train, bench, "doc_id", "text", n = 3)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(500))
      // the ONLY shuffle is the final per-doc hit aggregation — the join
      // probe (training grams) reaches the broadcast join unexchanged
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"expected 1 shuffle (doc agg), got $shuffles")
    }
  }

  test("mixtureSample plans as a zero-shuffle narrow map stage") {
    val s = imp; import s._
    val df = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("d"), pmod(col("id"), lit(3))).as("dom"))
    val q = graft.functions.Sampling.mixtureSample(df, "dom", "doc_id",
      Map("d0" -> 0.5), default = 0.2)
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("skewProfile: top keys, deterministic tie-break, exact fractions") {
    val s = imp; import s._
    // counts: a=5, b=3, c=3, d=1 → total 12, 4 keys; b/c tie breaks asc
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq("d")).toDF("k")
    val r = Scale.skewProfile(df, col("k"), topN = 3, keyName = "k")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4)))
    assert(r.toSeq == Seq(
      ("a", 5L, 12L, 4L, 5.0 / 12),
      ("b", 3L, 12L, 4L, 3.0 / 12),
      ("c", 3L, 12L, 4L, 3.0 / 12)))
  }

  test("graph degree-table broadcast gates on node count (OOM-cliff guard)") {
    import spark.implicits._
    val deg = Seq((1L, 2L), (2L, 1L)).toDF("src", "outdeg")
    def hasHint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      }.nonEmpty
    val lim = graft.algorithms.Graph.BroadcastNodeLimit
    assert(hasHint(graft.algorithms.Graph.maybeBroadcast(deg, lim)),
      "a graph at the limit should still broadcast its degree table")
    assert(!hasHint(graft.algorithms.Graph.maybeBroadcast(deg, lim + 1)),
      "a graph past the limit must NOT force a node-sized broadcast")
  }

  test("narrow catalog family plans with zero exchanges (regression guard)") {
    imp
    // these queries' 100 TB claim is "linear scan, no shuffle at any
    // width" (SCALE.md); pin the claim so a future edit can't silently
    // introduce an exchange. Raw plans (AQE off) over the real tables.
    val dir = "/root/testdata/sf0.001"
    val narrow = Seq[(String, org.apache.spark.sql.DataFrame)](
      "q_map" -> Queries.q_map(spark, dir),
      "q_filter" -> Queries.q_filter(spark, dir),
      "q_chunk" -> Queries.q_chunk(spark, dir),
      "q_html_extract" -> Queries.q_html_extract(spark, dir),
      "q_c4_clean" -> Queries.q_c4_clean(spark, dir),
      "q_embed_int8" -> Queries.q_embed_int8(spark, dir),
      "q_pii_redact" -> Queries.q_pii_redact(spark, dir),
      "q_text_profile" -> Queries.q_text_profile(spark, dir),
      // the gopher top-n-gram share is computed as a per-row fold exactly
      // so it does NOT need an explode+groupBy exchange — pin that
      "q_quality_gopher" -> Queries.q_quality_gopher(spark, dir))
    withPlanShapeConfs {
      narrow.foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"$name plans an Exchange:\n$plan")
      }
    }
  }
}
