package graft

import graft.functions.Dedup
import org.apache.spark.sql.functions._

/** SCALE.md's shuffle claims, executed: measure actual shuffle-write bytes
  * with [[Layers.measure]] and assert the de-amplified formulations really
  * move less data than the amplified ones they replaced. A plan-shape test
  * can't catch a regression that keeps the shape but grows the payload —
  * bytes can. */
class ShuffleVolumeSpec extends SparkSpec {
  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** Total shuffle-write bytes across all stages of `f`, with broadcast
    * joins and AQE disabled — at sf0.001 Spark would broadcast every join
    * side and the byte comparison would measure nothing. */
  def shuffleBytes(f: => Unit): Long = withConf(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")(shuffleBytesRaw(f))

  private def shuffleBytesRaw(f: => Unit): Long =
    Layers.measure(spark)(f)._2.shuffleWriteBytes

  test("band join moves scalar band keys, not signature arrays (measured bytes)") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text").persist()
    sig.count()
    // both variants compute the SAME (a_id, b_id, est_sim) output; the
    // difference is where the signatures travel. Lean (minhashCandidates
    // since round 3): scalar band keys through the join, pairs deduped,
    // signatures joined back per deduped pair. Amplified (the round-2
    // shape): every banded row carries the 64-long array through the
    // band-join shuffle and the pair groupBy takes first(sig).
    try {
      val lean = shuffleBytes {
        Dedup.minhashCandidates(sig, minEstSim = 0.0).collect()
      }
      def bandKey(b: Int) = xxhash64(concat_ws("_",
        (b * 4 until (b + 1) * 4).map(i => col(s"h$i")): _*))
      val amplified = shuffleBytes {
        val banded = sig.select(col("doc_id"),
          array((0 until 64).map(i => col(s"h$i")): _*).as("sig"),
          explode(array((0 until 16).map(bandKey): _*)).as("band_hash"))
        val a = banded.select(col("doc_id").as("a_id"),
          col("sig").as("a_sig"), col("band_hash"))
        val b = banded.select(col("doc_id").as("b_id"),
          col("sig").as("b_sig"), col("band_hash"))
        a.join(b, Seq("band_hash")).filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(first(col("a_sig")).as("a_sig"), first(col("b_sig")).as("b_sig"))
          .select(col("a_id"), col("b_id"),
            (graft.plans.VectorExpressions
              .matchCountNative(col("a_sig"), col("b_sig"))
              .cast("double") / 64.0).as("est_sim"))
          .collect()
      }
      assert(lean > 0 && amplified > 0)
      assert(lean * 3 < amplified,
        s"expected >3x shuffle saving: lean=$lean amplified=$amplified")
    } finally { sig.unpersist(); () }
  }

  test("heavy-hitter probe shuffles candidates, not the distinct gram universe") {
    import graft.functions.Sketches
    // minCount mirrors the catalog query: at this corpus ~58 of 916
    // distinct grams clear 40 (a threshold of 5 would make ~all grams
    // heavy and there'd be no probe volume to save)
    val (depth, width, minCount) = (4, 2048, 40)
    val grams = docs.select(explode(Dedup.shingles(col("text"), 2)).as("gram"))
    val sk = Sketches.cmsSketch(grams, col("gram"), depth, width).persist()
    sk.count()
    try {
      // both formulations produce the same (item, est) set (SketchesSpec
      // pins the equivalence); the difference is what the probe shuffles —
      // the heavy-cell prefilter passes only actual heavy hitters to the
      // distinct, the round-4 shape shuffled every distinct gram
      val lean = shuffleBytes {
        Sketches.cmsHeavyItems(sk, grams, col("gram"), depth, width, minCount)
          .collect()
      }
      val full = shuffleBytes {
        Sketches.cmsEstimate(sk, grams.distinct(), col("gram"), depth, width)
          .filter(col("est") >= minCount).collect()
      }
      assert(lean > 0 && full > 0)
      assert(lean * 3 < full,
        s"expected >3x probe shuffle saving: lean=$lean full=$full")
    } finally { sk.unpersist(); () }
  }

  test("winnowing shuffles materially less than the full gram profile") {
    // collect(), not count(): Catalyst prunes a count() down to a plan
    // that skips most of the shuffle, and the measurement reads ~nothing
    val winnow = shuffleBytes {
      Dedup.winnowProfile(docs, "doc_id", "text", n = 5, w = 4).collect()
    }
    val full = shuffleBytes {
      Dedup.dupSpanProfile(docs, "doc_id", "text", n = 5).collect()
    }
    assert(winnow > 0 && full > 0)
    // theory: ~2/(w+1) = 40% of grams selected; allow generous slack for
    // per-row overheads and the extra pos column
    assert(winnow * 3 < full * 2,
      s"winnowed shuffle $winnow not under 2/3 of full $full")
  }

  test("clusterSplit broadcasts the cluster map — the corpus never shuffles") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val split = graft.functions.Sampling.clusterSplit(
      docs.select(col("doc_id")), "doc_id", clusters)
    // default confs (broadcast on): the join must be a broadcast hash join
    val plan = split.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side sort-merge in:\n$plan")
    // and the measured shuffle volume is zero — broadcast exchanges don't
    // write shuffle files; the hash projection is narrow
    val b = shuffleBytesRaw(split.collect())
    assert(b == 0L, s"clusterSplit shuffled $b bytes")
  }

  test("quantizeInt8 is a zero-shuffle narrow pass") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // foreach, not count: count's own final aggregate writes a ~59-byte
    // partial-count exchange that would mask the operator's zero
    val b = shuffleBytesRaw(
      graft.functions.Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .foreach(_ => ()))
    assert(b == 0L, s"quantizeInt8 shuffled $b bytes")
  }

  test("bloomPrunedJoin shuffles materially less probe than the plain join") {
    val s = spark; import s.implicits._
    // selective build side: 20 of 2000 probe keys match
    val probe = (1 to 20000).map(i =>
      (i.toLong % 2000, s"payload-$i-${"x" * 40}")).toDF("k", "v")
    val build = (0 until 20).map(i => (i * 100L, s"b$i")).toDF("bk", "tag")
    val plain = shuffleBytes {
      probe.join(build, col("k") === col("bk")).foreach(_ => ())
    }
    val pruned = shuffleBytes {
      graft.operators.Scale.bloomPrunedJoin(probe, build, "k", "bk",
        expectedItems = 64).foreach(_ => ())
    }
    assert(pruned * 5 < plain,
      s"Bloom pruning should cut the probe shuffle >5x: pruned=$pruned plain=$plain")
  }

  test("Layers.measure counts a known plan exactly and reads streaming progress") {
    val (n, l) = Layers.measure(spark)(spark.range(0, 1000, 1, 4).repartition(3).count())
    assert(n == 1000L)
    assert((l.jobs, l.stages, l.tasks) == ((3, 3, 8)), l)
    assert(l.shuffleWriteBytes > 0 && l.planningMs.contains("optimization"), l)
    // streaming progress reaches the same listener: one AvailableNow batch
    val s = imp; import s._
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    in.addData(1, 2, 3)
    val (_, st) = Layers.measure(spark) {
      in.toDF().writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    assert(st.batches == 1 && st.batchMs.contains("addBatch"), st)
  }
}
