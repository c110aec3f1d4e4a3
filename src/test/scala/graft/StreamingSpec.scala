package graft

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming semantics tests via MemoryStream — watermark-driven
  * window emission and the stateful window machines. Mirrors the reference's
  * event-time tests (reference: tests/window/event_time.rs) and pins the
  * documented late-data divergence (reference errors; Spark drops). */
class StreamingSpec extends SparkSpec {
  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("tumbling windows emit on watermark; late rows are dropped (divergence pin)") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streaming.tumblingCounts(
      Streaming.withEventTime(in.toDF.toDF("ts", "k"), "ts", "5 seconds"),
      "ts", "10 seconds", col("k"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumble").start()
    try {
      in.addData((ts(1), "a"), (ts(3), "a"), (ts(11), "a"))
      q.processAllAvailable()
      // watermark = 11-5 = 6 → window [0,10) not closed yet
      assert(spark.table("tumble").count() == 0)
      in.addData((ts(20), "a")) // watermark 15 → [0,10) closes with 2 rows
      q.processAllAvailable()
      val rows1 = spark.table("tumble").as[(Timestamp, Long, String)].collect()
      assert(rows1.map(r => (r._1.getTime / 1000, r._2)).toSet == Set((0L, 2L)))
      // late element at ts=2 (≤ watermark): reference errors, Spark drops
      in.addData((ts(2), "a"), (ts(40), "a"))
      q.processAllAvailable()
      val rows2 = spark.table("tumble").as[(Timestamp, Long, String)].collect()
      assert(!rows2.exists(r => r._1.getTime == 0 && r._2 != 2),
        "late row must not reopen the closed window")
    } finally q.stop()
  }

  test("streaming session windows equal the batch session_window on the same rows") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streaming.sessionCounts(
      Streaming.withEventTime(in.toDF.toDF("ts", "k"), "ts", "5 seconds"),
      "ts", "10 seconds", col("k"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      val rows = Seq((ts(1), "a"), (ts(5), "a"), (ts(30), "a"),
        (ts(2), "b"), (ts(31), "b"), (ts(35), "b"))
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData((ts(500), "flush")) // watermark 495 → every session closes
      q.processAllAvailable()
      val streamed = spark.table("sess").as[(Timestamp, Long, String)]
        .collect().map(r => (r._3, r._1.getTime / 1000, r._2))
        .filter(_._1 != "flush").toSet
      // batch twin (q_window_session's shape) over the same rows
      val batch = rows.toDF("ts", "k")
        .groupBy(session_window(col("ts"), "10 seconds").as("sw"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(col("k"), col("sw.start").cast("long").as("st"), col("n"))
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // hand-computed: a merges [1,15) then restarts at 30; b's 31,35 merge
      assert(batch == Set(("a", 1L, 2L), ("a", 30L, 1L),
        ("b", 2L, 1L), ("b", 31L, 2L)))
    } finally q.stop()
  }

  test("watermarked session windows EVICT closed state (bounded state at scale)") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streaming.sessionCounts(
      Streaming.withEventTime(in.toDF.toDF("ts", "k"), "ts", "5 seconds"),
      "ts", "10 seconds", col("k"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("evict_sess").start()
    try {
      in.addData((1 to 200).map(i => (ts(1), s"k$i")): _*)
      q.processAllAvailable()
      val peak = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(peak >= 200, s"expected 200 open sessions in state, saw $peak")
      // watermark jumps: every ts=1 session closes, emits, and must be
      // REMOVED from the store — the bounded-state contract at scale
      in.addData((ts(1000), "flush1"))
      q.processAllAvailable()
      in.addData((ts(2000), "flush2"))
      q.processAllAvailable()
      val after = q.recentProgress.reverse
        .flatMap(_.stateOperators.map(_.numRowsTotal)).headOption.getOrElse(-1L)
      assert(after >= 0 && after <= 5,
        s"closed sessions must leave the store: $after rows remain (peak $peak)")
      assert(spark.table("evict_sess").count() >= 200)
    } finally q.stop()
  }

  test("update-mode monotone reconstruction equals batch over RANDOM interleavings") {
    // the round-14 complete->update conversion contract: with no watermark
    // (no late-drop), a key's count strictly increases across its update
    // emissions, so max-by-n per key reconstructs the final aggregate under
    // ARBITRARY batch interleavings — not just the ts-ordered range split
    // the catalog twins ride. Random trials pin the order-independence.
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(14)
    for (trial <- 1 to 3) {
      val rows = (1 to 200).map(_ =>
        (ts(rnd.nextInt(100).toLong), s"k${rnd.nextInt(8)}",
          rnd.nextInt(1000).toLong))
      val shuffled = rnd.shuffle(rows)
      val cut1 = 1 + rnd.nextInt(198)
      val cut2 = cut1 + 1 + rnd.nextInt(199 - cut1)
      val batches = Seq(shuffled.take(cut1),
        shuffled.slice(cut1, cut2), shuffled.drop(cut2))
      val in = MemoryStream[(Timestamp, String, Long)]
      val agg = in.toDF.toDF("ts", "k", "v")
        .groupBy(window(col("ts"), "10 seconds").getField("start").as("ws"),
          col("k"))
        .agg(count(lit(1)).as("n"), max(col("v")).as("mx"))
      val q = agg.writeStream.outputMode("update")
        .format("memory").queryName(s"upd$trial").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val finals = spark.table(s"upd$trial")
          .groupBy(col("ws"), col("k"))
          .agg(max(struct(col("n"), col("mx"))).as("f"))
          .select(col("ws"), col("k"), col("f.n").as("n"), col("f.mx").as("mx"))
          .as[(Timestamp, String, Long, Long)].collect().toSet
        val batch = rows.toDF("ts", "k", "v")
          .groupBy(window(col("ts"), "10 seconds").getField("start").as("ws"),
            col("k"))
          .agg(count(lit(1)).as("n"), max(col("v")).as("mx"))
          .as[(Timestamp, String, Long, Long)].collect().toSet
        assert(finals == batch, s"trial $trial: stream-reconstructed != batch")
      } finally q.stop()
    }
  }

  test("windowed stream-stream join EVICTS a closed window's state (q_stream_nx3 shape)") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Long)]
    val src = in.toDF.toDF("ts", "kind", "user")
    // the q_stream_nx3 join key: user equality PLUS same-event-time-window
    // equality — the window column must be PROJECTED on each watermarked
    // side first (window() only resolves in a projection, not a join
    // condition); its equality is what lets Spark derive a state watermark
    // and EVICT a closed window's rows from both sides
    val signup = src.filter(col("kind") === "s")
      .select(col("user").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "0 seconds")
      .select(col("s_user"), window(col("s_ts"), "10 seconds").as("s_w"))
    val purchase = src.filter(col("kind") === "p")
      .select(col("user").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
      .select(col("p_user"), window(col("p_ts"), "10 seconds").as("p_w"))
    val joined = signup.join(purchase,
        col("s_user") === col("p_user") && col("s_w") === col("p_w"))
      .select(col("s_user"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("nx3_evict").start()
    try {
      in.addData(((1 to 100).map(i => (ts(1), "s", i.toLong)) ++
        (1 to 100).map(i => (ts(2), "p", i.toLong))): _*)
      q.processAllAvailable()
      // inner-join pairs emit eagerly, no watermark wait
      assert(spark.table("nx3_evict").count() == 100)
      val peak = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(peak >= 200, s"expected both sides buffered in state, saw $peak")
      // watermark jumps past the window end on BOTH sides (the global
      // watermark is the min across the two watermark nodes, so both
      // branches must observe late time) → the closed window's rows must
      // LEAVE the store (the round-13 unbounded port kept them forever —
      // the one streaming-join-OOM shape this pin closes)
      in.addData((ts(1000), "s", 9999L), (ts(1000), "p", 9998L))
      q.processAllAvailable()
      in.addData((ts(2000), "s", 9997L), (ts(2000), "p", 9996L))
      q.processAllAvailable()
      val after = q.recentProgress.reverse
        .flatMap(_.stateOperators.map(_.numRowsTotal)).headOption.getOrElse(-1L)
      assert(after >= 0 && after <= 6,
        s"closed-window join state must leave the store: $after rows (peak $peak)")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state to the watermark horizon") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = Streaming.dedupExactStream(
      in.toDF.toDF("ts", "text"), "text", Some(("ts", "5 seconds")))
      .select("text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("evict_dedup").start()
    try {
      in.addData((1 to 100).map(i => (ts(1), s"doc $i")): _*)
      q.processAllAvailable()
      in.addData((ts(1000), "mid"))
      q.processAllAvailable()
      // everything before the watermark horizon is evictable; only the
      // recent digests may remain
      in.addData((1 to 100).map(i => (ts(2000), s"late doc $i")): _*)
      q.processAllAvailable()
      in.addData((ts(3000), "tail"))
      q.processAllAvailable()
      val after = q.recentProgress.reverse
        .flatMap(_.stateOperators.map(_.numRowsTotal)).headOption.getOrElse(-1L)
      assert(after >= 0 && after < 150,
        s"dedup state must not accumulate the full history: $after rows")
      assert(spark.table("evict_dedup").count() == 202)
    } finally q.stop()
  }

  test("bothSeenOnceTtl: completes within the horizon, expires beyond it, state leaves the store") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Boolean, Timestamp)]
    val wm = Streaming.withEventTime(in.toDF.toDF("k", "flag", "ts"), "ts", "0 seconds")
      .as[(String, Boolean, Timestamp)]
    val q = Streaming.bothSeenOnceTtl(wm, ttlMs = 10000L).toDF("k")
      .writeStream.outputMode("append").format("memory")
      .queryName("both_ttl").start()
    try {
      // a completes inside the horizon; b's first half will expire
      in.addData(("a", true, ts(1)), ("b", true, ts(1)))
      q.processAllAvailable()
      in.addData(("a", false, ts(5)))
      q.processAllAvailable()
      assert(spark.table("both_ttl").as[String].collect().toSeq == Seq("a"))
      // watermark far past b's TTL → its half-open state is REMOVED
      in.addData(("wm", true, ts(1000)))
      q.processAllAvailable()
      in.addData(("wm", true, ts(2000))) // second advance commits the eviction
      q.processAllAvailable()
      val after = q.recentProgress.reverse
        .flatMap(_.stateOperators.map(_.numRowsTotal)).headOption.getOrElse(-1L)
      assert(after >= 0 && after <= 2,
        s"expired keys must leave the store: $after rows (a emitted, b TTLed)")
      // b's second polarity AFTER expiry re-opens fresh state — no emission
      // from the forgotten half (the documented TTL trade)
      in.addData(("b", false, ts(2001)))
      q.processAllAvailable()
      assert(spark.table("both_ttl").as[String].collect().toSeq == Seq("a"))
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first record per distinct text across batches") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = Streaming.dedupExactStream(in.toDF.toDF("id", "text"), "text")
      .select("id", "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_exact").start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      // a later batch repeating an already-seen text must stay suppressed
      in.addData((4L, "alpha"), (5L, "gamma"))
      q.processAllAvailable()
      val got = spark.table("dedup_exact").as[(Long, String)].collect().toSet
      assert(got.map(_._2) == Set("alpha", "beta", "gamma"))
      assert(got.count(_._2 == "alpha") == 1)
    } finally q.stop()
  }

  test("streaming simhash near-dup pairs equal the batch pairs on the same docs") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and once"),
      (4L, "completely different text about distributed dataflow engines"),
      (5L, "the quick brown fox jumps over the lazy dog again and again today"))
    // per-row native signature ≡ batch explode+vote aggregate, doc for doc
    val rowSigs = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.plans.TextExpressions.simhashRow(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchSigs = graft.functions.Dedup.simhash(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rowSigs == batchSigs)

    val batchPairs = graft.functions.Dedup.simhashNearDups(
        docs.toDF("doc_id", "text"), "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batchPairs.nonEmpty, "fixture should contain near-dups")

    val in = MemoryStream[(Long, String)]
    val out = Streaming.simhashNearDupPairs(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text", maxDist = 3)
    val q = out.toDF("a_id", "b_id", "hamming").writeStream
      .outputMode("append").format("memory").queryName("nd_pairs").start()
    try {
      // split across micro-batches: later arrivals must pair against
      // earlier batches' state
      in.addData(docs(0), docs(1))
      q.processAllAvailable()
      in.addData(docs(2), docs(3))
      q.processAllAvailable()
      in.addData(docs(4))
      q.processAllAvailable()
      val got = spark.table("nd_pairs").as[(Long, Long, Int)].collect()
      assert(got.length == got.toSet.size, s"pair emitted twice: ${got.toList}")
      assert(got.toSet == batchPairs,
        s"stream=${got.toSet} batch=$batchPairs")
    } finally q.stop()
  }

  test("streaming minhash near-dup pairs equal the batch pairs on the same docs") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and once"),
      (4L, "completely different text about distributed dataflow engines with many words"),
      (5L, "the quick brown fox jumps over the lazy dog again and again today"),
      (6L, "shorty")) // < shingleSize words → no signature, as in batch
    // per-row native signature ≡ batch explode+aggregate signature, doc for doc
    val (as, bs) = (0 until 64).map(graft.functions.Dedup.defaultPermConsts).unzip
    val rowSigs = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.plans.TextExpressions.minhashRow(col("text"), 5, as, bs).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    val batchSigs = graft.functions.Dedup.minhashSignature(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (1 to 64).map(i => r.getLong(i))).toMap
    assert(rowSigs(6L) == null && !batchSigs.contains(6L))
    batchSigs.foreach { case (id, sig) => assert(rowSigs(id) == sig, s"doc $id") }

    val batch = graft.functions.Dedup.minhashNearDups(
        docs.toDF("doc_id", "text"), "doc_id", "text", minEstSim = 0.5)
    val batchPairs = batch
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    batch.unpersist()
    assert(batchPairs.nonEmpty, "fixture should contain near-dups")

    val in = MemoryStream[(Long, String)]
    val out = Streaming.minhashNearDupPairs(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text", minEstSim = 0.5)
    val q = out.toDF("a_id", "b_id", "est_sim").writeStream
      .outputMode("append").format("memory").queryName("mh_pairs").start()
    try {
      in.addData(docs(0), docs(1))
      q.processAllAvailable()
      in.addData(docs(2), docs(3), docs(5))
      q.processAllAvailable()
      in.addData(docs(4))
      q.processAllAvailable()
      val got = spark.table("mh_pairs").as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, s"pair emitted twice: ${got.toList}")
      assert(got.toSet == batchPairs, s"stream=${got.toSet} batch=$batchPairs")
    } finally q.stop()
  }

  test("streaming cleaning pipeline: profile + quality gate + exact dedup on a doc stream") {
    // the batch q_pipeline_clean shape on an unbounded stream: the
    // TextAnalysis profile columns are stateless (narrow), so they lower to
    // a streaming plan unchanged; the fingerprint dedup becomes the stateful
    // dropDuplicates stage
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val profiled = graft.functions.TextAnalysis.profile(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val cleaned = profiled.filter(col("quality") >= 0.5)
      .dropDuplicates("fingerprint")
      .select("doc_id", "lang_guess", "n_tokens")
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("clean_stream").start()
    try {
      val good = "the quick brown fox jumps over the lazy dog and keeps running ahead"
      in.addData((1L, good), (2L, "@@@@ #### !!!! %%%% ^^^^"))
      q.processAllAvailable()
      // word-order permutation shares the (order-invariant) fingerprint →
      // suppressed as a dup
      in.addData((3L, "the quick brown fox jumps over the lazy dog and running keeps ahead"))
      q.processAllAvailable()
      val got = spark.table("clean_stream").as[(Long, String, Long)].collect()
      assert(got.map(_._1).toSet == Set(1L),
        s"low-quality and duplicate docs must be dropped: ${got.toList}")
      assert(got.head._3 == 13)
    } finally q.stop()
  }

  test("streaming embedding near-dup pairs equal the batch pairs on the same vectors") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val batch = graft.functions.Similarity.cosineNearDups(
        emb, "vec_id", "embedding", minSim = 0.3, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture should contain embedding near-dups at 0.3")

    val rows = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val (half1, half2) = rows.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, Seq[Double])]
    val out = Streaming.embeddingNearDupPairs(
      in.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
      minSim = 0.3, bits = 8)
    val q = out.toDF("a_id", "b_id", "sim").writeStream
      .outputMode("append").format("memory").queryName("emb_pairs").start()
    try {
      in.addData(half1.toSeq)
      q.processAllAvailable()
      in.addData(half2.toSeq)
      q.processAllAvailable()
      val got = spark.table("emb_pairs").as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, s"pair emitted twice")
      assert(got.toSet == batch, s"stream=${got.toSet} batch=$batch")
    } finally q.stop()
  }

  test("streaming PQ encode equals batch encode (narrow expressions stream)") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.functions.ProductQuantizer
      .seedModel(emb, "vec_id", "embedding", m = 8, ksub = 4)
    val batch = graft.functions.ProductQuantizer
      .encode(emb, "embedding", model)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rows = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val out = graft.functions.ProductQuantizer
      .encode(in.toDF.toDF("vec_id", "embedding"), "embedding", model)
      .select(col("vec_id"), col("codes"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pq_codes").start()
    try {
      in.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("pq_codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(got == batch, "streamed codes diverge from batch codes")
    } finally q.stop()
  }

  test("streaming chunkDocuments equals the batch chunks (stateless narrow op)") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val batch = graft.functions.TextAnalysis
      .chunkDocuments(docs, "doc_id", "text", chunkTokens = 32, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    val in = MemoryStream[(Long, String)]
    val out = graft.functions.TextAnalysis.chunkDocuments(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 32, overlap = 8)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("chunks").start()
    try {
      in.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("chunks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == batch, "streamed chunks diverge from batch chunks")
    } finally q.stop()
  }

  test("stream-static range join: streamed points land in static intervals") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val intervals = Seq((1L, 0.0, 10.0), (2L, 5.0, 15.0), (3L, 20.0, 25.0))
      .toDF("i_id", "lo", "hi")
    val in = MemoryStream[(Long, Double)]
    val joined = graft.operators.RangeJoin.pointInInterval(
      in.toDF.toDF("p_id", "x"), intervals, "x", "lo", "hi", binWidth = 5.0)
    val q = joined.select("p_id", "i_id").writeStream
      .outputMode("append").format("memory").queryName("rj").start()
    try {
      in.addData(Seq((100L, 3.0), (101L, 7.0), (102L, 22.0), (103L, 17.0)))
      q.processAllAvailable()
      val got = spark.table("rj").as[(Long, Long)].collect().toSet
      // 3.0 → interval 1; 7.0 → 1 and 2; 22.0 → 3; 17.0 → none
      assert(got == Set((100L, 1L), (101L, 1L), (101L, 2L), (102L, 3L)))
    } finally q.stop()
  }

  test("streaming CountWindow.tumbling(3) emits exact windows per key") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val out = Streaming.countTumbling(in.toDS(), 3)(w => w.sum)
    val q = out.toDF("k", "sum").writeStream.outputMode("append")
      .format("memory").queryName("cnt3").start()
    try {
      in.addData(("a", 1), ("a", 2), ("b", 10))
      q.processAllAvailable()
      assert(spark.table("cnt3").count() == 0) // no window filled yet
      in.addData(("a", 3), ("a", 4), ("b", 20), ("b", 30))
      q.processAllAvailable()
      val got = spark.table("cnt3").as[(String, Int)].collect().toSet
      assert(got == Set(("a", 6), ("b", 60))) // [1,2,3] and [10,20,30]
      in.addData(("a", 5), ("a", 6))
      q.processAllAvailable()
      val got2 = spark.table("cnt3").as[(String, Int)].collect().toSet
      assert(got2 == Set(("a", 6), ("b", 60), ("a", 15))) // [4,5,6]
    } finally q.stop()
  }

  test("countTumblingOrdered sorts each batch and carries partials across batches") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    // order-sensitive aggregate: the CSV pins window membership AND order
    val out = Streaming.countTumblingOrdered(in.toDS(), 3, (v: Int) => v)(
      w => w.mkString(","))
    val q = out.toDF("k", "w").writeStream.outputMode("append")
      .format("memory").queryName("cnto").start()
    try {
      // batch 1 arrives OUT OF ORDER: sorted fold → window [1,2,3] + open [4]
      in.addData(("a", 3), ("a", 1), ("a", 4), ("a", 2))
      q.processAllAvailable()
      assert(spark.table("cnto").as[(String, String)].collect().toSet ==
        Set(("a", "1,2,3")))
      // batch 2 completes the carried partial: [4,5,6] — the boundary-split
      // window comes out whole and ordered
      in.addData(("a", 6), ("a", 5))
      q.processAllAvailable()
      assert(spark.table("cnto").as[(String, String)].collect().toSet ==
        Set(("a", "1,2,3"), ("a", "4,5,6")))
    } finally q.stop()
  }

  test("streaming TransactionWindow: Commit and CommitAfter semantics") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    // logic: value 99 commits; value 50 arms CommitAfter(ts=60)
    val out = Streaming.transactionWindow[String, Long, Long](
      in.toDS(),
      v => if (v == 99L) Streaming.TxCommit
           else if (v == 50L) Streaming.TxCommitAfter(60L)
           else Streaming.TxContinue,
      v => v)(w => w.sum)
    val q = out.toDF("k", "sum").writeStream.outputMode("append")
      .format("memory").queryName("txw").start()
    try {
      in.addData(("a", 1L), ("a", 2L), ("a", 99L))
      q.processAllAvailable()
      assert(spark.table("txw").as[(String, Long)].collect().toSet == Set(("a", 102L)))
      // CommitAfter: arm at 50, then 55 (<=60) joins, 70 (>60) triggers commit first
      in.addData(("b", 50L), ("b", 55L), ("b", 70L))
      q.processAllAvailable()
      val got = spark.table("txw").as[(String, Long)].collect().toSet
      assert(got == Set(("a", 102L), ("b", 105L))) // [50,55] committed, 70 pending
    } finally q.stop()
  }

  test("transactionWindowBounded + reconcile ≡ batch TransactionWindow, incl. trailing flush and Discard tombstone") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    // element = (ts, cmd): "c" Continue, "C" Commit, "D" Discard, "A<t>" CommitAfter(t)
    def logic(v: (Long, String)): Streaming.TxOp = v._2 match {
      case "c" => Streaming.TxContinue
      case "C" => Streaming.TxCommit
      case "D" => Streaming.TxDiscard
      case a   => Streaming.TxCommitAfter(a.drop(1).toLong)
    }
    def bLogic(v: (Long, String)): graft.api.WindowDescr.TransactionOp = v._2 match {
      case "c" => graft.api.WindowDescr.Continue
      case "C" => graft.api.WindowDescr.Commit
      case "D" => graft.api.WindowDescr.Discard
      case a   => graft.api.WindowDescr.CommitAfter(a.drop(1).toLong)
    }
    def agg(ws: Seq[(Long, String)]): String = ws.map(_._1).sorted.mkString(",")
    // a: CommitAfter fires mid-stream, then a Discard, then a TRAILING
    //    pending window (must flush, the batch machine's end tail);
    // b: explicit Commit, then a trailing buffer with NO pending CommitAfter
    //    (must NOT flush — the batch machine's guard);
    // d: provisional emitted in batch 1, window DISCARDED in batch 2 — the
    //    tombstone must cancel the stale provisional.
    val batches = Seq(
      Seq(("a", (1L, "A10")), ("a", (5L, "c")), ("b", (2L, "c")), ("d", (1L, "A100"))),
      Seq(("a", (12L, "c")), ("a", (13L, "D")), ("a", (14L, "A20")),
        ("b", (3L, "C")), ("d", (2L, "D"))),
      Seq(("a", (15L, "c")), ("b", (4L, "c"))))
    val in = MemoryStream[(String, (Long, String))]
    val out = Streaming.transactionWindowBounded[String, (Long, String), Long, String](
      in.toDS(), logic, _._1, _._1)(agg)
      .toDF("key", "win_seq", "kind", "emit_seq", "out")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("txb").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = Streaming.reconcileTxBounded(spark.table("txb"))
        .as[(String, String)].collect().toSet
      // batch oracle: the batch machine over each key's full element list
      val expected = batches.flatten.groupBy(_._1).toSeq.flatMap { case (k, kvs) =>
        graft.api.WindowDescr.TransactionWindow[(Long, String), Long](bLogic, _._1, _._1)
          .assign(kvs.map(_._2).toIndexedSeq)
          .map(w => (k, agg(w)))
      }.toSet
      assert(got == expected, s"got=$got expected=$expected")
      assert(got == Set(("a", "1,5"), ("a", "14,15"), ("b", "2,3")))
    } finally q.stop()
  }

  test("transactionWindowBounded property pin: random op interleavings and batch splits equal the batch machine") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    def logic(v: (Long, String)): Streaming.TxOp = v._2 match {
      case "c" => Streaming.TxContinue
      case "C" => Streaming.TxCommit
      case "D" => Streaming.TxDiscard
      case a   => Streaming.TxCommitAfter(a.drop(1).toLong)
    }
    def bLogic(v: (Long, String)): graft.api.WindowDescr.TransactionOp = v._2 match {
      case "c" => graft.api.WindowDescr.Continue
      case "C" => graft.api.WindowDescr.Commit
      case "D" => graft.api.WindowDescr.Discard
      case a   => graft.api.WindowDescr.CommitAfter(a.drop(1).toLong)
    }
    def agg(ws: Seq[(Long, String)]): String = ws.map(_._1).sorted.mkString(",")
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      // per key: strictly increasing ts, random ops; CommitAfter horizons a
      // few steps ahead so windows commit by watermark, by signal, discard,
      // or stay pending at end — every path exercised
      val keys = Seq("a", "b", "c")
      val all = keys.flatMap { k =>
        var ts = 0L
        (1 to 3 + rnd.nextInt(12)).map { _ =>
          ts += 1 + rnd.nextInt(4)
          val op = rnd.nextInt(10) match {
            case 0 | 1   => "C"
            case 2       => "D"
            case 3 | 4 | 5 => s"A${ts + rnd.nextInt(6)}"
            case _       => "c"
          }
          (k, (ts, op))
        }
      }
      // split by global ts range (per-key order respected — the runStream
      // ts-range contract) into 3 batches
      val maxTs = all.map(_._2._1).max
      val cut1 = maxTs / 3; val cut2 = 2 * maxTs / 3
      val batches = Seq(
        all.filter(_._2._1 <= cut1),
        all.filter(e => e._2._1 > cut1 && e._2._1 <= cut2),
        all.filter(_._2._1 > cut2)).filter(_.nonEmpty)
      val in = MemoryStream[(String, (Long, String))]
      val out = Streaming.transactionWindowBounded[String, (Long, String), Long, String](
        in.toDS(), logic, _._1, _._1)(agg)
        .toDF("key", "win_seq", "kind", "emit_seq", "out")
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(s"txprop$seed").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val got = Streaming.reconcileTxBounded(spark.table(s"txprop$seed"))
          .as[(String, String)].collect().toSeq.sorted
        val expected = all.groupBy(_._1).toSeq.flatMap { case (k, kvs) =>
          graft.api.WindowDescr.TransactionWindow[(Long, String), Long](
            bLogic, _._1, _._1).assign(kvs.map(_._2).toIndexedSeq)
            .map(w => (k, agg(w)))
        }.sorted
        assert(got == expected,
          s"seed=$seed diverged:\n stream=$got\n batch =$expected\n input=$all")
      } finally q.stop()
    }
  }

  test("bothSeenOnce emits each key exactly once, on the batch where the second polarity lands") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Boolean)]
    val q = Streaming.bothSeenOnce(in.toDS()).toDF("k")
      .writeStream.outputMode("append").format("memory").queryName("both").start()
    try {
      in.addData(("x", true), ("y", true), ("y", false))
      q.processAllAvailable()
      assert(spark.table("both").as[String].collect().toSeq.sorted == Seq("y"))
      in.addData(("x", false), ("y", true), ("z", false))
      q.processAllAvailable()
      assert(spark.table("both").as[String].collect().toSeq.sorted == Seq("x", "y"))
      in.addData(("x", true), ("z", false)) // no re-emission, z still one-sided
      q.processAllAvailable()
      assert(spark.table("both").as[String].collect().toSeq.sorted == Seq("x", "y"))
    } finally q.stop()
  }

  test("streaming ProcessingTimeWindow: buffer until wall-clock timeout, emit once, re-arm") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    // 300 ms tumbling processing-time window per key
    val out = graft.streaming.Streaming.processingTimeTumbling(in.toDS(), 300L)(_.sum)
    // a throttled trigger matters: with the default ASAP trigger a
    // ProcessingTimeTimeout query busy-loops no-data batches
    val q = out.toDF("k", "sum").writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ptw").toString)
      .format("memory").queryName("ptw").start()
    // wall-clock semantics → poll with a deadline instead of processAllAvailable
    def rowsNow(): Map[String, Int] =
      spark.table("ptw").as[(String, Int)].collect().toMap
    def awaitKeys(keys: Set[String], deadlineMs: Long = 30000): Map[String, Int] = {
      val end = System.currentTimeMillis() + deadlineMs
      var m = rowsNow()
      while (!keys.subsetOf(m.keySet) && System.currentTimeMillis() < end) {
        Thread.sleep(200); m = rowsNow()
      }
      m
    }
    try {
      // NOTE: processAllAvailable() must not be used here — with
      // ProcessingTimeTimeout each batch schedules another no-data batch to
      // fire future timeouts, so the no-new-data signal never comes; the
      // poll-with-deadline IS the correct synchronization for wall-clock
      // semantics.
      in.addData(("a", 1), ("b", 10))
      // second batch for key 'a' BEFORE its deadline: the invocation clears
      // the Spark timeout, so the window must RE-ARM against its absolute
      // deadline or it would buffer forever (regression coverage)
      in.addData(("a", 2))
      // no-data batches fire the timeouts once 300 ms of wall clock pass
      val m1 = awaitKeys(Set("a", "b"))
      assert(m1.get("a").contains(3), s"a window should aggregate 1+2: $m1")
      assert(m1.get("b").contains(10), s"$m1")
      // a later key opens a fresh window (re-arm) and times out independently
      in.addData(("c", 100))
      val m2 = awaitKeys(Set("c"))
      assert(m2.get("c").contains(100), s"$m2")
    } finally q.stop()
  }

  test("async-producer source: pump drains the producer into the stream") {
    val s = spark; import s.implicits._
    import scala.concurrent.Future
    val ctx = new graft.api.StreamContext(spark)
    val items = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    (1 to 50).foreach(items.add(_))
    val src = ctx.streamAsync[Int](() => Future.successful(Option(items.poll())))
    val q = src.stream.toDF("v").writeStream.outputMode("append")
      .format("memory").queryName("async_src").start()
    try {
      src.pumpThread.join(30000)
      assert(!src.pumpThread.isAlive, "pump must terminate on None")
      assert(src.failed.isEmpty, s"clean drain must not record a failure: ${src.failed}")
      q.processAllAvailable()
      val got = spark.table("async_src").as[Int].collect().sorted.toSeq
      assert(got == (1 to 50))
    } finally q.stop()

    // a failing producer future must be OBSERVABLE on the handle, not a
    // silent pump death
    val bad = ctx.streamAsync[Int](() =>
      Future.failed(new RuntimeException("producer broke")))
    bad.pumpThread.join(30000)
    assert(bad.failed.exists(_.getMessage.contains("producer broke")))
  }

  test("async-producer source: a micro-batch reads at most defaultParallelism partitions") {
    val s = spark; import s.implicits._
    import scala.concurrent.Future
    import scala.jdk.CollectionConverters._
    val items = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    (1 to 200).foreach(items.add(_))
    val src = ctx.streamAsync[Int](() => Future.successful(Option(items.poll())))
    src.pumpThread.join(30000)
    assert(!src.pumpThread.isAlive && src.failed.isEmpty)
    // all 200 polled items are queued before the query starts: one batch
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val q = src.stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Int], _: Long) =>
        batches.add((df.count(), df.rdd.getNumPartitions)); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val seen = batches.asScala.toSeq
    assert(seen.map(_._1) == Seq(200L), s"batches (rows, partitions): $seen")
    assert(seen.head._2 <= spark.sparkContext.defaultParallelism,
      s"one batch of 200 polled items planned ${seen.head._2} partitions")
  }

  test("stream-stream interval join with watermarks") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val l = MemoryStream[(Timestamp, String)]
    val r = MemoryStream[(Timestamp, String)]
    val left = Streaming.withEventTime(l.toDF.toDF("lts", "lk"), "lts", "10 seconds")
    val right = Streaming.withEventTime(r.toDF.toDF("rts", "rk"), "rts", "10 seconds")
    val joined = Streaming.intervalJoin(left, right,
      col("lk") === col("rk"), col("lts"), col("rts"), "5 SECONDS", "5 SECONDS")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij").start()
    try {
      l.addData((ts(10), "x")); r.addData((ts(12), "x"), (ts(30), "x"))
      q.processAllAvailable()
      val got = spark.table("ij").collect()
      assert(got.length == 1, s"expected 1 join row, got ${got.length}")
      // output timestamp = max of the pair (reference interval_join.rs:113-120)
      assert(got(0).getAs[Timestamp]("pair_ts") == ts(12))
    } finally q.stop()
  }

  test("streaming curation pipeline: gate, redact and dedup compose in one query") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // quality gate + PII redaction are narrow Column stages, so they chain
    // directly onto the stateful exact-dedup stream in a single query
    val gated = in.toDF.toDF("id", "text")
      .filter(graft.functions.TextAnalysis.qualityScore(col("text")) >= 0.2)
      .withColumn("text", graft.functions.Redaction.redactPii(col("text")))
    val out = Streaming.dedupExactStream(gated, "text").select("id", "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("curation").start()
    try {
      val good = "the quick brown fox jumps over the lazy dog with some more words"
      in.addData((1L, s"$good mail me at bob@example.com"),
        (2L, "!!! ??? ,,,"), // gated out: symbols, no stopwords
        (3L, s"$good mail me at alice@other.org")) // same text post-redaction
      q.processAllAvailable()
      in.addData((4L, s"$good mail me at carol@third.net")) // still a dup
      q.processAllAvailable()
      val got = spark.table("curation").as[(Long, String)].collect().toSet
      // redaction unifies 1 and 3 and 4 into one kept doc; 2 never passes
      assert(got.map(_._1) == Set(1L))
      assert(got.head._2 == s"$good mail me at <EMAIL>")
    } finally q.stop()
  }

  test("streaming KMV sketch: per-trigger estimate equals the batch sketch of the prefix") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val k = 32
    val b1 = (1 to 300).map(i => s"u${i % 150}") // 150 distinct
    val b2 = (100 to 400).map(i => s"u$i")       // extends to 400 distinct total
    val in = MemoryStream[String]
    val out = graft.streaming.Streaming.kmvStream(
      in.toDF.toDF("v"), col("v"), k)
    val q = out.toDF("h_k", "n_h", "est").writeStream
      .outputMode("update").format("memory").queryName("kmv_stream").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val rows = spark.table("kmv_stream")
        .select("h_k", "n_h", "est").as[(Long, Long, Double)].collect()
      assert(rows.length == 2, s"one emission per trigger: ${rows.toSeq}")
      // each trigger's emission equals the batch sketch of the data so far
      def batchEst(xs: Seq[String]) = {
        val sk = graft.functions.Sketches.kmvSketch(xs.toDF("v"), col("v"), k)
        val r = sk.agg(max(col("h")), count(lit(1))).head()
        (r.getLong(0), r.getLong(1),
          graft.functions.Sketches.kmvEstimate(sk, k))
      }
      assert(rows(0) == batchEst(b1))
      assert(rows(1) == batchEst(b1 ++ b2))
    } finally q.stop()
  }

  test("streaming C4 line cleaning: narrow profile runs unchanged, stream ≡ batch") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      (1L, "Good line one two.\nno punct here\nAnother fine line!\nThird keeper."),
      (2L, "only one short.\nnothing else survives"))
    val in = MemoryStream[(Long, String)]
    val out = graft.functions.QualityFilters.c4Profile(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text",
      minWords = 2, minLines = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("c4_stream").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val stream = spark.table("c4_stream")
        .select("doc_id", "cleaned", "n_kept", "keep")
        .as[(Long, String, Long, Boolean)].collect().toSet
      val batch = graft.functions.QualityFilters.c4Profile(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        minWords = 2, minLines = 3)
        .select("doc_id", "cleaned", "n_kept", "keep")
        .as[(Long, String, Long, Boolean)].collect().toSet
      assert(stream == batch)
      assert(stream.exists(r => r._1 == 1L && r._3 == 3L && r._4))
      assert(stream.exists(r => r._1 == 2L && r._3 == 1L && !r._4))
    } finally q.stop()
  }

  test("streaming URL canonicalization + mojibake repair + script guess: stateless chain, stream ≡ batch") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    // the web-ingest head of the curation pipeline: canonical URL +
    // encoding repair + script gate, all narrow — runs unchanged on an
    // unbounded stream with zero state
    val docs = Seq(
      (1L, "HTTP://WWW.A.com:80/x/?utm_source=f&id=1#t", "cafÃ© itâ€™s fine"),
      (2L, "https://sub.b.net:443/p/", "привет мир это тест"),
      (3L, "not a url", "plain ascii"))
    def chain(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"),
        graft.functions.UrlOps.canonicalizeUrl(col("url")).as("canon"),
        graft.functions.UrlOps.registeredDomain(col("url")).as("domain"),
        graft.functions.TextAnalysis.fixMojibake(col("text")).as("fixed"))
        .withColumn("script_guess",
          graft.functions.TextAnalysis.scriptGuess(col("fixed")))
    val in = MemoryStream[(Long, String, String)]
    val q = chain(in.toDF.toDF("id", "url", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("url_stream").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val stream = spark.table("url_stream")
        .select("id", "canon", "domain", "fixed", "script_guess")
        .as[(Long, String, String, String, String)].collect().toSet
      val batch = chain(docs.toDF("id", "url", "text"))
        .select("id", "canon", "domain", "fixed", "script_guess")
        .as[(Long, String, String, String, String)].collect().toSet
      assert(stream == batch)
      assert(stream.exists(r => r._1 == 1L && r._2 == "http://a.com/x?id=1"
        && r._3 == "a.com" && r._4 == "café it’s fine" && r._5 == "latin"))
      assert(stream.exists(r => r._1 == 2L && r._5 == "cyrillic"))
    } finally q.stop()
  }

  test("streaming HTML extraction + trained-classifier scoring: narrow gates run unchanged") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    // train once on a batch fixture; the model is literal weights, so
    // scoring is a stateless narrow stage that chains onto any stream
    val fixture = (1L to 40L).map { i =>
      if (i % 2 == 0) (i, "the quick brown fox jumps over the lazy dog again and again")
      else (i, "zzz qqq xxx !!!")
    }.toDF("doc_id", "text")
    val model = graft.functions.QualityClassifier.train(
      fixture, "text", col("doc_id") % 2 === 0)
    val in = MemoryStream[(Long, String)]
    val cleaned = in.toDF.toDF("doc_id", "html")
      .withColumn("text",
        graft.functions.TextAnalysis.extractHtmlText(col("html")))
    val out = graft.functions.QualityClassifier
      .score(cleaned, "doc_id", "text", model)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("html_scored").start()
    try {
      in.addData(
        (1L, "<p>the quick brown fox jumps over the lazy dog again and again</p><script>x</script>"),
        (2L, "<div>zzz qqq xxx !!!</div>"))
      q.processAllAvailable()
      val got = spark.table("html_scored")
        .select("doc_id", "keep").as[(Long, Long)].collect().toMap
      assert(got(1L) == 1L, s"prose doc should pass: $got")
      assert(got(2L) == 0L, s"gibberish doc should be gated: $got")
      // stream scores equal the batch scores on the same cleaned text
      val batch = graft.functions.QualityClassifier.score(
        Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
          (2L, "zzz qqq xxx !!!")).toDF("doc_id", "text"),
        "doc_id", "text", model)
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
      val streamScores = spark.table("html_scored")
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
      assert(streamScores == batch)
    } finally q.stop()
  }

  test("streaming as-of join: batch-equivalent in order, at-arrival for late rights") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val quotes = MemoryStream[(String, Long, Double)] // key, ts, px
    val trades = MemoryStream[(String, Long, Int)]    // key, ts, tid
    val joined = Streaming.asofJoinStream(
      trades.toDS.map(t => (t._1, t._2, t._3)),
      quotes.toDS.map(q => (q._1, q._2, q._3)))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("asof").start()
    def rowsNow: Set[(Int, Option[Long])] =
      spark.table("asof").as[(String, Long, Int, Option[Double], Option[Long])]
        .collect().map(r => (r._3, r._5)).toSet
    try {
      // batch 1: rights and lefts together, interleaved event times —
      // within-batch event-time ordering must reproduce the batch operator:
      // trade 1 @15 sees quote @10; trade 2 @20 sees the EQUAL-ts quote @20
      quotes.addData(("a", 10L, 1.0), ("a", 20L, 2.0))
      trades.addData(("a", 15L, 1), ("a", 20L, 2), ("a", 5L, 3))
      q.processAllAvailable()
      assert(rowsNow == Set((1, Some(10L)), (2, Some(20L)), (3, None)))
      // batch 2: a late-arriving right BEHIND trade 1's event time does NOT
      // retro-emit (at-arrival divergence from batch, pinned)...
      quotes.addData(("a", 12L, 9.9))
      q.processAllAvailable()
      assert(rowsNow == Set((1, Some(10L)), (2, Some(20L)), (3, None)))
      // ...but a LATER left consults the full (re-sorted) right history:
      // trade @13 matches the late quote @12, not @10 or @20
      trades.addData(("a", 13L, 4))
      q.processAllAvailable()
      assert(rowsNow ==
        Set((1, Some(10L)), (2, Some(20L)), (3, None), (4, Some(12L))))
      // unseen key stays left-outer
      trades.addData(("zzz", 99L, 5))
      q.processAllAvailable()
      assert(rowsNow.contains((5, None)))
    } finally q.stop()
  }

  test("streaming funnel: O(1) state tracks the batch staging across batches") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val staged = Streaming.funnelStream(in.toDS.map(identity(_)),
      ("view", "click", "purchase"))
    val q = staged.writeStream.outputMode("update")
      .format("memory").queryName("funnel").start()
    try {
      // batch 1: user 1 views; user 2's purchase PRECEDES any click
      in.addData((1L, "view", 10L), (2L, "view", 10L), (2L, "purchase", 15L))
      q.processAllAvailable()
      // batch 2: user 1 completes in order; user 2 clicks (purchase already
      // burned — stage stays 2); out-of-order WITHIN the batch is sorted
      in.addData((1L, "purchase", 30L), (1L, "click", 20L), (2L, "click", 20L))
      q.processAllAvailable()
      val last = spark.table("funnel")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
      assert(last(1L) == ((1L, 3L, 10L, 20L, 30L, 3L)))
      assert(last(2L) == ((2L, 3L, 10L, 20L, -1L, 2L)))
    } finally q.stop()
  }

  test("streaming sessionize: cross-batch gaps measured against real last event") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)] // (event_id, user_id, us)
    val out = Streaming.sessionizeStream(in.toDS.map(identity(_)), gapUs = 100L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessionize").start()
    try {
      // batch 1: user 1 opens a session; second event inside the gap
      in.addData((1L, 1L, 0L), (2L, 1L, 50L))
      q.processAllAvailable()
      // batch 2: event at 120 — 70 after the CROSS-BATCH last (50): same
      // session; event at 300 reopens; out-of-order within batch is sorted
      in.addData((4L, 1L, 300L), (3L, 1L, 120L))
      q.processAllAvailable()
      val got = spark.table("sessionize")
        .as[(Long, Long, Boolean, Long)].collect()
        .map(r => (r._1, r._3, r._4)).sortBy(_._1).toSeq
      assert(got == Seq((1L, true, 1L), (2L, false, 1L),
        (3L, false, 1L), (4L, true, 2L)))
    } finally q.stop()
  }

  test("streaming as-of join: keepRights=1 is latest-state enrichment") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val quotes = MemoryStream[(String, Long, Double)]
    val trades = MemoryStream[(String, Long, Int)]
    val joined = Streaming.asofJoinStream(
      trades.toDS.map(identity(_)), quotes.toDS.map(identity(_)),
      keepRights = 1)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("asof1").start()
    try {
      quotes.addData(("a", 10L, 1.0), ("a", 20L, 2.0)) // only @20 retained
      q.processAllAvailable()
      trades.addData(("a", 25L, 1), ("a", 15L, 2))
      q.processAllAvailable()
      val got = spark.table("asof1")
        .as[(String, Long, Int, Option[Double], Option[Long])]
        .collect().map(r => (r._3, r._5)).toSet
      // trade @25 matches the retained @20; trade @15 finds NOTHING — the
      // @10 quote was trimmed (the documented keepRights=1 contract)
      assert(got == Set((1, Some(20L)), (2, None)))
    } finally q.stop()
  }

  test("catalog stream twins replay MULTI-batch and still equal the batch result") {
    // the driver's oracle certifies values; this pins the replay SHAPE so a
    // regression to one-batch (or a broken split cache) fails a named test
    // instead of silently weakening the incremental-state evidence
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val twin = Queries.q_stream_tumbling(spark, dir)
    val streamed = rows(twin)
    assert(Queries.lastStreamPhases.sum >= 3,
      s"expected >= 3 input-fed micro-batches, got ${Queries.lastStreamPhases}")
    assert(streamed == rows(Queries.q_window_tumbling(spark, dir)))
    // the twin leaves nothing behind in the session: no sink view, no
    // running query, the shuffle width it replayed at restored
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_s")))
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    // and its result is an ordinary local frame a later twin cannot release
    Queries.q_stream_tumbling(spark, dir).count()
    assert(rows(twin) == streamed)
  }
}
