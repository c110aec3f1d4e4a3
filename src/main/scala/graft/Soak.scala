package graft

/** Scale soak: runs the scale-sensitive pipeline families once at a given
  * SF directory and prints per-pipeline wall time + total shuffle-write
  * bytes — the evidence that the plan shapes grow sub-quadratically from
  * sf0.1 to a self-generated ~sf1 (10×) input (SCALE.md records the
  * sweep). Not a benchmark (single pass, cold); the RATIO between scales
  * is the signal, not the absolute numbers.
  *
  *   sbt "runMain graft.Soak /root/testdata/sf0.1"
  *   sbt "runMain graft.Soak /tmp/soak_sf1"     # 10× generated tables
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    val cpus = spark.sparkContext.defaultParallelism

    // SPARK_GRAFT_SOAK_REPEAT=N runs the whole sweep N times (default 1)
    // and records each pipeline's MIN wall time across passes — the Bench
    // estimator for the same reason (shared-host interference bursts only
    // ever ADD time, and catalog-level passes put a full sweep between a
    // pipeline's two runs so one burst poisons at most one of them).
    // rows/shuffle_mb are deterministic per pipeline and must agree across
    // passes; pass = true only if every pass passed.
    val repeat = math.max(1,
      sys.env.get("SPARK_GRAFT_SOAK_REPEAT").map(_.toInt).getOrElse(1))
    // `pass` = every pass passed (the artifact's verdict); `timed` = the
    // recorded secs/mb came from a SUCCESSFUL pass (distinct — a cell
    // that failed once keeps pass=false forever, but later successful
    // passes must still min-merge timings rather than overwrite them)
    final case class Stat(rows: Long, secs: Double, mb: Double,
        pass: Boolean, timed: Boolean)
    val cells = scala.collection.mutable.LinkedHashMap.empty[String, Stat]
    var failed = 0

    def run(name: String)(f: => Long): Unit = {
      val ((rows, pass, secs), layers) = Layers.measure(spark) {
        val t0 = System.nanoTime()
        // a failing pipeline records pass:false and the soak continues — the
        // artifact must show the whole sweep, not stop at the first casualty
        val (rows, pass) =
          try { (f, true) }
          catch { case e: Exception =>
            System.err.println(s"[soak] $name FAILED: ${e.getMessage}")
            (-1L, false)
          }
        (rows, pass, (System.nanoTime() - t0) / 1e9)
      }
      val mb = layers.shuffleWriteBytes / 1048576.0
      spark.catalog.clearCache() // Bench discipline: no cross-pipeline caches
      println(
        f"""{"pipeline":"$name","rows":$rows,"sec":$secs%.2f,"shuffle_mb":$mb%.1f,"pass":$pass}""")
      cells.get(name) match {
        // timings from a FAILED pass are artifacts of the abort point, not
        // of the pipeline — only a successful pass may lower the minima
        // (mirroring the rows guard)
        case Some(prev) =>
          // abort-artifact timings never participate: the first SUCCESSFUL
          // pass replaces them, and every later successful pass min-merges
          // (keyed on prev.timed, not prev.pass — a once-failed cell stays
          // pass=false forever but its later good timings still min-merge)
          val (mSecs, mMb) =
            if (!pass) (prev.secs, prev.mb)
            else if (!prev.timed) (secs, mb)
            else (math.min(prev.secs, secs), math.min(prev.mb, mb))
          cells(name) = Stat(
            if (pass) rows else prev.rows, mSecs, mMb, prev.pass && pass,
            prev.timed || pass)
        case None => cells(name) = Stat(rows, secs, mb, pass, timed = pass)
      }
    }

    def sweep(): Unit = {
    run("warmup")(Queries.tbl(spark, dir, "documents").count())
    run("dedup_minhash") {
      val p = graft.functions.Dedup.minhashNearDups(
        Queries.tbl(spark, dir, "documents"), "doc_id", "text", minEstSim = 0.5)
      val n = p.count(); p.unpersist(); n
    }
    run("dedup_verified")(graft.functions.Dedup.nearDupPipeline(
      Queries.tbl(spark, dir, "documents"), "doc_id", "text", minJaccard = 0.8).count())
    run("dedup_clusters") {
      val p = graft.functions.Dedup.minhashNearDups(
        Queries.tbl(spark, dir, "documents"), "doc_id", "text", minEstSim = 0.5)
      val n = graft.functions.Dedup.nearDupClusters(p).count(); p.unpersist(); n
    }
    run("ann_ivfpq")(Queries.q_ann_ivfpq(spark, dir).count())
    run("heavy_hitters")(Queries.q_heavy_hitters(spark, dir, portable = false).count())
    run("connected_components")(Queries.q_connected_components(spark, dir).count())
    run("copurchase_pairs")(graft.functions.CoOccurrence.pairCounts(
      Queries.tbl(spark, dir, "lineitem"), "l_orderkey", "l_partkey",
      maxBasketSize = 20, minCount = 2L).count())
    run("label_prop") {
      val edges = graft.functions.CoOccurrence.pairCounts(
          Queries.tbl(spark, dir, "lineitem"), "l_orderkey", "l_partkey",
          maxBasketSize = 20, minCount = 2L)
        .select(org.apache.spark.sql.functions.col("a_item").as("src"),
          org.apache.spark.sql.functions.col("b_item").as("dst"))
      graft.algorithms.Graph.labelPropagation(edges, rounds = 2,
        dedupeEdges = false).count()
    }
    // the round-11 additions: the rest of the scale-sensitive catalog —
    // graph fixpoints over the co-purchase edges, retrieval over the 10×
    // corpus, event-time windows over 10× window keys, simhash/incremental
    // dedup, the persistent-index ANN path, and the multi-batch streaming
    // twins (real state-store commits at 10× the keyed state)
    // round-14 additions: the two embedding-similarity pipelines whose
    // quadratic growth the decade-2 sweep caught were NOT in this soak set
    // — that is exactly how fixed nlist/bits slipped past three rounds of
    // sf1 sweeps. Both run in production (corpus-adaptive) mode here, so
    // any future regression of the auto-sizing shows up in the per-round
    // artifact as a super-linear wall/shuffle jump.
    // (no unpersist: q_semantic_dedup returns a select over a GC-managed
    // localCheckpoint, not a cached table — unpersist on the derived
    // select would be a silent no-op)
    run("semantic_dedup")(Queries.q_semantic_dedup(spark, dir, portable = false).count())
    run("embedding_neardup")(Queries.q_embedding_neardup(spark, dir, portable = false).count())
    run("related_items")(Queries.q_related_items(spark, dir).count())
    run("hits")(Queries.q_hits(spark, dir).count())
    run("pagerank_delta")(Queries.q_pagerank_delta(spark, dir).count())
    run("dedup_simhash")(Queries.q_dedup_simhash(spark, dir, portable = false).count())
    run("dedup_incremental")(Queries.q_dedup_incremental(spark, dir, portable = false).count())
    run("ann_ivf_persist")(Queries.q_ann_ivf_persist(spark, dir).count())
    run("ngram_lm") {
      val p = Queries.q_ngram_lm(spark, dir)
      val n = p.count(); p.unpersist(); n
    }
    run("inverted_index_bm25")(Queries.q_bm25(spark, dir).count())
    run("sessionize")(Queries.q_sessionize(spark, dir).count())
    run("window_sliding")(Queries.q_window_sliding(spark, dir).count())
    run("stream_dedup")(Queries.q_stream_dedup(spark, dir).count())
    run("stream_session")(Queries.q_stream_session(spark, dir).count())
    run("stream_interval_join")(Queries.q_stream_interval_join(spark, dir).count())
    // round-13 machinery at 10×: the bounded-replay TransactionWindow
    // (provisional/tombstone reconcile) and a stream-stream self-join
    run("stream_nx4_txn")(Queries.q_stream_nx4(spark, dir).count())
    run("stream_nx3_join")(Queries.q_stream_nx3(spark, dir).count())
    // the Soak-tagged catalog cells (see Tag.Soak), production hashing
    Queries.catalog.filter(_.is(Tag.Soak))
      .foreach(c => run(c.name)(c.run(spark, dir, false).count()))
    }

    // twin tables' stream splits and fingerprints, outside every timed window
    Queries.prepareStreamSplits(spark, dir)
    for (_ <- 1 to repeat) sweep()
    failed = cells.valuesIterator.count(!_.pass)
    val entries = cells.map { case (name, c) =>
      f"""{"pipeline":"$name","rows":${c.rows},"sec":${c.secs}%.2f,"shuffle_mb":${c.mb}%.1f,"pass":${c.pass}}"""
    }

    val out = sys.env.get("SPARK_GRAFT_SOAK_OUT")
    out.foreach { p =>
      // JSON-escape the free-form path: a quote or backslash would otherwise
      // make json.load reject the artifact and silently zero the round's
      // soak evidence
      val doc = s"""{"sf_dir":${Harness.jsonString(dir)},"cpus":$cpus,"repeat":$repeat,"failed":$failed,""" +
        s""""pipelines":[${entries.mkString(",")}]}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[soak] wrote $p")
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
