package graft

import graft.functions.{Dedup, Similarity, TextAnalysis, Multimodal}
import org.apache.spark.sql.functions._

/** Quality tests for the hash-based dedup/ANN paths: the engine-specific
  * hashing has no SQL oracle, so these assert recall/precision against the
  * exact computations on the sf0.001 corpus. */
class NearDupSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"
  def docs = spark.read.parquet(s"$dir/documents.parquet")

  /** ground truth: exact 3-gram jaccard >= 0.8 pairs. */
  def truePairs: Set[(Long, Long)] =
    Dedup.ngramJaccard(docs, "doc_id", "text", "lang", 3, Long.MaxValue, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH finds every exact near-dup pair (recall = 1 on planted dups)") {
    val cand = Dedup.minhashNearDups(docs, "doc_id", "text", minEstSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = truePairs
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
    assert(truth.subsetOf(cand),
      s"missed pairs: ${truth -- cand}")
  }

  test("per-pair native verify is bit-identical to the set-join verify") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text").persist()
    val cands = Dedup.minhashCandidates(sig, minEstSim = 0.3).persist()
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      val joinBased = Dedup.verifyCandidates(docs, cands, "doc_id", "text", 3, 0.5)
      val direct = Dedup.verifyCandidatesDirect(docs, cands, "doc_id", "text", 3, 0.5)
      val a = rows(joinBased); val b = rows(direct)
      joinBased.unpersist(); direct.unpersist()
      assert(a.nonEmpty && a == b)
      // degenerate texts: empty and sub-n docs score an explicit 0 in both
      val s = spark; import s.implicits._
      val deg = Seq((1L, ""), (2L, "one two"), (3L, "one two three four"))
        .toDF("doc_id", "text")
      val degCands = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
      val dj = rows(Dedup.verifyCandidates(deg, degCands, "doc_id", "text", 3, 0.0))
      val dd = rows(Dedup.verifyCandidatesDirect(deg, degCands, "doc_id", "text", 3, 0.0))
      assert(dj == dd && dj.map(x => (x._1, x._2, java.lang.Double.longBitsToDouble(x._3)))
        == Set((1L, 2L, 0.0), (2L, 3L, 0.0)))
    } finally { cands.unpersist(); sig.unpersist() }
  }

  test("portable hash modes: same recall and same bands behavior as the defaults") {
    // the portable (md5-derived, oracle-recomputable) hash mode is a hash
    // SWAP, not an algorithm change: it must find every planted dup the
    // default xxhash64 mode finds
    val truth = truePairs
    val portable = Dedup.minhashNearDups(docs, "doc_id", "text",
      minEstSim = 0.5, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(portable), s"portable minhash missed: ${truth -- portable}")
    // simhash measures a DIFFERENT similarity than jaccard (a j=0.8 pair may
    // legitimately exceed hamming 3 under either hash) — the mode-invariant
    // guarantee is: identical texts hash identically (hamming 0), near-pure
    // overlaps land within the distance, in BOTH modes
    val s = spark
    import s.implicits._
    val synth = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and once"),
      (4L, "completely different text about distributed dataflow engines")
    ).toDF("doc_id", "text")
    for (p <- Seq(false, true)) {
      val sigs = Dedup.simhash(synth, "doc_id", "text", portable = p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(1L) == sigs(2L),
        s"simhash(portable=$p): identical docs must hash identically")
      assert(sigs(1L) != sigs(4L),
        s"simhash(portable=$p): different docs should differ")
      val sim = Dedup.simhashNearDups(synth, "doc_id", "text",
        maxDist = 3, portable = p)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
      assert(sim.get((1L, 2L)).contains(0),
        s"simhash(portable=$p): identical docs must be a hamming-0 pair: $sim")
      assert(!sim.keySet.exists { case (a, b) => a == 4L || b == 4L },
        s"simhash(portable=$p): unrelated doc must not pair: $sim")
    }
  }

  test("LSH band join moves only (band_id, band_hash, doc_id) — no signature arrays") {
    // the 100 TB shuffle-shape pin: round 2 carried the full 64-long
    // signature on every banded row (16× amplification); the band-key
    // equi-join's inputs must now be scalar-only, with signatures fetched
    // per deduped candidate pair afterwards
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    // the pure candidates builder: minhashNearDups persists+materializes its
    // output, which collapses its own optimizedPlan to a cache scan — and a
    // still-cached output from an earlier test would be substituted into
    // this plan the same way, so drop all caches first
    spark.sharedState.cacheManager.clearCache()
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignature(docs, "doc_id", "text"), minEstSim = 0.5)
    val bandJoins = cands.queryExecution.optimizedPlan.collect {
      case j: Join if j.children.forall(_.output.exists(_.name == "band_hash")) => j
    }
    assert(bandJoins.nonEmpty, "expected the band-key equi-join in the plan")
    for (j <- bandJoins; c <- j.children)
      assert(!c.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"band-join input carries an array column: " +
          c.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
  }

  test("lshBucket literal sign matrix is bit-identical to the per-row hash formulation") {
    // the round-3 default path precomputes the ±1 plane matrix driver-side;
    // this pins it against the round-2 formulation that re-hashed per
    // (row × plane × dim) — same signs, same fold order, same buckets
    import org.apache.spark.sql.Column
    def legacy(vec: Column, bits: Int): Column = {
      val planeBits = (0 until bits).map { p =>
        val signed = aggregate(
          zip_with(vec, transform(sequence(lit(0), size(vec) - 1),
            i => when(shiftright(xxhash64(lit(p), i), 13).bitwiseAND(1) === 1, 1.0)
              .otherwise(-1.0)),
            (x, h) => x * h),
          lit(0.0), (acc, v) => acc + v)
        when(signed > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }
      planeBits.reduce((a, b) => a.bitwiseOR(b))
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val diff = emb.select(Similarity.lshBucket(col("vec"), 16).as("fast"),
        legacy(col("vec"), 16).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0, s"$diff rows bucketed differently")
  }

  test("incremental minhash dedup over two increments composes to the full-corpus pairs") {
    val full = Dedup.minhashNearDups(docs, "doc_id", "text", minEstSim = 0.5)
    val expected = full.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    full.unpersist()
    assert(expected.nonEmpty)

    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head()
      .get(0).toString.toDouble.toLong
    val inc1 = docs.filter(col("doc_id") <= mid)
    val inc2 = docs.filter(col("doc_id") > mid)
    val (p1, sigs1) = Dedup.minhashNearDupsIncremental(
      inc1, Dedup.emptySignatures(spark), "doc_id", "text", minEstSim = 0.5)
    val got1 = p1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the production cycle stores signatures between increments: round-trip
    // increment 1's signatures through parquet before deduping increment 2
    val store = java.nio.file.Files.createTempDirectory("sig_store").toString
    sigs1.write.mode("overwrite").parquet(store)
    sigs1.unpersist()
    val (p2, sigs2) = Dedup.minhashNearDupsIncremental(
      inc2, spark.read.parquet(store), "doc_id", "text", minEstSim = 0.5)
    val got2 = p2.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sigs2.unpersist()
    assert((got1 & got2).isEmpty, "a pair must be reported in exactly one increment")
    assert((got1 | got2) == expected,
      s"missing=${expected -- got1 -- got2} extra=${(got1 | got2) -- expected}")
  }

  test("incremental simhash near-dup composes to the full-corpus pairs") {
    val expected = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty)
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val empty = Dedup.simhash(docs.limit(0), "doc_id", "text")
    val (p1, sigs1) = Dedup.simhashNearDupsIncremental(
      docs.filter(col("doc_id") <= mid), empty, "doc_id", "text", maxDist = 3)
    val got1 = p1.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val (p2, sigs2) = Dedup.simhashNearDupsIncremental(
      docs.filter(col("doc_id") > mid), sigs1, "doc_id", "text", maxDist = 3)
    val got2 = p2.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    sigs1.unpersist(); sigs2.unpersist()
    assert((got1 & got2).isEmpty)
    assert((got1 | got2) == expected,
      s"missing=${expected -- got1 -- got2} extra=${(got1 | got2) -- expected}")
  }

  test("incremental embedding near-dup composes to the full-corpus pairs") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // threshold low enough that the fixture yields pairs
    val expected = Similarity.cosineNearDups(emb, "vec_id", "embedding",
        minSim = 0.3, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "fixture should contain embedding near-dups at 0.3")
    val mid = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val (p1, side1) = Similarity.cosineNearDupsIncremental(
      emb.filter(col("vec_id") <= mid),
      emb.limit(0).select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"),
        lit(0L).as("bucket"), lit(0.0).as("nrm")),
      "vec_id", "embedding", minSim = 0.3, bits = 8)
    val got1 = p1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (p2, _) = Similarity.cosineNearDupsIncremental(
      emb.filter(col("vec_id") > mid), side1,
      "vec_id", "embedding", minSim = 0.3, bits = 8)
    val got2 = p2.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert((got1 & got2).isEmpty, "a pair must be reported in exactly one increment")
    assert((got1 | got2) == expected,
      s"missing=${expected -- got1 -- got2} extra=${(got1 | got2) -- expected}")
  }

  test("fused ArrayMatchCount equals the composed zip_with fold on signatures") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text")
      .select(col("doc_id"),
        array((0 until 64).map(i => col(s"h$i")): _*).as("sig"))
    val pairs = sig.select(col("doc_id").as("a_id"), col("sig").as("a_sig"))
      .crossJoin(sig.select(col("doc_id").as("b_id"), col("sig").as("b_sig")))
      .filter(col("a_id") < col("b_id")).limit(2000)
    val diff = pairs.select(
        graft.plans.VectorExpressions.matchCountNative(col("a_sig"), col("b_sig")).as("fast"),
        expr("aggregate(zip_with(a_sig, b_sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)").as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("fused SimHashAgg equals the per-bit conditional-sum formulation") {
    // the fused single-buffer vote aggregate must reproduce the 64 separate
    // sum(when(bit,1,-1)) slots it replaced, signature-for-signature
    def composed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val tok = df.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").withColumn("h", xxhash64(col("w")))
      val votes = (0 until 64).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
      }
      val voted = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      val sig = (0 until 64).map { i =>
        when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
      voted.select(col("doc_id"), sig.as("simhash"))
    }
    val fused = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = composed(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == slow)
  }

  test("minhash estimated similarity tracks exact jaccard within 0.2") {
    val est = Dedup.minhashNearDups(docs, "doc_id", "text", minEstSim = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", "lang", 3, Long.MaxValue, 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for ((pair, jac) <- exact if est.contains(pair))
      assert(math.abs(est(pair) - jac) < 0.2, s"$pair est=${est(pair)} jac=$jac")
  }

  test("simhash: identical docs → identical hash; near-dups within small hamming") {
    val withDup = docs.select(col("doc_id"), col("text"))
      .union(docs.select(col("doc_id") + 100000, col("text")).limit(5))
    val sig = Dedup.simhash(withDup, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (id <- sig.keys if id >= 100000)
      assert(sig(id) == sig(id - 100000), "identical text must hash identically")
  }

  test("ANN LSH top-1 agrees with brute force when the true neighbor shares a bucket") {
    val bf = Similarity.bruteForceTopK(spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 20, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ann = Similarity.annTopK(spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 20, 1, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // with 4 bits (16 buckets) recall is partial; every returned answer must
    // be a real vector and at least some queries must agree with brute force
    assert(ann.nonEmpty)
    val agree = ann.count { case (q, c) => bf.get(q).contains(c) }
    assert(agree > 0, s"ANN agreed on 0 of ${ann.size} queries")
    // 1-bit-flip multiprobe widens the searched buckets: recall vs brute
    // force must be at least the single-probe recall, and every single-probe
    // candidate set is a subset of the multiprobe one
    val mp = Similarity.annTopK(spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 20, 1, bits = 4, multiprobe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val agreeMp = mp.count { case (q, c) => bf.get(q).contains(c) }
    assert(agreeMp >= agree,
      s"multiprobe recall $agreeMp < single-probe recall $agree")
    assert(mp.size >= ann.size, "multiprobe must answer at least as many queries")
  }

  test("IVF ANN: every result is valid; high agreement with brute force at nprobe=nlist") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 20, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // nprobe == nlist probes every list → recall must be exact
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", 20, 1,
        nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full == bf, "probing all lists must reproduce brute force")
    // partial probing: partial recall, all answers real
    val part = Similarity.ivfTopK(emb, "vec_id", "embedding", 20, 1,
        nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(part.nonEmpty)
    val agree = part.count { case (q, c) => bf.get(q).contains(c) }
    assert(agree > 0)
  }

  test("text profile: fingerprint invariant under word order; langId sane") {
    val df = spark.createDataFrame(Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the"),
      (3L, "el perro y la casa de la madre"),
      (4L, "zzz qqq www"))).toDF("doc_id", "text")
    val p = TextAnalysis.profile(df, "doc_id", "text")
      .select("doc_id", "fingerprint", "lang_guess", "n_tokens")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(p(1L)._1 == p(2L)._1, "bag-of-words fingerprint must ignore order")
    assert(p(1L)._2 == "en" && p(3L)._2 == "es" && p(4L)._2 == "unknown")
    assert(p(1L)._3 == 6L)
  }

  test("multimodal stub pipeline: decode + frame sampling + resize plumbing") {
    import spark.implicits._
    val media = docs.limit(10).select(
        col("doc_id").as("media_id"), col("source").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[Multimodal.MediaRecord]
    val meta = Multimodal.decode(media)
    val rows = meta.collect()
    assert(rows.length == 10)
    assert(rows.forall(m => m.width >= 64 && m.height >= 64 && m.digest.length == 64))
    val frames = Multimodal.sampleFrames(meta, stride = 2).collect()
    assert(frames.nonEmpty)
    val resized = Multimodal.resizeMeta(meta, 128).collect()
    assert(resized.forall(r => r.getInt(1) <= 128 && r.getInt(2) <= 128))
  }

  test("nearDupClusters: an empty pair graph yields empty clusters, no crash") {
    val s = spark; import s.implicits._
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.nearDupClusters(none).collect().isEmpty)
  }

  test("nearDupClusters: pair graph closes into min-id clusters") {
    val s = spark; import s.implicits._
    // two chains (1-2-3 via transitive pairs, 5-6) and an untouched doc 9:
    // similarity is not transitive, so 1-3 is absent yet they share a cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // removal set = docs whose cluster_id differs; representatives kept
    assert(got.filter { case (d, c) => d != c }.keySet == Set(2L, 3L, 6L))
  }

  test("dedupLines: first occurrence survives, short lines exempt, order kept") {
    val s = spark; import s.implicits._
    val boiler = "subscribe to our newsletter today"
    val docs = Seq(
      (1L, s"alpha beta gamma\n$boiler\nunique one here"),
      (2L, s"$boiler\nunique two here\nok"),   // boiler is a dup (doc 1 pos 1 wins)
      (3L, s"ok\nok\nunique three here"),      // "ok" < 3 words → exempt, kept twice
      (4L, boiler)                             // entirely deduped → empty text
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", minWords = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == s"alpha beta gamma\n$boiler\nunique one here")
    assert(got(2L) == "unique two here\nok")
    assert(got(3L) == "ok\nok\nunique three here")
    assert(got(4L) == "")
    // degenerate single-line corpus ≡ exact dedup keeping the first doc
    val flat = Seq((1L, "a b c"), (2L, "a b c"), (3L, "d e f")).toDF("doc_id", "text")
    val flatGot = Dedup.dedupLines(flat, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(flatGot == Map(1L -> "a b c", 2L -> "", 3L -> "d e f"))
  }

  test("semanticDedupPairs: clustered pairs are a subset of full pairwise; identical vecs always found") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def pairs(nlist: Int): Set[(Long, Long)] = {
      val out = graft.functions.Similarity.semanticDedupPairs(
        emb, "vec_id", "embedding", minSim = 0.4, nlist = nlist, kmeansIters = 2)
      val res = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      out.unpersist()
      res
    }
    val full = pairs(1) // nlist=1 ≡ exact pairwise (the oracle configuration)
    val clustered = pairs(4)
    assert(full.nonEmpty)
    assert(clustered.subsetOf(full))
    // identical vectors land in the same cluster by construction (same
    // point → same nearest centroid), so sim≈1 planted duplicates survive
    // clustering: the near-exact pair set is IDENTICAL at nlist=1 and 4
    val exact1 = graft.functions.Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.999999, nlist = 4, kmeansIters = 2)
    val ones = exact1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact1.unpersist()
    val exactFull = graft.functions.Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.999999, nlist = 1, kmeansIters = 1)
    val fullExactOnes = exactFull.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exactFull.unpersist()
    assert(ones == fullExactOnes)
  }

  test("autoNlist/autoBits: floors keep sf-test plans unchanged; growth holds group population constant") {
    import graft.functions.Similarity.{autoBits, autoNlist}
    // sf0.1 embeddings = 2000 vectors → the floors, so committed bench
    // plans are bit-identical before/after the corpus-adaptive change
    assert(autoNlist(2000) == 16)
    assert(autoBits(2000) == 8)
    // the scale contract: cluster population n/nlist stays ≤ target once
    // past the floor, bucket population n/2^bits stays ≤ target
    for (n <- Seq(20000L, 200000L, 2000000L, 200000000L)) {
      assert(n.toDouble / autoNlist(n) <= 1024.0 + 1e-9, s"n=$n")
      assert(n.toDouble / (1L << autoBits(n)) <= 64.0 + 1e-9, s"n=$n")
    }
    // monotone, and bits capped (bucket key packs sign bits)
    assert(autoNlist(200000) >= autoNlist(20000))
    assert(autoBits(Long.MaxValue) == 48)
  }

  test("cosineNearDups: higher bits refine lower bits (pairs(hi) subset of pairs(lo))") {
    // the hyperplane family is indexed by plane position independent of the
    // requested count, so agreeing on 12 planes implies agreeing on the
    // first 8 — the property that makes corpus-adaptive bits a pure
    // precision/recall trade rather than a re-bucketing of the corpus
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def pairs(bits: Int): Set[(Long, Long)] =
      Similarity.cosineNearDups(emb, "vec_id", "embedding",
          minSim = 0.3, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lo = pairs(8)
    val hi = pairs(12)
    assert(lo.nonEmpty)
    assert(hi.subsetOf(lo))
    // auto mode on this fixture resolves to the floor → identical output
    val auto = Similarity.cosineNearDups(emb, "vec_id", "embedding",
        minSim = 0.3, bits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == lo)
  }

  test("assignTwoLevel: deterministic space partition; semantic auto path subset of full pairwise") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // deterministic: two invocations agree label-for-label
    def labels(): Map[Long, Long] = {
      val a = graft.algorithms.KMeans.assignTwoLevel(
        emb, "vec_id", "embedding", k = 81, iterations = 2)
      val m = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      a.unpersist()
      m
    }
    val l1 = labels()
    assert(l1 == labels())
    assert(l1.values.toSet.size > 1, "two-level must actually partition")
    // the auto path (nlist<=0 routes through assignTwoLevel once the
    // corpus-sized k passes the floor; this fixture resolves to the floor,
    // so force the two-level shape via the invariant that matters: pairs
    // from ANY partition of space are a subset of full pairwise
    val full = graft.functions.Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.4, nlist = 1, kmeansIters = 1)
    val fullSet = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    full.unpersist()
    val twoLevelPairs = {
      val a = graft.algorithms.KMeans.assignTwoLevel(
        emb, "vec_id", "embedding", k = 81, iterations = 2)
      val v = emb.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .join(a, Seq("id"))
      val p = v.select(col("id").as("a_id"), col("vec").as("a_vec"), col("cluster"))
        .join(v.select(col("id").as("b_id"), col("vec").as("b_vec"), col("cluster")),
          Seq("cluster"))
        .filter(col("a_id") < col("b_id"))
      val got = p.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
      a.unpersist()
      got
    }
    // every candidate pair the two-level partition proposes is a real pair
    // of co-partitioned ids — and planted identical vectors co-partition
    assert(twoLevelPairs.forall { case (x, y) => x < y })
    val sameVec = fullSet // sim-thresholded exact pairs
    // identical/near-identical vectors must share a two-level cell
    val exactDups = graft.functions.Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.999999, nlist = 1, kmeansIters = 1)
    val exactSet = exactDups.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exactDups.unpersist()
    assert(exactSet.subsetOf(twoLevelPairs),
      s"identical vectors split across two-level cells: ${exactSet -- twoLevelPairs}")
    assert(sameVec.nonEmpty)
  }

  test("semanticDedupPairs auto mode routes through assignTwoLevel end-to-end past the 64-cluster threshold") {
    // the sf fixtures resolve auto mode to the single-level floor, so the
    // nlist<=0 && k>64 routing (and semanticDedupPairs' handling of
    // composed two-level labels) was otherwise never exercised end-to-end;
    // a sub-threshold targetClusterRows pushes this ~500-vector corpus
    // past the threshold. This fixture has no sim≈1 pairs of its own, so
    // plant three exact duplicates under fresh ids — they must co-partition
    // through the routed two-level path
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb = base.unionByName(
      base.orderBy("vec_id").limit(3)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    assert(Similarity.autoNlist(emb.count(), 4) > 64)
    val auto = Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.4, nlist = 0, kmeansIters = 2,
      targetClusterRows = 4)
    val autoSet = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    auto.unpersist()
    val full = Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.4, nlist = 1, kmeansIters = 1)
    val fullSet = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    full.unpersist()
    // any space partition can only DROP pairs relative to exact pairwise
    assert(fullSet.nonEmpty)
    assert(autoSet.subsetOf(fullSet),
      s"two-level auto path invented pairs: ${autoSet -- fullSet}")
    // identical vectors share a two-level cell by construction, so planted
    // sim≈1 duplicates must survive the routed path
    val exact = Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", minSim = 0.999999, nlist = 1, kmeansIters = 1)
    val exactSet = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.unpersist()
    assert(exactSet.nonEmpty)
    assert(exactSet.subsetOf(autoSet),
      s"planted duplicates lost by the auto two-level route: ${exactSet -- autoSet}")
  }

  test("DigestStore: cycles compose to full-corpus exact dedup") {
    val s = spark; import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("digeststore").toString
    graft.functions.DigestStore.init(spark, path)
    // three crawl cycles with overlap within and across cycles
    val c1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
    val c2 = Seq((4L, "bb"), (5L, "cc")).toDF("doc_id", "text")
    val c3 = Seq((6L, "cc"), (7L, "aa"), (8L, "dd")).toDF("doc_id", "text")
    def run(inc: Int, df: org.apache.spark.sql.DataFrame) =
      graft.functions.DigestStore.dedupCycle(spark, path, inc, df,
          "doc_id", "text", expectedItems = 16, fpp = 0.5)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(run(1, c1) == Set((1L, 2L), (2L, 1L)))      // aa×2, bb
    assert(run(2, c2) == Set((5L, 1L)))                // bb seen; cc new
    assert(run(3, c3) == Set((8L, 1L)))                // cc, aa seen; dd new
    // the store now holds exactly the 4 distinct contents
    assert(graft.functions.DigestStore.load(spark, path).distinct().count() == 4)
    // monotonic guard: a retried driver re-running an already-written inc
    // must fail fast, not overwrite that inc's digests with an empty set
    intercept[IllegalArgumentException] { run(2, c2) }
    assert(graft.functions.DigestStore.load(spark, path).distinct().count() == 4)
  }

  test("exactIncremental: bloom false positives never reach the output") {
    val s = spark; import s.implicits._
    // history holds digests of "dup" and "old"; increment: one cross-increment
    // dup, one within-increment dup pair, one new doc. fpp=0.5 forces bloom
    // false positives; the confirmation join must remove them all.
    val hist = Seq("dup", "old").toDF("t")
      .select(org.apache.spark.sql.functions.md5($"t").as("digest"))
    val inc = Seq((10L, "dup"), (11L, "fresh"), (12L, "fresh"), (13L, "new"))
      .toDF("doc_id", "text")
    val got = Dedup.exactIncremental(inc, hist, "doc_id", "text",
        expectedItems = 4, fpp = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def dig(t: String) = md5.digest(t.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == Set((dig("fresh"), 11L, 2L), (dig("new"), 13L, 1L)))
  }

  test("contamination + decontaminate: gram overlap flags and drops") {
    val s = spark; import s.implicits._
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a quick brown fox ran away"),   // shares "quick brown fox"
      (2L, "totally unrelated text here"),  // shares none
      (3L, "xx quick brown fox jumps yy")   // shares that + "brown fox jumps"
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(1L -> 1L, 3L -> 2L))
    // minHits raises the bar
    val strict = Dedup.contamination(train, bench, "doc_id", "text", n = 3,
      minHits = 2).collect().map(_.getLong(0)).toSet
    assert(strict == Set(3L))
    val kept = Dedup.decontaminate(train, bench, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("dupSpanProfile: cross-doc span fractions, within-doc repeats exempt") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "a b c d e f"),              // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e g"),              // shares "a b c d e" with doc 1
      (3L, "x y"),                      // < 5 words → no grams
      (4L, "p q r s t p q r s t")       // "p q r s t" repeats WITHIN the doc
    ).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val got = Dedup.dupSpanProfile(corpus, "doc_id", "text", n = 5,
          portable = portable)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, 2L, 1L, 0.5),   // 1 of 2 grams shared with doc 2
        (2L, 2L, 1L, 0.5),
        (3L, 0L, 0L, 0.0),   // short doc: profiled, nothing counted
        (4L, 6L, 0L, 0.0)),  // within-doc repetition is NOT cross-doc dup
        s"portable=$portable")
    }
  }

  test("dupSpanProfile: exact duplicates profile as fully duplicated") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six seven"),
      (3L, "eight nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanProfile(corpus, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 1.0), (2L, 1.0), (3L, 0.0)))
  }

  test("winnow: detection guarantee for shared spans, thinned index, subset of grams") {
    val s = spark; import s.implicits._
    // docs 1 and 2 share an 8-word span (= w+n-1 at n=5, w=4): the
    // winnowing guarantee says at least one fingerprint of the span is
    // selected by BOTH docs. Doc 3 is disjoint.
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"intro words here then $shared and a tail piece"),
      (2L, s"$shared closing remarks of the second document"),
      (3L, "completely different content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val prof = Dedup.winnowProfile(corpus, "doc_id", "text", n = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(prof.find(_._1 == 1L).get._3 >= 1, s"doc 1 missed the shared span: $prof")
    assert(prof.find(_._1 == 2L).get._3 >= 1, s"doc 2 missed the shared span: $prof")
    assert(prof.find(_._1 == 3L).get._3 == 0, s"doc 3 false-positive: $prof")

    // corpus-wide: the winnowed index is materially thinner than the full
    // gram set (theory: ~2/(w+1) = 0.4 of grams), and every selected
    // fingerprint is the hash of the gram at its recorded position
    val fps = Dedup.winnow(docs, "doc_id", "text", n = 5, w = 4)
    val grams = docs.select(col("doc_id"),
        posexplode(Dedup.shingles(col("text"), 5)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        xxhash64(col("gram")).as("gh"))
    val nFps = fps.count(); val nGrams = grams.count()
    assert(nFps > 0 && nFps < nGrams * 0.6,
      s"winnowed $nFps of $nGrams grams — expected ~40%")
    val orphan = fps.join(grams,
      fps("doc_id") === grams("doc_id") && fps("pos") === grams("pos")
        && fps("fp") === grams("gh"), "left_anti").count()
    assert(orphan == 0, s"$orphan fingerprints don't match their gram hash")
  }

  test("nearDupClusters tiny graphs close driver-side, identical to distributed CC") {
    val s = spark
    import s.implicits._
    // two chains, a triangle, and an isolated pair — min-id labeling must
    // agree between the union-find fast path and the CC rounds
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 3L), (10L, 11L),
        (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("a_id", "b_id").persist()
    pairs.count()
    try {
      val fast = graft.functions.Dedup.nearDupClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(graft.functions.Dedup.lastClustersClosedDriverSide,
        "expected the driver-side closure below the pair threshold")
      val dist = graft.functions.Dedup
        .nearDupClusters(pairs, driverCloseMaxPairs = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!graft.functions.Dedup.lastClustersClosedDriverSide,
        "threshold 0 must force the distributed path")
      assert(fast == dist, s"fast=$fast dist=$dist")
      assert(fast == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L),
        (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L)))
    } finally { pairs.unpersist(); () }
  }

  test("LSH planner: S-curve closed forms, and the library default is the planner's answer") {
    import graft.functions.Dedup.{lshCandidateProb, lshThreshold, planLsh}
    // closed forms of the S-curve
    assert(lshCandidateProb(0.0, 16, 4) == 0.0)
    assert(lshCandidateProb(1.0, 16, 4) == 1.0)
    // one band, one row: candidate prob = similarity itself
    assert(math.abs(lshCandidateProb(0.3, 1, 1) - 0.3) < 1e-12)
    // threshold formula: (1/b)^(1/r); the pipeline default (16 bands × 4
    // rows) sits at 0.5 — and the planner independently picks exactly it
    assert(math.abs(lshThreshold(16, 4) - 0.5) < 1e-12)
    assert(planLsh(64, 0.5) == ((16, 4)))
    // a high-precision target moves toward more rows per band
    assert(planLsh(64, 0.8) == ((4, 16)))
    // monotonicity: more bands never lowers candidate probability
    for (s <- Seq(0.2, 0.5, 0.8); b <- Seq(1, 2, 4, 8))
      assert(lshCandidateProb(s, b * 2, 4) >= lshCandidateProb(s, b, 4) - 1e-12)
    // the planner's pick really does separate: around its own threshold the
    // curve is steep — candidates unlikely well below, near-certain well above
    val (b, r) = planLsh(64, 0.5)
    assert(lshCandidateProb(0.25, b, r) < 0.1)
    assert(lshCandidateProb(0.75, b, r) > 0.95)
  }

  test("ngramContainment: whole-quote subset scores cont=1 where jaccard is small") {
    val sp = spark; import sp.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = ("intro words here " + short + " and then a very long tail " +
      (1 to 40).map(i => s"filler$i").mkString(" "))
    val other = "completely different content with no shared trigrams at all ok"
    val df = Seq((1L, short, "en"), (2L, long, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
    val got = graft.functions.Dedup
      .ngramContainment(df, "doc_id", "text", "lang", n = 3, maxId = 100,
        minContainment = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(5), r.getDouble(6)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"got $got")
    val (ca, cb) = got((1L, 2L))
    assert(ca == 1.0, "every trigram of the short doc appears in the long one")
    assert(cb < 0.2, "jaccard-style symmetry would have missed this pair")
    // different-language twin never pairs
    val lang = graft.functions.Dedup
      .ngramContainment(Seq((1L, short, "en"), (2L, long, "de"))
        .toDF("doc_id", "text", "lang"), "doc_id", "text", "lang", 3, 100, 0.5)
    assert(lang.count() == 0)
  }
}
