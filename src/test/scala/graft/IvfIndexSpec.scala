package graft

import graft.functions.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._

/** Persistent IVF index: save/load round-trip is exact, queries match the
  * per-call ivfTopK, and probing prunes the partitioned list scan. */
class IvfIndexSpec extends SparkSpec {
  def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
    df.select("q_id", "c_id", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("build/save/load/query equals direct ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val built = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8, kmeansIters = 3)
    IvfIndex.save(built, dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq,
      "centroids must round-trip exactly")

    val queries = emb.filter(col("vec_id") < 20)
    val viaIndex = asSet(IvfIndex.query(loaded, queries, "vec_id", "embedding",
      k = 3, nprobe = 2))
    val direct = asSet(Similarity.ivfTopK(emb, "vec_id", "embedding",
      maxQueryId = 20, k = 3, nlist = 8, nprobe = 2, kmeansIters = 3))
    assert(viaIndex == direct)
    assert(viaIndex.nonEmpty)
  }

  test("probing a saved index prunes the partitioned list scan") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_prune").toString
    val built = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8, kmeansIters = 2)
    IvfIndex.save(built, dir)
    val loaded = IvfIndex.load(spark, dir)
    // a cluster-filtered scan of the saved lists must show a partition
    // filter (directory pruning), the on-disk nprobe/nlist read bound
    val pruned = loaded.lists.filter(col("cluster") === 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters: [isnotnull(cluster"),
      s"expected a partition filter on cluster, got:\n$scan")
  }

  test("append equals building the lists with the same frozen quantizer") {
    // split the corpus: build on the first half, append the second half —
    // queries must equal an index whose lists were assigned in one shot
    // against the SAME centroids (append never retrains)
    val first = emb.filter(col("vec_id") < 75)
    val second = emb.filter(col("vec_id") >= 75)
    val base = IvfIndex.build(first, "vec_id", "embedding", nlist = 8, kmeansIters = 3)
    val grown = IvfIndex.append(base, second, "vec_id", "embedding")
    val oneShot = IvfIndex.Built(
      IvfIndex.append(IvfIndex.Built(base.lists.limit(0), base.centroids),
        emb, "vec_id", "embedding").lists,
      base.centroids)
    val queries = emb.filter(col("vec_id") < 20)
    val a = asSet(IvfIndex.query(grown, queries, "vec_id", "embedding", k = 3, nprobe = 3))
    val b = asSet(IvfIndex.query(oneShot, queries, "vec_id", "embedding", k = 3, nprobe = 3))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("appendSave grows a saved index without rewriting existing list files") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val first = emb.filter(col("vec_id") < 75)
    val second = emb.filter(col("vec_id") >= 75)
    IvfIndex.save(IvfIndex.build(first, "vec_id", "embedding", nlist = 8,
      kmeansIters = 3), dir)
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/lists"))
      .filter(_.toString.endsWith(".parquet")).count()
    IvfIndex.appendSave(spark, dir, second, "vec_id", "embedding")
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/lists"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(after > before, "append must add list files")
    // the reopened index covers the whole corpus
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.lists.count() == emb.count())
    val got = asSet(IvfIndex.query(loaded, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 3, nprobe = 8))
    // nprobe = nlist: exact — must equal brute force over the full corpus
    val brute = asSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      maxQueryId = 10, k = 3).select(col("q_id"), col("c_id"), col("sim"),
      col("rank").cast("long").as("rank")))
    assert(got == brute)
  }

  test("zero-norm corpus vector scores 0.0, never NaN-tops the ranking") {
    val s = spark; import s.implicits._
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val zero = Seq((900001L, Array.fill(dim)(0.0)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(zero)
    val built = IvfIndex.build(corpus, "vec_id", "embedding",
      nlist = 4, kmeansIters = 2)
    val top = IvfIndex.query(built, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 3, nprobe = 4)
      .collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      assert(!r.getDouble(2).isNaN, s"NaN sim leaked: $r")
      assert(r.getLong(1) != 900001L || r.getDouble(2) == 0.0,
        s"zero vector must score 0.0: $r")
    }
  }

  test("excludeSelfId=false keeps corpus rows whose id collides with a query id") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_ext").toString
    IvfIndex.save(IvfIndex.build(emb, "vec_id", "embedding",
      nlist = 4, kmeansIters = 2), dir)
    val loaded = IvfIndex.load(spark, dir)
    // query WITH a corpus row's own id: by default the exact self-match is
    // excluded; with excludeSelfId=false it must come back as rank 1, sim 1
    val q = emb.filter(col("vec_id") === 3)
    val ext = IvfIndex.query(loaded, q, "vec_id", "embedding", k = 1,
      nprobe = 4, excludeSelfId = false).collect()
    assert(ext.length == 1 && ext(0).getLong(1) == 3L &&
      ext(0).getDouble(2) == 1.0, ext.mkString(","))
    val self = IvfIndex.query(loaded, q, "vec_id", "embedding", k = 1,
      nprobe = 4).collect()
    assert(self.forall(_.getLong(1) != 3L))
  }

  test("build nlist<=0 sizes the quantizer from the corpus (autoNlist floor)") {
    // the sf-test corpus resolves to the autoNlist floor, so committed
    // plans are unchanged; the sizing rule itself is pinned in NearDupSpec
    val built = IvfIndex.build(emb, "vec_id", "embedding", nlist = 0,
      kmeansIters = 2)
    assert(built.centroids.length == Similarity.autoNlist(emb.count()))
    assert(built.centroids.length == 16)
  }

  test("ivfTopK auto mode routes two-level past 64 lists: deterministic, recall holds, population bounded") {
    import spark.implicits._
    // 80k clustered vectors around 200 centers: autoNlist(80000) = 79 > 64
    // exercises the two-level probe branch end to end on data where a
    // correct ANN must find its neighbors (each point's nearest live in
    // its own center's cloud)
    val n = 80000
    val centers = 200
    val df = spark.range(n.toLong).map { i =>
      val c = (i % centers).toInt
      val r = new java.util.Random(i) // deterministic per id
      val base = Array.tabulate(4)(d => ((c * 31 + d * 7) % 97).toDouble)
      (i, base.map(x => x + r.nextDouble() * 0.01))
    }.toDF("vec_id", "embedding")
    val eff = Similarity.autoNlist(n.toLong)
    assert(eff > 64, s"test must exercise the two-level branch, nlist=$eff")
    def run() = Similarity.ivfTopK(df, "vec_id", "embedding",
        maxQueryId = 40, k = 3, nlist = 0, nprobe = 4, kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val got = run()
    assert(got == run(), "two-level auto ANN must be deterministic")
    // recall vs exact brute-force cosine top-3 on the same queries
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        maxQueryId = 40, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(t => (t._1, t._2))
    val recall = exact.count(gotPairs.contains).toDouble / exact.size
    assert(recall >= 0.9, s"two-level IVF recall@3 = $recall")
  }

  test("auto-nlist two-level branch at probe-all equals exact brute force") {
    import spark.implicits._
    // same 80k clustered corpus as the recall test: autoNlist(80000) = 79
    // > 64 routes through the two-level residual quantizer; nprobe =
    // Int.MaxValue scores every composed cell, so the quantizer cannot
    // change the answer — the q_ann_ivf_auto provable configuration on
    // the branch the catalog corpora are too small to reach
    val n = 80000
    val centers = 200
    val df = spark.range(n.toLong).map { i =>
      val c = (i % centers).toInt
      val r = new java.util.Random(i)
      val base = Array.tabulate(4)(d => ((c * 31 + d * 7) % 97).toDouble)
      (i, base.map(x => x + r.nextDouble() * 0.01))
    }.toDF("vec_id", "embedding")
    assert(Similarity.autoNlist(n.toLong) > 64)
    val got = Similarity.ivfTopK(df, "vec_id", "embedding",
        maxQueryId = 10, k = 3, nlist = 0, nprobe = Int.MaxValue,
        kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val brute = asSet(Similarity.bruteForceTopK(df, "vec_id", "embedding",
      maxQueryId = 10, k = 3).select(col("q_id"), col("c_id"), col("sim"),
      col("rank").cast("long").as("rank")))
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("sharded index with shards=1 equals the flat index exactly") {
    val flatDir = java.nio.file.Files.createTempDirectory("ivf_flat1").toString
    val shDir = java.nio.file.Files.createTempDirectory("ivf_sh1").toString
    IvfIndex.save(IvfIndex.build(emb, "vec_id", "embedding", nlist = 8,
      kmeansIters = 3), flatDir)
    IvfIndex.shardedSave(emb, "vec_id", "embedding", shDir, shards = 1,
      nlist = 8, kmeansIters = 3)
    val queries = emb.filter(col("vec_id") < 20)
    // same corpus, same quantizer params, shard 0 = the whole corpus ⇒
    // identical training input ⇒ identical centroids ⇒ identical answer,
    // at an APPROXIMATE operating point (nprobe < nlist)
    val flat = asSet(IvfIndex.query(IvfIndex.load(spark, flatDir), queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val sharded = asSet(IvfIndex.shardedTopK(spark, shDir, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    assert(sharded == flat)
    assert(sharded.nonEmpty)
  }

  test("sharded index at full probe equals brute force for any shard count") {
    val queries = emb.filter(col("vec_id") < 15)
    val brute = asSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      maxQueryId = 15, k = 4).select(col("q_id"), col("c_id"), col("sim"),
      col("rank").cast("long").as("rank")))
    for (shards <- Seq(2, 3)) {
      val dir = java.nio.file.Files.createTempDirectory(s"ivf_shfp$shards").toString
      IvfIndex.shardedSave(emb, "vec_id", "embedding", dir, shards = shards,
        nlist = 4, kmeansIters = 2)
      val got = asSet(IvfIndex.shardedTopK(spark, dir, queries,
        "vec_id", "embedding", k = 4, nprobe = 4))
      assert(got == brute, s"shards=$shards full-probe must be exact")
    }
  }

  test("concurrent shard builds equal the sequential default exactly") {
    val seqDir = java.nio.file.Files.createTempDirectory("ivf_shseq").toString
    val conDir = java.nio.file.Files.createTempDirectory("ivf_shcon").toString
    IvfIndex.shardedSave(emb, "vec_id", "embedding", seqDir, shards = 3,
      nlist = 4, kmeansIters = 2)
    IvfIndex.shardedSave(emb, "vec_id", "embedding", conDir, shards = 3,
      nlist = 4, kmeansIters = 2, buildConcurrency = 3)
    // each shard build is an independent deterministic job chain, so
    // concurrency must not change ANY persisted state: quantizers,
    // list assignments, manifest rows — or the query answer
    for (sIdx <- 0 until 3) {
      val a = IvfIndex.load(spark, s"$seqDir/shards/shard=$sIdx")
      val b = IvfIndex.load(spark, s"$conDir/shards/shard=$sIdx")
      assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq,
        s"shard $sIdx quantizer must be concurrency-independent")
      assert(a.lists.select("c_id", "cluster").collect().map(r =>
          (r.getLong(0), r.get(1).toString)).toSet ==
        b.lists.select("c_id", "cluster").collect().map(r =>
          (r.getLong(0), r.get(1).toString)).toSet,
        s"shard $sIdx list assignment must be concurrency-independent")
    }
    val aman = spark.read.parquet(s"$seqDir/manifest").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bman = spark.read.parquet(s"$conDir/manifest").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aman == bman, "manifest must be concurrency-independent")
    val queries = emb.filter(col("vec_id") < 15)
    assert(
      asSet(IvfIndex.shardedTopK(spark, conDir, queries, "vec_id",
        "embedding", k = 4, nprobe = 2)) ==
      asSet(IvfIndex.shardedTopK(spark, seqDir, queries, "vec_id",
        "embedding", k = 4, nprobe = 2)))
  }

  test("sharded manifest records the layout and routes rows by pmod(id, shards)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_shman").toString
    IvfIndex.shardedSave(emb, "vec_id", "embedding", dir, shards = 3,
      nlist = 4, kmeansIters = 2)
    assert(IvfIndex.shardedManifest(spark, dir) == 3)
    val man = spark.read.parquet(s"$dir/manifest").collect()
    assert(man.length == 3, "one manifest row per shard")
    var total = 0L
    for (sIdx <- 0 until 3) {
      val shard = IvfIndex.load(spark, s"$dir/shards/shard=$sIdx")
      assert(shard.centroids.length == 4, "each shard trains its OWN quantizer")
      val ids = shard.lists.select("c_id").collect().map(_.getLong(0))
      assert(ids.forall(id => java.lang.Math.floorMod(id, 3L) == sIdx),
        s"shard $sIdx holds a row that belongs elsewhere")
      total += ids.length
      val manRow = man.find(_.getLong(0) == sIdx).get
      assert(manRow.getLong(1) == ids.length, "manifest row count per shard")
    }
    assert(total == emb.count(), "shards partition the corpus exactly")
  }

  test("shardedAppendSave grows each shard under its frozen quantizer") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_shapp").toString
    val first = emb.filter(col("vec_id") < 75)
    val second = emb.filter(col("vec_id") >= 75)
    IvfIndex.shardedSave(first, "vec_id", "embedding", dir, shards = 2,
      nlist = 4, kmeansIters = 3)
    val centroidsBefore = (0 until 2).map(sIdx =>
      IvfIndex.load(spark, s"$dir/shards/shard=$sIdx").centroids.map(_.toSeq).toSeq)
    IvfIndex.shardedAppendSave(spark, dir, second, "vec_id", "embedding")
    val centroidsAfter = (0 until 2).map(sIdx =>
      IvfIndex.load(spark, s"$dir/shards/shard=$sIdx").centroids.map(_.toSeq).toSeq)
    assert(centroidsAfter == centroidsBefore, "append must never retrain")
    // the grown index covers the whole corpus; full probe ⇒ exact
    val got = asSet(IvfIndex.shardedTopK(spark, dir,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3, nprobe = 4))
    val brute = asSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      maxQueryId = 10, k = 3).select(col("q_id"), col("c_id"), col("sim"),
      col("rank").cast("long").as("rank")))
    assert(got == brute)
  }
}
