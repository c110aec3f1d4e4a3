package graft.functions

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF (inverted-file) ANN index — the build-once / query-many
  * production shape of [[Similarity.ivfTopK]] (which trains per call).
  *
  * On disk the index is:
  *  - `<path>/lists/` — the corpus vectors with norms, parquet PARTITIONED BY
  *    `cluster`: a query probing `nprobe` lists scans only those directories
  *    (partition pruning — IvfIndexSpec asserts the pruned scan), the
  *    FAISS-on-disk shape. At 100 TB this is the difference between reading
  *    nprobe/nlist of the corpus and reading all of it.
  *  - `<path>/centroids/` — the k × dim coarse quantizer (tiny; broadcast at
  *    query time).
  *
  * Queries compose to exactly what [[Similarity.ivfTopK]] computes for the
  * same quantizer (same rounded-distance probe selection, same scoring,
  * same tie-breaks) — pinned by IvfIndexSpec build/save/load/query ≡ direct.
  */
object IvfIndex {

  /** An in-memory handle: cluster-assigned corpus + the quantizer. */
  final case class Built(lists: DataFrame, centroids: Array[Array[Double]])

  /** Train the coarse quantizer and assign every vector to its list.
    *
    * `nlist <= 0` → corpus-adaptive sizing (Similarity.autoNlist, floor
    * 16): list population is held ~1024 so a probe's scan cost stays
    * constant as the corpus grows — a fixed nlist makes every list grow
    * linearly with n. The persisted format keeps ONE flat codebook (the
    * append/probe/PQ equivalence contract pins every path to the same
    * KMeans.nearest rule over it), so build assignment and probe selection
    * are n×k / k-per-query against the flat table; that caps one index at
    * k ≲ a few thousand lists (~millions of vectors). Past that, shard:
    * one index per corpus partition (time bucket, source, tenant) — the
    * operational reality of a 100 TB vector store anyway — and fan the
    * query across shards; the per-call [[Similarity.ivfTopK]] auto mode
    * additionally routes through the two-level quantizer (2√k) when no
    * persisted index is involved. */
  def build(df: DataFrame, idCol: String, vecCol: String, nlist: Int = 16,
      kmeansIters: Int = 5): Built = {
    val effNlist =
      if (nlist > 0) nlist
      else {
        val chosen = Similarity.autoNlist(df.count())
        System.err.println(s"[graft-scale] IvfIndex auto nlist=$chosen")
        chosen
      }
    val assigned = graft.algorithms.KMeans.assignWithCentroids(
      df, idCol, vecCol, effNlist, kmeansIters)
    // hand GC-managed localCheckpoint blocks to the lazy lists plan and
    // release the KMeans cache (the Similarity.ivfTopK discipline):
    // repeated build/save cycles must not accumulate session-lifetime
    // cached assignment tables
    val asg = assigned.assignments.localCheckpoint()
    assigned.assignments.unpersist()
    val v = df.select(col(idCol).cast("long").as("c_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
    val lists = v.join(asg.withColumnRenamed("id", "c_id0"),
        col("c_id") === col("c_id0"))
      .select(col("c_id"), col("c_vec"),
        Similarity.norm(col("c_vec")).as("c_norm"), col("cluster"))
    Built(lists, assigned.centroids)
  }

  /** Add new vectors to an existing index WITHOUT retraining: each vector
    * is assigned to its nearest existing centroid (the standard IVF `add`
    * — the quantizer is frozen, recall degrades only as the data
    * distribution drifts, at which point the owner rebuilds). Returns the
    * grown handle; [[appendSave]] is the on-disk variant.
    *
    * 100 TB shape: one narrow map over the NEW batch against broadcast
    * centroids — the existing lists are untouched (no read, no shuffle). */
  def append(built: Built, newVecs: DataFrame, idCol: String,
      vecCol: String): Built =
    Built(built.lists.unionByName(
        assignToLists(built.centroids, newVecs, idCol, vecCol)),
      built.centroids)

  /** Append a new batch directly to a SAVED index: assigns against the
    * stored quantizer and appends only the new rows to the partitioned
    * lists (parquet append — existing list files are not rewritten). */
  def appendSave(spark: SparkSession, path: String, newVecs: DataFrame,
      idCol: String, vecCol: String): Unit =
    assignToLists(load(spark, path).centroids, newVecs, idCol, vecCol)
      .write.mode("append").partitionBy("cluster").parquet(s"$path/lists")

  /** Frozen-quantizer list assignment of a new batch (shared by the two
    * append variants): narrow map against broadcast centroids, same rounded
    * distance + lower-cluster tie-break as KMeans.assign. */
  private def assignToLists(centroids: Array[Array[Double]],
      newVecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val centroidsB = spark.sparkContext.broadcast(centroids)
    newVecs
      .select(col(idCol).cast("long").as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"))
      .as[(Long, Array[Double])]
      .map { case (id, vec) =>
        // the ONE assignment rule (KMeans.nearest) — append-time and
        // training-time assignment must agree exactly
        (id, vec, graft.algorithms.KMeans.nearest(centroidsB.value)(vec).toLong)
      }
      .toDF("c_id", "c_vec", "cluster")
      .select(col("c_id"), col("c_vec"),
        Similarity.norm(col("c_vec")).as("c_norm"), col("cluster"))
  }

  /** Persist the index: lists partitioned by cluster + the quantizer. */
  def save(built: Built, path: String): Unit = {
    built.lists.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$path/lists")
    val spark = built.lists.sparkSession
    import spark.implicits._
    built.centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reopen a saved index. */
  def load(spark: SparkSession, path: String): Built = {
    val lists = Parquet.read(spark, s"$path/lists")
    val centroids = Parquet.read(spark, s"$path/centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    Built(lists, centroids)
  }

  /** Top-k cosine neighbors for the query vectors against the index,
    * probing each query's `nprobe` nearest lists. Identical probe selection
    * and scoring to [[Similarity.ivfTopK]] (rounded distances, id
    * tie-breaks), so results are deterministic and engine-independent. */
  /** (q_id, q_vec, cluster) probe rows: each query paired with its `nprobe`
    * nearest lists — one narrow map against the broadcast quantizer, shared
    * by the exact-scoring [[query]] and the PQ-scoring
    * [[ProductQuantizer.ivfPqTopK]]. */
  def probeAssignments(built: Built, queries: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame = {
    val spark = built.lists.sparkSession
    import spark.implicits._
    val centroidsB = spark.sparkContext.broadcast(built.centroids)
    queries
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, vec) =>
        val ctr = centroidsB.value
        val dists = ctr.indices.map { c =>
          var d = 0.0; var i = 0
          val cc = ctr(c)
          while (i < vec.length) { val t = vec(i) - cc(i); d += t * t; i += 1 }
          (c.toLong, d)
        }
        dists.sortBy(t => (t._2, t._1)).take(nprobe)
          .map { case (c, _) => (id, vec, c) }
      }
      .toDF("q_id", "q_vec", "cluster")
  }

  /** @param excludeSelfId drop candidates whose corpus id equals the query
    *                       id — correct when queries ARE corpus rows (the
    *                       near-dup shape, and every oracle query here);
    *                       pass false for an EXTERNAL query id space, where
    *                       a coincidental id collision would otherwise
    *                       silently hide a true nearest neighbor. */
  def query(built: Built, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, roundTo: Int = 6,
      excludeSelfId: Boolean = true): DataFrame = {
    val probes = probeAssignments(built, queries, idCol, vecCol, nprobe)
      .withColumn("q_norm", Similarity.norm(col("q_vec")))
    val joined = probes.join(built.lists, Seq("cluster"))
    val candidates =
      if (excludeSelfId) joined.filter(col("q_id") =!= col("c_id")) else joined
    // cosineOf, not a bare division: a zero-norm vector (failed encoder,
    // padding row) scores 0.0 — raw 0/0 is NaN, which Spark total-orders
    // ABOVE every real and would rank the zero vector as everyone's #1
    val scored = candidates
      .select(col("q_id"), col("c_id"),
        round(Similarity.cosineOf(
          Similarity.dotFast(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), roundTo).as("sim"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // Sharded index — the past-a-few-thousand-lists scale shape.
  //
  // ONE flat index caps at k ≲ a few·10³ lists (the flat-codebook
  // assignment/probe is n×k / k-per-query — see build's scaladoc), i.e.
  // a few million vectors per index at the ~1024-rows-per-list target.
  // Past that the layout is N INDEPENDENT per-shard indexes under one
  // root: each shard trains its own quantizer over its own slice, so
  // list population (and therefore probe cost) stays constant as the
  // corpus grows by adding shards, never by growing lists. Shard
  // membership is `pmod(id, shards)` — deterministic, rebuild-stable,
  // and a stand-in for the natural corpus partition (time bucket,
  // source, tenant) a 100 TB vector store is already split by.
  //
  // Query = per-shard [[query]] (probe nprobe lists, partition-pruned
  // scan, per-shard top-k) → union → ONE global top-k re-rank. The
  // re-rank exchange carries only |queries| × shards × k rows — tiny.
  // Correctness: shard id spaces are disjoint, within-shard scoring is
  // identical to the flat path, and the global top-k is contained in
  // the union of per-shard top-k's — so at full probe the sharded
  // answer provably equals exact brute force for ANY shard count
  // (pinned by the q_ann_ivf_sharded oracle row at shards=3 and by
  // IvfIndexSpec shards=1 ≡ flat).
  // ------------------------------------------------------------------

  /** One row per shard: layout params + shard row count (observability). */
  private def shardDirs(path: String, shards: Int): IndexedSeq[String] =
    (0 until shards).map(sIdx => s"$path/shards/shard=$sIdx")

  private def shardFilter(idCol: String, shards: Int, sIdx: Int) =
    pmod(col(idCol).cast("long"), lit(shards.toLong)) === sIdx.toLong

  /** Build and persist a SHARDED index: `shards` independent IVF indexes
    * (each its own quantizer + cluster-partitioned lists) under
    * `<path>/shards/shard=<i>/`, plus `<path>/manifest/` recording the
    * layout. Shard builds are independent jobs — on a cluster they
    * parallelize trivially and a single shard rebuild never touches its
    * siblings. `nlist <= 0` → per-shard corpus-adaptive sizing.
    *
    * Scan strategy: each shard build filters the source on
    * `pmod(id, shards)` — N column-pruned scans (id + vector only). When
    * the corpus is already stored partitioned/bucketed by the shard key
    * (the operational case this layout models: time bucket / source /
    * tenant), that filter prunes to one partition per build; for an
    * unpartitioned corpus at large N, stage one pass first
    * (`df.write.partitionBy(<shard>)`) and build each shard from its
    * directory — the build contract only needs each slice to be exactly
    * the `pmod` class, however it is produced.
    *
    * `buildConcurrency` > 1 submits that many shard builds at once from
    * the driver (a bounded thread pool; Spark's scheduler interleaves
    * their jobs across the cluster). Each build is an independent
    * deterministic job chain writing its own directory, so the result is
    * byte-identical to the sequential default at any concurrency
    * (IvfIndexSpec pins it) — the win is packing the per-build scheduling
    * gaps and small stages, which dominate when shards are many and
    * individually smaller than the cluster. */
  def shardedSave(df: DataFrame, idCol: String, vecCol: String, path: String,
      shards: Int, nlist: Int = 16, kmeansIters: Int = 5,
      buildConcurrency: Int = 1): Unit = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    require(buildConcurrency >= 1,
      s"buildConcurrency must be >= 1, got $buildConcurrency")
    val spark = df.sparkSession
    import spark.implicits._
    def buildOne(dir: String, sIdx: Int): (Long, Long, Int) = {
      val slice = df.filter(shardFilter(idCol, shards, sIdx))
      val built = build(slice, idCol, vecCol, nlist, kmeansIters)
      save(built, dir)
      (sIdx.toLong, Parquet.read(spark, s"$dir/lists").count(),
        built.centroids.length)
    }
    val dirs = shardDirs(path, shards).zipWithIndex
    val rows =
      if (buildConcurrency == 1) dirs.map { case (d, i) => buildOne(d, i) }
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(buildConcurrency min shards)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val fs = dirs.map { case (d, i) => Future(buildOne(d, i)) }
          fs.map(Await.result(_, Duration.Inf))
        } finally pool.shutdown()
      }
    rows.toDF("shard", "rows", "shard_nlist")
      .withColumn("shards", lit(shards))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** Shard count from a sharded index's manifest. */
  def shardedManifest(spark: SparkSession, path: String): Int =
    Parquet.read(spark, s"$path/manifest")
      .select(max(col("shards"))).head().getInt(0)

  /** Append a new batch to a SAVED sharded index: each row routes to its
    * shard by the same `pmod(id, shards)` rule the build used, then the
    * standard frozen-quantizer [[appendSave]] grows that shard's lists
    * (parquet append — no sibling shard is read or written). */
  def shardedAppendSave(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String): Unit = {
    val shards = shardedManifest(spark, path)
    shardDirs(path, shards).zipWithIndex.foreach { case (dir, sIdx) =>
      val slice = newVecs.filter(shardFilter(idCol, shards, sIdx))
      if (!slice.isEmpty) appendSave(spark, dir, slice, idCol, vecCol)
    }
  }

  /** Top-k cosine neighbors against a SAVED sharded index: fan the query
    * set across every shard (each an independent probe-pruned [[query]]),
    * union the per-shard top-k's, and re-rank globally — one final
    * exchange over |queries| × shards × k rows. Scoring, rounding and
    * (sim desc, c_id asc) tie-breaks are identical to the flat path, so
    * shards=1 reproduces [[query]] exactly and full probe reproduces
    * exact brute force at any shard count. */
  def shardedTopK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      roundTo: Int = 6, excludeSelfId: Boolean = true): DataFrame = {
    val shards = shardedManifest(spark, path)
    val perShard = shardDirs(path, shards).map { dir =>
      query(load(spark, dir), queries, idCol, vecCol, k, nprobe, roundTo,
        excludeSelfId).select(col("q_id"), col("c_id"), col("sim"))
    }
    val unioned = perShard.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    unioned.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
