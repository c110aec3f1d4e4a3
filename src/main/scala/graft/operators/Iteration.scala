package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** Iterative fixed-point computation — the analog of the reference's
  * iteration operators (reference: src/operator/iteration/):
  *
  *  - `iterate` (iterate.rs:363-545): a feedback edge in the dataflow graph,
  *    a singleton leader block folding per-round deltas into shared state and
  *    deciding continue/stop.
  *  - `replay` (replay.rs:256-358): the input is re-read each round, only the
  *    state evolves (kmeans, logistic regression).
  *  - `delta_iterate` (iterate_delta.rs:104-192): keyed incremental iteration
  *    over (solution set, workset).
  *
  * Spark-first design (SURVEY §3.3): the driver IS the leader block — a
  * driver-side loop whose per-round action (the fold, the replay round,
  * the delta merge) is the round's one job. One lineage policy: the loop,
  * not its caller, cuts the state it carries, and the round's action is
  * what materializes the cut. `iterate` hands `body` only datasets cut by
  * a lazy `localCheckpoint`, so plans never grow with the round count;
  * `replay` re-reads one cached input and carries its state on the
  * driver; `deltaIterate` cuts its solution RDD every
  * `DeltaCheckpointEvery` rounds (on a real cluster, configure a
  * checkpoint dir and reliable checkpoints instead).
  */
object Iteration {

  /** AQE re-plans every shuffle stage of every per-round job. For a
    * driver-loop iteration the round plans are shape-stable and each round
    * is its own small job, so the replan + extra stage-scheduling overhead
    * dominates: measured at sf0.1 local[32], a warm connected-components
    * round is ~0.17 s with AQE off vs ~1.9 s with it on (~10x). Every loop
    * in this object therefore runs with AQE disabled and restores the
    * previous setting on exit.
    *
    * The override is session-wide while the loop runs (Spark reads the conf
    * at execution), so concurrent queries on the same session observe it;
    * loops are driver-blocking, making that window explicit. */
  private[graft] def withLoopConf[A](spark: SparkSession)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Scoped `spark.sql.shuffle.partitions` override for driver loops. With
    * AQE off inside iterations (see [[withLoopConf]]) nothing coalesces the
    * per-round shuffles, so a loop over a small dataset inherits the
    * session-wide width and pays it in pure task-scheduling overhead every
    * round — measured at sf0.1 local[32]: connected components 7.5 s at
    * width 32 vs ~0.5 s at width 1 for the same rounds. Callers size the
    * width from their input (see [[sizedWidth]]) or pass it through. */
  private[graft] def withShuffleWidth[A](spark: SparkSession,
      parallelism: Option[Int])(f: => A): A = parallelism match {
    case None => f
    case Some(p) =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try f
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Shuffle width for `rows` rows of loop state: ≈64k rows per partition,
    * floor 1, capped — a billion-row state still gets ~15k partitions, a
    * bench-sized graph gets 1 instead of the session default. */
  private[graft] def sizedWidth(rows: Long): Int =
    math.max(1L, rows / RowsPerPartition).min(MaxWidth.toLong).toInt
  private val RowsPerPartition = 65536L
  private val MaxWidth = 1 << 14

  /** GRAFT_ITER_DEBUG=1 prints per-round timings to stderr. */
  private val debug = sys.env.contains("GRAFT_ITER_DEBUG")
  private def logRound(tag: String, i: Int, t0: Long): Unit =
    if (debug) System.err.println(
      f"[iter] $tag round=$i ${(System.nanoTime() - t0) / 1e9}%.2fs")

  /** replay: recompute state from the (cached) input each round.
    * `round` returns the new state; `cond(old, new)` continues while true. */
  def replay[T, S](input: Dataset[T], maxIter: Int, init: S)(
      round: (Dataset[T], S) => S)(cond: (S, S) => Boolean): S =
    withLoopConf(input.sparkSession) {
      // respect a caller-managed cache: persisting twice would double the
      // memory and cost one wasted materialization job
      val alreadyCached = input.storageLevel != StorageLevel.NONE
      val cached =
        if (alreadyCached) input else input.persist(StorageLevel.MEMORY_AND_DISK)
      if (!alreadyCached) cached.count()
      var state = init
      var i = 0
      var go = true
      while (i < maxIter && go) {
        val next = round(cached, state)
        go = cond(state, next)
        state = next
        i += 1
      }
      if (!alreadyCached) cached.unpersist(false)
      state
    }

  /** [[deltaIterate]] cuts the merged solution set's lineage every this
    * many rounds and persists it on the others. */
  private val DeltaCheckpointEvery = 5

  /** Result of [[deltaIterate]]: the per-key outputs plus the per-round
    * workset sizes (number of keys that received a delta), the delta
    * iteration's defining telemetry — a healthy run shows it shrinking. */
  final case class DeltaResult[KO](output: Dataset[KO], worksetSizes: Seq[Long])

  /** Workset/solution-set incremental iteration — the reference's
    * `delta_iterate` (reference: src/operator/iteration/iterate_delta.rs:104-192):
    * a keyed solution set evolves in place; each round only the keys that
    * received a delta run `processDelta` and emit an update into `body`,
    * which computes the next round's deltas; the loop stops when no delta
    * satisfies `condition` (the reference's `TerminationCond`) or after
    * `maxIter` rounds. As in the reference, `condition` gates TERMINATION,
    * not delivery: a key stays in the workset as long as it receives any
    * delta rows — keys leave the workset when upstream stops sending to
    * them, not when their deltas go sub-threshold. Note that when NO delta
    * of a round satisfies `condition`, the loop stops and that terminating
    * round's deltas are DISCARDED unapplied (the reference's last_iteration
    * behavior) — callers with eps > 0 should fold that into their epsilon.
    *
    * Spark-first shape: the solution set lives as a hash-partitioned pair
    * RDD that NEVER re-shuffles — each round is a partitioner-aware
    * `cogroup` (narrow on the solution side), so the only shuffled data is
    * the workset itself, which shrinks as keys quiesce. This is the one
    * operator family where dropping below the Dataset API is justified:
    * Catalyst has no notion of a stable cross-job partitioning, and at
    * 100 TB re-shuffling the solution set every round IS the bottleneck.
    * `body` still receives a Dataset, so the per-round logic stays
    * declarative/Catalyst-planned.
    *
    * Divergences from the reference (documented, semantics-preserving):
    * `processDelta` folds all of a key's deltas functionally instead of
    * mutating in place; delta arrival order within a key is unspecified in
    * both engines, so the fold should be commutative (the reference has the
    * same network nondeterminism). One job per round: the merge also
    * counts each key's deltas that pass `condition`, so a single fold over
    * the persisted merge materializes it and returns (workset, changed).
    * The merge runs even on the terminating round, so a delta for an
    * unknown key fails that round too.
    */
  def deltaIterate[K: ClassTag, S: ClassTag, U: ClassTag, D: ClassTag, O: ClassTag](
      solution: Dataset[(K, S)], maxIter: Int,
      numPartitions: Option[Int] = None)(
      processDelta: (K, S, Iterator[D]) => S)(
      makeUpdate: (K, S) => U)(
      makeOutput: (K, S) => O)(
      condition: D => Boolean)(
      body: Dataset[(K, U)] => Dataset[(K, D)])(
      implicit kuEnc: Encoder[(K, U)], koEnc: Encoder[(K, O)]): DeltaResult[(K, O)] =
    withLoopConf(solution.sparkSession) {
    val spark = solution.sparkSession
    val part = new HashPartitioner(
      numPartitions.getOrElse(math.max(solution.rdd.getNumPartitions, 1)))

    var sol: RDD[(K, S)] = solution.rdd.partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 0: every key is in the workset (the reference's Msg::Init pass)
    var updates: RDD[(K, U)] = sol.mapPartitions(
      _.map { case (k, s) => (k, makeUpdate(k, s)) }, preservesPartitioning = true)
    val worksets = scala.collection.mutable.ArrayBuffer.empty[Long]

    var i = 0
    var done = false
    var prevMerged: RDD[_] = null
    var prevCheckpointed = false
    while (i < maxIter && !done) {
      val t0 = System.nanoTime()
      val deltas = body(spark.createDataset(updates)).rdd
      // per key: (state, received a delta, deltas passing `condition`)
      val merged = sol.cogroup(deltas, part).mapPartitions(_.map {
        case (k, (ss, ds)) =>
          // a key can appear delta-only if body emits unseen keys; the
          // reference folds onto Default::default() — we require the key
          // to exist (solution sets are closed over their key domain).
          // Named error: a bare NoSuchElementException from ss.head would
          // surface as an inscrutable stage failure at scale.
          require(ss.nonEmpty,
            s"deltaIterate: delta for unknown key $k — the solution set is " +
              "closed over its key domain; body must not emit new keys")
          val s = ss.head
          if (ds.isEmpty) (k, (s, false, 0L))
          else (k, (processDelta(k, s, ds.iterator), true, ds.count(condition).toLong))
      }, preservesPartitioning = true)
      val checkpointed = (i + 1) % DeltaCheckpointEvery == 0
      val persisted =
        if (checkpointed) { merged.localCheckpoint(); merged }
        else merged.persist(StorageLevel.MEMORY_AND_DISK)
      // the round's one job: materializes the merge too
      val (wk, changed) = persisted
        .map { case (_, (_, touched, passed)) => (if (touched) 1L else 0L, passed) }
        .fold((0L, 0L)) { case ((w1, c1), (w2, c2)) => (w1 + w2, c1 + c2) }
      if (changed == 0) { done = true; persisted.unpersist(false) }
      else {
        worksets += wk
        updates = persisted.mapPartitions(
          _.collect { case (k, (s, true, _)) => (k, makeUpdate(k, s)) },
          preservesPartitioning = true)
        sol.unpersist(false)
        // NEVER unpersist a locally-checkpointed RDD while descendants may
        // still need it — its blocks are the only copy (lineage truncated);
        // dropping the reference lets the ContextCleaner reclaim it safely
        if (prevMerged != null && !prevCheckpointed) prevMerged.unpersist(false)
        prevMerged = persisted
        prevCheckpointed = checkpointed
        sol = persisted.mapPartitions(
          _.map { case (k, (s, _, _)) => (k, s) }, preservesPartitioning = true)
      }
      i += 1
      logRound("delta", i, t0)
    }
    val out = spark.createDataset(
      sol.mapPartitions(_.map { case (k, s) => (k, makeOutput(k, s)) },
        preservesPartitioning = true))
    DeltaResult(out, worksets.toSeq)
    }

  /** iterate: evolve BOTH a dataset and a state; the state is folded from
    * the round's output (the reference's leader global_fold) and the loop
    * stops when `cond(newState)` is false. Returns (state, final dataset) —
    * the reference's two output streams (iterate.rs:371-374).
    *
    * The one dataset driver loop. Every dataset handed to `body` (the input
    * and each round's output) is cut by a lazy `localCheckpoint`: a body
    * that reads its state twice (a join plus a union, a self-join, two
    * semi-joins) would otherwise double its plan every round. The loop runs
    * no action of its own: `foldState`'s action is the round's one job, and
    * it materializes the cut (a fold without an action leaves the rounds
    * lazy until the caller's next action). Spark's ContextCleaner frees a cut
    * round's blocks once nothing references it; unpersisting them here
    * could strand a later round whose cut has not run yet. A caller-cached
    * input is handed over as is and never unpersisted — cutting it would
    * copy the caller's cache, and unpersisting it would drop a cache shared
    * with sibling streams. */
  def iterate[T, S](input: Dataset[T], maxIter: Int, init: S)(
      body: (Dataset[T], S) => Dataset[T])(
      foldState: (Dataset[T], S) => S)(
      cond: S => Boolean): (S, Dataset[T]) =
    withLoopConf(input.sparkSession) {
      var cur =
        if (input.storageLevel != StorageLevel.NONE) input
        else input.localCheckpoint(eager = false)
      var state = init
      var i = 0
      var go = true
      while (i < maxIter && go) {
        val t0 = System.nanoTime()
        cur = body(cur, state).localCheckpoint(eager = false)
        state = foldState(cur, state)
        go = cond(state)
        i += 1
        logRound("iterate", i, t0)
      }
      (state, cur)
    }
}
