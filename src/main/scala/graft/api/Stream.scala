package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast => sparkBroadcast, _}
import org.apache.spark.storage.StorageLevel

/** A lazily-composed stream of `T` — the analog of the reference's
  * `Stream<Op>` (reference: src/stream.rs:27-35). Wraps a Spark `Dataset[T]`:
  * chaining operators extends the Catalyst logical plan (the reference's
  * same-block operator fusion, src/stream.rs:120-126, is WholeStageCodegen
  * here), and wide operators introduce shuffles (the reference's block splits,
  * src/stream.rs:136-167, are Spark stages).
  *
  * The four reference routing strategies (src/block/next_strategy.rs:14-31)
  * map directly: OnlyOne → narrow dependency (no-op), Random → [[shuffle]],
  * GroupBy(hash) → [[groupBy]], All → [[broadcastHint]].
  */
final class Stream[T](val ds: Dataset[T],
    private[graft] val sharedCache: Option[Stream.SharedCacheHandle] = None) extends Serializable {
  def spark: SparkSession = ds.sparkSession

  // ---------------------------------------------------------------------
  // §2.3 projections / filters / per-element transforms
  // ---------------------------------------------------------------------

  /** Reference: `map`, src/operator/mod.rs:551. */
  def map[O: Encoder](f: T => O): Stream[O] = new Stream(ds.map(f))

  /** Reference: `filter`, src/operator/mod.rs:409. */
  def filter(p: T => Boolean): Stream[T] = new Stream(ds.filter(p))

  /** Reference: `filter_map`, src/operator/mod.rs:384. */
  def filterMap[O: Encoder](f: T => Option[O]): Stream[O] =
    new Stream(ds.flatMap(x => f(x).iterator))

  /** Reference: `flat_map`, src/operator/mod.rs:1158. */
  def flatMap[O: Encoder](f: T => IterableOnce[O]): Stream[O] =
    new Stream(ds.flatMap(f))

  /** Reference: `flatten`, src/operator/mod.rs:1210. */
  def flatten[O: Encoder](implicit ev: T <:< IterableOnce[O]): Stream[O] =
    new Stream(ds.flatMap(x => ev(x)))

  /** Side-effecting peek (debug). Reference: `inspect`, src/operator/mod.rs:1060. */
  def inspect(f: T => Unit)(implicit e: Encoder[T]): Stream[T] =
    new Stream(ds.map { x => f(x); x })

  /** Stateful per-partition map: `init` is evaluated once per partition (the
    * reference's per-replica `FnMut` closure, src/operator/mod.rs:524). State
    * must be created inside the partition — safe by construction here. */
  def richMap[S, O: Encoder](init: () => S)(f: (S, T) => O): Stream[O] =
    new Stream(ds.mapPartitions { it => val s = init(); it.map(f(s, _)) })

  /** Reference: `rich_flat_map`, src/operator/mod.rs:1104. */
  def richFlatMap[S, O: Encoder](init: () => S)(f: (S, T) => IterableOnce[O]): Stream[O] =
    new Stream(ds.mapPartitions { it => val s = init(); it.flatMap(f(s, _)) })

  /** Reference: `rich_filter_map`, src/operator/mod.rs:461. */
  def richFilterMap[S, O: Encoder](init: () => S)(f: (S, T) => Option[O]): Stream[O] =
    new Stream(ds.mapPartitions { it => val s = init(); it.flatMap(x => f(s, x).iterator) })

  /** Raw access to the upstream element iterator — the reference's
    * `rich_map_custom` (src/operator/mod.rs:1132): the closure consumes the
    * partition's iterator and emits an output iterator. */
  def richMapCustom[O: Encoder](f: Iterator[T] => Iterator[O]): Stream[O] =
    new Stream(ds.mapPartitions(f))

  /** Memoized map with a bounded per-partition LRU cache.
    * Reference: `map_memo_by`, src/operator/mod.rs:677, map_memo.rs:17-50. */
  def mapMemoBy[K, O: Encoder](capacity: Int)(keyer: T => K)(f: T => O): Stream[O] =
    new Stream(ds.mapPartitions { it =>
      val cache = new java.util.LinkedHashMap[K, O](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, O]): Boolean =
          size() > capacity
      }
      it.map { x =>
        val k = keyer(x)
        val cached = cache.get(k)
        if (cached != null || cache.containsKey(k)) cached
        else { val v = f(x); cache.put(k, v); v }
      }
    })

  /** Reference: `map_memo`, src/operator/mod.rs:2410 (key = element itself). */
  def mapMemo[O: Encoder](capacity: Int)(f: T => O): Stream[O] =
    mapMemoBy[T, O](capacity)(identity)(f)

  /** Async map with bounded per-partition concurrency, preserving order
    * (reference: `map_async`, src/operator/mod.rs:648, map_async.rs — tokio
    * tasks with ordered output). A sliding window keeps `parallelism`
    * futures in flight continuously (pipelined like the reference, not
    * batch-barriered); awaiting the oldest caps the wait at `timeout` so a
    * hung future fails the task instead of hanging the job forever. */
  def mapAsync[O: Encoder](parallelism: Int,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(300, "s"))(
      f: T => scala.concurrent.Future[O]): Stream[O] =
    new Stream(ds.mapPartitions { it =>
      import scala.concurrent.{Await, Future}
      val window = math.max(1, parallelism)
      val queue = scala.collection.mutable.Queue.empty[Future[O]]
      new Iterator[O] {
        private def fill(): Unit =
          while (queue.size < window && it.hasNext) queue.enqueue(f(it.next()))
        def hasNext: Boolean = { fill(); queue.nonEmpty }
        def next(): O = { fill(); Await.result(queue.dequeue(), timeout) }
      }
    })

  /** Async memoized map (reference: `map_async_memo_by`, src/operator/mod.rs:585).
    * Same sliding-window pipeline as [[mapAsync]]; duplicate keys already in
    * flight share the pending future instead of launching redundant work. */
  def mapAsyncMemoBy[K, O: Encoder](parallelism: Int, capacity: Int,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(300, "s"))(keyer: T => K)(
      f: T => scala.concurrent.Future[O]): Stream[O] =
    new Stream(ds.mapPartitions { it =>
      import scala.concurrent.{Await, Future}
      val cache = new java.util.LinkedHashMap[K, O](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, O]): Boolean =
          size() > capacity
      }
      val window = math.max(1, parallelism)
      val inFlight = scala.collection.mutable.Map.empty[K, Future[O]]
      val queue = scala.collection.mutable.Queue.empty[(K, Either[O, Future[O]])]
      new Iterator[O] {
        private def enqueue(x: T): Unit = {
          val k = keyer(x)
          if (cache.containsKey(k)) queue.enqueue((k, Left(cache.get(k))))
          else inFlight.get(k) match {
            case Some(fut) => queue.enqueue((k, Right(fut)))
            case None =>
              val fut = f(x); inFlight(k) = fut; queue.enqueue((k, Right(fut)))
          }
        }
        private def fill(): Unit =
          while (queue.size < window && it.hasNext) enqueue(it.next())
        def hasNext: Boolean = { fill(); queue.nonEmpty }
        def next(): O = {
          fill()
          queue.dequeue() match {
            case (_, Left(v)) => v
            case (k, Right(fut)) =>
              val v = Await.result(fut, timeout)
              cache.put(k, v); inFlight.remove(k); v
          }
        }
      }
    })

  /** Batching is a transport concern the reference exposes (`batch_mode`,
    * src/operator/mod.rs:361); Spark's vectorized exec makes it a no-op. */
  def batchMode(): Stream[T] = this

  // ---------------------------------------------------------------------
  // §2.4 key / partitioning operators
  // ---------------------------------------------------------------------

  /** Hash-partition by key — the reference's `group_by`
    * (src/operator/mod.rs:1377). Spark-first note: no eager shuffle is
    * issued; downstream keyed aggregations shuffle exactly once on the key
    * (partial/final HashAggregate), which strictly dominates the reference's
    * eager-shuffle-then-fold. CAVEAT: unlike the reference, this does NOT
    * physically co-locate a key's elements — keyed aggregations and the
    * per-key rich variants don't need it (they group via `groupByKey`), but
    * raw partition-level logic (`richMapCustom`) does: call
    * [[KeyedStream.partitionByKey]] first in that case. */
  def groupBy[K: Encoder](keyer: T => K)(implicit e: Encoder[T], ke: Encoder[(K, T)]): KeyedStream[K, T] =
    new KeyedStream(ds.map(x => (keyer(x), x)))

  /** Tag with key WITHOUT shuffling (reference: `key_by`, src/operator/mod.rs:1039). */
  def keyBy[K](keyer: T => K)(implicit e: Encoder[(K, T)]): KeyedStream[K, T] =
    new KeyedStream(ds.map(x => (keyer(x), x)))

  /** Mark this stream for replication to every consumer task — the
    * reference's `broadcast` (src/operator/mod.rs:1351, NextStrategy::All).
    * In Spark the hint takes effect at the consuming join. */
  def broadcastHint: Stream[T] = new Stream(sparkBroadcast(ds))

  /** Reinterpret a pair stream as keyed without shuffling (reference:
    * `to_keyed`, src/stream.rs:311). */
  def toKeyed[K, V](implicit ev: T <:< (K, V), e: Encoder[(K, V)]): KeyedStream[K, V] =
    new KeyedStream(ds.map(x => ev(x)))

  /** Random (round-robin) repartition. Reference: `shuffle`,
    * src/operator/mod.rs:1943, NextStrategy::Random. */
  def shuffle(partitions: Int = 0): Stream[T] =
    new Stream(if (partitions > 0) ds.repartition(partitions) else ds.repartition())

  /** Cap the parallelism of what follows (reference: `replication(r)`,
    * src/operator/mod.rs:1761). `One` → `coalesce(1)`. */
  def replication(n: Int): Stream[T] =
    new Stream(if (n == 1) ds.coalesce(1) else ds.repartition(n))

  /** Shuffle by a custom index (reference: `repartition_by`, src/operator/mod.rs:1786). */
  def repartitionBy[K](n: Int, keyer: T => K)(implicit e: Encoder[(K, T)], et: Encoder[T]): Stream[T] =
    new Stream(ds.map(x => (keyer(x), x)).repartition(n, col("_1")).map(_._2))

  /** Duplicate the stream n ways. Spark's plan-DAG lets one DataFrame feed
    * many consumers; we persist so the common prefix is computed once
    * (reference: `split`, src/operator/mod.rs:1965). */
  def split(n: Int): Seq[Stream[T]] = {
    val cached = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val handles = Stream.SharedCacheHandle.forBranches(cached, n)
    handles.map(h => new Stream(cached, sharedCache = Some(h)))
  }

  /** Split one stream into N by predicates, first match wins (reference:
    * `route()`, src/operator/mod.rs:1923, route.rs:33-93). The first-match
    * index is computed ONCE per element and cached, so each branch is a
    * cheap integer filter (not an O(branches²) predicate re-evaluation). */
  def route(predicates: (T => Boolean)*)(implicit e: Encoder[(Int, T)]): Seq[Stream[T]] = {
    val preds = predicates.toIndexedSeq
    val indexed = ds.map { x =>
      (preds.indexWhere(p => p(x)), x)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val handles = Stream.SharedCacheHandle.forBranches(indexed, preds.length)
    predicates.indices.map { i =>
      new Stream(indexed.filter(_._1 == i).map(_._2)(ds.encoder),
        sharedCache = Some(handles(i)))
    }
  }

  /** Union of two same-typed streams, order unspecified (reference: `merge`,
    * src/operator/merge.rs:41). */
  def merge(other: Stream[T]): Stream[T] = new Stream(ds.union(other.ds))

  /** Pairwise zip of two streams. The reference forces both sides to
    * parallelism 1 (src/operator/zip.rs:14-60); we keep it distributed via
    * per-partition indexing + an index equi-join, documenting that pairing
    * order is partition order. */
  def zip[U](other: Stream[U])(implicit ctT: scala.reflect.ClassTag[T],
      ctU: scala.reflect.ClassTag[U], ep: Encoder[(T, U)]): Stream[(T, U)] = {
    val left = ds.rdd.zipWithIndex().map(_.swap)
    val right = other.ds.rdd.zipWithIndex().map(_.swap)
    val zipped = left.join(right).values
    new Stream(spark.createDataset(zipped))
  }

  /** Window over the whole (un-keyed) stream — parallelism-1 key `()` like
    * the reference's `window_all` (src/operator/window/mod.rs:353-362). */
  def windowAll(descr: WindowDescr[T])(implicit e: Encoder[(Int, T)]): WindowedStream[Int, T] =
    new WindowedStream(new KeyedStream(ds.map(x => (0, x))), descr)

  // ---------------------------------------------------------------------
  // §2.5 aggregations (global)
  // ---------------------------------------------------------------------

  /** Non-associative sequential fold — single replica, like the reference's
    * `fold` (src/operator/mod.rs:725 forces Replication::One). */
  def fold[A: Encoder](init: A)(f: (A, T) => A): Stream[A] =
    new Stream(ds.coalesce(1).mapPartitions(it => Iterator.single(it.foldLeft(init)(f))))

  /** Two-phase fold: local partial per partition + global combine — the
    * reference's `fold_assoc` (src/operator/mod.rs:771), i.e. Spark's
    * partial/final aggregation done by hand at the typed level. */
  def foldAssoc[A: Encoder](init: A)(local: (A, T) => A, global: (A, A) => A): Stream[A] = {
    // repartition (a P-row shuffle), NOT coalesce: coalesce(1) is a narrow
    // dependency that would collapse the upstream local folds into ONE
    // task, serializing the "parallel partials" phase this operator exists
    // for. The shuffle's arrival order is nondeterministic, so partials
    // carry their partition index and the combine sorts by it first —
    // associative-but-NON-commutative folds (concatenation) stay
    // deterministic, matching the old partition-order behavior.
    implicit val ePair: Encoder[(Int, A)] =
      Encoders.tuple(Encoders.scalaInt, implicitly[Encoder[A]])
    val partials = ds.mapPartitions(it => Iterator.single(
      (org.apache.spark.TaskContext.getPartitionId(), it.foldLeft(init)(local))))
    new Stream(partials.repartition(1).mapPartitions(it =>
      Iterator.single(
        it.toSeq.sortBy(_._1).iterator.map(_._2).foldLeft(init)(global))))
  }

  /** Reference: `reduce`, src/operator/mod.rs:1831. */
  def reduce(f: (T, T) => T)(implicit e: Encoder[T]): Stream[T] =
    new Stream(ds.coalesce(1).mapPartitions(it => it.reduceOption(f).iterator))

  /** Associative reduce with map-side partials (reference: `reduce_assoc`,
    * src/operator/mod.rs:1876). */
  def reduceAssoc(f: (T, T) => T)(implicit e: Encoder[T]): Stream[T] = {
    // same parallel-partials + deterministic partition-order combine as
    // foldAssoc (see the rationale there)
    implicit val ePair: Encoder[(Int, T)] =
      Encoders.tuple(Encoders.scalaInt, e)
    val partials = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.reduceOption(f).map(v => (pid, v)).iterator
    }
    new Stream(partials.repartition(1).mapPartitions(it =>
      it.toSeq.sortBy(_._1).iterator.map(_._2).reduceOption(f).iterator))
  }

  /** Distinct via local set → shuffle → global set (reference:
    * `unique_assoc`, src/operator/mod.rs:951) — Spark's partial-agg distinct. */
  def uniqueAssoc(): Stream[T] = new Stream(ds.distinct())

  /** Two-pass scan: global aggregate over the whole stream, then map every
    * element with it (reference: `fold_scan`, src/operator/mod.rs:856-907).
    * Lowered to agg → broadcast cross-join → map, so the second pass is a
    * narrow stage at any scale. */
  def foldScan[A: Encoder, O: Encoder](init: A)(local: (A, T) => A, global: (A, A) => A)(
      project: (A, T) => O)(implicit e: Encoder[T], ctA: scala.reflect.ClassTag[A]): Stream[O] = {
    val acc = foldAssoc(init)(local, global).ds.head()
    val accB = spark.sparkContext.broadcast(acc)
    new Stream(ds.map(x => project(accB.value, x)))
  }

  /** Sugar over foldScan (reference: `reduce_scan`, src/operator/mod.rs:909-944).
    * An empty input yields an empty stream (no accumulator exists). */
  def reduceScan[A: Encoder, O: Encoder](firstMap: T => A)(combine: (A, A) => A)(
      secondMap: (A, T) => O)(implicit e: Encoder[T], ctA: scala.reflect.ClassTag[A]): Stream[O] = {
    val mapped = ds.map(firstMap)
    new Stream(mapped).reduceAssoc(combine).ds.collect().headOption match {
      case None => new Stream(ds.limit(0).map(x => secondMap(null.asInstanceOf[A], x)))
      case Some(acc) =>
        val accB = spark.sparkContext.broadcast(acc)
        new Stream(ds.map(x => secondMap(accB.value, x)))
    }
  }

  // ---------------------------------------------------------------------
  // §2.7 sorts / limits / top-k
  // ---------------------------------------------------------------------

  /** Full total-order sort (reference: `sorted_by`, src/operator/mod.rs:1243).
    * Lowered to a Catalyst Sort on a derived key column (range partition +
    * codegen'd per-partition sort), so upstream pruning/pushdown survive —
    * the key is computed once per row in a typed projection, sorted on, and
    * dropped. Uses the key type's encoded (natural) ordering; for a custom
    * `Ordering` use [[sortedByCustom]]. */
  def sortedBy[B](key: T => B)(implicit e: Encoder[T], ebt: Encoder[(B, T)]): Stream[T] =
    new Stream(ds.map(x => (key(x), x)).orderBy(col("_1")).map(_._2))

  /** RDD-path sort for keys whose `Ordering` is not the encoded natural
    * order (leaves Catalyst — prefer [[sortedBy]]). */
  def sortedByCustom[B](key: T => B)(implicit ord: Ordering[B],
      ctB: scala.reflect.ClassTag[B], e: Encoder[T]): Stream[T] =
    new Stream(spark.createDataset(ds.rdd.sortBy(key)))

  /** Column-based sort — preferred lowering (Catalyst-visible). */
  def sorted(cols: Column*): Stream[T] = new Stream(ds.sort(cols: _*))

  /** limit + offset, order unspecified (reference: `limit`, src/operator/mod.rs:1276). */
  def limit(n: Int, offset: Int = 0): Stream[T] =
    new Stream(if (offset > 0) ds.offset(offset).limit(n) else ds.limit(n))

  /** Top-k with offset (reference: `sorted_limit_by`, src/operator/mod.rs:1317).
    * Spark plans TakeOrderedAndProject — per-partition top-k then merge, no
    * global sort. */
  def sortedLimitBy(n: Int, offset: Int, cols: Column*): Stream[T] =
    new Stream(if (offset > 0) ds.sort(cols: _*).offset(offset).limit(n)
               else ds.sort(cols: _*).limit(n))

  // ---------------------------------------------------------------------
  // sinks (§2.2)
  // ---------------------------------------------------------------------

  /** Reference: `collect_vec`, src/operator/mod.rs:2135. */
  def collectVec(): Seq[T] = ds.collect().toSeq

  /** Collect into an arbitrary collection (reference: `collect` with any
    * `FromIterator`, src/operator/mod.rs:2195). */
  def collectTo[C](implicit f: scala.collection.Factory[T, C]): C =
    ds.collect().to(f)

  /** Reference: `collect_count`, src/operator/mod.rs:2104. */
  def collectCount(): Long = ds.count()

  /** Stream results to the driver incrementally (reference:
    * `collect_channel`, src/operator/mod.rs:2044). */
  def collectIterator(): Iterator[T] = {
    val it = ds.toLocalIterator()
    new Iterator[T] { def hasNext = it.hasNext; def next() = it.next() }
  }

  /** Reference: `for_each`, src/operator/mod.rs:1181. */
  def forEach(f: T => Unit): Unit = ds.foreach(x => f(x))

  /** Per-replica CSV part files (reference: `write_csv_seq`, src/operator/sink/csv.rs:102). */
  def writeCsv(path: String, header: Boolean = true): Unit =
    ds.toDF().write.mode("overwrite").option("header", header.toString).csv(path)

  /** Single-file CSV (reference `Replication::One` variant, sink/csv.rs:141). */
  def writeCsvOne(path: String, header: Boolean = true): Unit =
    ds.toDF().coalesce(1).write.mode("overwrite").option("header", header.toString).csv(path)

  /** JSON-Lines sink (beyond-reference; see StreamContext.streamJsonl). */
  def writeJsonl(path: String): Unit =
    ds.toDF().write.mode("overwrite").json(path)

  /** Reference: `write_parquet_seq`, src/operator/sink/parquet.rs:95. */
  def writeParquet(path: String): Unit = ds.toDF().write.mode("overwrite").parquet(path)

  /** Reference: `write_parquet_one`, src/operator/sink/parquet.rs:114. */
  def writeParquetOne(path: String): Unit =
    ds.toDF().coalesce(1).write.mode("overwrite").parquet(path)

  /** ORC sink (beyond-reference; pairs with `StreamContext.streamOrc`). */
  def writeOrc(path: String): Unit = ds.toDF().write.mode("overwrite").orc(path)

  /** Hive-layout partitioned parquet sink (beyond-reference): one
    * directory per value of `partitionCols` — the layout every warehouse
    * reader partition-prunes on (`WHERE day = …` touches one directory's
    * files, not the corpus). At 100 TB pair with a `repartition` on the
    * partition columns first so each directory is written by the tasks
    * that own its rows (otherwise every task opens a file per partition
    * value — the classic small-files explosion). */
  def writeParquetPartitioned(path: String, partitionCols: String*): Unit =
    ds.toDF().write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(path)

  /** Avro sink (reference: src/operator/sink/avro.rs:93). */
  def writeAvro(path: String): Unit =
    try ds.toDF().write.mode("overwrite").format("avro").save(path)
    catch {
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("Failed to find") =>
        // no spark-avro connector on the classpath: avro-core fallback
        graft.sources.AvroIO.write(ds.toDF(), path)
    }

  /** Materialize once, replay in later jobs (reference: `cache_vec` /
    * `StreamCache`, src/operator/mod.rs:2264-2359). */
  def cache(): Stream[T] = sharedCache match {
    // a branch of split()/route() keeps its handle (dropping it would let
    // a later unpersist() evict the shared prefix directly, bypassing the
    // sibling reference count) AND persists its own dataset: for split()
    // heads ds IS the cached prefix so the persist is a no-op, but a
    // route() branch is a DERIVED dataset that cache() must actually cache
    case some @ Some(_) =>
      new Stream(ds.persist(StorageLevel.MEMORY_AND_DISK), sharedCache = some)
    case None => new Stream(ds.persist(StorageLevel.MEMORY_AND_DISK))
  }

  def unpersist(): Stream[T] = {
    // branches produced by split()/route() share a persisted prefix —
    // RELEASE this branch's reference on it; the prefix is actually
    // unpersisted only when every sibling branch has released
    // (reference-counted), so unpersisting a finished branch while siblings
    // are still consumed does not silently degrade them to full upstream
    // recompute. Each handle is one-shot: double unpersist on one branch
    // cannot steal a sibling's reference. CRUCIALLY, when a handle exists,
    // ds must NOT be unpersisted directly: for split() branches ds IS the
    // shared cached prefix, and evicting it here would bypass the count.
    sharedCache match {
      case Some(h) =>
        h.release()
        // a cache()'d route() branch ALSO persisted its own derived
        // dataset — release that here; for split() heads ds IS the prefix
        // (same object the handle owns), whose eviction is governed solely
        // by the reference count above
        if (!h.owns(ds) && ds.storageLevel != StorageLevel.NONE) ds.unpersist()
        new Stream(ds, sharedCache = None)
      case None => new Stream(ds.unpersist())
    }
  }

  // ---------------------------------------------------------------------
  // §2.6 joins (strategy builder — see graft.api.Joins)
  // ---------------------------------------------------------------------

  /** Equi-join builder (reference: `join`, src/operator/join/mod.rs:115):
    * `s1.joinWith(s2)(k1, k2).shipBroadcastRight.inner`. */
  def joinWith[U, K](other: Stream[U])(k1: T => K, k2: U => K)(
      implicit e1: Encoder[(K, T)], e2: Encoder[(K, U)]): JoinBuilder[T, U, K] =
    Joins.joinWith(this, other)(k1, k2)

  // ---------------------------------------------------------------------
  // §2.8 set operations (distinct is uniqueAssoc above; intersect/except
  // are additive beyond the reference — SURVEY §2.8)
  // ---------------------------------------------------------------------

  def intersect(other: Stream[T]): Stream[T] = new Stream(ds.intersect(other.ds))

  def except(other: Stream[T]): Stream[T] = new Stream(ds.except(other.ds))

  // ---------------------------------------------------------------------
  // §2.9 event time (batch view; streaming in graft.streaming.Streaming)
  // ---------------------------------------------------------------------

  /** Tag each element with an event time (reference: `add_timestamps`,
    * src/operator/mod.rs:329; watermark generation is implicit in Spark —
    * max(ts) − delay). */
  def addTimestamps(ts: T => Long)(implicit e: Encoder[(T, Long)]): Stream[(T, Long)] =
    new Stream(ds.map(x => (x, ts(x))))

  /** Reference: `drop_timestamps`, src/operator/mod.rs:342. */
  def dropTimestamps[U](implicit ev: T <:< (U, Long), e: Encoder[U]): Stream[U] =
    new Stream(ds.map(x => ev(x)._1))

  /** Sort timestamped elements (reference: `reorder`, src/operator/reorder.rs:
    * buffers until each watermark and releases sorted; a batch is one
    * watermark-to-end segment, so this is a per-partition sort). */
  def reorder[U](implicit ev: T <:< (U, Long), e: Encoder[T]): Stream[T] =
    new Stream(ds.sortWithinPartitions(col("_2")))

  // ---------------------------------------------------------------------
  // §2.10 iteration (driver loops — reference: src/operator/iteration/)
  // ---------------------------------------------------------------------

  /** Fixed-point iteration with evolving dataset + state (reference:
    * `iterate`, iteration/iterate.rs:363-545). Returns (final state, final
    * stream) — the reference's two outputs. `foldState`'s action (e.g.
    * `collectCount`) is the round's materialization: it is the round's one
    * job and computes the round's lineage-cut stream once for the next. */
  def iterate[S](maxIter: Int, init: S)(body: (Stream[T], S) => Stream[T])(
      foldState: (Stream[T], S) => S)(cond: S => Boolean): (S, Stream[T]) = {
    val (st, ds2) = graft.operators.Iteration.iterate(ds, maxIter, init)(
      (d, s) => body(new Stream(d), s).ds)(
      (d, s) => foldState(new Stream(d), s))(cond)
    (st, new Stream(ds2))
  }

  /** Replay iteration: input re-read (from cache) each round, only state
    * evolves (reference: `replay`, iteration/replay.rs:256-358). */
  def replay[S](maxIter: Int, init: S)(round: (Stream[T], S) => S)(
      cond: (S, S) => Boolean): S =
    graft.operators.Iteration.replay(ds, maxIter, init)(
      (d, s) => round(new Stream(d), s))(cond)

  /** Escape hatch to the underlying frame. */
  def toDF: DataFrame = ds.toDF()
}

object Stream {
  def apply[T](ds: Dataset[T]): Stream[T] = new Stream(ds)

  /** One branch's one-shot reference on a split()/route() shared cached
    * prefix: the underlying dataset is unpersisted only when EVERY branch
    * has released (so one finished branch cannot evict data its siblings
    * still read), and a branch releasing twice decrements only once. */
  private[graft] final class SharedCacheHandle(
      counter: java.util.concurrent.atomic.AtomicInteger, cached: Dataset[_])
      extends Serializable {
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true) && counter.decrementAndGet() == 0)
        cached.unpersist()

    /** True when `d` IS the shared prefix this handle reference-counts
      * (split() branch heads wrap exactly that object; route() branches
      * wrap derived datasets). */
    def owns(d: Dataset[_]): Boolean = cached eq d
  }

  private[graft] object SharedCacheHandle {
    def forBranches(cached: Dataset[_], n: Int): Seq[SharedCacheHandle] = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(n)
      Seq.fill(n)(new SharedCacheHandle(counter, cached))
    }
  }
}
