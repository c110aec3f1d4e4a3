package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable streaming sketches for cardinality and frequency at corpus
  * scale — the summaries a 100 TB curation pipeline keeps when exact
  * distinct/groupBy state would itself be terabytes (distinct URLs seen,
  * per-token frequencies for quality filtering, heavy-hitter n-grams).
  *
  * Beyond the reference surface (renoir ships no sketches; its distinct is
  * the exact `unique_assoc`, src/operator/mod.rs:951). Both sketches here
  * are deterministic given the hash mode, so the catalog queries are
  * hash-checked by the DuckDB oracle in portable mode rather than
  * rows-only-trusted:
  *
  *  - KMV (k-minimum-values, the theta/bottom-k sketch): the k smallest
  *    distinct hash values. Estimator (k-1)·|H|/h_k. Mergeable by
  *    union+re-limit — per-shard sketches combine into the corpus sketch
  *    without re-reading data.
  *  - Count-min: depth×width counter grid; per-item estimate is the min of
  *    its depth bucket counts (an upper bound on the true count, exact when
  *    the item's buckets are collision-free).
  *
  * Hash modes follow the dedup family (Dedup.portableHash60 docs): portable
  * = md5-derived 60-bit (oracle recomputes bit-for-bit), default = xxhash64
  * (production, faster), identical algorithm either way.
  */
object Sketches {

  /** Item hash in [0, space(portable)). `abs(xxhash64)` folds to 63 bits;
    * the Long.MinValue edge (abs < 0) maps to 0 explicitly.
    *
    * NULL items hash to NULL in BOTH modes (the `when` guard: bare
    * `xxhash64(NULL)` returns the seed constant, which would silently count
    * nulls as one distinct item in production while the md5-based portable
    * mode null-propagates). Every sketch builder in this object EXCLUDES
    * null items before hashing — the SQL COUNT(DISTINCT) convention. */
  private[graft] def itemHash(c: Column, portable: Boolean): Column =
    if (portable) Dedup.portableHash60(c)
    else when(c.isNotNull, greatest(abs(xxhash64(c)), lit(0L)))

  /** Size of the hash value space, as an exact Double (2^60 and 2^63 are
    * both representable): the numerator scale of the KMV estimator. */
  def hashSpace(portable: Boolean): Double =
    if (portable) math.pow(2, 60) else math.pow(2, 63)

  // =====================================================================
  // KMV distinct-count sketch
  // =====================================================================

  /** The KMV sketch of `c`: single column `h` with the k smallest DISTINCT
    * item hashes, ≤ k rows.
    *
    * Scale shape: one narrow pass keeps the k smallest distinct hashes per
    * partition (bounded TreeSet — no full-column distinct shuffle), then the
    * ≤ P·k candidates collapse through a tiny distinct + TakeOrdered. The
    * full hash-distinct of the column (what `approx_count_distinct` avoids
    * too) never happens. */
  def kmvSketch(df: DataFrame, c: Column, k: Int,
      portable: Boolean = false): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    // null items are excluded (itemHash null contract)
    val hashes = df.where(c.isNotNull).select(itemHash(c, portable).as("h"))
      .as[Long](Encoders.scalaLong)
    val local = hashes.mapPartitions { it =>
      val set = new java.util.TreeSet[java.lang.Long]()
      it.foreach { v =>
        if (set.size < k) set.add(v)
        else if (v < set.last) { if (set.add(v)) set.pollLast() }
      }
      // fresh collection: the iterator must not outlive the TreeSet mutation
      scala.collection.JavaConverters.asScalaIterator(set.iterator())
        .map(_.longValue()).toVector.iterator
    }(Encoders.scalaLong)
    local.toDF("h").distinct().orderBy(col("h")).limit(k)
  }

  /** Merge sketches of disjoint (or overlapping — hashes dedup) shards:
    * union, distinct, keep the k smallest. Associative and idempotent. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.unionByName(b).distinct().orderBy(col("h")).limit(k)

  /** Distinct-count estimate from a sketch produced with parameter `k`:
    * (k-1)·|H|/h_k, or the exact count when fewer than k distinct hashes
    * exist (then the sketch IS the distinct set). Driver-side action. */
  def kmvEstimate(sketch: DataFrame, k: Int,
      portable: Boolean = false): Double = {
    val row = sketch.agg(max(col("h")), count(lit(1))).head()
    val n = row.getLong(1)
    if (n < k) n.toDouble
    else (k - 1).toDouble * hashSpace(portable) / row.getLong(0).toDouble
  }

  /** Per-GROUP KMV sketches: for every value of `groupCol`, the k smallest
    * distinct item hashes — approximate distinct-per-group without the
    * full (group, value) distinct shuffle an exact `countDistinct` needs.
    *
    * Scale shape: the per-partition pass keeps a bounded k-TreeSet PER
    * GROUP SEEN IN THAT PARTITION (map-side state O(groups·k), the same
    * partial-aggregation discipline as a hash aggregate), so the exchange
    * carries at most partitions·k candidate rows per group — the group's
    * distinct-value universe never shuffles. Candidates then collapse
    * through a per-group distinct + min-k window. Group-count assumption:
    * like any partial aggregation, map-side state is proportional to
    * groups visible per partition — for group cardinalities where that is
    * too big, exact distinct is already off the table and a single global
    * sketch per pre-partitioned shard is the shape to use. */
  def kmvPerGroup(df: DataFrame, groupCol: String, c: Column, k: Int,
      portable: Boolean = false): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val pairs = df.where(c.isNotNull) // null items excluded (itemHash contract)
      .select(col(groupCol).cast("string").as("g"), itemHash(c, portable).as("h"))
      .as[(String, Long)](Encoders.product[(String, Long)])
    val local = pairs.mapPartitions { it =>
      val m = scala.collection.mutable.LinkedHashMap
        .empty[String, java.util.TreeSet[java.lang.Long]]
      it.foreach { case (g, v) =>
        val set = m.getOrElseUpdate(g, new java.util.TreeSet[java.lang.Long]())
        if (set.size < k) set.add(v)
        else if (v < set.last) { if (set.add(v)) set.pollLast() }
      }
      // fresh collection per group: iterators must not outlive the TreeSets
      m.iterator.flatMap { case (g, set) =>
        scala.collection.JavaConverters.asScalaIterator(set.iterator())
          .map(h => (g, h.longValue())).toVector
      }
    }(Encoders.product[(String, Long)])
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"))
    local.toDF("g", "h").distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Per-group estimates from a [[kmvPerGroup]] sketch: (g, h_k, n_h,
    * est) with the same estimator as [[kmvEstimate]] — exact n_h when the
    * group has fewer than k distinct hashes (the sketch IS its distinct
    * set), (k-1)·|H|/h_k otherwise. */
  def kmvPerGroupEstimate(sketch: DataFrame, k: Int,
      portable: Boolean = false): DataFrame =
    sketch.groupBy(col("g"))
      .agg(max(col("h")).as("h_k"), count(lit(1)).as("n_h"))
      .select(col("g"), col("h_k"), col("n_h"),
        when(col("n_h") < k, col("n_h").cast("double"))
          .otherwise(lit((k - 1) * hashSpace(portable)) /
            col("h_k").cast("double")).as("est"))

  /** Pairwise overlap matrix between groups, from their KMV sketches
    * ([[kmvPerGroup]] output): for every group pair, estimated distinct
    * counts, union (KMV over the merged k-sets — the k smallest of a
    * union of k-sets ARE the union's k smallest, so merging sketches is
    * exact sketch algebra), intersection by inclusion–exclusion, and
    * Jaccard. The corpus-curation "which sources duplicate each other"
    * report: all pairwise comparisons happen on k-sized arrays —
    * #groups² pairs of k longs, never a row of data — so the matrix
    * costs the same at any corpus scale. Estimates are exact when the
    * union stays under k. */
  def kmvOverlapMatrix(sketch: DataFrame, k: Int,
      portable: Boolean = false): DataFrame = {
    val H = hashSpace(portable)
    def est(hs: Column, n: Column): Column =
      when(n < k, n.cast("double"))
        .otherwise(lit((k - 1) * H) / element_at(hs, n.cast("int")).cast("double"))
    val ksets = sketch.groupBy(col("g"))
      .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n"))
    val a = ksets.select(col("g").as("g1"), col("hs").as("hs1"), col("n").as("n1"))
    val b = ksets.select(col("g").as("g2"), col("hs").as("hs2"), col("n").as("n2"))
    val merged = array_sort(array_distinct(concat(col("hs1"), col("hs2"))))
    val mSize = size(merged)
    val unionEst = when(mSize < k, mSize.cast("double"))
      .otherwise(lit((k - 1) * H) /
        element_at(merged, least(mSize, lit(k))).cast("double"))
    a.join(b, col("g1") < col("g2"))
      .select(col("g1"), col("g2"),
        est(col("hs1"), col("n1")).as("est1"),
        est(col("hs2"), col("n2")).as("est2"),
        unionEst.as("union_est"))
      .withColumn("inter_est",
        greatest(col("est1") + col("est2") - col("union_est"), lit(0.0)))
      .withColumn("jaccard_est", col("inter_est") / col("union_est"))
  }

  // =====================================================================
  // Count-min frequency sketch
  // =====================================================================

  /** Bucket of a base item hash `h` in sketch row `r`: row r reads the
    * disjoint 15-bit slice [15r, 15r+15) of the hash, mod width — depth
    * derived hash functions from ONE hash evaluation per item
    * (Kirsch–Mitzenmacher-style; disjoint slices of a cryptographic/avalanche
    * hash are independent). The previous per-row "r:item" rehash cost depth
    * md5/xxhash calls per item per pass — the dominant cost of the portable
    * sketch (q_heavy_hitters_portable 2.06→1.2 s at sf0.1). Identical
    * arithmetic on the oracle side (`(hv >> (15*r)) % width`). */
  def cmsBucketOf(h: Column, r: Int, width: Int): Column = {
    require(r >= 0 && r < 4 && width >= 2 && width <= (1 << 15),
      s"bit-slice CMS supports depth <= 4 and width <= 32768, got row $r width $width")
    pmod(shiftright(h, 15 * r), lit(width.toLong))
  }

  /** The count-min sketch of `c`: rows `(r, b, cnt)` for the non-empty
    * buckets of a depth×width grid. One hash + one explode (depth rows per
    * item) + one groupBy of at most depth·width groups — the shuffle
    * carries the GRID, not the items. Mergeable by summing cnt on (r, b). */
  def cmsSketch(df: DataFrame, c: Column, depth: Int, width: Int,
      portable: Boolean = false): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CMS shape ${depth}x$width")
    val rbs = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmsBucketOf(col("__h"), r, width).as("b")))
    df.where(c.isNotNull) // null items excluded (itemHash contract)
      .select(itemHash(c, portable).as("__h"))
      .select(explode(array(rbs: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two CMS sketches of the same shape: grid-cell-wise sum. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))

  /** Equi-join cardinality estimate from two same-shape CMS sketches: the
    * min over depth rows of the row inner product Σ_b cntA·cntB — the
    * classic count-min join-size estimator (each row's inner product is an
    * upper bound on |A ⋈ B|; collisions only ADD mass, so est ≥ true size
    * always, exact when both sketches are collision-free).
    *
    * The 100 TB point: join-size estimation BEFORE running the join costs
    * two single-pass grid sketches (the shuffle carries depth·width cells,
    * never the keys) + a grid-sized inner product — the input to
    * broadcast/salt/AQE decisions that is otherwise guessed from stale
    * stats. Returns one row (est). */
  def cmsJoinSize(ska: DataFrame, skb: DataFrame): DataFrame =
    ska.select(col("r"), col("b"), col("cnt").as("cnt_a"))
      .join(skb.select(col("r"), col("b"), col("cnt").as("cnt_b")), Seq("r", "b"))
      .groupBy(col("r")).agg(sum(col("cnt_a") * col("cnt_b")).as("ip"))
      .agg(min(col("ip")).as("est"))

  /** Frequency estimates for `items` (any DataFrame with the probe values in
    * `c`): min over the depth rows of the item's bucket counts. The sketch
    * (≤ depth·width rows) broadcasts; the probe side stays narrow until the
    * final per-item min — estimating any candidate set never re-touches the
    * corpus. Upper bound: est >= true count, exact without collisions. */
  def cmsEstimate(sketch: DataFrame, items: DataFrame, c: Column,
      depth: Int, width: Int, portable: Boolean = false): DataFrame = {
    val rbs = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmsBucketOf(col("__h"), r, width).as("b")))
    items.where(c.isNotNull) // null probes excluded (itemHash contract)
      .select(c.as("item"), itemHash(c, portable).as("__h"))
      .select(col("item"), explode(array(rbs: _*)).as("rb"))
      .select(col("item"), col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy(col("item"))
      // a missing grid cell means nothing ever hashed there → count 0
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Heavy hitters (CMS estimate ≥ `minCount`) WITHOUT the full-universe
    * distinct probe: an item's estimate is the min over its depth bucket
    * counts, so est ≥ minCount iff EVERY one of its buckets is a heavy cell
    * (cnt ≥ minCount). The heavy cells — at most depth·width, collected
    * driver-side from the grid-sized sketch — prefilter the probe stream as
    * a NARROW map-side `isin` (InSet) per depth row; only the actual heavy
    * hitters (true ones plus CMS-collision false positives, i.e. exactly
    * the output set) reach the distinct and the estimate join. Bit-identical
    * to probing every distinct item and filtering est ≥ minCount, but the
    * probe shuffle is output-sized instead of corpus-distinct-sized
    * (ShuffleVolumeSpec pins the byte drop). Returns (item, est). */
  def cmsHeavyItems(sketch: DataFrame, items: DataFrame, c: Column,
      depth: Int, width: Int, minCount: Long,
      portable: Boolean = false): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val heavyRows = sketch.filter(col("cnt") >= minCount)
      .select(col("r"), col("b"), col("cnt")).collect()
      .map(row => (row.getInt(0), row.getLong(1), row.getLong(2)))
    val heavy: Map[Int, Seq[Long]] =
      heavyRows.groupBy(_._1).map { case (r, cells) => r -> cells.toSeq.map(_._2) }
    val probe = items.select(c.as("item"))
    // a depth row with NO heavy cell means no item can pass the min filter
    if ((0 until depth).exists(r => !heavy.contains(r)))
      return probe.select(col("item"), lit(0L).as("est")).limit(0)
    // Probe order is a hash-cost/shuffle-cost trade, decided per mode:
    //  - production (xxhash): row 0's bucket alone is a NECESSARY
    //    condition, so a narrow one-hash-per-occurrence prefilter runs
    //    BEFORE the distinct — survivors (a superset of the output, far
    //    below the universe) deduplicate in an output-scale shuffle. This
    //    is the 100 TB shape: the probe shuffle tracks the answer.
    //  - portable (md5-derived, the oracle-verification mode): the md5
    //    hash per occurrence costs more than the distinct shuffle it
    //    avoids at verification scale (measured 1.4 s → 2.3 s), so
    //    dedup first, hash the ≤vocabulary-sized distinct set after.
    // Both orders produce the identical candidate set.
    // ONE base hash per hashed row; every depth row's bucket is a bit slice.
    // The mode-aware probe order survives: portable dedups BEFORE hashing
    // (md5 on the ≤vocabulary distinct set), production hashes each
    // occurrence once and prefilters narrow before the distinct.
    val allBucketsHeavy = (0 until depth)
      .map(r => cmsBucketOf(col("__h"), r, width).isin(heavy(r): _*))
      .reduce(_ && _)
    val stage1 =
      if (portable) probe.distinct()
        .withColumn("__h", itemHash(col("item"), portable))
      else probe.withColumn("__h", itemHash(col("item"), portable))
        .filter(cmsBucketOf(col("__h"), 0, width).isin(heavy(0): _*))
        // shuffle bare items (the hash re-derives on the output-sized
        // survivors — cheaper than 8 bytes per probed row on the wire)
        .select(col("item")).distinct()
        .withColumn("__h", itemHash(col("item"), portable))
    // survivors' buckets are ALL heavy, so the heavy subset IS the sketch
    // restriction they estimate against — the grid never recomputes
    cmsEstimate(heavyRows.toSeq.toDF("r", "b", "cnt"),
      stage1.filter(allBucketsHeavy).select(col("item")),
      col("item"), depth, width, portable)
  }

  // =====================================================================
  // HyperLogLog distinct-count sketch (register-explicit, oracle-replayable)
  // =====================================================================

  /** Bits of hash left after the `p` bucket bits. */
  private def hllWBits(p: Int, portable: Boolean): Int =
    (if (portable) 60 else 63) - p

  /** Bias-correction constant α_m. The asymptotic 0.7213/(1+1.079/m) only
    * holds for m ≥ 128; Flajolet et al. give exact small-m constants for
    * m = 16/32/64, used here so estimates at p = 4..6 are unbiased. */
  private[graft] def hllAlpha(m: Long): Double = m match {
    case 16L => 0.673
    case 32L => 0.697
    case 64L => 0.709
    case _   => 0.7213 / (1.0 + 1.079 / m.toDouble)
  }

  /** The HLL register table of `c` at precision `p` (m = 2^p registers):
    * one row per NON-EMPTY bucket, (bucket, reg) where `reg` is the max
    * rank (position of the highest set bit measured from the top of the
    * post-bucket hash bits, 1-based; an all-zero remainder ranks wBits+1).
    * Unlike Spark's built-in `approx_count_distinct` the state is plain
    * rows: portable across engines (the DuckDB oracle recomputes registers
    * bit-for-bit via `length(bin(w))`), storable, and mergeable by
    * [[hllMerge]].
    *
    * Scale shape: rank is a narrow expression; `groupBy(bucket).max` does
    * map-side partial aggregation with O(m) state per task, so the exchange
    * carries at most partitions·m one-long rows regardless of corpus size —
    * the classic HLL property, expressed as a plain hash aggregate. */
  def hllRegisters(df: DataFrame, c: Column, p: Int,
      portable: Boolean = false): DataFrame = {
    val (bucket, reg) = hllBucketReg(c, p, portable)
    df.where(c.isNotNull).select(bucket, reg)
      .groupBy("bucket").agg(max(col("reg")).as("reg"))
  }

  /** The (bucket, reg) projection shared by the three register builders:
    * rank = position of the highest set bit of the post-bucket remainder,
    * measured from the top (1-based); an all-zero remainder ranks wBits+1.
    * Callers exclude NULL items before binning (itemHash null contract). */
  private def hllBucketReg(c: Column, p: Int,
      portable: Boolean): (Column, Column) = {
    require(p >= 4 && p <= 16, s"HLL precision must be in [4,16], got $p")
    val wBits = hllWBits(p, portable)
    val h = itemHash(c, portable)
    val w = h.bitwiseAND(lit((1L << wBits) - 1))
    val rank = when(w === 0, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(w)))
    (shiftright(h, wBits).as("bucket"), rank.cast("long").as("reg"))
  }

  /** Merge register tables (same p and mode): bucket-wise max. Associative,
    * commutative, idempotent — per-shard sketches compose to the corpus
    * sketch without re-reading data. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("reg")).as("reg"))

  /** `(bucket, reg, nonzero, est)` projection of a register table — the raw
    * HLL estimate αm·m²/Σ2^−Mj (empty buckets contribute 2^0) alongside the
    * registers, computed so the DuckDB oracle reproduces it BIT-FOR-BIT:
    * each 2^(63−reg) term is an exact power of two summed in DECIMAL(38,0)
    * (order-independent), and the single double division happens once at
    * the end with an identical operation sequence on both engines. No
    * small-/large-range correction here (ln() is libm-dependent across
    * engines); [[hllEstimate]] applies the standard linear-counting branch
    * driver-side. */
  def hllReport(regs: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    // 2^63 as DECIMAL(38,0), exactly (the double 2^63 is exact)
    val scaleDec = lit(math.pow(2, 63)).cast("decimal(38,0)")
    val term = pow(lit(2.0), lit(63.0) - col("reg").cast("double"))
      .cast("decimal(38,0)")
    val stats = regs.agg(
      sum(term).as("s"), count(lit(1)).as("nb"))
      .select(
        (col("s") + (lit(m) - col("nb")).cast("decimal(38,0)") * scaleDec)
          .as("total"),
        col("nb"))
    val alpha = lit(hllAlpha(m))
    regs.crossJoin(broadcast(stats))
      .select(col("bucket"), col("reg"), col("nb").as("nonzero"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) * lit(math.pow(2, 63)) /
          col("total").cast("double")).as("est"))
  }

  /** Per-GROUP HLL register tables: (g, bucket, reg) — approximate
    * distinct-per-key at groups·m bounded rows (the "distinct users per
    * domain" report), same map-side partial-max discipline as
    * [[hllRegisters]]; merge = (g, bucket)-wise max. */
  def hllRegistersPerGroup(df: DataFrame, groupCol: String, c: Column, p: Int,
      portable: Boolean = false): DataFrame = {
    val (bucket, reg) = hllBucketReg(c, p, portable)
    df.where(c.isNotNull).select(col(groupCol).as("g"), bucket, reg)
      .groupBy("g", "bucket").agg(max(col("reg")).as("reg"))
  }

  /** HLL registers per SLIDING event-time window: each row's hash lands in
    * every size/slide window covering it (the same map-side Expand as any
    * sliding aggregation), then (window, bucket) partial-max — the
    * WAU-over-rolling-7-days shape at windows×m bounded rows. Feed the
    * result to [[hllReportPerGroup]] (g = window-start micros). */
  def hllRegistersPerWindow(df: DataFrame, ts: String, size: String,
      slide: String, c: Column, p: Int,
      portable: Boolean = false): DataFrame = {
    val (bucket, reg) = hllBucketReg(c, p, portable)
    df.where(c.isNotNull).select(col(ts), bucket, reg)
      .groupBy(window(col(ts), size, slide).getField("start").as("ws"),
        col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(unix_micros(col("ws")).as("g"), col("bucket"), col("reg"))
  }

  /** Per-group `(g, bucket, reg, nonzero, est)` projection — the grouped
    * [[hllReport]]: per-group totals via whole-partition windows on the
    * groups·m-row sketch, identical exact-DECIMAL + fixed-order-double
    * arithmetic so the oracle replays every group's estimate
    * bit-for-bit. */
  def hllReportPerGroup(regs: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    val scaleDec = lit(math.pow(2, 63)).cast("decimal(38,0)")
    val term = pow(lit(2.0), lit(63.0) - col("reg").cast("double"))
      .cast("decimal(38,0)")
    val wg = Window.partitionBy(col("g")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val alpha = lit(hllAlpha(m))
    regs
      .withColumn("s", sum(term).over(wg))
      .withColumn("nb", count(lit(1)).over(wg))
      .select(col("g"), col("bucket"), col("reg"), col("nb").as("nonzero"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) * lit(math.pow(2, 63)) /
          (col("s") + (lit(m) - col("nb")).cast("decimal(38,0)") * scaleDec)
            .cast("double")).as("est"))
  }

  /** Driver-side distinct estimate from a register table: the raw HLL
    * estimate with the standard small-range correction (linear counting
    * m·ln(m/V) when empty buckets exist and the raw estimate ≤ 2.5m). */
  def hllEstimate(regs: DataFrame, p: Int): Double = {
    val m = 1L << p
    val rows = regs.select(col("reg")).collect().map(_.getLong(0))
    val nb = rows.length
    val sumInv = rows.map(r => math.pow(2, -r.toDouble)).sum + (m - nb)
    val alpha = hllAlpha(m)
    val raw = alpha * m.toDouble * m.toDouble / sumInv
    val zeros = m - nb
    if (zeros > 0 && raw <= 2.5 * m) m.toDouble * math.log(m.toDouble / zeros)
    else raw
  }

  // =====================================================================
  // Fixed-bound equi-width histogram (mergeable quantile sketch)
  // =====================================================================

  /** Equi-width histogram of `c` under FROZEN bounds [lo, hi): one row per
    * non-empty bin, (bin, cnt); values outside the bounds clamp to the edge
    * bins, NULL and NaN rows are EXCLUDED (they have no bin; see [[binExpr]]
    * for why counting them would corrupt the top/bottom bins)
    * (the ZOrder frozen-bounds discipline — crawl cycles histogram the
    * same grid, so shard histograms stay mergeable forever). The engine-
    * portable alternative to `percentile_approx` when the sketch must be
    * stored, merged across cycles, or recomputed by another engine: binning
    * is a narrow arithmetic Column and the aggregate is a plain map-side-
    * partial count on ≤ `bins` keys — the exchange carries at most
    * partitions·bins rows at any corpus size. */
  def histogram(df: DataFrame, c: Column, bins: Int, lo: Double,
      hi: Double): DataFrame =
    binnable(df, c).select(binExpr(c, bins, lo, hi).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))

  /** Clamped equi-width bin of `c` on the frozen [lo, hi) grid — ONE
    * definition for both histogram builders. Callers must pre-filter with
    * [[binnable]]: Spark's least/greatest SKIP nulls, so a NULL value would
    * otherwise clamp to the TOP bin (inflating it by the null count and
    * shifting every quantile toward hi), and NaN arithmetic would land in
    * bin 0 (or throw under ANSI). */
  private def binExpr(c: Column, bins: Int, lo: Double, hi: Double): Column = {
    require(bins >= 2 && hi > lo, s"need bins >= 2 and hi > lo")
    greatest(lit(0L), least(lit(bins - 1L),
      floor((c.cast("double") - lit(lo)) * lit(bins.toDouble) / (lit(hi) - lit(lo)))
        .cast("long")))
  }

  /** Rows with a binnable value of `c`: non-null, non-NaN. */
  private def binnable(df: DataFrame, c: Column): DataFrame =
    df.where(c.isNotNull && !isnan(c.cast("double")))

  /** Merge histograms built on the same grid: bin-wise sum. Associative,
    * commutative — per-shard histograms compose without re-reading data. */
  def histogramMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bin").agg(sum(col("cnt")).as("cnt"))

  /** Interpolated quantile estimates from a histogram: for each `p`, the
    * first bin whose cumulative count reaches rank ceil(p·n), linearly
    * interpolated inside the bin. Error bound: within one bin width of an
    * exact quantile (plus clamping at the frozen edges). Runs on the ≤bins-
    * row sketch — one tiny task; every arithmetic step is a fixed-order
    * double expression, so the DuckDB oracle reproduces estimates
    * bit-for-bit. */
  def histogramQuantiles(hist: DataFrame, bins: Int, lo: Double, hi: Double,
      probs: Seq[Double]): DataFrame = {
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(tot))
    interpolateQuantiles(cum, bins, lo, hi, probs, keyCols = Nil)
  }

  /** Rank filter + in-bin linear interpolation over a cumulated histogram
    * (`bin`/`cnt`/`cum`/`n` columns) — ONE definition for the global and
    * per-group quantile reports. Every arithmetic step is a fixed-order
    * double expression, so the DuckDB oracle reproduces estimates
    * bit-for-bit. */
  private def interpolateQuantiles(cum: DataFrame, bins: Int, lo: Double,
      hi: Double, probs: Seq[Double], keyCols: Seq[Column]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1))
    val ps = cum.sparkSession.createDataFrame(
      probs.map(Tuple1.apply)).toDF("p")
    val width = (hi - lo) / bins
    cum.crossJoin(broadcast(ps))
      .withColumn("t", ceil(col("p") * col("n").cast("double")).cast("long"))
      .filter(col("cum") >= col("t") && col("cum") - col("cnt") < col("t"))
      .select(keyCols ++ Seq(col("p"),
        (lit(lo) + (col("bin").cast("double") +
          (col("t").cast("double") - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double")) * lit(width)).as("q_est"),
        col("n")): _*)
  }

  /** Per-GROUP equi-width histograms on the shared frozen grid: (g, bin,
    * cnt) — grouped quantile state at groups·bins rows, the bounded
    * alternative to an exact per-group sort. Same map-side partial-count
    * discipline as [[histogram]]; merge = (g, bin)-wise sum. */
  def histogramPerGroup(df: DataFrame, groupCol: String, c: Column, bins: Int,
      lo: Double, hi: Double): DataFrame =
    binnable(df, c)
      .select(col(groupCol).as("g"), binExpr(c, bins, lo, hi).as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("cnt"))

  /** Per-group interpolated quantiles from [[histogramPerGroup]] state —
    * the "p50/p95 per key" report. One (g) hash Exchange over the
    * groups·bins-row sketch; identical fixed-order arithmetic to
    * [[histogramQuantiles]], so the oracle replays estimates bit-for-bit. */
  def histogramQuantilesPerGroup(hist: DataFrame, bins: Int, lo: Double,
      hi: Double, probs: Seq[Double]): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("g")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(tot))
    interpolateQuantiles(cum, bins, lo, hi, probs, keyCols = Seq(col("g")))
  }

  /** Distribution drift between two SAME-GRID histograms — the crawl-cycle
    * drift alarm (pairs with [[HistStore]]): per-bin KL(P‖Q) contributions
    * under Laplace smoothing (`alpha` pseudo-counts, so empty bins are
    * defined), in INTEGER MICRO-NATS. Each bin's contribution is one
    * fixed-order double expression rounded to a BIGINT; the total is then
    * an EXACT integer sum — aggregation-order-independent, so the oracle
    * reproduces both the contributions and the total bit-for-bit (the
    * quality-classifier integer-gradient discipline applied to drift).
    * Returns all `bins` rows: (bin, cnt_a, cnt_b, kl_contrib_micro,
    * kl_micro); `kl_micro/1e6` ≈ KL(P‖Q) in nats. Runs on the two ≤bins-row
    * sketches — corpus-scale-independent. */
  def histogramDrift(a: DataFrame, b: DataFrame, bins: Int,
      alpha: Double = 1.0): DataFrame = {
    require(bins >= 2 && alpha > 0)
    val spark = a.sparkSession
    val grid = spark.range(bins).select(col("id").as("bin"))
    val j = grid
      .join(a.select(col("bin"), col("cnt").as("cnt_a")), Seq("bin"), "left")
      .join(b.select(col("bin"), col("cnt").as("cnt_b")), Seq("bin"), "left")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = j
      .withColumn("ta", sum(col("cnt_a")).over(w))
      .withColumn("tb", sum(col("cnt_b")).over(w))
    val p = (col("cnt_a").cast("double") + lit(alpha)) /
      (col("ta").cast("double") + lit(alpha * bins))
    val q = (col("cnt_b").cast("double") + lit(alpha)) /
      (col("tb").cast("double") + lit(alpha * bins))
    val contrib = round(p * log(p / q) * lit(1000000.0), 0).cast("long")
    // PSI (population stability index, the model-monitoring standard):
    // (p−q)·ln(p/q) per bin — symmetric, ≥ 0; same integer-micro discipline
    val psi = round((p - q) * log(p / q) * lit(1000000.0), 0).cast("long")
    t.withColumn("kl_contrib_micro", contrib)
      .withColumn("psi_contrib_micro", psi)
      .select(col("bin"), col("cnt_a"), col("cnt_b"), col("kl_contrib_micro"),
        col("psi_contrib_micro"),
        sum(col("kl_contrib_micro")).over(w).as("kl_micro"),
        sum(col("psi_contrib_micro")).over(w).as("psi_micro"))
  }

  // =====================================================================
  // Built-in mergeable sketches, surfaced for API completeness
  // =====================================================================

  /** HyperLogLog++ distinct count (Spark built-in, mergeable, `rsd`
    * relative standard deviation). Use over [[kmvSketch]] or
    * [[hllRegisters]] when only the NUMBER is needed and no cross-engine
    * recomputation is required — HLL++ state is opaque, ours is portable
    * rows. */
  def hllDistinct(df: DataFrame, c: Column, rsd: Double = 0.05): Long =
    df.agg(approx_count_distinct(c, rsd)).head().getLong(0)

  /** Mergeable approximate quantiles (Spark's built-in Greenwald-Khanna
    * `percentile_approx`): the 100 TB substitute for the exact per-group
    * sort of `percentile` — same call shape, bounded state. */
  def approxQuantiles(df: DataFrame, c: Column, probs: Seq[Double],
      accuracy: Int = 10000, groupBy: Seq[Column] = Nil): DataFrame = {
    val agg = percentile_approx(c,
      array(probs.map(lit): _*), lit(accuracy)).as("quantiles")
    if (groupBy.isEmpty) df.agg(agg) else df.groupBy(groupBy: _*).agg(agg)
  }

  /** Candidate heavy hitters by a per-partition Misra-Gries pass: `m`
    * counters per partition, NARROW (no shuffle, bounded memory). Guarantee:
    * any item with global count > n/m survives in at least one partition's
    * output, so the union is a superset of the true heavy hitters — probe it
    * with [[cmsEstimate]] for the counts. Candidate content depends on the
    * physical partitioning (that is the deal with MG); the guarantee doesn't. */
  def misraGriesCandidates(df: DataFrame, c: Column, m: Int): DataFrame = {
    require(m >= 1, s"need at least one counter, got $m")
    val items = df.select(c.cast("string").as("item"))
      .as[String](Encoders.STRING)
    items.mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long]()
      it.foreach { v =>
        if (counts.containsKey(v)) counts.put(v, counts.get(v) + 1L)
        else if (counts.size < m) counts.put(v, 1L)
        else {
          // decrement-all step; drop zeros
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1L)
          }
        }
      }
      scala.collection.JavaConverters
        .asScalaIterator(counts.keySet().iterator()).toVector.iterator
    }(Encoders.STRING).toDF("item").distinct()
  }
}
