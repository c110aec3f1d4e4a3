package graft.algorithms

import graft.operators.Iteration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms built on [[Iteration]] driver loops — the
  * analogs of the reference's iteration examples
  * (reference: examples/connected_components.rs, examples/pagerank.rs,
  * examples/transitive_closure.rs), expressed as DataFrame joins so Catalyst
  * plans every round (with AQE off: the rounds are shape-stable).
  *
  * Scale notes: labels/ranks shuffle on the node id each round; edges are
  * cached and reused. Convergence loops and per-round-counted PageRanks run
  * on [[Iteration.iterate]], which cuts the state's lineage every round;
  * fixed-round loops whose rounds read the state once (label propagation,
  * HITS, fixed-point PageRank) fold lazily and cut once at the end.
  */
object Graph {

  /** Node-count gate for per-round degree-table broadcasts. The per-node
    * side tables (outdeg, w_out) are NODE-sized, so an unconditional
    * `broadcast()` hint is an OOM cliff on billion-node graphs — but the
    * loop bodies run with AQE off (shape-stable rounds; round-4 note), so
    * without a hint Spark would sort-merge a table that fits in memory at
    * every test scale. The node count is already computed before every
    * loop, so gate on it: ≤2M nodes (~tens of MB as a HashedRelation)
    * broadcasts, above that the join shuffles and AQE-less SMJ is the
    * right plan anyway (both sides node-partitioned). */
  private[graft] val BroadcastNodeLimit = 2_000_000L
  private[graft] def maybeBroadcast(df: DataFrame, nodeCount: Long): DataFrame =
    graft.operators.Scale.broadcastIfSmall(df, BroadcastNodeLimit,
      knownCount = Some(nodeCount))

  /** Both directions of each (src, dst) edge from ONE pass over the
    * (possibly expensive) edge source — a union of two projections would
    * scan it twice. The single derivation shared by every undirected
    * algorithm in this file, so a change (e.g. a null-edge filter) lands
    * once instead of drifting across five inlined copies.
    * `dedupe=false`: the caller vouches the edge list is duplicate-free
    * (a<b pair tables are) — skips a full-edge exchange+aggregate. */
  private def undirectedBoth(edges: DataFrame, dedupe: Boolean,
      dropSelfLoops: Boolean = false): DataFrame = {
    val both0 = edges.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    val both =
      if (dropSelfLoops) both0.filter(col("src") =!= col("dst")) else both0
    if (dedupe) both.distinct() else both
  }

  /** Min-label propagation connected components.
    * edges: (src: Long, dst: Long) undirected (both directions derived).
    * Returns (node, component = min reachable node id).
    *
    * Convergence check exploits monotonicity: labels only ever decrease, so
    * the label sum is strictly decreasing until fixpoint — one cheap agg per
    * round instead of a prev⋈next join.
    *
    * When `parallelism` is None the loop's shuffle width is auto-sized from
    * the edge count: a bench-sized graph runs its rounds at width 1 instead
    * of the session default, a billion-edge graph still gets thousands of
    * partitions. The sizing count runs on a PERSISTED edge input (released
    * once the undirected cache is materialized) so an expensive derived
    * edge pipeline — an LSH pair graph, a join — is computed once, not once
    * for the count and again for the build. Pass `parallelism` to pin the
    * width and skip the count entirely. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      parallelism: Option[Int] = None, dedupeEdges: Boolean = true): DataFrame = {
    val autoSize = parallelism.isEmpty
    // persist a DERIVED projection, never the caller's frame: persisting
    // `edges` directly would be a no-op on an already-cached input, and the
    // release below would then DROP the caller's cache entry (the same
    // hazard Iteration.iterate guards for a caller-cached input)
    val src =
      if (autoSize) edges.select(col("src"), col("dst")).persist() else edges
    val width = parallelism.getOrElse(Iteration.sizedWidth(2L * src.count()))
    Iteration.withShuffleWidth(edges.sparkSession, Some(width)) {
    // pre-explode rebalance (the Scale.fanOut rationale: the explode below
    // amplifies 2x and a narrow scan would single-thread it) AND the width
    // pin for the loop; then pre-partition on the join key: the cached
    // relation keeps this partitioning, so the per-round join shuffles only
    // the labels side
    // width pinned EXPLICITLY (repartition(width, col), not the advisory
    // repartition(col)): the cached relation's hash partitioning is what
    // lets every round shuffle only the labels side, and with
    // canChangeCachedPlanOutputPartitioning=true (StreamContext.sessionConf
    // — the cached-materialization coalescing win) AQE may coalesce an
    // advisory keyed repartition inside a cached plan, downgrading its
    // reported partitioning and re-shuffling the edges EVERY round
    // (measured +12% on this cell when left advisory)
    val undirected = undirectedBoth(src.repartition(width), dedupeEdges)
      .repartition(width, col("dst"))
      .persist()
    if (autoSize) {
      undirected.count() // materialize before releasing the sized input
      src.unpersist()
    }
    val init = undirected.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))

    // sum over zero rows is null (empty edge set — e.g. a pair graph with
    // no near-dup pairs): treat as 0 so the loop converges on two equal
    // sums instead of NPE-ing on getLong
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("component"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    // state = (previous, current) label sum; labelSum IS the round's one job
    val (_, out) = Iteration.iterate(init, maxIter, (Long.MinValue, Long.MinValue)) {
      (labels, _) =>
        // candidate = min over neighbors' labels and own label
        val nbr = undirected
          .join(labels.withColumnRenamed("node", "dst2"),
            col("dst") === col("dst2"))
          .select(col("src").as("node"), col("component"))
        nbr.union(labels)
          .groupBy(col("node")).agg(min(col("component")).as("component"))
    } { (next, sums) => (sums._2, labelSum(next)) } { case (prev, cur) => prev != cur }
    undirected.unpersist()
    out
    }
  }

  /** Deterministic synchronous label propagation (community detection):
    * every node starts as its own label; each round, every node adopts
    * the MOST FREQUENT label among its neighbors, ties broken by the
    * SMALLEST label — the classic LPA made reproducible (asynchronous
    * LPA's output depends on visit order; the sync+tie-break variant is
    * a pure function of the graph and `rounds`). Runs a FIXED number of
    * rounds: sync LPA on bipartite-ish structures can oscillate rather
    * than converge, so a fixpoint test is the wrong stop condition.
    *
    * edges: (src, dst) undirected (both directions derived). Returns
    * (node, label).
    *
    * Scale shape per round: one labels-side shuffle into the cached
    * pre-partitioned edge relation, then a (node, label)-keyed count and
    * a node-keyed argmax — both partial-aggregated map-side. The argmax
    * is a max over (cnt, −label) structs, NOT a window: the aggregate
    * reduces each partition to ≤ #nodes rows before its exchange where a
    * row_number window would shuffle and sort every candidate row. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      parallelism: Option[Int] = None, dedupeEdges: Boolean = true): DataFrame = {
    require(rounds >= 1, s"need >= 1 rounds, got $rounds")
    // ONE pass over the (possibly expensive) edge pipeline: the undirected
    // build is persisted FIRST and its count both materializes it and sizes
    // the loop width — the upstream never runs twice
    val undirected0 = undirectedBoth(edges, dedupeEdges).persist()
    val width = parallelism.getOrElse(Iteration.sizedWidth(undirected0.count()))
    // AQE off for the rounds and the final checkpoint, the hits rationale
    Iteration.withLoopConf(edges.sparkSession) {
    Iteration.withShuffleWidth(edges.sparkSession, Some(width)) {
      // pre-partition on the join key at loop width: the cached relation
      // keeps this partitioning, so each round shuffles only the labels
      // side (width EXPLICIT — see connectedComponents' note on advisory
      // keyed repartitions under cached-plan AQE)
      val undirected = undirected0.repartition(width, col("dst")).persist()
      val init = undirected.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      // each round reads the labels once, so the lineage grows linearly:
      // rounds stay lazy, one materializing checkpoint at the end
      val folded = (1 to rounds).foldLeft(init) { (labels, _) =>
        // every node of an undirected edge set has >= 1 neighbor, so the
        // message join covers the full node set — no keep-own fallback
        undirected
          .join(labels.withColumnRenamed("node", "dst2"),
            col("dst") === col("dst2"))
          .select(col("src").as("node"), col("label"))
          .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("label"))
      }
      // materialize (eager checkpoint, GC-managed blocks) while the edge
      // cache is ALIVE — unpersisting first would recompute the full
      // upstream once per round-reference at the caller's action
      val out = folded.localCheckpoint()
      undirected.unpersist()
      undirected0.unpersist()
      out
    }
    }
  }

  /** k-core by iterative degree peeling: repeatedly remove nodes whose
    * degree within the REMAINING graph is below k. `rounds = None` peels
    * to the true k-core fixpoint (row-count stable — the count is also the
    * per-round materializing action); `rounds = Some(r)` runs exactly r
    * peels, a well-defined prefix of the computation that a SQL oracle
    * can unroll verbatim (the fixpoint needs a recursive query over a
    * SHRINKING set, which plain recursive CTEs cannot express). Returns
    * (node, degree) with degree measured inside the surviving subgraph.
    *
    * Scale shape per round: the loop state is that (node, degree) table.
    * Degrees are one node-keyed partial-aggregated count; the survivor
    * filter is two LEFT SEMI joins of the cached undirected edges against
    * the (much smaller) survivor set — edges shuffle once up front,
    * survivor sets shuffle per round at node cardinality. */
  def kCore(edges: DataFrame, k: Int, rounds: Option[Int] = None,
      maxIter: Int = 100, parallelism: Option[Int] = None,
      dedupeEdges: Boolean = true): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // same one-pass sizing as labelPropagation: persist the undirected
    // build, count once (materialize + width), never rerun the upstream
    val undirected0 = undirectedBoth(edges, dedupeEdges).persist()
    val width = parallelism.getOrElse(Iteration.sizedWidth(undirected0.count()))
    Iteration.withShuffleWidth(edges.sparkSession, Some(width)) {
      // width explicit, same rationale as connectedComponents
      val undirected = undirected0.repartition(width, col("src")).persist()
      def degrees(es: DataFrame): DataFrame =
        es.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
      // fixpoint mode stops on count stability (peeling only removes);
      // fixed-round mode always runs out the budget
      val go: ((Long, Long)) => Boolean =
        if (rounds.isDefined) _ => true else { case (prev, cur) => prev != cur }
      // the two semi-joins read the state twice per round: iterate's
      // per-round cut keeps the plan from doubling
      val (_, out) = Iteration.iterate(degrees(undirected),
          rounds.getOrElse(maxIter), (-1L, -1L)) { (deg, _) =>
        val active = deg.filter(col("degree") >= k)
        degrees(undirected
          .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      } { (next, counts) => (counts._2, next.count()) }(go)
      undirected.unpersist()
      undirected0.unpersist()
      out
    }
  }

  /** Per-node triangle counts and local clustering coefficient — the
    * community-density profile (q_triangles gives the global count; this
    * gives every node's). A triangle {u,v,w} is found as a WEDGE centered
    * at v — two edges (v,u), (v,w) with u < w — closed by the edge
    * (u,w): counting closed wedges per CENTER yields each node's
    * triangle membership directly, no per-triangle re-attribution join.
    *
    * Scale shape: wedges are Σ deg(v)² rows — the quadratic lives on the
    * HUBS, so nodes with degree above `maxDegree` are dropped WHOLE
    * (standard practice: a crawler account's star contributes noise
    * triangles at enormous cost; the cap makes worst-case wedge fan-out
    * a constant). The closure test is one equi-join against the (deduped,
    * cached) edge set; coefficients divide exact integer counts once in
    * double. Returns (node, degree, triangles, coeff) for kept nodes;
    * coeff = 2·tri / (deg·(deg−1)), 0 when degree < 2. */
  def clusteringCoefficient(edges: DataFrame, maxDegree: Int = 1000,
      dedupeEdges: Boolean = true): DataFrame = {
    require(maxDegree >= 2, s"need maxDegree >= 2, got $maxDegree")
    val both = undirectedBoth(edges, dedupeEdges, dropSelfLoops = true)
    val keep = both.groupBy(col("src").as("node")).agg(count(lit(1)).as("d0"))
  .filter(col("d0") <= maxDegree).select(col("node"))
    val kept = both
      .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .persist()
    kept.count()
    // degree, wedges and closures all measured INSIDE the hub-free
    // subgraph — a full-graph degree against capped triangles would mix
    // denominators from different graphs
    val deg = kept.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val wedges = kept.as("x").join(kept.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("v"), col("x.dst").as("u"), col("y.dst").as("w"))
    val closed = wedges.join(kept.select(col("src").as("u"), col("dst").as("w")),
        Seq("u", "w"), "left_semi")
      .groupBy(col("v").as("node")).agg(count(lit(1)).as("triangles"))
    val out = deg.join(closed, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double")).as("coeff"))
      .localCheckpoint()
    kept.unpersist()
    out
  }

  /** Weighted PageRank in FIXED-POINT arithmetic: ranks are exact BIGINT
    * pico-units (1e12 = mass 1), and each edge's contribution
    * d·rank(m)·w(m,n)/W(m) is PURE INTEGER arithmetic — damping as the
    * reduced rational dN/dD (17/20 for 0.85), contribution
    * `(2·dN·rank·w + dD·w_out) div (2·dD·w_out)`, i.e. half-up rounding
    * with no float op and therefore no `.5`-tie whose direction hangs on
    * an engine's round() policy (double round() here mismatched DuckDB on
    * 101 exactly-representable `.5` contributions). The per-node sum is
    * integer — associative, commutative — so the result is EXACTLY
    * reproducible across partitionings, retries and engines, unlike
    * float PR whose incoming sums drift with reduction order (the
    * determinism lever that matters when a rank feeds a dedup/keep
    * decision and reruns must agree). Quantization error is ≤ 0.5e-12
    * mass per edge per round. Overflow bound: 2·dN·rank_pico·w must fit
    * int64 — rank mass is conserved at ~1e12 total, so the safe max edge
    * weight is ~2^63 / (2·dN·1.25e12); a runtime `require` on max(w)
    * enforces the bound up-front (piggy-backed on the sizing pass, no
    * extra job) instead of silently wrapping in non-ANSI mode.
    *
    * edges: (src, dst, weight ≥ 1 integer). Per round: one edge⋈rank join
    * against the cached weighted edge set, one node-keyed integer sum.
    * Returns (node, rank_pico).
    *
    * @param damping must be expressible as a 4-decimal rational k/10000
    *   (e.g. 0.85, 0.9993) — it is lowered to the reduced fraction dN/dD
    *   for the exact integer contribution; irrational or finer-grained
    *   values (e.g. 1.0/3) are rejected with IllegalArgumentException. */
  /** True iff every intermediate of the weighted fixed-point contribution
    * `(2·dN·rank_pico·w + dD·w_out) DIV (2·dD·w_out)` fits int64 — the
    * FULL numerator including the `dD·w_out` addend (bounding only the
    * rank term let fine-grained damping rationals with huge out-weights
    * slip past on the rank-bound slack alone), plus the denominator.
    * Total rank mass is conserved at ≈1e12, so any single rank_pico is
    * < ~1.25e12 including quantization error. */
  private[graft] def fixedPointFits(dN: Long, dD: Long, maxW: Long,
      maxWout: Long): Boolean = {
    val rankCap = BigInt(1250000000000L)
    val int64 = BigInt(Long.MaxValue)
    BigInt(2L * dN) * BigInt(maxW) * rankCap +
      BigInt(dD) * BigInt(maxWout) <= int64 &&
    BigInt(2L * dD) * BigInt(maxWout) <= int64
  }

  def pageRankWeightedFixed(edges: DataFrame, iterations: Int,
      damping: Double = 0.85, parallelism: Option[Int] = None): DataFrame = {
    require(iterations >= 1, s"need >= 1 iterations, got $iterations")
    val dNum0 = math.round(damping * 10000)
    require(math.abs(dNum0 / 10000.0 - damping) < 1e-12,
      s"damping must be a 4-decimal rational, got $damping")
    val g = BigInt(dNum0).gcd(BigInt(10000L)).toLong
    val dN = dNum0 / g; val dD = 10000L / g
    val e = edges.select(col("src"), col("dst"),
      col("weight").cast("long").as("w")).persist()
    // single sizing job yields the shuffle-width count and BOTH overflow
    // inputs — max edge weight and max per-src out-weight (the src-grain
    // partial aggregate rides the same pass; no extra scan of the edges)
    val statsRow = e.groupBy(col("src"))
      .agg(count(lit(1)).as("cnt"), sum(col("w")).as("sw"),
        max(col("w")).as("mx"))
      .agg(sum(col("cnt")).as("n"), max(col("mx")).as("mw"),
        max(col("sw")).as("mwout"))
      .head()
    val edgeCount = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
    val maxW = if (statsRow.isNullAt(1)) 1L else statsRow.getLong(1)
    val maxWout = if (statsRow.isNullAt(2)) 1L else statsRow.getLong(2)
    require(fixedPointFits(dN, dD, maxW, maxWout),
      s"edge weights (max w=$maxW, max per-src w_out=$maxWout) would " +
        s"overflow the int64 fixed-point contribution at damping $damping " +
        s"(dN=$dN, dD=$dD) — rescale weights or use a coarser damping " +
        "rational")
    val width = parallelism.getOrElse(Iteration.sizedWidth(edgeCount))
    // AQE off for the fixed-point rounds, the hits/kCore rationale
    Iteration.withLoopConf(edges.sparkSession) {
    Iteration.withShuffleWidth(edges.sparkSession, Some(width)) {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct().persist()
      val nodeCount = nodes.count()
      val n = nodeCount.toDouble
      val wOut = e.groupBy(col("src")).agg(sum(col("w")).as("w_out")).persist()
      val basePico = math.round((1 - damping) / n * 1e12)
      // linear lineage (each rank references only the previous one plus the
      // caches) — rounds stay lazy, one materializing checkpoint at the end
      var r = nodes.withColumn("rank_pico", lit(math.round(1e12 / n)))
      for (_ <- 1 to iterations) {
        val contrib = e.join(maybeBroadcast(wOut, nodeCount), Seq("src"))
          .join(r.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            expr(s"(${2 * dN}L * rank_pico * w + ${dD}L * w_out)" +
              s" DIV (${2 * dD}L * w_out)").as("c"))
        r = nodes.join(contrib.groupBy(col("node")).agg(sum(col("c")).as("ip")),
            Seq("node"), "left")
          .select(col("node"),
            (lit(basePico) + coalesce(col("ip"), lit(0L))).as("rank_pico"))
      }
      val out = r.localCheckpoint()
      nodes.unpersist(); wOut.unpersist(); e.unpersist()
      out
    }
    }
  }

  /** HITS hubs-and-authorities, UNNORMALIZED fixed-round form: h₀ ≡ 1,
    * aᵢ(u) = Σ_{v→u} hᵢ₋₁(v), hᵢ(u) = Σ_{u→v} aᵢ(v). Without the norm
    * step every score is an exact BIGINT — a pure integer function of the
    * graph and `rounds` that an external engine replays bit-for-bit (the
    * classic normalized variant just rescales within a round, so rankings
    * match). Keep `rounds` small: scores grow like (largest-eigenvalue)²
    * per round, a few rounds of a power iteration, not a convergence loop.
    *
    * Scale shape per round: two edge⋈score joins + node-keyed
    * partial-aggregated sums over the cached edge set; each round's score
    * table is an eager localCheckpoint (node-cardinality, lineage
    * truncated). Returns (node, hub, auth). */
  def hits(edges: DataFrame, rounds: Int, parallelism: Option[Int] = None,
      dedupeEdges: Boolean = true): DataFrame = {
    require(rounds >= 1, s"need >= 1 rounds, got $rounds")
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (dedupeEdges) e0.distinct() else e0).persist()
    val width = parallelism.getOrElse(Iteration.sizedWidth(e.count()))
    // AQE off (Iteration.withLoopConf): the final checkpoint evaluates the
    // whole 2·rounds-deep join/agg lineage, and AQE materializes each of
    // its exchanges as a separate stage-job — 38 scheduler round-trips for
    // a width-2 graph (measured on q_hits; ~8 jobs with it off, −30% wall)
    Iteration.withLoopConf(edges.sparkSession) {
    Iteration.withShuffleWidth(edges.sparkSession, Some(width)) {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct().persist()
      // hits lineage grows LINEARLY in rounds (each score references only
      // the previous one plus the cached edges/nodes), so intermediate
      // rounds stay lazy — one materializing checkpoint at the end, while
      // the caches are still alive, is all the truncation needed (contrast
      // kCore, whose degrees() references its state twice per round)
      var h = nodes.withColumn("hub", lit(1L))
      var a = nodes.withColumn("auth", lit(0L))
      for (_ <- 1 to rounds) {
        a = nodes.join(
            e.join(h.select(col("node").as("src"), col("hub")), Seq("src"))
              .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth")),
            Seq("node"), "left")
          .na.fill(0L, Seq("auth"))
        h = nodes.join(
            e.join(a.select(col("node").as("dst"), col("auth")), Seq("dst"))
              .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub")),
            Seq("node"), "left")
          .na.fill(0L, Seq("hub"))
      }
      val out = h.join(a, Seq("node"))
        .select(col("node"), col("hub"), col("auth")).localCheckpoint()
      nodes.unpersist(); e.unpersist()
      out
    }
    }
  }

  /** Common-neighbor link prediction: for every NON-adjacent node pair
    * sharing ≥ `minCommon` neighbors, the common-neighbor count and the
    * neighborhood Jaccard |N(u)∩N(w)| / |N(u)∪N(w)| — the classic
    * "people you may know" / related-entity candidate generator.
    *
    * Same wedge machinery as [[clusteringCoefficient]] (a common neighbor
    * of (u, w) IS a wedge centered at v), same hub discipline: the
    * candidate quadratic lives on hub centers, so nodes above `maxDegree`
    * drop WHOLE and every count is measured inside the hub-free subgraph.
    * Adjacent pairs are removed by one left-anti join against the edge
    * set (they're predictions of nothing). Returns
    * (a, b, common, deg_a, deg_b, jaccard) with a < b. */
  def commonNeighbors(edges: DataFrame, maxDegree: Int = 1000,
      minCommon: Long = 1L, dedupeEdges: Boolean = true): DataFrame = {
    require(maxDegree >= 2, s"need maxDegree >= 2, got $maxDegree")
    val both = undirectedBoth(edges, dedupeEdges, dropSelfLoops = true)
    val keep = both.groupBy(col("src").as("node")).agg(count(lit(1)).as("d0"))
      .filter(col("d0") <= maxDegree).select(col("node"))
    val kept = both
      .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .persist()
    kept.count()
    val deg = kept.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val cand = kept.as("x").join(kept.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("a"), col("y.dst").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      // adjacency kills the prediction — kept holds both directions, so
      // one anti join on the (a, b) orientation suffices
      .join(kept.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
    val out = cand
      .join(deg.select(col("node").as("a"), col("degree").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"))
          .as("jaccard"))
      .localCheckpoint()
    kept.unpersist()
    out
  }

  /** PageRank without dangling-mass redistribution:
    * rank'(n) = (1-d)/N + d * sum_{m->n} rank(m)/outdeg(m).
    * edges: (src, dst) directed. Deterministic: per-node incoming sums in
    * this dataset are tiny; formula structure matches the SQL oracle exactly. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
      parallelism: Option[Int] = None): DataFrame =
    Iteration.withShuffleWidth(edges.sparkSession, parallelism) {
    val e0 = parallelism.map(p => edges.repartition(p)).getOrElse(edges)
    val e = e0.select(col("src"), col("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val nodeCount = nodes.count()
    val n = nodeCount.toDouble
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).persist()

    val init = nodes.withColumn("rank", lit(1.0 / n))
    // fixed iteration count; the count materializes each round
    val (_, out) = Iteration.iterate(init, iterations, 0L) { (ranks, _) =>
      val contrib = e
        .join(maybeBroadcast(outdeg, nodeCount), Seq("src"))
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
      val incoming = contrib.groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      nodes.join(incoming, Seq("node"), "left_outer")
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("in_sum"), lit(0.0)))
            .as("rank"))
    } { (next, _) => next.count() } { _ => true }
    e.unpersist(); nodes.unpersist(); outdeg.unpersist()
    out
    }

  /** Personalized PageRank: the teleport restricted to a source set S —
    * rank'(n) = (1-d)·[n∈S]/|S| + d·Σ_{m→n} rank(m)/outdeg(m) — so mass
    * concentrates around S: the random-walk-with-restart behind "related
    * items" / personalized recommendations. Same per-round plan shape as
    * [[pageRank]] (edges ⋈ broadcast outdeg ⋈ ranks, one dst aggregation);
    * source membership rides as a narrow isin/when column, costing no
    * extra shuffle, so the 100 TB scaling argument is unchanged. */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long],
      iterations: Int, damping: Double = 0.85,
      parallelism: Option[Int] = None): DataFrame =
    Iteration.withShuffleWidth(edges.sparkSession, parallelism) {
    require(sources.nonEmpty, "personalized PageRank needs >= 1 source node")
    val e0 = parallelism.map(p => edges.repartition(p)).getOrElse(edges)
    val e = e0.select(col("src"), col("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    // materializes the persist and prices the broadcast gate in one action
    val nodeCount = nodes.count()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).persist()
    val sSize = sources.size.toDouble
    val inS = col("node").isin(sources: _*)
    val teleport = when(inS, lit((1.0 - damping) / sSize)).otherwise(lit(0.0))
    val init = nodes.withColumn("rank",
      when(inS, lit(1.0 / sSize)).otherwise(lit(0.0)))
    // fixed iteration count; the count materializes each round
    val (_, out) = Iteration.iterate(init, iterations, 0L) { (ranks, _) =>
      val contrib = e
        .join(maybeBroadcast(outdeg, nodeCount), Seq("src"))
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
      val incoming = contrib.groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      nodes.join(incoming, Seq("node"), "left_outer")
        .select(col("node"),
          (teleport + lit(damping) * coalesce(col("in_sum"), lit(0.0)))
            .as("rank"))
    } { (next, _) => next.count() } { _ => true }
    e.unpersist(); nodes.unpersist(); outdeg.unpersist()
    out
    }

  /** Incremental (delta) PageRank on [[graft.operators.Iteration.deltaIterate]]
    * — the reference's stateful-iteration pagerank
    * (reference: examples/pagerank_stateful.rs:55-85) re-expressed as a true
    * workset/solution-set iteration: ranks start at (1-d)/N, round 0 emits
    * the initial rank, every later round propagates only rank INCREMENTS
    * (d·δ) along out-edges. Nodes receiving no contributions drop out of
    * the workset (their upstream quiesced), so per-round cost tracks the
    * changing frontier, not the graph — and the partial sums converge to
    * the same fixpoint as [[pageRank]]: r = Σ_s (dA)^s·(1-d)/N. `eps`
    * gates global termination (a round whose every delta is ≤ eps ends the
    * loop), matching the reference's TerminationCond semantics.
    *
    * Returns (ranks, per-round workset sizes). */
  def pageRankDelta(edges: DataFrame, maxIter: Int, damping: Double = 0.85,
      eps: Double = 0.0, parallelism: Option[Int] = None): (DataFrame, Seq[Long]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    Iteration.withShuffleWidth(spark, parallelism) {
    val e0 = parallelism.map(p => edges.repartition(p)).getOrElse(edges)
    // persist the distinct edge set and node set: e otherwise re-runs the
    // full upstream pipeline (scan + distinct shuffle) for the node count,
    // the eod build AND the init solution — three corpus-scale recomputes
    // for a derived edge source (the sibling pageRank persists the same way)
    val e = e0.select(col("src"), col("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val nodeCount = nodes.count()
    val n = nodeCount.toDouble
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eod = e.join(maybeBroadcast(outdeg, nodeCount), Seq("src"))
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        col("outdeg"))
      .persist()

    val r0 = (1.0 - damping) / n
    // state = (rank, pending increment to distribute next round)
    val init = nodes.select(col("node").cast("long")).as[Long]
      .map(nd => (nd, (r0, r0)))

    val res = Iteration.deltaIterate[Long, (Double, Double), Double, Double, Double](
      init, maxIter, numPartitions = parallelism) { (_, s, ds) =>
      val inc = damping * ds.foldLeft(0.0)(_ + _)
      (s._1 + inc, inc)
    } { (_, s) => s._2 } { (_, s) => s._1 } { d => math.abs(d) > eps } { upd =>
      upd.toDF("src", "delta").join(eod, Seq("src"))
        .select(col("dst"), (col("delta") / col("outdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("d"))
        .as[(Long, Double)]
    }
    val out = res.output.toDF("node", "rank")
    eod.unpersist(false); e.unpersist(false); nodes.unpersist(false)
    (out, res.worksetSizes)
    }
  }

  /** Multi-source shortest paths on [[Iteration.deltaIterate]] — the
    * workset formulation of Bellman–Ford relaxation: only nodes whose
    * distance IMPROVED last round propagate candidates along their
    * out-edges, so per-round cost tracks the relaxation frontier, not the
    * graph (the delta-iteration showcase next to [[pageRankDelta]]).
    *
    * edges: (src, dst, w) directed, non-negative integer weights;
    * sources: (node) at distance 0. Returns (node, dist) for every node in
    * the graph; unreachable nodes carry [[Graph.Unreachable]]. Termination:
    * a node that receives only non-improving candidates drops out of the
    * workset (its `improved` flag clears), so the loop ends one round after
    * the last improvement — cycles don't livelock.
    *
    * Scale shape: the solution set is hash-partitioned once; each round is
    * one join of the (frontier-sized) update set against the edge relation
    * plus a per-dst min — the same cost as one sparse matrix-vector step. */
  def sssp(edges: DataFrame, sources: DataFrame, maxIter: Int = 50,
      parallelism: Option[Int] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Iteration.withShuffleWidth(spark, parallelism) {
    val e0 = parallelism.map(p => edges.repartition(p)).getOrElse(edges)
    val e = e0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .persist()
    e.count()
    val srcSet = sources.select(col("node").cast("long").as("node"))
      .distinct().withColumn("_s", lit(true))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(srcSet.select(col("node"))).distinct()
    val init = nodes.join(srcSet, Seq("node"), "left_outer")
      .select(col("node"),
        when(col("_s"), 0L).otherwise(Unreachable).as("d"),
        coalesce(col("_s"), lit(false)).as("imp"))
      .as[(Long, Long, Boolean)].map(t => (t._1, (t._2, t._3)))

    val res = Iteration.deltaIterate[Long, (Long, Boolean), Long, Long, Long](
      init, maxIter, numPartitions = parallelism) { (_, s, ds) =>
      var best = Long.MaxValue
      ds.foreach(d => if (d < best) best = d)
      val nd = math.min(s._1, best)
      (nd, nd < s._1)
    } { (_, s) => if (s._2) s._1 else -1L } { (_, s) => s._1 } { _ => true } { upd =>
      upd.filter(_._2 >= 0L).toDF("src", "d")
        .join(e, Seq("src"))
        .select(col("dst"), (col("d") + col("w")).as("cand"))
        .groupBy(col("dst")).agg(min(col("cand")).as("cand"))
        .as[(Long, Long)]
    }
    val out = res.output.toDF("node", "dist")
    e.unpersist(false)
    out
    }
  }

  /** The distance carried by nodes no relaxation reached (far above any
    * real path sum; weights add without approaching overflow). */
  val Unreachable: Long = Long.MaxValue / 4

  /** Transitive closure by path doubling — paths ⋈ paths instead of
    * paths ⋈ edges converges in O(log diameter) rounds (reference:
    * examples/transitive_closure.rs does edge-extension; doubling is the
    * scale-correct variant). Count-stability is the convergence check, so
    * each round is exactly one job; the self-join reads the paths twice,
    * which iterate's per-round cut keeps flat. */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 20,
      parallelism: Option[Int] = None): DataFrame =
    Iteration.withShuffleWidth(edges.sparkSession, parallelism) {
    val e0 = parallelism.map(p => edges.repartition(p)).getOrElse(edges)
    val base = e0.select(col("src"), col("dst")).distinct()
    // state = (previous, current) row count: closure growth only adds rows
    val (_, out) = Iteration.iterate(base, maxIter, (-1L, -1L)) { (paths, _) =>
      val extended = paths.as("p")
        .join(paths.as("q"), col("p.dst") === col("q.src"))
        .select(col("p.src").as("src"), col("q.dst").as("dst"))
      paths.union(extended).distinct()
    } { (next, counts) => (counts._2, next.count()) } { case (prev, cur) => prev != cur }
    out
    }
}
