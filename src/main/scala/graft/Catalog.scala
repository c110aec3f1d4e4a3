package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog cell: the query, the DuckDB SQL that checks it, and the tags
  * the harness mains select on. `run(session, sfDir, portable)`: `portable`
  * picks the md5-derived hashing the oracle recomputes bit-for-bit (`true`,
  * what Verify runs) or the xxhash64 production paths (`false`, what Bench,
  * Soak and [[Queries.all]] run). Cells built by [[Catalog.cell]] ignore it. */
final case class Cell(
    name: String,
    run: (SparkSession, String, Boolean) => DataFrame,
    oracleSql: String,
    tags: Set[Tag]) {
  def is(tag: Tag): Boolean = tags(tag)
  /** Every `q_stream_*` twin runs a full streaming query on construction
    * over a split from runStream's content-fingerprinted 'streamsplit'
    * store under /tmp; Bench and Soak build the splits before their first
    * pass ([[Queries.prepareStreamSplits]]). */
  def streaming: Boolean = name.startsWith("q_stream_")
}

sealed trait Tag

object Tag {
  /** Registered through [[Catalog.hashed]]: the query's hashing depends on
    * the `portable` flag. */
  case object Hashed extends Tag

  /** A key of Bench's stdout line: a pinned, stable subset (the expensive
    * and family-representative cells) so the driver's bounded tail capture
    * always holds the complete JSON line and round-over-round deltas compare
    * the same keys. BenchFormatSpec asserts the worst-case line length stays
    * under the capture budget; tag more cells only with that test green. */
  case object Headline extends Tag

  /** The cell's `<name>_portable` Bench key is a stdout key too. */
  case object HeadlinePortable extends Tag

  /** Bench re-times the cell under portable hashing as `<name>_portable`,
    * so both hash modes stay observable per round. */
  case object BenchPortable extends Tag

  /** Drift-controls panel for Bench's `vs_prev_round.ratio_drift_adjusted`.
    *
    * Selection rule: **no /tmp-cache-backed cell** — a control that can
    * pay a disk-cache rebuild inside its timed window measures cache
    * temperature, not host drift. Round 15 proved the blind spot is
    * active: q_bpe sat in the panel, inflated 2.7× on a cold-/tmp driver
    * run, and dragged the adjustment to a flattering 0.853 (r15 verdict
    * #2). That rule excludes every [[TmpCache]] cell (q_copurchase,
    * q_hits and q_related_items read the copurchase /tmp store — a cold
    * first pass rebuilds it), and EVERY q_stream_* cell: all streaming
    * twins route through runStream's content-fingerprinted 'streamsplit'
    * store under /tmp, so on a cold /tmp — or a GRAFT_ONLY run where no
    * earlier cell warmed the shared split dir — the split rebuild landed
    * inside the timed window, the exact q_bpe failure mode (Bench now
    * builds the splits before its first pass; the r16 panel
    * shipped with q_stream_tumbling in violation of its own rule; r16
    * advice). Session-local persist/unpersist within a query is fine
    * because clearCache() resets it between cells anyway.
    *
    * Second selection rule (r17, the optimization round): **no
    * persist/localCheckpoint in the cell's path** ([[Persists]]) — a
    * drift control must be insensitive to CODE/CONFIG changes, and the
    * r17 cached-plan-AQE session default
    * (canChangeCachedPlanOutputPartitioning) structurally sped up every
    * persisting cell. The r16 panel held five such cells (q_char_lm,
    * q_ngram_lm, q_cluster_split, q_pagerank all persist), so across the
    * r17 boundary the old panel measured the OPTIMIZATION instead of the
    * host and `ratio_drift_adjusted` over-penalized the total. All current
    * members were verified structurally neutral to the flag (identical
    * jobs/stages/tasks/shuffle bytes under both settings, r17 notes; Bench's
    * per-cell `layers` records those counters). CatalogSpec pins both rules.
    *
    * Shape diversity, so the panel moves with the host across regimes
    * rather than with any one subsystem:
    *   nx_q1        — codegen scan→project floor (physically cannot
    *                  regress from a plan change; pure host signal)
    *   q1_agg       — scan + hash-aggregate exchange
    *   q_sort       — global sort (range exchange)
    *   q_join_inner — shuffle equi-join
    *   q_tpch1      — decimal-heavy wide aggregation (ALU throughput)
    *   q_multimodal — per-row binary decode (narrow executor compute)
    *   q_triangles  — shuffle-heavy self-join
    * (No streaming member: the micro-batch lifecycle regime is
    * structurally /tmp-cache-backed here, so it cannot serve as a drift
    * control.)
    *
    * The rendered artifact lists the member NAMES in
    * `vs_prev_round.controls.cells`, so a future panel edit is visible
    * in the round diff of the artifact itself. */
  case object Control extends Tag

  /** Swept by Soak by catalog key, in production hash mode. The round-16
    * set (r15 verdict task 4): decade-2 cells that grew ≥~3× sf1→sf10
    * (SCALING_r15_decade2.json) and were not already in Soak's hand-picked
    * sweep, so they get a THREE-point exponent instead of one ratio;
    * keyed verbatim so scale_fit's --attr reasons (tools/scaling_attr.json)
    * join mechanically. The round-17 additions: the sharded vector index
    * (the past-flat-cap scale shape), the corpus-adaptive auto-nlist ANN
    * path, and the composed end-to-end curation pipeline, which exists to
    * surface cross-operator interactions (cache pressure, cumulative skew)
    * that per-operator cells cannot (r16 verdict task 8). */
  case object Soak extends Tag

  /** Driver-side fixpoint: building the DataFrame runs the loop, so
    * `PlanDump all` skips it and documents the building blocks instead. */
  case object Iterative extends Tag

  /** Reads a CacheKey-pathed disk store under /tmp whose rebuild cost lands
    * inside a timed window on a cold host; never a [[Control]]. */
  case object TmpCache extends Tag

  /** Persists or localCheckpoints in its path, so a session-level caching
    * or AQE change moves it structurally; never a [[Control]]. */
  case object Persists extends Tag
}

object Catalog {
  /** A cell whose query does not hash; the `portable` flag is ignored. */
  def cell(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String, tags: Tag*): Cell =
    Cell(name, (s, dir, _) => run(s, dir), oracleSql, tags.toSet)

  /** A cell whose query takes the hash mode. */
  def hashed(name: String, run: (SparkSession, String, Boolean) => DataFrame,
      oracleSql: String, tags: Tag*): Cell =
    Cell(name, run, oracleSql, tags.toSet + Tag.Hashed)

  /** The cells in order; a duplicate name would silently shadow a cell in
    * every map derived from the list, so it fails here. */
  def apply(cells: Seq[Cell]): Seq[Cell] = {
    val dups = cells.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate catalog names: ${dups.mkString(", ")}")
    cells
  }
}
