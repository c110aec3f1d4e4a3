package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Catalog.{cell, hashed}
import graft.Tag._

/** The oracle-checked query catalog: one cell per operator family of
  * SURVEY.md §2 (plus the large-scale training-data operators), each with
  * its DuckDB-equivalent SQL, registered in [[Queries.catalog]].
  *
  * Determinism conventions (so Spark's partial/final agg order and DuckDB's
  * scan order hash identically):
  *  - money/value sums computed in DECIMAL (exact, order-independent), cast
  *    to DOUBLE at the end;
  *  - integer outputs cast to BIGINT on both sides (pandas dtype parity);
  *  - arg-min/arg-max tie-broken by a unique key via row_number;
  *  - limit/offset always under a total ORDER BY.
  */
object Queries {

  /** Input-fed micro-batches of the most recent [[runStream]] run, one
    * count per query — test hook pinning that the streaming twins really
    * replay multi-batch, and that a resumed twin's restart processed only
    * the final batch (recovery, not reprocessing). */
  @volatile private[graft] var lastStreamPhases: Seq[Int] = Nil

  /** Replay every streaming twin as a stop/resume pair of queries
    * ([[runStream]]): `GRAFT_STREAM_RESUME=1`, read once. */
  @volatile private[graft] var streamResume: Boolean =
    sys.env.get("GRAFT_STREAM_RESUME").contains("1")

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Parquet.read(s, s"$dir/$name.parquet")

  /** decimal-exact money expression */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private val one = lit(1).cast("decimal(18,2)")

  /** events with `ts` normalized to a Spark TimestampType (µs) whatever the
    * parquet writer produced. Two writer encodings are in the wild:
    *  - TIMESTAMP(NANOS), which the session reads as epoch-nano BIGINT under
    *    `spark.sql.legacy.parquet.nanosAsLong` → convert exactly via integer
    *    division (`timestamp_micros(ts div 1000)`);
    *  - TIMESTAMP(MICROS)/NTZ (`timestamp[us]` footer) → already a timestamp,
    *    pass through (cast normalizes NTZ to the session TimestampType).
    * Branching on the loaded dtype keeps every event-time query working
    * across data regenerations (the oracle SQL is dtype-agnostic: it does
    * `CAST(ts AS TIMESTAMP)`). */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(tbl(s, dir, "events"))

  /** dtype-branching `ts` normalization shared by the batch reader above and
    * the streaming twins (which apply it over `readStream`). */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }

  // =====================================================================
  // §2.5 aggregations
  // =====================================================================

  /** group_by_fold / group_by_sum family — TPC-H Q1 shaped (partial+final
    * HashAggregate; at scale: one shuffle of 6 rows per partition). */
  def q1_agg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  private val q1_sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Grouping sets (additive beyond the reference — SURVEY §2.5 notes
    * renoir has no cube/rollup): CUBE over (returnflag, linestatus) with
    * decimal-exact sums; NULL grouping slots surfaced as 'ALL' so the
    * column is hash-comparable. One shuffle — Spark expands grouping sets
    * map-side (Expand), the aggregate stays partial+final. */
  def q_cube(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n"))

  private val q_cube_sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Grouped statistical moments + correlation with DECIMAL-EXACT sums:
    * mean/stddev/corr derive from sum(x), sum(x²), sum(xy) accumulated as
    * decimals (prices have 2 dp → squares have 4 dp → the sums are exact
    * integers in disguise), so the only FP steps are the final closed-form
    * divisions — deterministic on both engines, no Welford-order
    * dependence. The scale shape is the plain one-shuffle partial
    * aggregate; the exactness costs nothing. */
  def q_group_stats(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_extendedprice").cast("decimal(28,4)")
    val y = col("l_quantity").cast("decimal(28,4)")
    val agg = tbl(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum((x * y).cast("decimal(38,8)")).cast("double").as("sxy"),
        sum((x * x).cast("decimal(38,8)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(38,8)")).cast("double").as("syy"))
    agg.select(col("l_returnflag"),
      round(col("sx") / col("n"), 6).as("mean_price"),
      round(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1)), 6).as("sd_price"),
      round((col("sxy") - col("sx") * col("sy") / col("n")) /
        (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
          sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 6)
        .as("corr_price_qty"))
  }

  private val q_group_stats_sql =
    """WITH a AS (SELECT l_returnflag,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,4)) * CAST(l_quantity AS DECIMAL(28,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,4)) * CAST(l_extendedprice AS DECIMAL(28,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(28,4)) * CAST(l_quantity AS DECIMAL(28,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  round(sx / n, 6) AS mean_price,
      |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS sd_price,
      |  round((sxy - sx * sy / n) /
      |    (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6) AS corr_price_qty
      |FROM a""".stripMargin

  /** ROLLUP grouping sets — the hierarchical-subtotal companion of q_cube
    * (beyond-reference SQL surface; Catalyst Expand, one shuffle). */
  def q_rollup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("sum_price"), col("n"))

  private val q_rollup_sql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** Pivot — wide per-category aggregates (beyond-reference SQL surface).
    * Pivot values are pinned explicitly so the output schema is static —
    * at 100 TB an unpinned pivot pays a full distinct scan first. Lowered
    * by Catalyst to one hash aggregate over CASE projections (no extra
    * shuffle vs the plain groupBy); the oracle spells those CASEs out. */
  def q_pivot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec(col("l_quantity"))).cast("double"))
      .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))

  private val q_pivot_sql =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
      |  CAST(sum(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Analytic window functions — lag/lead/ntile/cume_dist per group over a
    * total order (beyond-reference SQL surface; one shuffle on the
    * partition key, per-partition sort). cume_dist is a ratio of integers —
    * exact, no rounding needed. */
  def q_analytic(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
    tbl(s, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderpriority"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cd"))
  }

  private val q_analytic_sql =
    """SELECT o_orderpriority, o_orderkey,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  cume_dist() OVER w AS cd
      |FROM orders WHERE o_orderkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)""".stripMargin

  /** Per-group mode (most frequent value, additive §2.5): the most common
    * ship mode per return flag, tie-broken deterministically (higher count
    * first, then lexicographic value) — `mode()` built-ins are
    * tie-nondeterministic, so this lowers to count + one row_number window
    * over the (flag, mode) COUNTS (group-cardinality rows, not corpus rows:
    * the window input is already aggregated, so the second Exchange moves
    * a few dozen rows at any corpus size). */
  def q_group_mode(s: SparkSession, dir: String): DataFrame = {
    val counts = tbl(s, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n"))
  }

  private val q_group_mode_sql =
    """SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
      |WHERE rn = 1""".stripMargin

  /** group_by_count (src/operator/mod.rs:1594). */
  def q_group_count(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

  private val q_group_count_sql =
    "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority"

  /** group_by_avg (src/operator/mod.rs:1531) — avg as exact decimal sum /
    * count, both sides, for bit-identical doubles. */
  def q_group_avg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").groupBy(col("o_orderpriority"))
      .agg((sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)))
        .as("avg_price"))

  private val q_group_avg_sql =
    """SELECT o_orderpriority,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** min/max aggregations (exact on doubles, order-independent). */
  def q_group_minmax(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").groupBy(col("o_orderstatus"))
      .agg(min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"),
           min(col("o_orderdate")).as("first_date"))

  private val q_group_minmax_sql =
    """SELECT o_orderstatus, min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price, min(o_orderdate) AS first_date
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** group_by_max_element (arg-max, src/operator/mod.rs:1418): customer with
    * the max balance per segment, ties broken by smallest key — lowered to a
    * window top-1 (TakeOrdered per group; no full sort). */
  def q_max_element(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    tbl(s, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
  }

  private val q_max_element_sql =
    """SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      |  FROM customer) WHERE rn = 1""".stripMargin

  /** fold (non-assoc → single global row; src/operator/mod.rs:725). */
  def q_fold_global(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").agg(
      sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast("double").as("revenue"),
      count(lit(1)).as("n"))

  private val q_fold_global_sql =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n FROM lineitem""".stripMargin

  /** reduce (global max element; src/operator/mod.rs:1831): the single order
    * with the highest price, deterministic tie-break on key. */
  def q_reduce_max(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(1)
      .select(col("o_orderkey"), col("o_totalprice"))

  private val q_reduce_max_sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1""".stripMargin

  /** unique_assoc / distinct (src/operator/mod.rs:951). */
  def q_distinct(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()

  private val q_distinct_sql =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  /** fold_scan (two-pass global-aggregate-then-map, src/operator/mod.rs:856):
    * each lineitem's share of total revenue. Lowered to agg →
    * broadcast-cross-join → narrow map: the second pass never shuffles. */
  def q_fold_scan(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val total = li.agg(sum(dec(col("l_extendedprice"))).cast("double").as("total"))
    li.crossJoin(broadcast(total))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / col("total")).as("price_share"))
  }

  private val q_fold_scan_sql =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER () AS DOUBLE) AS price_share
      |FROM lineitem""".stripMargin

  /** keyed fold_scan / reduce_scan (src/operator/mod.rs:2954): element vs its
    * key's max — agg + same-key join (AQE broadcasts the tiny agg side). */
  def q_reduce_scan_keyed(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val mx = li.groupBy(col("l_returnflag").as("rf"))
      .agg(max(col("l_extendedprice")).as("max_price"))
    li.join(broadcast(mx), col("l_returnflag") === col("rf"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / col("max_price")).as("price_vs_key_max"))
  }

  private val q_reduce_scan_keyed_sql =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice / max(l_extendedprice) OVER (PARTITION BY l_returnflag) AS price_vs_key_max
      |FROM lineitem""".stripMargin

  /** group_by_reduce (src/operator/mod.rs:1693) through the typed façade:
    * KeyedStream.reduce lowers to `reduceGroups` (partial-aggregating —
    * one row per key per partition crosses the shuffle). The reducer keeps
    * the priciest order per priority, tie-broken on the lower key, so it
    * is associative, commutative and deterministic; the result columns are
    * copies of input values (no arithmetic → no float drift vs the
    * oracle's window replay). */
  def q_group_reduce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .as[(String, Long, Double)])
    in.groupBy(_._1)
      .reduce((a, b) =>
        if (a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)) a else b)
      .ds.map { case (_, v) => v }
      .toDF("o_orderpriority", "o_orderkey", "o_totalprice")
  }

  private val q_group_reduce_sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (
      |    PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin

  // =====================================================================
  // §2.3 per-element transforms
  // =====================================================================

  /** map / projection (src/operator/mod.rs:551) — stays inside one codegen
    * stage, parquet scan prunes to 5 columns. */
  def q_map(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast("double").as("disc_price"),
      (col("l_quantity") * col("l_tax")).as("qty_tax"))

  private val q_map_sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price,
      |  l_quantity * l_tax AS qty_tax
      |FROM lineitem""".stripMargin

  /** filter (src/operator/mod.rs:409) — predicate pushed to the parquet scan. */
  def q_filter(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1995-01-01").cast("timestamp")
        && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"))

  private val q_filter_sql =
    """SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1995-01-01' AND l_discount > 0.05""".stripMargin

  /** filter_map (src/operator/mod.rs:384): Option-returning transform =
    * filter + project in one pass. */
  def q_filter_map(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .filter(col("p_size") >= 30)
      .select(col("p_partkey"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        (dec(col("p_retailprice")) * lit(2).cast("decimal(18,2)")).cast("double").as("double_price"))

  private val q_filter_map_sql =
    """SELECT p_partkey, p_brand || '#' || p_type AS brand_type,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(2 AS DECIMAL(18,2)) AS DOUBLE) AS double_price
      |FROM part WHERE p_size >= 30""".stripMargin

  /** rich_map (src/operator/mod.rs:1085): the init-once-per-partition
    * RESOURCE pattern — one MessageDigest per partition, reused for every
    * element. This is the rich-state use an oracle can certify: the state
    * amortizes setup, it is not cross-element memory, so each output row
    * is a pure function of its input and partition-layout-independent.
    * (Cross-element rich state is pinned in FacadeSpec, where the layout
    * is controlled.) */
  def q_rich_map(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"))
        .as[(Long, Int)])
    in.richMap(() => (java.security.MessageDigest.getInstance("MD5"),
        java.util.HexFormat.of())) { (st, x) =>
        val (md, hex) = st
        md.reset()
        (x._1, x._2, hex.formatHex(md.digest(s"${x._1}|${x._2}".getBytes("UTF-8"))))
      }.ds.toDF("l_orderkey", "l_linenumber", "h")
  }

  private val q_rich_map_sql =
    """SELECT l_orderkey, l_linenumber,
      |  md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)) AS h
      |FROM lineitem""".stripMargin

  /** rich_filter_map (src/operator/mod.rs:461): per-partition compiled
    * regex (the expensive-resource init), Option-returning extraction —
    * emit each document's first digit run, drop digit-free documents. */
  def q_rich_filter_map(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)])
    in.richFilterMap(() => java.util.regex.Pattern.compile("[0-9]+")) { (re, x) =>
        val m = re.matcher(x._2)
        if (m.find()) Some((x._1, m.group())) else None
      }.ds.toDF("doc_id", "num")
  }

  private val q_rich_filter_map_sql =
    """SELECT doc_id, regexp_extract(text, '[0-9]+') AS num FROM documents
      |WHERE regexp_matches(text, '[0-9]+')""".stripMargin

  /** rich_flat_map (src/operator/mod.rs:1104): the 0..n-emission sibling —
    * one compiled regex per partition (the rich resource), each document
    * flat-mapped into EVERY 6+-letter token it contains. Like q_rich_map,
    * the state amortizes setup only, so each output multiset is a pure
    * function of its input row and partition-layout-independent — exactly
    * what a SQL oracle can replay (regexp_extract_all + unnest). */
  def q_rich_flat_map(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)])
    in.richFlatMap(() => java.util.regex.Pattern.compile("[a-z]{6,}")) { (re, x) =>
        val m = re.matcher(x._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        while (m.find()) out += ((x._1, m.group()))
        out
      }.ds.toDF("doc_id", "token")
  }

  private val q_rich_flat_map_sql =
    """SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS token
      |FROM documents""".stripMargin

  /** map_async (src/operator/mod.rs:648, map_async.rs): the bounded
    * ordered-pipeline async map. The async closure is pure per row (the
    * cache/ordering machinery must be semantically invisible — same
    * contract as map_memo), so the oracle replays f row-wise; what the
    * driver row certifies is that the sliding-window future pipeline
    * neither drops, duplicates, nor corrupts elements. */
  def q_map_async(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Future
    val in = new graft.api.Stream(
      tbl(s, dir, "part").select(col("p_partkey"), col("p_type"), col("p_size"))
        .as[(Long, String, Int)])
    in.mapAsync(8) { x =>
        Future { (x._1, s"${x._2}:${x._3}", x._3.toLong * x._1) }
      }.ds.toDF("p_partkey", "type_size", "weight")
  }

  private val q_map_async_sql =
    """SELECT p_partkey, p_type || ':' || CAST(p_size AS VARCHAR) AS type_size,
      |  CAST(p_size AS BIGINT) * p_partkey AS weight FROM part""".stripMargin

  /** rich_map_custom (src/operator/mod.rs:1132): the raw
    * iterator-consuming custom operator, used here in its certifiable
    * form — batched processing (grouped(128)) where each output row is a
    * pure function of its input row, so the batching is observable only
    * as amortized cost, never in the result multiset. */
  def q_rich_map_custom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "part").select(col("p_partkey"), col("p_type"))
        .as[(Long, String)])
    in.richMapCustom { it =>
        it.grouped(128).flatMap(batch => batch.map(x => (x._1, x._2.reverse)))
      }.ds.toDF("p_partkey", "rev_type")
  }

  private val q_rich_map_custom_sql =
    "SELECT p_partkey, reverse(p_type) AS rev_type FROM part"

  /** reorder (src/operator/reorder.rs): timestamp-sort within each
    * partition. Sortedness IS certified through the driver's multiset
    * compare: a trailing per-partition scan emits a monotonicity flag per
    * row, so any out-of-order element yields a `sorted=false` row the
    * oracle (all-true) cannot match. */
  def q_reorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "part").select(col("p_partkey"), col("p_size"))
        .as[(Long, Int)])
    in.addTimestamps(x => x._2.toLong).reorder.ds
      .mapPartitions { it =>
        var prev = Long.MinValue
        it.map { case (v, ts) =>
          val ok = ts >= prev; prev = ts; (v._1, ts, ok)
        }
      }.toDF("p_partkey", "ts", "sorted")
  }

  private val q_reorder_sql =
    """SELECT p_partkey, CAST(p_size AS BIGINT) AS ts, true AS sorted
      |FROM part""".stripMargin

  /** map_memo_by (src/operator/mod.rs:677, map_memo.rs:17-50): per-key
    * memoized map over a low-cardinality key — f depends only on the memo
    * key (the cache-correctness contract), so the memo is semantically
    * invisible and the oracle replays f per row. 5 distinct priorities →
    * 5 misses per partition, every other row is a cache hit. */
  def q_map_memo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = new graft.api.Stream(
      tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .as[(Long, String)])
    in.mapMemoBy(16)((x: (Long, String)) => x._2) { x =>
        val md = java.security.MessageDigest.getInstance("MD5")
        (x._2, java.util.HexFormat.of()
          .formatHex(md.digest(x._2.getBytes("UTF-8"))))
      }.ds.toDF("o_orderpriority", "h")
  }

  private val q_map_memo_sql =
    """SELECT o_orderpriority, md5(o_orderpriority) AS h FROM orders""".stripMargin

  /** flat_map / flatten (src/operator/mod.rs:1158, :1210): wordcount over
    * documents — explode stays map-side; the count is partial-aggregated. */
  def q_flat_map(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  private val q_flat_map_sql =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> '' GROUP BY word""".stripMargin

  /** scalar-function surface (reference does this in plain closures; we lower
    * to codegen'd Column functions): string + date + json in one pass. */
  def q_scalar_funcs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      month(col("o_orderdate")).cast("long").as("o_month"),
      lower(col("o_orderpriority")).as("prio_lower"),
      substring(col("o_orderstatus"), 1, 1).as("status1"),
      length(col("o_orderpriority")).cast("long").as("prio_len"))

  private val q_scalar_funcs_sql =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
      |  lower(o_orderpriority) AS prio_lower,
      |  substr(o_orderstatus, 1, 1) AS status1,
      |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len
      |FROM orders""".stripMargin

  /** JSON extraction over the events props column. */
  def q_json(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  private val q_json_sql =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

  // =====================================================================
  // §2.4 partitioning / merge / route
  // =====================================================================

  /** merge / union (src/operator/merge.rs:41). */
  def q_merge(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"), lit("customer").as("side"))
    val su = tbl(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"), lit("supplier").as("side"))
    c.union(su)
  }

  private val q_merge_sql =
    """SELECT c_custkey AS id, c_name AS name, 'customer' AS side FROM customer
      |UNION ALL
      |SELECT s_suppkey AS id, s_name AS name, 'supplier' AS side FROM supplier""".stripMargin

  /** zip (api.Stream.zip — reference src/operator/zip.rs:14-60): pair the
    * custkey-ordered customer names with the suppkey-ordered supplier names
    * by element index. The reference zips at parallelism 1; the Spark form
    * indexes each (sorted, hence globally ordered) side with zipWithIndex
    * and equi-joins on the index, so pairing order IS the sort order and
    * the oracle recomputes it with row_number. Output length = the shorter
    * side (inner join on the index). */
  def q_zip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = new graft.api.Stream(
      tbl(s, dir, "customer").orderBy(col("c_custkey"))
        .select(col("c_name")).as[String])
    val sup = new graft.api.Stream(
      tbl(s, dir, "supplier").orderBy(col("s_suppkey"))
        .select(col("s_name")).as[String])
    c.zip(sup).ds.toDF("c_name", "s_name")
  }

  private val q_zip_sql =
    """SELECT c_name, s_name FROM
      |  (SELECT c_name, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer) c
      |  JOIN (SELECT s_name, row_number() OVER (ORDER BY s_suppkey) AS rn FROM supplier) s
      |  USING (rn)""".stripMargin

  /** route (first-match-wins stream split, src/operator/route.rs:33-93):
    * events routed into tiers by value; emitted as one frame tagged by route
    * so the oracle can check the routing logic. */
  def q_route(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id"),
      when(col("value") >= 50, "high")
        .when(col("value") >= 10, "mid")
        .otherwise("low").as("tier"))

  private val q_route_sql =
    """SELECT event_id,
      |  CASE WHEN value >= 50 THEN 'high' WHEN value >= 10 THEN 'mid' ELSE 'low' END AS tier
      |FROM events""".stripMargin

  // =====================================================================
  // §2.7 sorts / limits / top-k
  // =====================================================================

  /** sorted_limit_by → TakeOrderedAndProject (no global sort at scale). */
  def q_top_k(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private val q_top_k_sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  /** limit + offset under total order (src/operator/mod.rs:1276). */
  def q_limit_offset(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .orderBy(col("o_orderkey").asc)
      .offset(100).limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  private val q_limit_offset_sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey ASC LIMIT 10 OFFSET 100""".stripMargin

  /** full sort (src/operator/mod.rs:1243) — range-partitioned distributed
    * sort; rank via zipWithIndex on the sorted partitions (a global
    * `row_number() OVER (ORDER BY ...)` would funnel everything through one
    * partition — the classic scale trap). */
  def q_sort(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tbl(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .as[(Long, Double)]
      .rdd.zipWithIndex()
      .map { case ((k, bal), i) => (i + 1, k, bal) }
      .toDF("rank", "c_custkey", "c_acctbal")
  }

  private val q_sort_sql =
    """SELECT CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rank,
      |  c_custkey, c_acctbal FROM customer""".stripMargin

  // =====================================================================
  // §2.6 joins
  // =====================================================================

  /** inner equi-join chain (join/ship.rs:45): revenue per nation. Only the
    * fixed-25-row nation keeps a broadcast hint; customer is
    * SF-proportional, so AQE decides its join strategy (auto-broadcast
    * under threshold at test scales, shuffle join at 100×). */
  def q_join_inner(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("total"),
           count(lit(1)).as("n_orders"))
  }

  private val q_join_inner_sql =
    """SELECT n_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** left outer join (join/mod.rs:163): every customer with order count,
    * zero for customers without orders. */
  def q_join_left(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("total"))
  }

  private val q_join_left_sql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey""".stripMargin

  /** full outer join (join/mod.rs:212) between two disjoint-ish aggregates;
    * nulls normalized with coalesce so the hash compare is well-defined. */
  def q_join_outer(s: SparkSession, dir: String): DataFrame = {
    val perCust = tbl(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val bigCust = tbl(s, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_acctbal"))
    perCust.join(bigCust, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("c_acctbal"), lit(-1.0)).as("acctbal"))
  }

  private val q_join_outer_sql =
    """SELECT coalesce(o_custkey, c_custkey) AS custkey,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(c_acctbal, -1.0) AS acctbal
      |FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
      |FULL OUTER JOIN (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
      |ON o_custkey = c_custkey""".stripMargin

  /** left-semi join (additive beyond the reference, SURVEY §2.6 note):
    * customers that placed at least one high-value order. */
  def q_join_semi(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  private val q_join_semi_sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  /** left-anti join: customers with no orders at all. */
  def q_join_anti(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  private val q_join_anti_sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** explicit broadcast-right ship strategy (join/ship.rs:141): part (2k rows
    * — a classic broadcast dim) against lineitem. The reference's user IS the
    * optimizer there (`ship_broadcast_right` is an explicit choice), but
    * `part` grows with SF, so the hint routes through the one policy home
    * ([[graft.operators.Scale.broadcastIfSmall]], same 5M-row gate as the
    * TPC-H hints): below the gate the user's choice is honored verbatim;
    * above it the hint is dropped and AQE picks the strategy. */
  def q_join_broadcast(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val pTbl = tbl(s, dir, "part")
    // the gate's count() memoized per (dir, file size+mtime) — parquet row
    // counts come from footers so a single count is cheap, but paying a
    // Spark job on EVERY invocation to re-learn a static fact was waste
    // (ADVICE r13); the stat component invalidates on regeneration
    val pPath = java.nio.file.Paths.get(s"$dir/part.parquet")
    val pCount = graft.functions.CacheKey.memoFp(
      s"rowcount|$dir|part|${java.nio.file.Files.size(pPath)}_${
        java.nio.file.Files.getLastModifiedTime(pPath).toMillis}") {
      pTbl.count().toString
    }.toLong
    val p = graft.operators.Scale.broadcastIfSmall(pTbl, 5000000L,
      knownCount = Some(pCount))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
  }

  private val q_join_broadcast_sql =
    """SELECT p_brand,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  // =====================================================================
  // §2.9 windows (Catalyst lowering — see graft.operators.WindowsDF)
  // =====================================================================

  /** event-time tumbling window (descr/event_time.rs tumbling): one shuffle
    * on (window, key); map-side partial agg carries one row per group. */
  def q_window_tumbling(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 day").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("ws")).as("w_start"), col("event_type"), col("n"), col("sum_value"))

  private val q_window_tumbling_sql =
    """SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS w_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** event-time sliding window (descr/event_time.rs sliding): Spark explodes
    * each row into size/slide windows map-side then partial-aggregates. */
  def q_window_sliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 day", "12 hours").getField("start").as("ws"),
               col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("ws")).as("w_start"), col("event_type"), col("n"))

  private val q_window_sliding_sql =
    """SELECT epoch_us(time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP)) - k * INTERVAL '12 hours') AS w_start,
      |  event_type, count(*) AS n
      |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
      |GROUP BY 1, 2""".stripMargin

  /** event-time session window, gap 4h (Spark session_window; reference
    * SessionWindow is processing-time — documented divergence SURVEY §7.4). */
  def q_window_session(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      // group by the full session_window column — grouping by its .start
      // would bucket by each row's pre-merge [ts, ts+gap) and no sessions
      // would ever merge
      .groupBy(session_window(col("ts"), "4 hours").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("w_start"), col("n"), col("sum_value"))

  private val q_window_session_sql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |m AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |      OR ts - lag(ts) OVER w >= INTERVAL '4 hours' THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, epoch_us(min(ts)) AS w_start, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** count-based tumbling windows of 10 per user (descr/count.rs, exact=true):
    * row_number bucketing; the trailing partial window is dropped. */
  def q_window_count(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("w_id", ((row_number().over(w) - 1) / 10).cast("long"))
      .groupBy(col("user_id"), col("w_id"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("sum_value"),
           min(col("event_id")).as("first_event"))
      .filter(col("n") === 10)
  }

  private val q_window_count_sql =
    """SELECT user_id, CAST(floor((rn - 1) / 10) AS BIGINT) AS w_id, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  min(event_id) AS first_event
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |      FROM events)
      |GROUP BY user_id, w_id HAVING count(*) = 10""".stripMargin

  /** last-k window, k=5 (descr/last_k.rs): one emitted row per element with
    * the rolling frame aggregate — pure window frame, no extra shuffle. */
  def q_window_lastk(s: SparkSession, dir: String): DataFrame = {
    val spec = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    events(s, dir).select(
      col("event_id"), col("user_id"),
      sum(dec(col("value"))).over(spec).cast("double").as("roll_sum"),
      count(lit(1)).over(spec).as("n_frame"))
  }

  private val q_window_lastk_sql =
    """SELECT event_id, user_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
      |  count(*) OVER w AS n_frame
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin

  /** window aggregator suite first/last/nth (aggr/first.rs,last.rs,nth.rs)
    * over per-(user, day) windows. */
  def q_window_first_last(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .withColumn("db", date_trunc("day", col("ts")))
    val ordered = Window.partitionBy(col("user_id"), col("db"))
      .orderBy(col("ts"), col("event_id"))
    val full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base.select(
        col("user_id"), unix_micros(col("db")).as("w_start"),
        first_value(col("value")).over(ordered).as("first_v"),
        last_value(col("value")).over(full).as("last_v"),
        coalesce(nth_value(col("value"), 2).over(full), lit(-1.0)).as("second_v"))
      .distinct()
  }

  private val q_window_first_last_sql =
    """SELECT DISTINCT user_id, epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS w_start,
      |  first_value(value) OVER w1 AS first_v,
      |  last_value(value) OVER w2 AS last_v,
      |  coalesce(nth_value(value, 2) OVER w2, -1.0) AS second_v
      |FROM events
      |WINDOW
      |  w1 AS (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) ORDER BY ts, event_id),
      |  w2 AS (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  /** Window `to_columnar` (reference: src/operator/window/aggr/columnar.rs:51)
    * through the typed façade: per user, tumbling count windows of 5 events
    * ordered by event_id, each window transposed to struct-of-arrays and
    * emitted as one row of CSV-joined columns (arrays serialize to strings
    * so the driver's hash compare is layout-stable across engines). The
    * oracle replays the windowing with row_number()/5 groups and ordered
    * string_agg. Scale shape: one hash Exchange on user_id, per-key state
    * bounded by that user's events (the collect-path window contract). */
  def q_window_columnar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.api.WindowDescr._
    val in = new graft.api.Stream(
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .as[(Long, Long, String)])
    in.groupBy(_._1)
      .window(CountWindow.tumbling[(Long, Long, String), Long](5)(_._2))
      .toColumnar[(Seq[Long], Seq[Long], Seq[String])]
      .ds.map { case (k, (_, ids, types)) =>
        (k, ids.mkString(","), types.mkString(",")) }
      .toDF("user_id", "ids_csv", "types_csv")
  }

  private val q_window_columnar_sql =
    """WITH r AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
      |  FROM events)
      |SELECT user_id,
      |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids_csv,
      |  string_agg(event_type, ',' ORDER BY event_id) AS types_csv
      |FROM r GROUP BY user_id, rn // 5
      |HAVING count(*) = 5""".stripMargin

  /** Window `fold_first` (reference: src/operator/window/aggr/fold.rs:142)
    * through the typed façade: tumbling count windows of 4 events per user
    * ordered by event_id; the fold is SEEDED BY THE FIRST ELEMENT — the
    * first component of the seed rides through untouched (pinning the
    * seeded-by-first semantics), the second folds an order-sensitive
    * base-31 chain over the ids. Exact integer arithmetic end-to-end; the
    * oracle replays the chain with DuckDB's list_reduce (same first-element
    * seeding). */
  def q_window_foldfirst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.api.WindowDescr._
    val in = new graft.api.Stream(
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_id"))
        .as[(Long, Long, Long)])
    in.groupBy(_._1)
      .window(CountWindow.tumbling[(Long, Long, Long), Long](4)(_._2))
      .foldFirst((a, v) => (a._1, a._2, a._3 * 31L + v._3))
      .ds.map { case (k, (_, first, chain)) => (k, first, chain) }
      .toDF("user_id", "first_event", "chain")
  }

  private val q_window_foldfirst_sql =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
      |  FROM events)
      |SELECT user_id, min(event_id) AS first_event,
      |  list_reduce(list(event_id ORDER BY event_id), (a, b) -> a * 31 + b) AS chain
      |FROM r GROUP BY user_id, rn // 4
      |HAVING count(*) = 4""".stripMargin

  /** TransactionWindow (src/operator/window/transaction.rs) through the
    * typed façade, batch path: per user, events ordered by (ts, event_id)
    * accumulate into a transaction; a 'purchase' commits it, an 'error'
    * discards it, anything else continues; a trailing uncommitted run is
    * dropped. Each committed transaction folds to (first event id, count,
    * cent-integer value sum) — integer cents make the fold order-exact, so
    * the oracle's window replay (terminator-prefix-count group id, keep
    * groups whose terminator is a purchase) hash-matches bit-for-bit.
    * Scale shape: one hash Exchange on user_id; per-key state is that
    * user's events (bounded by per-user activity, the same contract as the
    * session window). */
  def q_window_txn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.api.WindowDescr._
    val in = new graft.api.Stream(
      events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
          col("event_type"), col("value"))
        .as[(Long, Long, Long, String, Double)])
    in.groupBy(_._1)
      .window(TransactionWindow[(Long, Long, Long, String, Double), (Long, Long)](
        e => e._4 match {
          case "purchase" => Commit
          case "error" => Discard
          case _ => Continue
        },
        e => e._3 / 1000L, e => (e._3, e._2)))
      .fold((Long.MaxValue, 0L, 0L)) { case ((fid, n, cents), e) =>
        (math.min(fid, e._2), n + 1L, cents + math.round(e._5 * 100)) }
      .ds.map { case (k, (fid, n, cents)) => (k, fid, n, cents) }
      .toDF("user_id", "first_event", "n_events", "sum_cents")
  }

  private val q_window_txn_sql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      |  FROM events),
      |m AS (SELECT *,
      |        CASE WHEN event_type IN ('purchase', 'error') THEN 1 ELSE 0 END AS term
      |      FROM e),
      |s AS (SELECT *, COALESCE(sum(term) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sid
      |      FROM m)
      |SELECT user_id, min(event_id) AS first_event, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM s GROUP BY user_id, sid
      |HAVING bool_or(event_type = 'purchase')""".stripMargin

  /** Ordered funnel analysis (beyond-reference event analytics): per user,
    * the first 'view', the first 'click' at-or-after it, and the first
    * 'purchase' at-or-after that — the classic product-funnel stages, with
    * the ORDER constraint (a purchase before the click does not count).
    *
    * Lowered as three whole-partition conditional-min Windows over the SAME
    * (user_id) partitioning — each stage's threshold feeds the next as a
    * plain column, so the sequential dependency costs projections, not
    * shuffles: ONE hash Exchange on user_id total, at any scale. */
  def q_funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val staged = e
      .withColumn("t1",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("us") >= col("t1"),
          col("us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("us") >= col("t2"),
          col("us"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(min(col("t1")).as("_t1"), min(col("t2")).as("_t2"),
        min(col("t3")).as("_t3"))
      .select(col("user_id"),
        coalesce(col("_t1"), lit(-1L)).as("view_us"),
        coalesce(col("_t2"), lit(-1L)).as("click_us"),
        coalesce(col("_t3"), lit(-1L)).as("purchase_us"),
        when(col("_t3").isNotNull, 3L).when(col("_t2").isNotNull, 2L)
          .when(col("_t1").isNotNull, 1L).otherwise(0L).as("stage"))
  }

  private val q_funnel_sql =
    """WITH e AS (SELECT user_id, event_type,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
      |         OVER (PARTITION BY user_id) AS t1 FROM e),
      |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us >= t1 THEN us END)
      |         OVER (PARTITION BY user_id) AS t2 FROM w1),
      |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= t2 THEN us END)
      |         OVER (PARTITION BY user_id) AS t3 FROM w2)
      |SELECT user_id, coalesce(t1, -1) AS view_us, coalesce(t2, -1) AS click_us,
      |  coalesce(t3, -1) AS purchase_us,
      |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
      |FROM w3 GROUP BY user_id, t1, t2, t3""".stripMargin

  /** Rolling z-score anomaly flag (beyond-reference event analytics): each
    * event scored against the mean/std of the user's PREVIOUS five events'
    * values (strictly-preceding frame — the baseline never sees the scored
    * value). Emitted only where the baseline is full (5 rows), so the score
    * is always over the same support.
    *
    * Determinism: the frame sums are exact DECIMAL (order-independent);
    * mean/variance/z are then derived in double by the IDENTICAL operation
    * sequence on both engines — bit-identical scores, no float-sum-order
    * caveat. Pure window over one (user_id) shuffle; no extra pass. */
  def q_anomaly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-5, -1)
    val vDec = col("value").cast("decimal(18,2)")
    val e = events(s, dir)
      .withColumn("s1", sum(vDec).over(w).cast("double"))
      .withColumn("s2", sum((vDec * vDec).cast("decimal(38,4)")).over(w).cast("double"))
      .withColumn("n5", count(lit(1)).over(w))
      .filter(col("n5") === 5)
    val mean = col("s1") / lit(5.0)
    val variance = greatest(col("s2") / lit(5.0) - mean * mean, lit(0.0))
    val std = sqrt(variance)
    e.select(col("event_id"), col("user_id"), col("value"), mean.as("base_mean"),
        when(std > 0, (col("value") - mean) / std).otherwise(lit(0.0)).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
  }

  private val q_anomaly_sql =
    """WITH f AS (
      |  SELECT event_id, user_id, value,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |         AS DECIMAL(38,4))) OVER w AS DOUBLE) AS s2,
      |    count(*) OVER w AS n5
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_id, user_id, value, s1 / 5.0 AS base_mean,
      |    sqrt(greatest(s2 / 5.0 - (s1 / 5.0) * (s1 / 5.0), 0.0)) AS std
      |  FROM f WHERE n5 = 5)
      |SELECT event_id, user_id, value, base_mean,
      |  CASE WHEN std > 0 THEN (value - base_mean) / std ELSE 0.0 END AS z,
      |  CASE WHEN std > 0 THEN abs((value - base_mean) / std) > 2.0
      |       ELSE false END AS is_anomaly
      |FROM z""".stripMargin

  /** Cohort retention (beyond-reference event analytics): users cohorted by
    * their signup; for each day offset, how many distinct cohort users were
    * active (any event at-or-after signup) and what fraction of the cohort
    * that is — the product-analytics retention curve.
    *
    * Shape: signup time via one whole-partition window on user_id (one
    * Exchange), then (user, day_offset) distinct + an offset groupBy — both
    * aggregate on keys whose cardinality is users × tracked days, far below
    * the event count; the cohort size rides in as a broadcast scalar. */
  def q_retention(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t0",
        min(when(col("event_type") === "signup", col("us"))).over(w))
      .filter(col("t0").isNotNull && col("us") >= col("t0"))
    val active = e.select(col("user_id"),
        floor((col("us") - col("t0")) / lit(86400000000L)).as("day_offset"))
      .distinct()
    val cohort = active.filter(col("day_offset") === 0)
      .agg(count(lit(1)).as("cohort_n"))
    active.groupBy(col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .crossJoin(broadcast(cohort))
      .select(col("day_offset"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_n")).as("retention"))
  }

  private val q_retention_sql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |w AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
      |        OVER (PARTITION BY user_id) AS t0 FROM e),
      |active AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor((us - t0) / 86400000000) AS BIGINT) AS day_offset
      |  FROM w WHERE t0 IS NOT NULL AND us >= t0),
      |cohort AS (SELECT count(*) AS cohort_n FROM active WHERE day_offset = 0)
      |SELECT day_offset, count(*) AS n_active,
      |  CAST(count(*) AS DOUBLE) / cohort_n AS retention
      |FROM active CROSS JOIN cohort
      |GROUP BY day_offset, cohort_n""".stripMargin

  /** Cohort retention matrix — the full (signup week × week offset) grid
    * q_retention's single-cohort curve generalizes to. One user-keyed
    * Exchange derives each user's signup time, the (user, cohort, offset)
    * activity distinct and both aggregation levels partial-aggregate, and
    * cohort sizes join back at cohort-week cardinality (AQE broadcasts).
    * Exact integer counts; the ratio divides once in double. */
  def q_cohort_matrix(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    val w = Window.partitionBy(col("user_id"))
    val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t0",
        min(when(col("event_type") === "signup", col("us"))).over(w))
      .filter(col("t0").isNotNull && col("us") >= col("t0"))
    val act = e.select(col("user_id"),
        floor(col("t0") / lit(weekUs)).as("cohort_w"),
        floor((col("us") - col("t0")) / lit(weekUs)).as("offset_w"))
      .distinct()
    val sizes = act.filter(col("offset_w") === 0)
      .groupBy(col("cohort_w")).agg(count(lit(1)).as("cohort_n"))
    act.groupBy(col("cohort_w"), col("offset_w"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_w"))
      .select(col("cohort_w"), col("offset_w"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_n")).as("retention"))
  }

  private val q_cohort_matrix_sql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |w AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
      |        OVER (PARTITION BY user_id) AS t0 FROM e),
      |act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(t0 / 604800000000) AS BIGINT) AS cohort_w,
      |    CAST(floor((us - t0) / 604800000000) AS BIGINT) AS offset_w
      |  FROM w WHERE t0 IS NOT NULL AND us >= t0),
      |sizes AS (SELECT cohort_w, count(*) AS cohort_n FROM act
      |  WHERE offset_w = 0 GROUP BY 1)
      |SELECT act.cohort_w, offset_w, count(*) AS n_active,
      |  CAST(count(*) AS DOUBLE) / cohort_n AS retention
      |FROM act JOIN sizes ON act.cohort_w = sizes.cohort_w
      |GROUP BY act.cohort_w, offset_w, cohort_n""".stripMargin

  /** TPC-H Q5-shaped six-table join — the flagship multi-join plan: revenue
    * per nation for ASIA customers served by a supplier in the SAME nation,
    * orders in a two-year slice. The point is what Catalyst does with the
    * declarative form: region→nation→supplier dimension chains broadcast,
    * the date and region filters push into the scans, the fact-side join
    * order comes from the optimizer and AQE re-plans at runtime — nothing
    * here is hand-scheduled. */
  def q_tpch5(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(tbl(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast("double").as("revenue"))

  private val q_tpch5_sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
      |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1999-01-01'
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q3-shaped shipping-priority query: the 10 highest-revenue
    * still-unshipped orders for one market segment — two selective
    * dimension filters, a fact-side aggregate on (orderkey, orderdate),
    * and a total-order top-k that lowers to TakeOrdered (no global
    * sort materialization). */
  def q_tpch3(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(
        col("o_orderdate") < lit("1998-06-01").cast("timestamp") &&
        col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  private val q_tpch3_sql =
    """SELECT l_orderkey,
      |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_date_us,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1998-06-01'
      |  AND CAST(l_shipdate AS TIMESTAMP) > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Data-quality expectations report (functions.Expectations): the
    * validate-before-training gate — completeness, range, predicate and
    * exact-uniqueness rules in ONE partially-aggregated corpus scan, plus
    * referential integrity via one left-anti join, all emitted as
    * (rule, metric, pass) rows. Metrics are integer-count ratios divided
    * once in double, so the oracle reproduces them bit-for-bit. */
  def q_data_quality(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Expectations._
    val li = tbl(s, dir, "lineitem")
    check(li, Seq(
      completenessRule("l_returnflag", 1.0),
      rangeRule("l_quantity", 1.0, 50.0, 1.0),
      predicateRule("discount_bounds",
        col("l_discount") >= 0.0 && col("l_discount") <= 0.1, 0.95),
      uniqueRule("l_orderkey", "l_linenumber")))
      .unionByName(subsetRule(li, "l_orderkey", tbl(s, dir, "orders"),
        "o_orderkey", 1.0))
  }

  private val q_data_quality_sql =
    """WITH a AS (SELECT
      |    CAST(count(l_returnflag) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
      |    CAST(count(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0 THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m1,
      |    CAST(count(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m2,
      |    CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m3
      |  FROM lineitem),
      |b AS (SELECT
      |    CAST((SELECT count(*) FROM lineitem)
      |         - (SELECT count(*) FROM lineitem
      |            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS DOUBLE)
      |      / CAST((SELECT count(*) FROM lineitem) AS DOUBLE) AS m4)
      |SELECT 'completeness(l_returnflag)' AS rule, m0 AS metric, m0 >= 1.0 AS pass FROM a
      |UNION ALL SELECT 'range(l_quantity)', m1, m1 >= 1.0 FROM a
      |UNION ALL SELECT 'discount_bounds', m2, m2 >= 0.95 FROM a
      |UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', m3, m3 = 1.0 FROM a
      |UNION ALL SELECT 'subset(l_orderkey)', m4, m4 >= 1.0 FROM b""".stripMargin

  /** Streaming twin of the expectations gate — the completeness/range/
    * predicate rules are count aggregates, so the identical
    * Expectations.check runs on the unbounded ingest stream in complete
    * mode (exact-uniqueness and referential integrity stay batch: distinct
    * and join-against-reference aren't single-stream aggregations). The
    * bounded run's final report equals the batch rules on the same rows.
    * Deliberately complete-mode (audited round 14): the report is O(rules)
    * rows — state AND sink are rules-sized at any event volume — and its
    * ratio columns are non-monotone, so the update-mode max-by-recency
    * reconstruction the other twins use has no sound recency key here. */
  def q_stream_quality(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => graft.functions.Expectations.check(src, Seq(
        graft.functions.Expectations.completenessRule("l_returnflag", 1.0),
        graft.functions.Expectations.rangeRule("l_quantity", 1.0, 50.0, 1.0),
        graft.functions.Expectations.predicateRule("discount_bounds",
          col("l_discount") >= 0.0 && col("l_discount") <= 0.1, 0.95))),
      "complete", dir, table = "lineitem")

  private val q_stream_quality_sql =
    """WITH a AS (SELECT
      |    CAST(count(l_returnflag) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
      |    CAST(count(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0 THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m1,
      |    CAST(count(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m2
      |  FROM lineitem)
      |SELECT 'completeness(l_returnflag)' AS rule, m0 AS metric, m0 >= 1.0 AS pass FROM a
      |UNION ALL SELECT 'range(l_quantity)', m1, m1 >= 1.0 FROM a
      |UNION ALL SELECT 'discount_bounds', m2, m2 >= 0.95 FROM a""".stripMargin

  /** The expectations gate over the documents corpus — the actual
    * pre-training validation: text present, lengths in the plausible band,
    * ids unique, language tags from the known set. Same one-scan engine as
    * q_data_quality, pointed at the table a curation pipeline ships. */
  def q_docs_quality(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Expectations._
    check(tbl(s, dir, "documents"), Seq(
      completenessRule("text", 1.0),
      rangeRule("n_chars", 1.0, 100000.0, 1.0),
      predicateRule("lang_known",
        col("lang").isin("en", "es", "de", "fr", "zh"), 0.9),
      uniqueRule("doc_id")))
  }

  private val q_docs_quality_sql =
    """WITH a AS (SELECT
      |    CAST(count(text) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
      |    CAST(count(CASE WHEN n_chars >= 1.0 AND n_chars <= 100000.0 THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m1,
      |    CAST(count(CASE WHEN lang IN ('en','es','de','fr','zh') THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m2,
      |    CAST(count(DISTINCT doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m3
      |  FROM documents)
      |SELECT 'completeness(text)' AS rule, m0 AS metric, m0 >= 1.0 AS pass FROM a
      |UNION ALL SELECT 'range(n_chars)', m1, m1 >= 1.0 FROM a
      |UNION ALL SELECT 'lang_known', m2, m2 >= 0.9 FROM a
      |UNION ALL SELECT 'unique(doc_id)', m3, m3 = 1.0 FROM a""".stripMargin

  /** Per-source quality drill-down (Expectations.checkPerGroup): the same
    * text rules evaluated within each crawl source — the "which source is
    * broken" report a corpus-level pass can hide. One grouped aggregate
    * scan, sources × rules rows out. */
  def q_source_quality(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Expectations._
    checkPerGroup(tbl(s, dir, "documents"), "source", Seq(
      completenessRule("text", 1.0),
      rangeRule("n_chars", 1.0, 100000.0, 1.0),
      predicateRule("lang_known",
        col("lang").isin("en", "es", "de", "fr", "zh"), 0.85)))
  }

  private val q_source_quality_sql =
    """WITH a AS (SELECT source AS g,
      |    CAST(count(text) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
      |    CAST(count(CASE WHEN n_chars >= 1.0 AND n_chars <= 100000.0 THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m1,
      |    CAST(count(CASE WHEN lang IN ('en','es','de','fr','zh') THEN 1 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS m2
      |  FROM documents GROUP BY source)
      |SELECT g, 'completeness(text)' AS rule, m0 AS metric, m0 >= 1.0 AS pass FROM a
      |UNION ALL SELECT g, 'range(n_chars)', m1, m1 >= 1.0 FROM a
      |UNION ALL SELECT g, 'lang_known', m2, m2 >= 0.85 FROM a""".stripMargin

  /** TPC-H Q18-shaped large-volume-customer query: orders whose lineitems
    * sum past a quantity threshold, joined back to customer detail, top-20
    * by price. The aggregate-filter runs FIRST (partial+final hash
    * aggregate on l_orderkey, then a decimal HAVING), so only the few
    * qualifying order keys flow into the joins; the final top-k lowers to
    * TakeOrdered. Decimal quantity sums keep the threshold compare and the
    * output exact cross-engine. */
  def q_tpch18(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("_sum_qty_d"))
      .filter(col("_sum_qty_d") > 250)
    tbl(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
        col("o_totalprice"),
        col("_sum_qty_d").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  private val q_tpch18_sql =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |SELECT c_name, o_orderkey,
      |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_date_us,
      |  o_totalprice, CAST(sum_qty_d AS DOUBLE) AS sum_qty
      |FROM orders
      |JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** Trending top-k (beyond-reference event analytics): the two hottest
    * event types per tumbling day window with a deterministic (count desc,
    * type asc) tie-break — the "what's trending now" report. The rank
    * window runs over ALREADY-AGGREGATED rows (windows × types, far below
    * the event count), and the `row_number <= k` filter lowers to
    * WindowGroupLimit: map-side top-k per window BEFORE that second,
    * aggregate-sized exchange. */
  def q_trending(s: SparkSession, dir: String): DataFrame = {
    val agg = graft.operators.WindowsDF.tumblingAgg(
      events(s, dir), "ts", "1 day",
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
    val w = Window.partitionBy(col("w_start"))
      .orderBy(col("n").desc, col("event_type"))
    agg.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .select(col("w_start"), col("event_type"), col("n"), col("rnk"))
  }

  private val q_trending_sql =
    """WITH w AS (
      |  SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS w_start,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER
      |        (PARTITION BY w_start ORDER BY n DESC, event_type) AS BIGINT) AS rnk
      |      FROM w)
      |SELECT w_start, event_type, n, rnk FROM r WHERE rnk <= 2""".stripMargin

  /** Streaming twin of q_trending: the windowed counts stream in UPDATE
    * mode — each trigger emits only the (window, type) rows it changed;
    * the monotone count means max(n) per key reconstructs the final
    * aggregate (the keyed-upsert sink shape), and the top-k rank then runs
    * over that MATERIALIZED report-sized table, exactly as a dashboard
    * queries its sink. Oracle shared with q_trending. */
  def q_stream_trending(s: SparkSession, dir: String): DataFrame = {
    val emits = runStream(s, src => src
      .groupBy(window(col("ts"), "1 day").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("ws")).as("w_start"), col("event_type"),
        col("n")),
      "update", dir)
    val counts = emits.groupBy(col("w_start"), col("event_type"))
      .agg(max(col("n")).as("n"))
    val w = Window.partitionBy(col("w_start"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .select(col("w_start"), col("event_type"), col("n"), col("rnk"))
  }

  /** Funnel conversion summary (the report layer over q_funnel): users
    * reaching each stage and the step conversion rates — exact integer
    * counts, divisions once in double. One aggregate over the per-user
    * staging (user-count rows). */
  def q_funnel_summary(s: SparkSession, dir: String): DataFrame =
    q_funnel(s, dir).agg(
        count(lit(1)).as("n_users"),
        count(when(col("stage") >= 1, 1)).as("n_view"),
        count(when(col("stage") >= 2, 1)).as("n_click"),
        count(when(col("stage") >= 3, 1)).as("n_purchase"))
      .select(col("n_users"), col("n_view"), col("n_click"), col("n_purchase"),
        (col("n_click").cast("double") / col("n_view").cast("double"))
          .as("view_to_click"),
        (col("n_purchase").cast("double") / col("n_click").cast("double"))
          .as("click_to_purchase"))

  private val q_funnel_summary_sql =
    """WITH e AS (SELECT user_id, event_type,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
      |         OVER (PARTITION BY user_id) AS t1 FROM e),
      |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us >= t1 THEN us END)
      |         OVER (PARTITION BY user_id) AS t2 FROM w1),
      |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= t2 THEN us END)
      |         OVER (PARTITION BY user_id) AS t3 FROM w2),
      |staged AS (SELECT user_id,
      |    CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |         WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
      |  FROM w3 GROUP BY user_id, t1, t2, t3),
      |a AS (SELECT count(*) AS n_users,
      |    count(CASE WHEN stage >= 1 THEN 1 END) AS n_view,
      |    count(CASE WHEN stage >= 2 THEN 1 END) AS n_click,
      |    count(CASE WHEN stage >= 3 THEN 1 END) AS n_purchase
      |  FROM staged)
      |SELECT n_users, n_view, n_click, n_purchase,
      |  CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE) AS view_to_click,
      |  CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE) AS click_to_purchase
      |FROM a""".stripMargin

  /** Per-event sessionization (beyond-reference event analytics): the
    * inactivity-gap rule assigns every event a dense per-user session id —
    * a new session opens on the user's first event or after >12h of
    * inactivity. Unlike the session-WINDOW aggregation (q_window_session,
    * which collapses each session to one row), this keeps event grain: the
    * shape downstream attribution joins consume.
    *
    * Scale: both window passes (the gap lag and the running session count)
    * share ONE user_id Exchange and one (ts, event_id) sort — plan-pinned in
    * EventAnalyticsSpec; O(1) state per row, no self-join. */
  def q_sessionize(s: SparkSession, dir: String): DataFrame =
    graft.operators.WindowsDF.sessionize(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", "event_id", 43200000000L)
      .select(col("event_id"), col("user_id"), col("is_new"),
        col("session_seq").as("session_id"))

  /** Top user journeys: the most common event-type PATHS per session —
    * sessionize, fold each (user, session)'s events into an ordered path
    * string (sort_array over (ts, event_id)-keyed structs inside ONE
    * aggregate — per-session work, bounded by session length), count
    * paths, TakeOrdered top 20. The "what do users actually do" report:
    * paths move at session grain, the count at path grain. */
  def q_user_journeys(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.operators.WindowsDF.sessionize(
      events(s, dir), "user_id", "ts", "event_id", 43200000000L)
    sess
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(concat_ws("->", transform(
        sort_array(collect_list(struct(col("us"), col("event_id"),
          col("event_type")))),
        e => e.getField("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
  }

  private val q_user_journeys_sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS prev_us FROM e),
      |n AS (SELECT *,
      |    (prev_us IS NULL OR us - prev_us > 43200000000) AS is_new FROM l),
      |sess AS (SELECT user_id, event_id, event_type, us,
      |    sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id
      |       ROWS UNBOUNDED PRECEDING) AS session_seq FROM n),
      |paths AS (SELECT user_id, session_seq,
      |    string_agg(event_type, '->' ORDER BY us, event_id) AS path
      |  FROM sess GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions FROM paths
      |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Event-transition matrix (the Markov next-step model over sessions):
    * P(next event type | current) from within-session consecutive pairs —
    * one lead() over the user_id Exchange the sessionize windows already
    * installed, then a (from, to)-grain count and a per-from total joined
    * back at event-type cardinality. Exact integer counts, one division
    * in double. */
  def q_event_transitions(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.operators.WindowsDF.sessionize(
      events(s, dir), "user_id", "ts", "event_id", 43200000000L)
    val ord = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val pairs = sess
      .withColumn("next_type", lead(col("event_type"), 1).over(ord))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  private val q_event_transitions_sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS prev_us FROM e),
      |n AS (SELECT *,
      |    (prev_us IS NULL OR us - prev_us > 43200000000) AS is_new FROM l),
      |sess AS (SELECT user_id, event_id, event_type, us,
      |    sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id
      |       ROWS UNBOUNDED PRECEDING) AS session_seq FROM n),
      |p AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id, session_seq
      |      ORDER BY us, event_id) AS to_type
      |  FROM sess),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS n_from FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, CAST(n AS BIGINT) AS n,
      |  CAST(n_from AS BIGINT) AS n_from,
      |  CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
      |FROM c JOIN t ON c.from_type = t.from_type""".stripMargin

  /** Per-session engagement stats (examples.Clickstream.sessionStats over
    * [[q_sessionize]]'s assignment): events, span and value sum per
    * (user, session) — the session-grain warehouse table. The groupBy
    * reuses the user_id partitioning the sessionize windows installed, so
    * only (user, session)-grain aggregate rows move beyond the first
    * Exchange. */
  def q_session_stats(s: SparkSession, dir: String): DataFrame =
    graft.examples.Clickstream.sessionStats(
      graft.operators.WindowsDF.sessionize(
        events(s, dir), "user_id", "ts", "event_id", 43200000000L))

  private val q_session_stats_sql =
    """WITH e AS (SELECT event_id, user_id, value,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |l AS (SELECT *, lag(us) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
      |n AS (SELECT *,
      |        (prev_us IS NULL OR us - prev_us > 43200000000) AS is_new FROM l),
      |sess AS (SELECT *, CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM n)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  max(us) - min(us) AS span_us,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, session_seq""".stripMargin

  private val q_sessionize_sql =
    """WITH e AS (SELECT event_id, user_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |l AS (SELECT *, lag(us) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
      |n AS (SELECT *,
      |        (prev_us IS NULL OR us - prev_us > 43200000000) AS is_new FROM l)
      |SELECT event_id, user_id, is_new,
      |  CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER
      |    (PARTITION BY user_id ORDER BY us, event_id
      |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |FROM n""".stripMargin

  // =====================================================================
  // §2.6 interval join + window join
  // =====================================================================

  /** interval_join (src/operator/interval_join.rs:20-200): click joined to
    * purchases of the same user within ±2h. Equi on user + range on ts →
    * sort-merge join on the equi key with the range as residual; epoch-micro
    * arithmetic keeps bounds inclusive and exact. */
  def q_interval_join(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    val a = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"), col("us").as("a_us"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("us").as("b_us"))
    a.join(b, col("a_user") === col("b_user")
        && col("b_us") >= col("a_us") - lit(7200000000L)
        && col("b_us") <= col("a_us") + lit(7200000000L))
      .select(col("a_id"), col("b_id"), (col("b_us") - col("a_us")).as("delta_us"),
        // output timestamp = max of the pair (interval_join.rs:113-120)
        greatest(col("a_us"), col("b_us")).as("pair_us"))
  }

  private val q_interval_join_sql =
    """SELECT a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS delta_us,
      |  greatest(epoch_us(CAST(a.ts AS TIMESTAMP)), epoch_us(CAST(b.ts AS TIMESTAMP))) AS pair_us
      |FROM events a JOIN events b
      |ON a.user_id = b.user_id AND a.event_type = 'click' AND b.event_type = 'purchase'
      |AND epoch_us(CAST(b.ts AS TIMESTAMP)) BETWEEN epoch_us(CAST(a.ts AS TIMESTAMP)) - 7200000000
      |                                          AND epoch_us(CAST(a.ts AS TIMESTAMP)) + 7200000000""".stripMargin

  /** The micro-batches each twin replays: its split's part-file count
    * (the flush sentinel adds one), and part of the split's cache key. */
  private val streamBatches = 3

  /** State-store partition count of a twin's replay: each streaming state
    * partition pays a fixed open/commit/snapshot cost PER MICROBATCH, so a
    * bounded replay wants few, large state partitions (the opposite of the
    * batch shuffle default). Measured on the 5 heaviest twins at sf0.1
    * (min-of-2 each): 8 parts 12.4 s, 4 parts 12.5 s, 2 parts 10.3 s,
    * 1 part 11.1 s — 2 keeps two-way compute parallelism while halving
    * commit count three more times; 1 serializes the state work and loses
    * the gain. */
  private val streamStateParts = "2"

  /** Every (table, flush) input a streaming twin replays through
    * [[runStream]], which refuses any other, so [[prepareStreamSplits]]
    * covers them all. */
  private val streamSplitInputs: Seq[(String, Boolean)] = Seq(
    "events" -> false, "events" -> true, "documents" -> false,
    "lineitem" -> false, "orders" -> false)

  /** Fingerprints each twin table at `dir` and builds its stream split if
    * `/tmp` lacks it, so that a twin run afterwards only looks the split up.
    * Bench and Soak call it once per run, before their first pass: the
    * fingerprint scan (2 jobs) and a cold split build otherwise land in
    * the timed window of the first twin per table, in one pass only. */
  def prepareStreamSplits(s: SparkSession, dir: String): Unit =
    streamSplitInputs.foreach { case (table, flush) =>
      streamSplit(s, dir, table, flush)
    }

  /** Content fingerprint of each twin table, memoized per (dir, table,
    * file size+mtime) for the session. Without the memo every twin re-ran a
    * full-table hash scan to find its already-built split; the size+mtime
    * component closes the staleness window, since a table regenerated
    * mid-session changes the key (the content hash still governs the split
    * path). */
  private val streamTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The `/tmp` directory holding `$dir/$table.parquet`'s split into
    * [[streamBatches]] time-contiguous part files (plus the flush sentinel),
    * built on first use, and the table's schema under the current session
    * conf (one footer read on the driver, no Spark job). The table is
    * scanned only on a [[streamTables]] miss or a split build. */
  private def streamSplit(s: SparkSession, dir: String, table: String,
      flush: Boolean): (java.nio.file.Path, org.apache.spark.sql.types.StructType) = {
    val path = s"$dir/$table.parquet"
    val raw = graft.sources.Parquet.read(s, path)
    // the split is deterministic per (table contents, streamBatches), so it
    // is written ONCE under a content-fingerprinted stable path and reused
    // by every twin on the same table (the q_wordcount_file discipline: a
    // regenerated corpus changes the fingerprint instead of silently
    // reusing a stale split; the same-filesystem directory move is atomic
    // so concurrent sessions never observe a half-written split)
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    val srcP = java.nio.file.Paths.get(path)
    val fresh = s"${java.nio.file.Files.size(srcP)}_${
      java.nio.file.Files.getLastModifiedTime(srcP).toMillis}"
    val fp = streamTables.computeIfAbsent(s"$dir|$table|$fresh", _ =>
      graft.functions.CacheKey.contentFp(raw, raw.columns.map(col): _*))
    // 'flush1' = the one-sentinel scheme (r16): the token is part of the
    // cache key, so split dirs written under the old two-sentinel scheme
    // ('flush') can never be replayed against the new expectations
    val base = java.nio.file.Paths.get(graft.functions.CacheKey.path(
      "streamsplit", version = 1, sfTag,
      Seq(table, streamBatches) ++ (if (flush) Seq("flush1") else Nil), fp))
    if (!java.nio.file.Files.isDirectory(base)) {
      // range-split on event time (events) / stable key (other tables)
      // into streamBatches ascending part files — partition i of
      // repartitionByRange IS range i, part file names sort by partition id
      val orderCol = table match {
        case "events"    => "ts"
        case "documents" => "doc_id"
        case "lineitem"  => "l_orderkey"
        case "orders"    => "o_orderkey"
        case _           => raw.columns.head
      }
      val tmp = java.nio.file.Paths.get(
        base.toString + ".tmp." + java.util.UUID.randomUUID())
      raw.repartitionByRange(streamBatches, col(orderCol))
        .sortWithinPartitions(orderCol)
        .write.mode("overwrite").parquet(tmp.toString)
      // the file source replays in (mtime, path) order — stamp strictly
      // increasing mtimes so replay order is range order (= time order)
      val dirStream = java.nio.file.Files.list(tmp)
      val parts0 = try {
        import scala.jdk.CollectionConverters._
        dirStream.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toVector
      } finally dirStream.close()
      val t0 = System.currentTimeMillis() - 86400000L
      parts0.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
      }
      // the sentinel is the (streamBatches+1)-th replay file — its own trigger
      if (flush) writeSentinel(raw, tmp, t0 + streamBatches * 60000L)
      try java.nio.file.Files.move(tmp, base,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        // another session won the race — its split is identical
        graft.functions.CacheKey.deleteRecursively(tmp)
      }
    }
    (base, raw.schema)
  }

  // ONE sentinel batch: the max-ts event pushed 30 days forward, tagged
  // '__flush', its own replay file. The watermark computed at the END of
  // batch N gates emissions in batch N+1 (the StreamingSpec "second
  // advance commits" discipline) — but the batch AFTER the advance does
  // not need input rows: Spark's no-data micro-batch (on by default,
  // spark.sql.streaming.noDataMicroBatches.enabled, which runStream
  // requires) fires exactly when the watermark moved, and AvailableNow
  // runs it before terminating, so the single advance still commits every
  // trailing window. Rounds 12-15 shipped TWO sentinel files (a second
  // +60d advance to force a fed batch); the r16 per-batch A/B (each
  // trigger's progress report, min-of-3 at sf0.1; Bench's `layers` now
  // sums those by phase as `batch_ms`) measured each sentinel trigger at
  // ~0.3-0.4 s of q_stream_session's ~2.9 s trigger total and the no-data
  // batch emitting identically, so the second file bought nothing — oracle
  // re-verified green at sf0.01 and sf0.1 on the one-sentinel scheme.
  // Built from a real row so every column keeps the exact on-disk dtype
  // (the streaming reader reuses raw.schema verbatim).
  private def writeSentinel(raw: DataFrame, into: java.nio.file.Path,
      mtimeMs: Long): Unit = {
    val tsType = raw.schema("ts").dataType
    val shifted = (tsType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + lit(30L * 86400L * 1000000000L) // epoch-nanos long
      case _ =>
        col("ts").cast("timestamp") + expr("INTERVAL 30 DAYS")
    }).cast(tsType)
    val sent = java.nio.file.Files.createTempDirectory("graft-flush")
    raw.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", shifted)
      .withColumn("event_type", lit("__flush"))
      .coalesce(1).write.mode("overwrite").parquet(sent.toString)
    val ls = java.nio.file.Files.list(sent)
    val part = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
    } finally ls.close()
    // 'part-zzzz' sorts after every real 'part-0000x' file, and the
    // mtime stamp puts it last in the (mtime, path) replay order
    val dst = into.resolve("part-zzzz-flush-a.parquet")
    java.nio.file.Files.move(part, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    graft.functions.CacheKey.deleteRecursively(sent)
  }

  /** Runs a Structured Streaming plan to completion over the table's parquet
    * and returns what its sink received, as a local DataFrame. The input is
    * split into [[streamBatches]] time-contiguous part files replayed
    * one per trigger (`maxFilesPerTrigger=1` under AvailableNow), so every
    * stateful operator crosses ≥3 REAL micro-batch boundaries — watermarks
    * advance between batches, state carries and is merged incrementally —
    * and the driver's DuckDB oracle then certifies the INCREMENTAL result,
    * not one-batch batch-equivalence. Time-contiguity (range split on the
    * event-time / key column) is what makes the replay a valid log: no
    * retroactively-late data, so watermark eviction provably never drops a
    * row a batch run would keep (min ts of batch k+1 ≥ max ts of batch k).
    *
    * `flush = true` (events only) appends an END-OF-STREAM SENTINEL as a
    * final extra batch: one `event_type='__flush'` row 30 days past the max
    * event time. A watermarked APPEND-mode aggregation over a bounded
    * replay would otherwise never emit its trailing open windows (the
    * watermark stops at the last real event); the sentinel advances it past
    * every real window's close, so append mode — the bounded-state
    * production shape — answers the same oracle as a complete-mode run.
    * The build function must drop the sentinel AFTER its withWatermark
    * with a predicate that REFERENCES the event-time column (e.g.
    * `.filter(col("event_type") =!= "__flush" || col("ts").isNull)`):
    * Catalyst pushes ts-free predicates below EventTimeWatermark and into
    * the scan, which would hide the sentinel from the watermark node —
    * the ts disjunct pins the filter above it, so the watermark observes
    * the sentinel but no aggregate ever sees it. Production streams don't
    * end, so this is purely the bounded-replay bridge — the operator under
    * test is unchanged.
    *
    * The split files are staged as symlinks and replayed into a
    * checkpointed `foreachBatch` sink that collects each batch to the
    * driver and keeps its rows per batch id: idempotent under the replay of
    * an uncommitted trailing batch (the same id overwrites its slot), with
    * complete mode keeping only the newest snapshot. The result is those
    * rows in batch order. With [[streamResume]] the replay runs as two
    * SEPARATE queries sharing the checkpoint — every file but the last, a
    * hard stop, then a fresh query that recovers the state store and offset
    * log and processes only the final file (not staged until then) — and
    * answers the same oracle: state carries exactly as if uninterrupted.
    */
  private def runStream(s: SparkSession,
      build: DataFrame => DataFrame, mode: String, dir: String,
      table: String = "events", flush: Boolean = false): DataFrame = {
    import scala.jdk.CollectionConverters._
    require(streamSplitInputs.contains(table -> flush),
      s"($table, flush=$flush) is not in streamSplitInputs, so no run prepares its split")
    // the one-sentinel flush commits append-mode trailing windows in the
    // no-data micro-batch after the sentinel's watermark advance; with it
    // off (a session or Spark-version change) every trailing window would
    // drop silently
    require(s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled").toBoolean,
      "streaming twins need spark.sql.streaming.noDataMicroBatches.enabled=true")
    val (splitDir, schema) = streamSplit(s, dir, table, flush)
    val ls = java.nio.file.Files.list(splitDir)
    val files = try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector
      .sortBy(_.getFileName.toString)
    finally ls.close()
    val phases = if (streamResume) Seq(files.init, Seq(files.last)) else Seq(files)
    def source(from: java.nio.file.Path): DataFrame = {
      val src = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(from.toString)
      if (table == "events") normalizeTs(src) else src
    }
    val staging = java.nio.file.Files.createTempDirectory("graft-stream-src")
    val cp = java.nio.file.Files.createTempDirectory("graft-stream-cp")
    val acc = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, Array[org.apache.spark.sql.Row]]()
    @volatile var outSchema: org.apache.spark.sql.types.StructType = null
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamStateParts)
    val fed = try phases.map { phase =>
      phase.foreach(p => java.nio.file.Files.createSymbolicLink(
        staging.resolve(p.getFileName), p))
      val q = build(source(staging)).writeStream
        .outputMode(mode)
        .option("checkpointLocation", cp.toString)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          val rows = df.collect()
          if (outSchema == null) outSchema = df.schema
          if (mode == "complete") acc.clear()
          acc.put(id, rows)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // stop on the exception path too: a zombie query holding the
      // checkpoint open would race the deletion below
      try q.awaitTermination() finally q.stop()
      q.recentProgress.count(_.numInputRows > 0)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // on the failure path too, so a crashed replay leaks neither the
      // symlinks nor the checkpoint (RocksDB state files); best-effort, as
      // a throwing finally would MASK the replay's own exception
      try {
        graft.functions.CacheKey.deleteRecursively(staging)
        graft.functions.CacheKey.deleteRecursively(cp)
      } catch { case e: Throwable =>
        System.err.println(s"[graft-stream] cleanup failed: ${e.getMessage}")
      }
    }
    lastStreamPhases = fed
    System.err.println(
      s"[graft-stream] table=$table mode=$mode batches=${fed.mkString("+")}")
    val rows = acc.asScala.toSeq.sortBy(_._1.longValue()).flatMap(_._2)
    // no batch ever emitted: the schema the query would have produced
    s.createDataFrame(rows.asJava,
      if (outSchema != null) outSchema else build(source(splitDir)).schema)
  }

  /** The ONE lineitem fingerprint shared by the kmv/hist store caches —
    * two inlined copies coupled only by the memo key could silently drift
    * and derive a WRONG cache path for whichever query ran second. Covers
    * the UNION of columns its consumers read: kmv sketches l_orderkey,
    * hist bins l_extendedprice (an orderkey-only hash would keep a stale
    * histogram if prices changed under unchanged keys). */
  private def lineitemStoreFp(li: DataFrame, dir: String): String =
    graft.functions.CacheKey.memoFp(s"listore|$dir") {
      graft.functions.CacheKey.contentFp(li,
        col("l_orderkey"), col("l_extendedprice"))
    }

  /** Streaming twin of q_window_session — the SAME session semantics through
    * the Structured Streaming `session_window` path, in the PRODUCTION
    * shape: watermark + APPEND mode, so a session emits exactly once when
    * the watermark passes its close and its state LEAVES the store
    * (StreamingSpec's sessionCounts eviction pin). Until round 14 this twin
    * ran complete mode — state and sink were all-sessions-ever-sized, the
    * same unbounded-at-100TB shape the nx3 join had: session merging
    * defeats the update-mode max-by-recency reconstruction (a merged
    * session supersedes earlier emissions under DIFFERENT keys). The
    * bounded-replay bridge is runStream's flush sentinel: one '__flush'
    * row 30 days out advances the final watermark past every real
    * session's close, so the append output covers the trailing open
    * sessions too and the complete-mode oracle carries over unchanged.
    * The sentinel is dropped AFTER withWatermark — observed by the
    * watermark node, invisible to the aggregation. */
  def q_stream_session(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => src
      .withWatermark("ts", "0 seconds")
      // the always-false ts disjunct pins this filter ABOVE the watermark
      // node: PushPredicateThroughNonJoin pushes any predicate that does
      // not reference the event-time column below EventTimeWatermark (and
      // from there into the parquet scan), which would hide the sentinel
      // from the watermark — exactly the row it exists to show it
      .filter(col("event_type") =!= "__flush" || col("ts").isNull)
      .groupBy(session_window(col("ts"), "4 hours").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("w_start"),
        col("n"), col("sum_value")),
      "append", dir, flush = true)

  /** Streaming twin of q_interval_join — a real stream-stream time-interval
    * join (Streaming.intervalJoin) with watermarks on both sides for state
    * cleanup; inner-join pairs emit as matched, so the bounded run's output
    * equals the batch join bit-for-bit (same oracle SQL). */
  def q_stream_interval_join(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => {
      val a = src.filter(col("event_type") === "click")
        .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
          col("ts").as("a_ts"))
        .withWatermark("a_ts", "2 hours")
      val b = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "2 hours")
      graft.streaming.Streaming
        .intervalJoin(a, b, col("a_user") === col("b_user"),
          col("a_ts"), col("b_ts"), "'2' HOUR", "'2' HOUR")
        .select(col("a_id"), col("b_id"),
          (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("delta_us"),
          unix_micros(col("pair_ts")).as("pair_us"))
    }, "append", dir)

  /** Streaming twin of q_window_tumbling — the same event-time tumbling
    * aggregation through the Structured Streaming windowed-aggregation
    * path, UPDATE mode (changed-rows sink traffic per trigger). A key's
    * count n strictly increases across its emissions, so the
    * max-by-n struct per key IS the final (n, sum_value) state — checked
    * against the shared batch DuckDB oracle. */
  def q_stream_tumbling(s: SparkSession, dir: String): DataFrame = {
    val emits = runStream(s, src => src
      .groupBy(window(col("ts"), "1 day").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("ws")).as("w_start"), col("event_type"),
        col("n"), col("sum_value")),
      "update", dir)
    emits.groupBy(col("w_start"), col("event_type"))
      .agg(max(struct(col("n"), col("sum_value"))).as("f"))
      .select(col("w_start"), col("event_type"),
        col("f.n").as("n"), col("f.sum_value").as("sum_value"))
  }

  /** Streaming twin of q_window_sliding — overlapping size/slide windows
    * (each event explodes into two 1-day/12-hour windows map-side) through
    * the streaming aggregation path in UPDATE mode; monotone count → max(n)
    * per key reconstructs the final state. Same oracle as the batch twin. */
  def q_stream_sliding(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => src
      .groupBy(window(col("ts"), "1 day", "12 hours").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("ws")).as("w_start"), col("event_type"), col("n")),
      "update", dir)
      .groupBy(col("w_start"), col("event_type")).agg(max(col("n")).as("n"))

  /** Streaming twin of the reference's flagship wordcount (README.md:62-96)
    * — explode+count over an unbounded document stream through the
    * streaming aggregation path, UPDATE mode: each trigger emits only the
    * words it saw (changed-rows-sized, not vocabulary-sized); monotone
    * count → max(n) per word is the final count (oracle shared with
    * q_wordcount_file / q_flat_map). */
  def q_stream_wordcount(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => src
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n")),
      "update", dir, table = "documents")
      .groupBy(col("word")).agg(max(col("n")).as("n"))

  /** Streaming twin of q_dedup_exact — content-digest dedup as a streaming
    * aggregation (min-id representative + copy count per digest is
    * arrival-order independent, unlike dropDuplicates' keep-first), UPDATE
    * mode: both state fields are independently monotone (keep_id only
    * falls, n_copies only grows), so min/max over a digest's emissions
    * reconstruct its final row under the shared oracle. */
  def q_stream_dedup(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => src
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      "update", dir, table = "documents")
      .groupBy(col("digest"))
      .agg(min(col("keep_id")).as("keep_id"), max(col("n_copies")).as("n_copies"))

  /** Streaming twin of q_funnel — the ordered staging through the
    * mapGroupsWithState O(1)-state machine (streaming.Streaming.funnelStream)
    * replayed over ≥3 time-split micro-batches. Update mode emits each
    * user's running state once per batch the user appears in; `n_events`
    * is strictly increasing across a user's emits (that's why funnelStream
    * outputs it), so the per-user max-by-n_events row IS the final state —
    * the exact upsert a keyed update sink (Delta/JDBC) applies. The shared
    * q_funnel oracle then certifies the full incremental run. */
  def q_stream_funnel(s: SparkSession, dir: String): DataFrame = {
    val emits = runStream(s, { src =>
      import org.apache.spark.sql.Encoders
      val typed = src.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, String, Long)](Encoders.product[(Long, String, Long)])
      graft.streaming.Streaming
        .funnelStream(typed, ("view", "click", "purchase"))
        .toDF("user_id", "n_events", "view_us", "click_us", "purchase_us", "stage")
    }, "update", dir)
    emits.groupBy(col("user_id"))
      .agg(max_by(struct(col("view_us"), col("click_us"),
        col("purchase_us"), col("stage")), col("n_events")).as("f"))
      .select(col("user_id"), col("f.view_us").as("view_us"),
        col("f.click_us").as("click_us"),
        col("f.purchase_us").as("purchase_us"), col("f.stage").as("stage"))
  }

  /** Streaming twin of q_window_columnar — exact tumbling count windows
    * through the flatMapGroupsWithState state machine
    * (Streaming.countTumblingOrdered): per-batch rows fold in event_id
    * order, complete 5-windows emit their struct-of-arrays transpose,
    * the trailing partial survives in state across micro-batches (a window
    * SPLIT by a batch boundary must still come out whole — that is the
    * cell's point). Oracle shared with the batch twin. */
  def q_stream_columnar(s: SparkSession, dir: String): DataFrame =
    runStream(s, { src =>
      import s.implicits._
      val typed = src.select(col("user_id"), col("event_id"), col("event_type"))
        .as[(Long, Long, String)]
        .map(t => (t._1, (t._2, t._3)))
      graft.streaming.Streaming
        .countTumblingOrdered(typed, 5, (v: (Long, String)) => v._1) { w =>
          (w.map(_._1).mkString(","), w.map(_._2).mkString(","))
        }
        .map { case (k, (ids, types)) => (k, ids, types) }
        .toDF("user_id", "ids_csv", "types_csv")
    }, "append", dir)

  /** Streaming twin of q_window_foldfirst — the first-element-seeded fold
    * over exact tumbling 4-windows through the same ordered count-window
    * state machine; the seed's first component rides untouched across a
    * window even when a micro-batch boundary splits it. Oracle shared with
    * the batch twin. */
  def q_stream_foldfirst(s: SparkSession, dir: String): DataFrame =
    runStream(s, { src =>
      import s.implicits._
      val typed = src.select(col("user_id"), col("event_id"))
        .as[(Long, Long)]
      graft.streaming.Streaming
        .countTumblingOrdered(typed, 4, (v: Long) => v) { w =>
          (w.head, w.tail.foldLeft(w.head)((a, v) => a * 31L + v))
        }
        .map { case (k, (first, chain)) => (k, first, chain) }
        .toDF("user_id", "first_event", "chain")
    }, "append", dir)

  /** Streaming twin of q_sessionize — the inactivity-gap session assignment
    * through the flatMapGroupsWithState O(1)-state machine
    * (Streaming.sessionizeStream). A bounded AvailableNow run is one
    * per-user-sorted batch, so the assignment equals the batch window
    * lowering exactly — oracle shared with q_sessionize. */
  def q_stream_sessionize(s: SparkSession, dir: String): DataFrame =
    runStream(s, { src =>
      import org.apache.spark.sql.Encoders
      val typed = src.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, Long)](Encoders.product[(Long, Long, Long)])
      graft.streaming.Streaming.sessionizeStream(typed, 43200000000L)
        .toDF("event_id", "user_id", "is_new", "session_id")
    }, "append", dir)

  /** Streaming twin of the HLL register table — hllRegisters IS a plain
    * streaming aggregation (narrow rank expression + groupBy(bucket).max
    * with partial aggregation), so the identical code runs on the unbounded
    * stream; UPDATE mode emits a bucket only on the triggers that raise its
    * register, and the register max is monotone, so re-maxing the emissions
    * reconstructs the batch sketch bit-for-bit (registers-only oracle — the
    * estimate projection is batch arithmetic layered on this exact state). */
  def q_stream_hll(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    runStream(s, src => graft.functions.Sketches.hllRegisters(
        src, col("l_orderkey").cast("string"), p = 8, portable = portable),
      "update", dir, table = "lineitem")
      .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))

  private val q_stream_hll_sql =
    """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |r AS (SELECT h // 4503599627370496 AS bucket,
      |             h % 4503599627370496 AS w FROM h)
      |SELECT bucket,
      |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |FROM r GROUP BY bucket""".stripMargin

  /** Streaming twin of the KMV distinct sketch (Streaming.kmvStream): the
    * order-key universe sketched on an unbounded stream — narrow
    * per-partition k-min pre-shrink per micro-batch, then one O(k)
    * mapGroupsWithState merge; the distinct universe never shuffles. A
    * bounded run's final (h_k, n_h, est) equals the batch sketch of the
    * whole table, replayed by the oracle. */
  def q_stream_kmv(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    // update mode over the multi-batch replay emits the cumulative sketch
    // once per batch; the sketch is monotone (n_h grows to k, then h_k only
    // shrinks), so (max n_h, min h_k) IS the final emit — the keyed-upsert
    // selection, report-sized (one row per batch)
    runStream(s, src => graft.streaming.Streaming
      .kmvStream(src, col("l_orderkey").cast("string"), 512,
        portable = portable)
      .toDF("h_k", "n_h", "est"),
      "update", dir, table = "lineitem")
      .orderBy(col("n_h").desc, col("h_k").asc).limit(1)

  private val q_stream_kmv_sql =
    """WITH hs AS (SELECT DISTINCT
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |k AS (SELECT h FROM hs ORDER BY h LIMIT 512),
      |a AS (SELECT max(h) AS h_k, count(*) AS n_h FROM k)
      |SELECT h_k, n_h,
      |  CASE WHEN n_h < 512 THEN CAST(n_h AS DOUBLE)
      |       ELSE 511 * power(2.0, 60) / CAST(h_k AS DOUBLE) END AS est
      |FROM a""".stripMargin

  /** window_join (src/operator/window/aggr/join.rs:79-99): per-(user, day
    * window) cartesian of clicks × purchases — equi-join on (key, window). */
  def q_window_join(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("w", date_trunc("day", col("ts")))
    val a = e.filter(col("event_type") === "click")
      .select(col("user_id").as("a_user"), col("w").as("a_w"), col("event_id").as("a_id"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("w").as("b_w"), col("event_id").as("b_id"))
    a.join(b, col("a_user") === col("b_user") && col("a_w") === col("b_w"))
      .select(col("a_user").as("user_id"), unix_micros(col("a_w")).as("w_start"),
        col("a_id"), col("b_id"))
  }

  private val q_window_join_sql =
    """SELECT a.user_id, epoch_us(date_trunc('day', CAST(a.ts AS TIMESTAMP))) AS w_start,
      |  a.event_id AS a_id, b.event_id AS b_id
      |FROM events a JOIN events b
      |ON a.user_id = b.user_id
      |AND date_trunc('day', CAST(a.ts AS TIMESTAMP)) = date_trunc('day', CAST(b.ts AS TIMESTAMP))
      |AND a.event_type = 'click' AND b.event_type = 'purchase'""".stripMargin

  /** As-of join (beyond-reference; operators.AsOfJoin): each click matched
    * to the user's LATEST purchase at-or-before it. Lowered as union + keyed
    * window — ONE shuffle on the key, per-partition sort, no candidate
    * blow-up on hot keys (the range-join+argmax lowering is O(L·R) per key).
    * Right side pre-aggregated to unique (user, ts) so the match is
    * deterministic; unmatched lefts keep -1 sentinels (left-outer). */
  def q_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id"), col("us").as("a_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"), col("event_id"))
      .groupBy(col("user_id"), col("p_us"))
      .agg(max(col("event_id")).as("p_id"))
    graft.operators.AsOfJoin
      .backward(clicks, purchases, Seq("user_id"), "a_us", "p_us")
      .select(col("a_id"), col("user_id"), col("a_us"),
        coalesce(col("p_us"), lit(-1L)).as("p_us"),
        coalesce(col("p_id"), lit(-1L)).as("p_id"),
        coalesce(col("a_us") - col("p_us"), lit(-1L)).as("lag_us"))
  }

  /** Forward as-of: each click matched to the user's EARLIEST purchase
    * at-or-after it (the conversion-attribution direction) — same
    * one-shuffle union+window lowering, reversed ordering. */
  def q_asof_forward(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id"), col("us").as("a_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"), col("event_id"))
      .groupBy(col("user_id"), col("p_us"))
      .agg(max(col("event_id")).as("p_id"))
    graft.operators.AsOfJoin
      .forward(clicks, purchases, Seq("user_id"), "a_us", "p_us")
      .select(col("a_id"), col("user_id"), col("a_us"),
        coalesce(col("p_us"), lit(-1L)).as("p_us"),
        coalesce(col("p_id"), lit(-1L)).as("p_id"),
        coalesce(col("p_us") - col("a_us"), lit(-1L)).as("lead_us"))
  }

  private val q_asof_forward_sql =
    """WITH c AS (SELECT event_id AS a_id, user_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS a_us
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
      |        max(event_id) AS p_id
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT a_id, c.user_id AS user_id, a_us,
      |  coalesce(p_us, -1) AS p_us, coalesce(p_id, -1) AS p_id,
      |  coalesce(p_us - a_us, -1) AS lead_us
      |FROM c ASOF LEFT JOIN p
      |ON c.user_id = p.user_id AND c.a_us <= p.p_us""".stripMargin

  /** Nearest as-of: each click matched to the user's purchase CLOSEST in
    * time, either direction; a distance tie resolves backward (pandas
    * merge_asof direction='nearest'). The two directional windows share one
    * hash Exchange on the key — same shuffle bill as one directional as-of. */
  def q_asof_nearest(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id"), col("us").as("a_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"), col("event_id"))
      .groupBy(col("user_id"), col("p_us"))
      .agg(max(col("event_id")).as("p_id"))
    graft.operators.AsOfJoin
      .nearest(clicks, purchases, Seq("user_id"), "a_us", "p_us")
      .select(col("a_id"), col("user_id"), col("a_us"),
        coalesce(col("p_us"), lit(-1L)).as("p_us"),
        coalesce(col("p_id"), lit(-1L)).as("p_id"),
        coalesce(abs(col("p_us") - col("a_us")), lit(-1L)).as("dist_us"))
  }

  private val q_asof_nearest_sql =
    """WITH c AS (SELECT event_id AS a_id, user_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS a_us
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
      |        max(event_id) AS p_id
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |b AS (SELECT a_id, c.user_id AS user_id, a_us, p.p_us AS b_us, p.p_id AS b_id
      |      FROM c ASOF LEFT JOIN p
      |      ON c.user_id = p.user_id AND c.a_us >= p.p_us),
      |f AS (SELECT a_id, p.p_us AS f_us, p.p_id AS f_id
      |      FROM c ASOF LEFT JOIN p
      |      ON c.user_id = p.user_id AND c.a_us <= p.p_us),
      |chosen AS (
      |  SELECT b.a_id, user_id, a_us,
      |    CASE WHEN b_us IS NULL THEN f_us
      |         WHEN f_us IS NULL THEN b_us
      |         WHEN (f_us - a_us) < (a_us - b_us) THEN f_us
      |         ELSE b_us END AS m_us,
      |    CASE WHEN b_us IS NULL THEN f_id
      |         WHEN f_us IS NULL THEN b_id
      |         WHEN (f_us - a_us) < (a_us - b_us) THEN f_id
      |         ELSE b_id END AS m_id
      |  FROM b JOIN f ON b.a_id = f.a_id)
      |SELECT a_id, user_id, a_us,
      |  coalesce(m_us, -1) AS p_us, coalesce(m_id, -1) AS p_id,
      |  coalesce(abs(m_us - a_us), -1) AS dist_us
      |FROM chosen""".stripMargin

  private val q_asof_join_sql =
    """WITH c AS (SELECT event_id AS a_id, user_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS a_us
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
      |        max(event_id) AS p_id
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT a_id, c.user_id AS user_id, a_us,
      |  coalesce(p_us, -1) AS p_us, coalesce(p_id, -1) AS p_id,
      |  coalesce(a_us - p_us, -1) AS lag_us
      |FROM c ASOF LEFT JOIN p
      |ON c.user_id = p.user_id AND c.a_us >= p.p_us""".stripMargin

  /** Edit-distance fuzzy self-join (FuzzyJoin.selfJoinWithin1): customer
    * name pairs within edit distance 1, found via SymSpell deletion-
    * neighborhood blocking + exact levenshtein residual — the oracle runs
    * the O(n²) cross join the blocking avoids, so a blocking hole (a missed
    * pair) is a hard mismatch, not a silent recall loss. */
  def q_fuzzy_join(s: SparkSession, dir: String): DataFrame =
    graft.functions.FuzzyJoin
      .selfJoinWithin1(tbl(s, dir, "customer"), "c_custkey", "c_name")
      .select(col("a_id"), col("b_id"), col("dist"))

  private val q_fuzzy_join_sql =
    """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
      |FROM customer a, customer b
      |WHERE a.c_custkey < b.c_custkey
      |AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** Entity-resolution similarity join (EntityResolution.erSelfJoin): all
    * distinct part-name pairs sharing a 2-byte prefix block whose
    * Jaro–Winkler similarity reaches 0.82. The score is a native
    * expression pinned to DuckDB's byte-level semantics; both engines
    * round to 9 dp BEFORE thresholding, so the cut cannot flip on a
    * last-ulp divide difference. Blocking is the operator's spec — the
    * oracle replays the same prefix blocks (recall trade documented on
    * the operator). */
  def q_er_join(s: SparkSession, dir: String): DataFrame =
    graft.functions.EntityResolution.erSelfJoin(
      tbl(s, dir, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id")),
      "id", "p_name", threshold = 0.82)

  private val q_er_join_sql =
    """WITH names AS (
      |  SELECT p_name AS s, min(p_partkey) AS id FROM part GROUP BY p_name),
      |blocked AS (
      |  SELECT a.id AS a_id, b.id AS b_id, a.s AS a_str, b.s AS b_str,
      |    round(jaro_winkler_similarity(a.s, b.s), 9) AS sim
      |  FROM names a JOIN names b
      |    ON substr(a.s, 1, 2) = substr(b.s, 1, 2) AND a.id < b.id)
      |SELECT a_id, b_id, a_str, b_str, sim
      |FROM blocked WHERE sim >= 0.82""".stripMargin

  /** Build-once/query-many co-purchase pair table (a_item, b_item, n_ab)
    * under the fingerprint-cache discipline of q_inverted_index /
    * q_wordcount_file: a graph several analyses query is materialized
    * ONCE per (corpus contents) and each consumer reads the parquet —
    * the production shape for a shared derived table (regenerated corpus
    * → new fingerprint; atomic same-filesystem publish). q_copurchase /
    * q_related_items still exercise the live computation. */
  private def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    val maxBasketSize = 20
    val minCount = 2L
    // memoized: six queries consume this shared table (one of them twice)
    // and each used to re-pay the full-lineitem fingerprint scan per call
    // just to re-derive the same cache path
    val fp = graft.functions.CacheKey.memoFp(s"copurchase|$dir") {
      graft.functions.CacheKey.contentFp(li,
        col("l_orderkey"), col("l_partkey"))
    }
    val base = java.nio.file.Paths.get(graft.functions.CacheKey.path(
      "copurchase", version = 1, sfTag, Seq(maxBasketSize, minCount), fp))
    if (!java.nio.file.Files.isDirectory(base)) {
      val tmp = java.nio.file.Paths.get(
        base.toString + ".tmp." + java.util.UUID.randomUUID())
      graft.functions.CoOccurrence.pairCounts(li, "l_orderkey", "l_partkey",
          maxBasketSize = maxBasketSize, minCount = minCount)
        .write.mode("overwrite").parquet(tmp.toString)
      try java.nio.file.Files.move(tmp, base,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        val ds = java.nio.file.Files.list(tmp)
        try {
          import scala.jdk.CollectionConverters._
          ds.iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        } finally ds.close()
        java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    graft.sources.Parquet.read(s, base.toString)
  }

  /** Weighted PageRank (Graph.pageRankWeightedFixed) over the co-purchase
    * graph, edge weight = shared-basket count: ranks in exact BIGINT
    * pico-units with per-edge contributions rounded BEFORE the integer
    * incoming sum — reproducible across partitionings AND engines (float
    * PR's incoming sums drift with reduction order at in-degree 50). */
  def q_pagerank_weighted(s: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairs(s, dir) // bind once: one cache-path derivation
    graft.algorithms.Graph.pageRankWeightedFixed(
      pairs.select(
          col("a_item").as("src"), col("b_item").as("dst"), col("n_ab").as("weight"))
        .unionByName(pairs.select(
          col("b_item").as("src"), col("a_item").as("dst"), col("n_ab").as("weight"))),
      iterations = 2)
  }

  private val q_pagerank_weighted_sql =
    """WITH bi AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS MATERIALIZED (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept0 AS MATERIALIZED (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |ab AS MATERIALIZED (
      |  SELECT a.it AS a_item, b.it AS b_item, count(*) AS n_ab
      |  FROM kept0 a JOIN kept0 b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT a_item AS src, b_item AS dst, n_ab AS w FROM ab
      |  UNION ALL SELECT b_item, a_item, n_ab FROM ab),
      |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
      |params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |wout AS MATERIALIZED (SELECT src, sum(w) AS w_out FROM und GROUP BY 1),
      |r0 AS (SELECT node,
      |    CAST(round(1e12 / (SELECT n FROM params), 0) AS BIGINT) AS rp
      |  FROM nodes),
      |r1 AS MATERIALIZED (SELECT nd.node,
      |    CAST(round((1 - 0.85) / (SELECT n FROM params) * 1e12, 0) AS BIGINT)
      |      + coalesce(s.ip, 0) AS rp
      |  FROM nodes nd LEFT JOIN (
      |    SELECT e.dst AS node,
      |      sum(CAST((34*r.rp*e.w + 20*wo.w_out) // (40*wo.w_out) AS BIGINT)) AS ip
      |    FROM und e JOIN wout wo ON e.src = wo.src
      |    JOIN r0 r ON r.node = e.src GROUP BY 1) s ON nd.node = s.node),
      |r2 AS (SELECT nd.node,
      |    CAST(round((1 - 0.85) / (SELECT n FROM params) * 1e12, 0) AS BIGINT)
      |      + coalesce(s.ip, 0) AS rp
      |  FROM nodes nd LEFT JOIN (
      |    SELECT e.dst AS node,
      |      sum(CAST((34*r.rp*e.w + 20*wo.w_out) // (40*wo.w_out) AS BIGINT)) AS ip
      |    FROM und e JOIN wout wo ON e.src = wo.src
      |    JOIN r1 r ON r.node = e.src GROUP BY 1) s ON nd.node = s.node)
      |SELECT node, CAST(rp AS BIGINT) AS rank_pico FROM r2""".stripMargin

  /** Entity consolidation: the ER pair graph closed into entities —
    * q_er_join's match pairs fed through connectedComponents, each matched
    * record labeled with its entity's min id (the canonical-record pick).
    * The record-linkage end state: pairs are evidence, entities are the
    * deliverable. Oracle: recursive closure over the same pair SQL. */
  def q_er_clusters(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.connectedComponents(
      q_er_join(s, dir).select(col("a_id").as("src"), col("b_id").as("dst")),
      dedupeEdges = false)
      .select(col("node").as("id"), col("component").as("entity_id"))

  private val q_er_clusters_sql =
    s"""WITH RECURSIVE pairs AS ($q_er_join_sql),
       |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r)
       |SELECT id, min(r) AS entity_id FROM reach GROUP BY id""".stripMargin

  /** Market-basket co-occurrence (CoOccurrence.pairs): part pairs sharing
    * an order, with exact-ratio Jaccard and lift. Basket cap + map-side
    * pair aggregation keep the quadratic constant-bounded (doc on the
    * operator); counts are exact integers, ratios divide once in double. */
  def q_copurchase(s: SparkSession, dir: String): DataFrame =
    graft.functions.CoOccurrence.pairs(tbl(s, dir, "lineitem"),
      "l_orderkey", "l_partkey", maxBasketSize = 20, minCount = 2L)

  private val q_copurchase_sql =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS (
      |  SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept AS (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |item_n AS (SELECT it, count(*) AS n_it FROM kept GROUP BY it),
      |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM kept),
      |ab AS (
      |  SELECT a.it AS a_item, b.it AS b_item, count(*) AS n_ab
      |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT a_item, b_item, CAST(n_ab AS BIGINT) AS n_ab,
      |  CAST(na.n_it AS BIGINT) AS n_a, CAST(nbi.n_it AS BIGINT) AS n_b,
      |  CAST(n_ab AS DOUBLE) / CAST(na.n_it + nbi.n_it - n_ab AS DOUBLE) AS jaccard,
      |  CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)
      |    / (CAST(na.n_it AS DOUBLE) * CAST(nbi.n_it AS DOUBLE)) AS lift
      |FROM ab
      |JOIN item_n na ON ab.a_item = na.it
      |JOIN item_n nbi ON ab.b_item = nbi.it
      |CROSS JOIN nb""".stripMargin

  /** Related-items top-k (CoOccurrence.topPartners): each part's 5 most
    * co-ordered partners, rank-filtered per item — lowers to
    * WindowGroupLimit, so partitions keep k rows per item before the
    * exchange. Total (n_ab desc, partner) order makes the cut exact. */
  def q_related_items(s: SparkSession, dir: String): DataFrame =
    graft.functions.CoOccurrence.topPartners(
      graft.functions.CoOccurrence.pairCounts(tbl(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxBasketSize = 20, minCount = 2L),
      k = 5)

  private val q_related_items_sql =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS (
      |  SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept AS (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |ab AS (
      |  SELECT a.it AS a_item, b.it AS b_item, count(*) AS n_ab
      |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (
      |  SELECT a_item AS item, b_item AS partner, n_ab FROM ab
      |  UNION ALL
      |  SELECT b_item AS item, a_item AS partner, n_ab FROM ab),
      |rk AS (
      |  SELECT item, partner, CAST(n_ab AS BIGINT) AS n_ab,
      |    CAST(row_number() OVER (PARTITION BY item
      |      ORDER BY n_ab DESC, partner) AS BIGINT) AS rk
      |  FROM sym)
      |SELECT item, partner, n_ab, rk FROM rk WHERE rk <= 5""".stripMargin

  /** Label-propagation communities (Graph.labelPropagation) over the
    * co-purchase pair graph: 2 synchronous rounds, most-frequent neighbor
    * label, smallest-label ties — fully deterministic, so the oracle
    * unrolls both rounds in SQL. The per-round argmax is an aggregate
    * (max over (cnt, −label) structs), never a window. */
  def q_label_prop(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.labelPropagation(
      copurchasePairs(s, dir)
        .select(col("a_item").as("src"), col("b_item").as("dst")),
      rounds = 2, dedupeEdges = false)

  private val q_label_prop_sql =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept AS (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |ab AS (
      |  SELECT a.it AS a_item, b.it AS b_item
      |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS (
      |  SELECT a_item AS src, b_item AS dst FROM ab
      |  UNION SELECT b_item, a_item FROM ab),
      |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
      |c1 AS (
      |  SELECT und.src AS node, l0.label, count(*) AS cnt
      |  FROM und JOIN l0 ON und.dst = l0.node GROUP BY 1, 2),
      |l1 AS (
      |  SELECT node, label FROM (
      |    SELECT node, label,
      |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
      |    FROM c1) WHERE rn = 1),
      |c2 AS (
      |  SELECT und.src AS node, l1.label, count(*) AS cnt
      |  FROM und JOIN l1 ON und.dst = l1.node GROUP BY 1, 2),
      |l2 AS (
      |  SELECT node, label FROM (
      |    SELECT node, label,
      |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
      |    FROM c2) WHERE rn = 1)
      |SELECT node, label FROM l2""".stripMargin

  /** Character-bigram LM quality score (TextAnalysis.charLmScore): the
    * cheap perplexity proxy, trained on the corpus itself with add-1
    * smoothing. Per-bigram log-probs are 6-dp-rounded and integer-scaled
    * before summing, so both engines aggregate exact integers in any order;
    * the oracle rebuilds the same model in SQL. */
  def q_char_lm(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.charLmScore(tbl(s, dir, "documents"),
      "doc_id", "text")

  private val q_char_lm_sql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, length(text)),
      |         i -> substr(text, CAST(i AS INTEGER), 2))) AS bg FROM d),
      |m AS (SELECT bg, count(*) AS n_bg FROM bg GROUP BY 1),
      |ctx AS (SELECT substr(bg, 1, 1) AS c1, sum(n_bg) AS n_ctx FROM m GROUP BY 1),
      |v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS vs FROM m),
      |lp AS (SELECT m.bg,
      |         CAST(round(round(ln((n_bg + 1) / CAST(n_ctx + vs AS DOUBLE)), 6)
      |           * 1000000, 0) AS BIGINT) AS lp_micro
      |       FROM m JOIN ctx ON substr(m.bg, 1, 1) = ctx.c1 CROSS JOIN v),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp_micro) AS micro
      |       FROM bg JOIN lp USING (bg) GROUP BY 1)
      |SELECT doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
      |  coalesce(CAST(micro AS DOUBLE) / 1000000.0 / n_bigrams,
      |           CAST(0 AS DOUBLE)) AS lm_score
      |FROM documents LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Character-distribution Shannon entropy per document
    * (TextAnalysis.charEntropy) — the gibberish/degenerate-text quality
    * signal. Fully narrow: the per-doc char distribution rides the native
    * plans.CharCounts array and the entropy folds per row, so the plan has
    * ZERO Exchanges at any corpus size. Integer-micro log terms (q_char_lm
    * discipline) make the per-doc sum engine-exact; the keep flag is an
    * exact integer compare against the 2.0-nat threshold. */
  def q_char_entropy(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.charEntropy(tbl(s, dir, "documents"),
      "doc_id", "text")

  private val q_char_entropy_sql =
    """WITH d AS (SELECT doc_id, text, length(text) AS nc FROM documents),
      |ch AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
      |       FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM d)),
      |cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
      |mic AS (SELECT cc.doc_id, count(*) AS dc,
      |          sum(c * CAST(round(round(ln(CAST(c AS DOUBLE) / d.nc), 6)
      |            * 1000000, 0) AS BIGINT)) AS micro
      |        FROM cc JOIN d USING (doc_id) GROUP BY 1)
      |SELECT d.doc_id, CAST(d.nc AS BIGINT) AS n_chars,
      |  CAST(COALESCE(dc, 0) AS BIGINT) AS distinct_chars,
      |  CASE WHEN d.nc = 0 THEN 0.0
      |       ELSE CAST(-micro AS DOUBLE) / 1000000.0 / d.nc END AS entropy,
      |  CASE WHEN d.nc = 0 THEN false
      |       ELSE -micro >= 2000000 * d.nc END AS keep
      |FROM d LEFT JOIN mic ON mic.doc_id = d.doc_id""".stripMargin

  /** Word-trigram stupid-backoff LM scoring (functions.NgramLm) — the
    * CCNet-style perplexity filter with a real train/apply split: the model
    * is counted on even doc_ids and applied to odd ones, so unseen trigrams
    * genuinely walk the 3→2→1 backoff ladder (n_tri/n_bi/n_uni report the
    * level mix per document). Per-trigram log-scores are 6-dp-rounded
    * integer micros before summing (the q_char_lm discipline); the oracle
    * rebuilds the same three count tables and the same backoff CASE in SQL. */
  def q_ngram_lm(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.functions.NgramLm.scoreAgainst(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
  }

  private val q_ngram_lm_sql =
    """WITH tr AS (SELECT str_split(lower(text), ' ') AS l FROM documents WHERE doc_id % 2 = 0),
      |sc AS (SELECT doc_id, str_split(lower(text), ' ') AS l FROM documents WHERE doc_id % 2 = 1),
      |t1 AS (SELECT g, count(*) AS c
      |       FROM (SELECT unnest(l) AS g FROM tr) GROUP BY 1),
      |nv AS (SELECT sum(c) AS n, count(*) AS v FROM t1),
      |t2 AS (SELECT array_to_string(l[i:i+1], ' ') AS g, count(*) AS c
      |       FROM (SELECT l, unnest(range(1, len(l))) AS i FROM tr) GROUP BY 1),
      |t3 AS (SELECT array_to_string(l[i:i+2], ' ') AS g, count(*) AS c
      |       FROM (SELECT l, unnest(range(1, len(l) - 1)) AS i FROM tr) GROUP BY 1),
      |occ AS (SELECT doc_id, array_to_string(l[i:i+2], ' ') AS g3
      |        FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM sc)),
      |dist AS (SELECT DISTINCT g3, str_split(g3, ' ') AS p FROM occ),
      |j AS (SELECT dist.g3,
      |        CASE WHEN t3.c IS NOT NULL THEN 3
      |             WHEN t2b.c IS NOT NULL THEN 2 ELSE 1 END AS lvl,
      |        CASE WHEN t3.c IS NOT NULL THEN
      |               CAST(round(round(ln(CAST(t3.c AS DOUBLE) / t2a.c), 6) * 1000000, 0) AS BIGINT)
      |             WHEN t2b.c IS NOT NULL THEN
      |               CAST(round(round(ln(CAST(0.4 AS DOUBLE) * t2b.c / t1a.c), 6) * 1000000, 0) AS BIGINT)
      |             ELSE
      |               CAST(round(round(ln(CAST(0.16 AS DOUBLE) * (COALESCE(t1b.c, 0) + 1)
      |                 / CAST(nv.n + nv.v + 1 AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)
      |        END AS lp_micro
      |      FROM dist CROSS JOIN nv
      |      LEFT JOIN t3 ON t3.g = dist.g3
      |      LEFT JOIN t2 t2a ON t2a.g = p[1] || ' ' || p[2]
      |      LEFT JOIN t2 t2b ON t2b.g = p[2] || ' ' || p[3]
      |      LEFT JOIN t1 t1a ON t1a.g = p[2]
      |      LEFT JOIN t1 t1b ON t1b.g = p[3]),
      |agg AS (SELECT doc_id, count(*) AS n_grams,
      |          sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS n_tri,
      |          sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS n_bi,
      |          sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS n_uni,
      |          sum(lp_micro) AS micro
      |        FROM occ JOIN j USING (g3) GROUP BY 1)
      |SELECT sc.doc_id,
      |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST(COALESCE(n_bi, 0) AS BIGINT) AS n_bi,
      |  CAST(COALESCE(n_uni, 0) AS BIGINT) AS n_uni,
      |  CASE WHEN n_grams IS NULL THEN 0.0
      |       ELSE CAST(micro AS DOUBLE) / 1000000.0 / n_grams END AS lm_score
      |FROM (SELECT doc_id FROM sc) sc LEFT JOIN agg USING (doc_id)""".stripMargin

  /** CCNet perplexity tiering (Sampling.perplexityTiers over the
    * q_ngram_lm scores): exact global thirds by (score desc, doc_id) on
    * the integer surrogate floor(score·1e9), head+middle kept, too-short
    * docs tiered `unscored` outside the rank. The oracle replays the full
    * scoring SQL and cuts with ntile(3) over the same surrogate — the
    * ntile ceil-first rule and the 3·rank < k·n integer cut provably
    * agree for every n. */
  def q_perplexity_tiers(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val scored = graft.functions.NgramLm.scoreAgainst(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    val out = graft.functions.Sampling.perplexityTiers(
      scored, "doc_id", "lm_score", "n_grams")
    scored.unpersist()
    out
  }

  private def q_perplexity_tiers_sql: String =
    s"""WITH scored AS ($q_ngram_lm_sql),
       |r AS (SELECT doc_id, lm_score AS score,
       |        ntile(3) OVER (ORDER BY
       |          CAST(floor(lm_score * 1000000000.0) AS BIGINT) DESC,
       |          doc_id) AS t
       |      FROM scored WHERE n_grams > 0)
       |SELECT doc_id, score,
       |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
       |  t <= 2 AS kept
       |FROM r
       |UNION ALL
       |SELECT doc_id, lm_score AS score, 'unscored' AS tier, false AS kept
       |FROM scored WHERE n_grams = 0""".stripMargin

  /** Streaming twin of q_ngram_lm — the stream-STATIC join cell of the
    * streaming matrix: the trigram model is counted once on the static
    * even-doc split ([[graft.functions.NgramLm.trigramModel]], all three
    * count tables persisted because every micro-batch is its own action
    * re-reading the static side), and the odd-doc STREAM is scored per
    * micro-batch through five stream-static left joins + a complete-mode
    * per-doc aggregation. A per-doc NULL sentinel gram rides the explode so
    * short documents still emit their zero row (a streaming groupBy can't
    * left-join back against the static id list the way the batch scorer
    * does). The bounded run's final state answers the SAME oracle as the
    * batch twin — integer micro log-scores make the sums order- and
    * batching-independent. */
  def q_stream_ngram_lm(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val m = graft.functions.NgramLm.trigramModel(
      docs.filter(col("doc_id") % 2 === 0), "text")
    try runStream(s, src => {
      val occ = src.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(concat(array(lit(null).cast("string")),
            graft.functions.Dedup.shingles(lower(col("text")), 3))).as("g3"))
      val p = split(col("g3"), " ")
      val j = occ
        .withColumn("g12", concat_ws(" ", p(0), p(1)))
        .withColumn("g23", concat_ws(" ", p(1), p(2)))
        .withColumn("w2", p(1)).withColumn("w3", p(2))
        .join(m.t3.select(col("g").as("g3"), col("c").as("c3")), Seq("g3"), "left_outer")
        .join(m.t2.select(col("g").as("g12"), col("c").as("c12")), Seq("g12"), "left_outer")
        .join(m.t2.select(col("g").as("g23"), col("c").as("c23")), Seq("g23"), "left_outer")
        .join(m.t1.select(col("g").as("w2"), col("c").as("cw2")), Seq("w2"), "left_outer")
        .join(m.t1.select(col("g").as("w3"), col("c").as("cw3")), Seq("w3"), "left_outer")
      def lpm(x: Column): Column = round(round(log(x), 6) * 1e6, 0).cast("long")
      val isGram = col("g3").isNotNull
      val lp = when(col("c3").isNotNull,
          lpm(col("c3").cast("double") / col("c12")))
        .when(col("c23").isNotNull,
          lpm(lit(0.4) * col("c23") / col("cw2")))
        .otherwise(lpm(lit(0.16) * (coalesce(col("cw3"), lit(0L)) + 1) /
          lit((m.nTok + m.vSize + 1).toDouble)))
      j.groupBy(col("doc_id"))
        .agg(count(col("g3")).as("n_grams"),
          sum(when(isGram && col("c3").isNotNull, 1L).otherwise(0L)).as("n_tri"),
          sum(when(isGram && col("c3").isNull && col("c23").isNotNull, 1L)
            .otherwise(0L)).as("n_bi"),
          sum(when(isGram && col("c3").isNull && col("c23").isNull, 1L)
            .otherwise(0L)).as("n_uni"),
          sum(when(isGram, lp).otherwise(0L)).as("micro"))
        .select(col("doc_id"), col("n_grams"), col("n_tri"), col("n_bi"),
          col("n_uni"),
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("micro").cast("double") / 1e6 / col("n_grams"))
            .as("lm_score"))
      // UPDATE mode: a document is ONE source row, and the doc_id-range
      // split puts it in exactly one micro-batch, so each doc_id's
      // aggregate changes in exactly one trigger → exactly one emission
      // per doc (sink traffic = that batch's docs, never the whole scored
      // corpus re-dumped per trigger, the round-13 complete-mode shape)
    }, "update", dir, table = "documents")
    finally m.unpersistAll()
  }

  /** Overlapping token-window chunking (TextAnalysis.chunkDocuments):
    * 64-token chunks, 16-token overlap over documents — one narrow pass,
    * no shuffle. Oracle recomputes windows with DuckDB list slicing. */
  def q_chunk(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.chunkDocuments(tbl(s, dir, "documents"),
      "doc_id", "text", chunkTokens = 64, overlap = 16)

  private val q_chunk_sql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS l
      |  FROM documents),
      |c AS (SELECT doc_id, l, len(l) AS n,
      |  CASE WHEN len(l) <= 0 THEN 0 WHEN len(l) <= 16 THEN 1
      |       ELSE CAST(ceil((len(l) - 16) / 48.0) AS INT) END AS nc FROM t)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |  CAST(least(64, n - i * 48) AS BIGINT) AS chunk_len,
      |  array_to_string(l[(i * 48 + 1):(i * 48 + 64)], ' ') AS chunk
      |FROM (SELECT doc_id, l, n, unnest(range(0, nc)) AS i FROM c)""".stripMargin

  /** Distributed BPE tokenizer training (functions.BpeTrainer): 3 merge
    * rounds over the documents word-frequency table — the corpus is
    * touched once, every round is vocabulary-sized. Oracle unrolls the
    * rounds in SQL (the q_kmeans unrolled-Lloyd precedent): same sentinel
    * wrap, same pair counts, same (freq desc, lhs, rhs) tie-break, same
    * left-to-right `replace` merge. */
  def q_bpe(s: SparkSession, dir: String): DataFrame =
    graft.functions.BpeTrainer.train(tbl(s, dir, "documents"), "text",
      merges = 3)

  private def q_bpe_sql: String = {
    val rounds = 3
    // pair counting from a given state CTE: sentinel-wrapped word strings
    // split back to symbol lists, adjacent pairs weighted by word count
    def pairs(st: String) =
      s"""SELECT struct_extract(p, 'lhs') AS lhs,
         |    struct_extract(p, 'rhs') AS rhs, sum(cnt) AS freq FROM (
         |  SELECT cnt, unnest(list_transform(range(1, len(l)),
         |    i -> {'lhs': l[i], 'rhs': l[i+1]})) AS p
         |  FROM (SELECT str_split(trim(wstr, chr(1)), chr(1) || chr(1)) AS l,
         |        cnt FROM $st) WHERE len(l) >= 2)
         |GROUP BY 1, 2""".stripMargin
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
             |  SELECT w AS word, count(*) AS cnt
             |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
             |  WHERE w <> '' GROUP BY 1),
             |s0 AS (SELECT regexp_replace(word, '(.)', chr(1) || '\1' || chr(1), 'g') AS wstr,
             |       cnt FROM w0),
             |""".stripMargin
    for (t <- 1 to rounds) {
      sb ++= s"p$t AS (${pairs(s"s${t - 1}")}),\n"
      val comma = if (t < rounds) "," else ""
      sb ++= s"m$t AS (SELECT lhs, rhs, freq FROM p$t ORDER BY freq DESC, lhs ASC, rhs ASC LIMIT 1)$comma\n"
      if (t < rounds)
        sb ++= s"""s$t AS (SELECT replace(wstr, chr(1)||lhs||chr(1)||chr(1)||rhs||chr(1),
                  |  chr(1)||lhs||rhs||chr(1)) AS wstr, cnt FROM s${t - 1}, m$t),
                  |""".stripMargin
    }
    sb ++= (1 to rounds).map(t =>
      s"SELECT $t AS round, lhs, rhs, CAST(freq AS BIGINT) AS freq FROM m$t")
      .mkString("", "\nUNION ALL ", "")
    sb.result()
  }

  /** Per-group top-k through the typed façade (KeyedStream.topK): 3 most
    * expensive lineitems per return flag via the bounded-buffer Aggregator —
    * map-side partials cap at k rows per key, so a hot key shuffles
    * O(k·partitions) rows, not its whole group (the window row_number
    * lowering the oracle uses sorts and shuffles every row). Ordering is
    * total (price DESC, orderkey ASC, linenumber ASC) so both engines pick
    * identical rows. */
  def q_topk_group(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ordB: Ordering[(Double, Long, Int)] = Ordering.Tuple3(
      Ordering.Double.TotalOrdering, Ordering.Long.reverse, Ordering.Int.reverse)
    val li = tbl(s, dir, "lineitem")
      .select(col("l_returnflag"), struct(col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber").cast("int")))
      .as[(String, (Double, Long, Int))]
    new graft.api.KeyedStream(li)
      .topK(3)(v => v)
      .ds
      .flatMap { case (flag, items) =>
        items.map(v => (flag, v._1, v._2, v._3)) }
      .toDF("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
  }

  private val q_topk_group_sql =
    """SELECT l_returnflag, l_extendedprice, l_orderkey,
      |  CAST(l_linenumber AS INTEGER) AS l_linenumber FROM (
      |  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
      |  FROM lineitem) WHERE rn <= 3""".stripMargin

  /** Bucketed range join (beyond-reference; operators.RangeJoin): every
    * 100th order defines a ±500 price band around o_totalprice/5; lineitem
    * prices land in bands via the bin-explode equi-join lowering (the naive
    * `between` join is a BroadcastNestedLoopJoin — O(N·M) at scale). Sums
    * decimal-pinned so both engines agree bit-for-bit. */
  def q_range_join(s: SparkSession, dir: String): DataFrame = {
    val intervals = tbl(s, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") / 5 - 500).as("lo"),
        (col("o_totalprice") / 5 + 500).as("hi"))
    val points = tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    graft.operators.RangeJoin
      .pointInInterval(points, intervals, "l_extendedprice", "lo", "hi",
        binWidth = 500.0)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
  }

  private val q_range_join_sql =
    """SELECT o_orderkey, count(*) AS n_pts,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders, lineitem
      |WHERE o_orderkey % 100 = 0
      |AND l_extendedprice BETWEEN o_totalprice/5 - 500 AND o_totalprice/5 + 500
      |GROUP BY 1""".stripMargin

  /** Interval-overlap join (RangeJoin.intervalOverlap): click windows
    * [ts, ts+2h] × purchase windows [ts, ts+1h] of the same user — all
    * overlapping pairs via the bin-explode equi-join, each pair emitted
    * exactly once at the canonical bin containing max(lo_a, lo_b) (no
    * post-join distinct). The oracle is the plain theta join. */
  def q_overlap_join(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    val a = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id"),
        col("us").as("a_lo"), (col("us") + lit(7200000000L)).as("a_hi"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("b_id"), col("user_id").as("user_id"),
        col("us").as("b_lo"), (col("us") + lit(3600000000L)).as("b_hi"))
    graft.operators.RangeJoin.intervalOverlap(a, b,
        "a_lo", "a_hi", "b_lo", "b_hi",
        binWidth = 3600000000.0, keys = Seq("user_id"),
        maxBinsPerInterval = 4)
      .select(col("a_id"), col("b_id"),
        (least(col("a_hi"), col("b_hi")) -
          greatest(col("a_lo"), col("b_lo"))).as("overlap_us"))
  }

  private val q_overlap_join_sql =
    """WITH a AS (SELECT event_id AS a_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS a_lo,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + 7200000000 AS a_hi
      |  FROM events WHERE event_type = 'click'),
      |b AS (SELECT event_id AS b_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS b_lo,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS b_hi
      |  FROM events WHERE event_type = 'purchase')
      |SELECT a_id, b_id,
      |  least(a_hi, b_hi) - greatest(a_lo, b_lo) AS overlap_us
      |FROM a JOIN b USING (user_id)
      |WHERE a_lo <= b_hi AND b_lo <= a_hi""".stripMargin

  /** Z-order (Morton) clustering key over lineitem's (l_orderkey, l_partkey)
    * plane (operators.ZOrder — beyond-reference data-layout lever): 8-bit
    * min/max quantization per dimension, bit-interleaved into one long by a
    * static shift/mask Column sum. The oracle recomputes quantization and
    * interleaving bit-for-bit with DuckDB list lambdas; ZOrderSpec pins the
    * layout claim itself (summed per-partition bounding-box area shrinks vs
    * round-robin). */
  def q_zorder(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    graft.operators.ZOrder.zvalue(li, Seq("l_orderkey", "l_partkey"), bits = 8)
  }

  private val q_zorder_sql =
    """WITH b AS (
      |  SELECT min(l_orderkey) AS mino, max(l_orderkey) AS maxo,
      |         min(l_partkey) AS minp, max(l_partkey) AS maxp FROM lineitem),
      |q AS (
      |  SELECT l_orderkey, l_partkey,
      |    CAST(floor(((l_orderkey - mino) * 255.0) / (maxo - mino)) AS BIGINT) AS qx,
      |    CAST(floor(((l_partkey - minp) * 255.0) / (maxp - minp)) AS BIGINT) AS qy
      |  FROM lineitem, b)
      |SELECT l_orderkey, l_partkey,
      |  CAST(list_sum(list_transform(range(0, 8),
      |    i -> ((qx >> i) & 1) * (1 << (2 * i)) + ((qy >> i) & 1) * (1 << (2 * i + 1))))
      |    AS BIGINT) AS zval
      |FROM q""".stripMargin

  // =====================================================================
  // §2.10 iteration (driver-loop fixpoints — graft.operators.Iteration)
  // =====================================================================

  /** nation chain edges: consecutive nations (by key) within each region —
    * the small deterministic graph driving TC and PageRank. */
  private def nationChain(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))
    tbl(s, dir, "nation")
      .withColumn("next", lead(col("n_nationkey"), 1).over(w))
      .filter(col("next").isNotNull)
      .select(col("n_nationkey").cast("long").as("src"),
              col("next").cast("long").as("dst"))
  }

  /** Multi-source shortest paths (Graph.sssp — delta-iterate Bellman–Ford
    * relaxation) over the weighted nation chains: edge weight = dst key + 1,
    * sources = each region's chain head. The chain structure gives the
    * oracle a closed form — dist = running sum of (key+1) along the region
    * chain, zero at the head — while the operator itself is the general
    * frontier relaxation (GraphSpec pins it ≡ driver-side Dijkstra on
    * random cyclic graphs). */
  def q_sssp(s: SparkSession, dir: String): DataFrame = {
    val edges = nationChain(s, dir)
      .select(col("src"), col("dst"), (col("dst") + 1).as("w"))
    val heads = tbl(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(min(col("n_nationkey")).cast("long").as("node"))
      .select(col("node"))
    graft.algorithms.Graph.sssp(edges, heads, parallelism = Some(1))
  }

  private val q_sssp_sql =
    """WITH n AS (SELECT n_nationkey AS k, n_regionkey AS r,
      |    row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
      |  FROM nation)
      |SELECT CAST(k AS BIGINT) AS node,
      |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE k + 1 END)
      |    OVER (PARTITION BY r ORDER BY rn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dist
      |FROM n""".stripMargin

  /** connected components via min-label propagation (reference:
    * examples/connected_components.rs) on the bipartite customer–order graph.
    * Oracle: each star's min label is its customer key. */
  def q_connected_components(s: SparkSession, dir: String): DataFrame = {
    val edges = tbl(s, dir, "orders").select(
      col("o_custkey").as("src"),
      (col("o_orderkey") + 10000000L).as("dst"))
    // orderkey is unique → the edge list is duplicate-free by construction
    graft.algorithms.Graph.connectedComponents(edges, dedupeEdges = false)
  }

  private val q_connected_components_sql =
    """SELECT o_orderkey + 10000000 AS node, o_custkey AS component FROM orders
      |UNION ALL
      |SELECT DISTINCT o_custkey AS node, o_custkey AS component FROM orders""".stripMargin

  /** transitive closure (reference: examples/transitive_closure.rs) of the
    * nation chain: reachability = later nation in the same region. */
  def q_transitive_closure(s: SparkSession, dir: String): DataFrame =
    // 25-node graph: single partition avoids per-round task-scheduling cost
    graft.algorithms.Graph.transitiveClosure(nationChain(s, dir), parallelism = Some(1))

  private val q_transitive_closure_sql =
    """SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
      |FROM nation a JOIN nation b
      |ON a.n_regionkey = b.n_regionkey AND b.n_nationkey > a.n_nationkey""".stripMargin

  /** `iterate` (src/operator/iteration/iterate.rs:371) — the dataset+state
    * loop with a driver-folded stop condition — on the Collatz total
    * stopping time over part-key-derived starts (the examples/collatz
    * exhibit, made oracle-checkable: DuckDB replays the exact trajectory
    * with a recursive CTE). Each Spark round advances every unfinished
    * row up to 64 Collatz steps inside one narrow map (domain ≤ 998 ⇒
    * trajectories ≤ 178 steps ⇒ 3 rounds), the folded state counts
    * unfinished rows, and the loop exits when it hits zero — exercising
    * body, foldState AND cond. The fold's count is each round's one job
    * and materializes the round's lazily cut lineage. */
  def q_iterate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val domain = tbl(s, dir, "part")
      .select((col("p_partkey").cast("long") % 997L + 2L).as("n"))
      .distinct().as[Long].map(n => (n, n, 0L))
    val (_, fin) = graft.operators.Iteration.iterate(
      domain, maxIter = 8, init = 1L) { (ds, _) =>
        ds.map { case (start, cur0, steps0) =>
          var cur = cur0; var steps = steps0; var i = 0
          while (i < 64 && cur > 1L) {
            cur = if (cur % 2 == 0) cur / 2 else 3 * cur + 1
            steps += 1; i += 1
          }
          (start, cur, steps)
        }
      } { (ds, _) => ds.filter(_._2 > 1L).count() } { _ > 0L }
    fin.map { case (start, _, steps) => (start, steps) }
      .toDF("start_n", "steps")
  }

  private val q_iterate_sql =
    """WITH RECURSIVE dom AS (
      |  SELECT DISTINCT CAST(p_partkey % 997 + 2 AS BIGINT) AS n FROM part),
      |c AS (
      |  SELECT n AS start_n, n AS cur, CAST(0 AS BIGINT) AS steps FROM dom
      |  UNION ALL
      |  SELECT start_n,
      |    CASE WHEN cur % 2 = 0 THEN cur // 2 ELSE 3 * cur + 1 END,
      |    steps + 1
      |  FROM c WHERE cur > 1)
      |SELECT start_n, max(steps) AS steps FROM c GROUP BY 1""".stripMargin

  /** PageRank, 3 rounds, d=0.85, no dangling redistribution (reference:
    * examples/pagerank.rs). The chain graph has in-degree ≤ 1, so every FP
    * operation has a fixed order on both engines — ranks match bitwise. */
  def q_pagerank(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.pageRank(nationChain(s, dir), iterations = 3,
      parallelism = Some(1))

  private val q_pagerank_sql =
    """WITH E AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS src,
      |         CAST(lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS BIGINT) AS dst
      |  FROM nation QUALIFY dst IS NOT NULL),
      |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
      |params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |od AS (SELECT src, count(*) AS outdeg FROM E GROUP BY src),
      |r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM params) AS rank FROM nodes),
      |r1 AS (SELECT nd.node,
      |         (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM params) + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS rank
      |       FROM nodes nd LEFT JOIN (
      |         SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
      |         FROM E e JOIN od ON e.src = od.src JOIN r0 r ON r.node = e.src
      |         GROUP BY e.dst) s ON nd.node = s.node),
      |r2 AS (SELECT nd.node,
      |         (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM params) + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS rank
      |       FROM nodes nd LEFT JOIN (
      |         SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
      |         FROM E e JOIN od ON e.src = od.src JOIN r1 r ON r.node = e.src
      |         GROUP BY e.dst) s ON nd.node = s.node),
      |r3 AS (SELECT nd.node,
      |         (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM params) + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS rank
      |       FROM nodes nd LEFT JOIN (
      |         SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
      |         FROM E e JOIN od ON e.src = od.src JOIN r2 r ON r.node = e.src
      |         GROUP BY e.dst) s ON nd.node = s.node)
      |SELECT node, rank FROM r3""".stripMargin

  /** Personalized PageRank from four anchor nations, 3 rounds on the nation
    * chain (Graph.personalizedPageRank): teleport mass restricted to the
    * source set, so rank concentrates downstream of the anchors — the
    * random-walk-with-restart behind "related items". Chain in-degree ≤ 1
    * keeps the FP order fixed; the oracle unrolls the identical
    * arithmetic. */
  def q_ppr(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.personalizedPageRank(nationChain(s, dir),
      sources = Seq(0L, 7L, 14L, 21L), iterations = 3, parallelism = Some(1))

  private val q_ppr_sql =
    """WITH E AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS src,
      |         CAST(lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS BIGINT) AS dst
      |  FROM nation QUALIFY dst IS NOT NULL),
      |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
      |od AS (SELECT src, count(*) AS outdeg FROM E GROUP BY src),
      |r0 AS (SELECT node,
      |         CASE WHEN node IN (0, 7, 14, 21) THEN CAST(1 AS DOUBLE) / 4 ELSE CAST(0 AS DOUBLE) END AS rank
      |       FROM nodes),
      |r1 AS (SELECT nd.node,
      |         CASE WHEN nd.node IN (0, 7, 14, 21) THEN (1 - CAST(0.85 AS DOUBLE)) / 4 ELSE CAST(0 AS DOUBLE) END
      |           + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS rank
      |       FROM nodes nd LEFT JOIN (
      |         SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
      |         FROM E e JOIN od ON e.src = od.src JOIN r0 r ON r.node = e.src
      |         GROUP BY e.dst) s ON nd.node = s.node),
      |r2 AS (SELECT nd.node,
      |         CASE WHEN nd.node IN (0, 7, 14, 21) THEN (1 - CAST(0.85 AS DOUBLE)) / 4 ELSE CAST(0 AS DOUBLE) END
      |           + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS rank
      |       FROM nodes nd LEFT JOIN (
      |         SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
      |         FROM E e JOIN od ON e.src = od.src JOIN r1 r ON r.node = e.src
      |         GROUP BY e.dst) s ON nd.node = s.node),
      |r3 AS (SELECT nd.node,
      |         CASE WHEN nd.node IN (0, 7, 14, 21) THEN (1 - CAST(0.85 AS DOUBLE)) / 4 ELSE CAST(0 AS DOUBLE) END
      |           + CAST(0.85 AS DOUBLE) * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS rank
      |       FROM nodes nd LEFT JOIN (
      |         SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
      |         FROM E e JOIN od ON e.src = od.src JOIN r2 r ON r.node = e.src
      |         GROUP BY e.dst) s ON nd.node = s.node)
      |SELECT node, rank FROM r3""".stripMargin

  /** Triangle count over the region cliques (the 5 nations of a region form
    * a 5-clique → C(5,3)=10 triangles each) in the reference's fold shape
    * (examples/triangles_fold.rs): group_by_fold adjacency → wedges → close
    * with an edge join → fold_assoc count. */
  def q_triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tbl(s, dir, "nation").as("a")
      .join(tbl(s, dir, "nation").as("b"),
        col("a.n_regionkey") === col("b.n_regionkey") &&
          col("a.n_nationkey") < col("b.n_nationkey"))
      .select(col("a.n_nationkey").cast("long"), col("b.n_nationkey").cast("long"))
      .as[(Long, Long)]
    graft.examples.Triangles.countStream(new graft.api.Stream(edges))
      .ds.toDF("n_triangles")
  }

  private val q_triangles_sql =
    """WITH e AS (SELECT CAST(a.n_nationkey AS BIGINT) AS a, CAST(b.n_nationkey AS BIGINT) AS b
      |  FROM nation a JOIN nation b
      |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey)
      |SELECT count(*) AS n_triangles FROM e e1
      |JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin

  /** Incremental (delta) PageRank, 4 rounds on the nation chain — the
    * reference's stateful pagerank (examples/pagerank_stateful.rs) on the
    * true workset/solution-set operator (Iteration.deltaIterate). The chain
    * has in-degree ≤ 1, so the increment recursion has a fixed FP order and
    * the oracle unrolls the identical arithmetic. */
  def q_pagerank_delta(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.pageRankDelta(nationChain(s, dir), maxIter = 4,
      parallelism = Some(1))._1

  private def q_pagerank_delta_sql: String = {
    val rounds = 4
    val sb = new StringBuilder
    sb ++= """WITH E AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |         CAST(lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS BIGINT) AS dst
             |  FROM nation QUALIFY dst IS NOT NULL),
             |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
             |params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
             |od AS (SELECT src, count(*) AS outdeg FROM E GROUP BY src),
             |r0 AS (SELECT node, (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM params) AS rank FROM nodes),
             |u0 AS (SELECT node, rank AS val FROM r0),
             |""".stripMargin
    for (t <- 1 to rounds) {
      sb ++= s"""d$t AS (SELECT e.dst AS node, sum(u.val / od.outdeg) AS ds
                |  FROM E e JOIN od ON e.src = od.src JOIN u${t - 1} u ON u.node = e.src
                |  GROUP BY e.dst),
                |r$t AS (SELECT r.node,
                |    CASE WHEN d.node IS NULL THEN r.rank
                |         ELSE r.rank + CAST(0.85 AS DOUBLE) * d.ds END AS rank
                |  FROM r${t - 1} r LEFT JOIN d$t d ON r.node = d.node),
                |u$t AS (SELECT d.node, CAST(0.85 AS DOUBLE) * d.ds AS val FROM d$t d),
                |""".stripMargin
    }
    // drop the loop's trailing ",\n" before the final SELECT
    sb.setLength(sb.length - 2)
    sb ++= s"\nSELECT node, rank FROM r$rounds"
    sb.toString
  }

  /** k-means over the embeddings table (reference: examples/kmeans.rs via
    * `replay`): deterministic init (lowest ids), 5 Lloyd rounds. Centroids
    * are rounded to 6 decimals per round and the argmin compares rounded
    * distances, which makes the whole trajectory engine-independent — the
    * oracle unrolls the same 5 Lloyd iterations in SQL. */
  def q_kmeans(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.KMeans.assign(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 4, iterations = 5)

  private def q_kmeans_sql: String = {
    val k = 4; val iters = 5; val dim = 64
    // distance: sequential-order list_sum == Spark's sequential fold; both
    // argmins compare round(dist, 6) with cluster-id tie-break, and each
    // round's centroids are round(avg, 6) — identical trajectories.
    def assignExpr(c: String) =
      s"""SELECT vec_id, cl FROM (
         |  SELECT e.vec_id, c.cl, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY round(list_sum(list_transform(range(1, ${dim + 1}),
         |      i -> (e.v[i] - c.ctr[i]) * (e.v[i] - c.ctr[i]))), 6), c.cl) AS rn
         |  FROM emb e CROSS JOIN $c c) WHERE rn = 1""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |           FROM embeddings),
              |dims AS (SELECT unnest(range(1, ${dim + 1})) AS d),
              |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cl, v AS ctr
              |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $k)),
              |""".stripMargin
    for (t <- 0 until iters) {
      sb ++= s"a$t AS (${assignExpr(s"c$t")}),\n"
      sb ++= s"""c${t + 1} AS (SELECT p.cl, coalesce(nw.ctr, p.ctr) AS ctr FROM c$t p LEFT JOIN (
                |  SELECT cl, list(rv ORDER BY d) AS ctr FROM (
                |    SELECT a.cl AS cl, dims.d AS d, round(avg(e.v[dims.d]), 6) AS rv
                |    FROM a$t a JOIN emb e USING (vec_id) CROSS JOIN dims
                |    GROUP BY a.cl, dims.d) GROUP BY cl) nw ON nw.cl = p.cl),
                |""".stripMargin
    }
    sb ++= s"fin AS (${assignExpr(s"c$iters")})\n"
    sb ++= "SELECT vec_id AS id, CAST(cl AS BIGINT) AS cluster FROM fin"
    sb.toString
  }

  // =====================================================================
  // NEXMark q1–q8 rebuilt over the events table (reference:
  // examples/nexmark.rs:92-494 — the reference's own query set; events
  // stand in for bids, user_id for auction/person keys, value for price).
  // =====================================================================

  /** q1 currency conversion — pure map, stays in one codegen stage. */
  def nx_q1(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_id"), col("user_id"),
      (col("value") * lit(0.908)).as("eur"))

  private val nx_q1_sql =
    "SELECT event_id, user_id, value * CAST(0.908 AS DOUBLE) AS eur FROM events"

  /** q2 selection — filter pushed to the scan. */
  def nx_q2(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("user_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("value"))

  private val nx_q2_sql =
    "SELECT event_id, user_id, value FROM events WHERE user_id % 20 = 0"

  /** q3 local item suggestion — two filtered substreams equi-joined. */
  def nx_q3(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val signup = e.filter(col("event_type") === "signup" && col("value") > 30)
      .select(col("user_id").as("s_user"), col("event_id").as("s_id"))
    val purchase = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"))
    signup.join(purchase, col("s_user") === col("p_user"))
      .select(col("s_user").as("user_id"), col("s_id"), col("p_id"))
  }

  private val nx_q3_sql =
    """SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id
      |FROM events s JOIN events p ON s.user_id = p.user_id
      |WHERE s.event_type = 'signup' AND s.value > 30 AND p.event_type = 'purchase'""".stripMargin

  /** q4 average final price per seller: max purchase per (user, day) —
    * the auction close — then per-user average of those maxima. */
  def nx_q4(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(max(col("value")).as("final_price"))
      .groupBy(col("user_id"))
      .agg((sum(dec(col("final_price"))).cast("double") / count(lit(1))).as("avg_final"))

  private val nx_q4_sql =
    """SELECT user_id,
      |  CAST(sum(CAST(final_price AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_final
      |FROM (SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
      |        max(value) AS final_price
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |GROUP BY user_id""".stripMargin

  /** q5 hot items: the user with the most clicks per sliding window
    * (1 day / 12 h), ties to the smaller user_id. */
  def nx_q5(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir).filter(col("event_type") === "click")
      .groupBy(window(col("ts"), "1 day", "12 hours").getField("start").as("ws"),
               col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("ws")).orderBy(col("n").desc, col("user_id").asc)
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(unix_micros(col("ws")).as("w_start"), col("user_id"), col("n"))
  }

  private val nx_q5_sql =
    """SELECT epoch_us(ws) AS w_start, user_id, n FROM (
      |  SELECT ws, user_id, n, row_number() OVER (PARTITION BY ws ORDER BY n DESC, user_id) AS rn
      |  FROM (SELECT time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP)) - k * INTERVAL '12 hours' AS ws,
      |               user_id, count(*) AS n
      |        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
      |        WHERE event_type = 'click' GROUP BY 1, 2))
      |WHERE rn = 1""".stripMargin

  /** q6 average of the last 10 purchases per user — frame aggregate, then
    * the latest row per user. */
  def nx_q6(s: SparkSession, dir: String): DataFrame = {
    val purchases = events(s, dir).filter(col("event_type") === "purchase")
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
    val latest = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    purchases
      .withColumn("avg10",
        sum(dec(col("value"))).over(frame).cast("double") / count(lit(1)).over(frame))
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("avg10"))
  }

  private val nx_q6_sql =
    """SELECT user_id, avg10 FROM (
      |  SELECT user_id,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(*) OVER w AS avg10,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      |WHERE rn = 1""".stripMargin

  /** q7 highest bid per tumbling day — the event achieving the window max. */
  def nx_q7(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(date_trunc("day", col("ts")))
      .orderBy(col("value").desc, col("event_id").asc)
    events(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(unix_micros(date_trunc("day", col("ts"))).as("w_start"),
        col("event_id"), col("user_id"), col("value"))
  }

  private val nx_q7_sql =
    """SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS w_start,
      |  event_id, user_id, value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY date_trunc('day', CAST(ts AS TIMESTAMP))
      |    ORDER BY value DESC, event_id) AS rn FROM events)
      |WHERE rn = 1""".stripMargin

  /** q8 monitor new users: users with both a signup and a purchase in the
    * same tumbling day. */
  def nx_q8(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("d", date_trunc("day", col("ts")))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("d")).distinct()
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("d")).distinct()
    signups.join(purchases, Seq("user_id", "d"))
      .select(col("user_id"), unix_micros(col("d")).as("w_start"))
  }

  private val nx_q8_sql =
    """SELECT s.user_id, epoch_us(s.d) AS w_start
      |FROM (SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
      |      FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
      |      FROM events WHERE event_type = 'purchase') p
      |ON s.user_id = p.user_id AND s.d = p.d""".stripMargin

  // =====================================================================
  // NEXMark stateful queries through the REAL Structured Streaming path —
  // the reference runs q1–q8 as a STREAMING benchmark (benches/nexmark.rs:
  // 15-16, watermark every 2^20 events); the batch ports above share their
  // DuckDB oracles with these twins, so batch ≡ stream is driver-checked.
  // =====================================================================

  /** Streaming nx_q4 — auction close via the TransactionWindow CommitAfter
    * machine, exactly the reference's shape (descr/transaction.rs:100-131;
    * nexmark q4 closes an auction when event time passes its expiry):
    * purchases keyed by user, each arming CommitAfter(end of its own day);
    * a later-day purchase commits the window, and the trailing pending
    * window flushes through the bounded-replay reconciliation
    * ([[graft.streaming.Streaming.transactionWindowBounded]] — the batch
    * machine's end-of-stream tail). Windows therefore equal the (user, day)
    * groups; the epilogue averages the per-window maxima per user over the
    * window-count-sized reconciled set. */
  def q_stream_nx4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emits = runStream(s, { src =>
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_millis(date_trunc("day", col("ts"))).as("day_ms"),
          col("value"), unix_millis(col("ts")).as("ts_ms"))
        .as[(Long, Long, Double, Long)]
        .map { case (u, d, v, t) => (u, (d, v, t)) }
      graft.streaming.Streaming.transactionWindowBounded(
        purchases,
        (v: (Long, Double, Long)) =>
          graft.streaming.Streaming.TxCommitAfter(v._1 + 86399999L),
        (v: (Long, Double, Long)) => v._3,
        (v: (Long, Double, Long)) => v._3)(ws => ws.map(_._2).max)
        .toDF("key", "win_seq", "kind", "emit_seq", "out")
    }, "append", dir)
    graft.streaming.Streaming.reconcileTxBounded(emits)
      .groupBy(col("key"))
      .agg((sum(dec(col("out"))).cast("double") / count(lit(1))).as("avg_final"))
      .select(col("key").as("user_id"), col("avg_final"))
  }

  /** Streaming nx_q5 hot items: the sliding-window click counts run as a
    * real streaming aggregation in UPDATE mode — each trigger emits only
    * the (window, user) rows it CHANGED, so sink traffic is
    * changed-rows-sized instead of the whole windows×users state re-dumped
    * per micro-batch (the round-13 complete-mode shape). The count is
    * monotone per key, so max(n) over a key's emissions IS its final value
    * — the exact upsert a keyed sink applies — and the per-window argmax
    * then ranks that report-sized reconstruction. */
  def q_stream_nx5(s: SparkSession, dir: String): DataFrame = {
    val counts = runStream(s, src => src
      .filter(col("event_type") === "click")
      .groupBy(window(col("ts"), "1 day", "12 hours").getField("start").as("ws"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("ws")).as("w_start"), col("user_id"), col("n")),
      "update", dir)
    val finals = counts.groupBy(col("w_start"), col("user_id"))
      .agg(max(col("n")).as("n"))
    val w = Window.partitionBy(col("w_start"))
      .orderBy(col("n").desc, col("user_id").asc)
    finals.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("w_start"), col("user_id"), col("n"))
  }

  /** Streaming nx_q7 highest bid per tumbling day — one streaming
    * aggregation whose state is a single struct per day: the argmax rides a
    * lexicographic struct-max (value desc, then event_id asc via the negated
    * id), so ties break exactly like the batch row_number and no second
    * stateful operator is needed. UPDATE mode emits a day's struct only on
    * the triggers that raise it; struct-max is monotone, so re-maxing the
    * emissions per day reconstructs exactly the final state (sink traffic
    * changed-days-sized per trigger, not all-days). */
  def q_stream_nx7(s: SparkSession, dir: String): DataFrame = {
    val emits = runStream(s, src => src
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(max(struct(col("value").as("v"), (-col("event_id")).as("ni"),
        col("user_id").as("u"), col("event_id").as("e"))).as("top"))
      .select(unix_micros(col("d")).as("w_start"), col("top")),
      "update", dir)
    emits.groupBy(col("w_start")).agg(max(col("top")).as("top"))
      .select(col("w_start"), col("top.e").as("event_id"),
        col("top.u").as("user_id"), col("top.v").as("value"))
  }

  /** Streaming nx_q8 monitor new users — signup AND purchase in the same
    * tumbling day, emitted EXACTLY ONCE per (user, day) the moment the
    * second polarity arrives. Routed through the PRODUCTION state-eviction
    * path [[graft.streaming.Streaming.bothSeenOnceTtl]] (event-time TTL:
    * a (user, day) whose newest event falls `ttl` behind the watermark
    * leaves the store — the unbounded-key-space answer), at a 90-day
    * horizon that is provably inert at test scale (the events table spans
    * ~1 month, so nothing expires and the emission set equals the
    * unbounded [[graft.streaming.Streaming.bothSeenOnce]] gate — same
    * batch oracle). The expiry itself is pinned by StreamingSpec's
    * bothSeenOnceTtl numRowsTotal case. O(1) state per LIVE key,
    * order-independent. */
  def q_stream_nx8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, { src =>
      // the tuple is assembled in COLUMN space (not a typed .map): a typed
      // map re-serializes into fresh attributes that drop the event-time
      // watermark metadata, and EventTimeTimeout then rejects the plan —
      // aliasing keeps the watermarked ts attribute's tag intact
      val flagged = src
        .withWatermark("ts", "1 hour")
        .filter(col("event_type").isin("signup", "purchase"))
        .select(struct(col("user_id").as("_1"),
            unix_micros(date_trunc("day", col("ts"))).as("_2")).as("_1"),
          (col("event_type") === "signup").as("_2"),
          col("ts").as("_3"))
        .as[((Long, Long), Boolean, java.sql.Timestamp)]
      graft.streaming.Streaming
        .bothSeenOnceTtl(flagged, ttlMs = 90L * 86400000L)
        .toDF("user_id", "w_start")
    }, "append", dir)
  }

  /** Streaming nx_q1 currency conversion — a stateless narrow map runs on
    * the stream unchanged (one codegen stage per micro-batch). */
  def q_stream_nx1(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => src.select(col("event_id"), col("user_id"),
      (col("value") * lit(0.908)).as("eur")), "append", dir)

  /** Streaming nx_q2 selection — the filter runs against each micro-batch's
    * scan, stateless append. */
  def q_stream_nx2(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => src.filter(col("user_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("value")), "append", dir)

  /** Streaming nx_q3 local item suggestion — a stream-stream SELF-join of
    * two filtered substreams, TIME-BOUNDED the production way: both sides
    * watermarked and the join keyed on (user_id, same event-time DAY
    * window), so Spark evicts a day's join state once the watermark passes
    * its end instead of retaining every signup and purchase forever (the
    * round-13 unbounded port was the catalog's one streaming-join-OOM
    * shape at 100× volume; the reference's nexmark q3 person-table join —
    * examples/nexmark.rs:134-139 — is unbounded too, a deliberate
    * divergence documented in SCALE.md; batch [[nx_q3]] keeps the
    * unbounded semantics). A signup still pairs with same-day purchases
    * from EARLIER batches and vice versa — inner-join pairs emit as
    * matched — so the bounded run's append output equals the day-bounded
    * batch join (own oracle below). StreamingSpec pins the eviction:
    * numRowsTotal DROPS after the watermark advances past a day. */
  def q_stream_nx3(s: SparkSession, dir: String): DataFrame =
    runStream(s, { src =>
      // the day-window column is PROJECTED on each watermarked side
      // (window() only resolves in a projection, not a join condition);
      // its equality in the join key is what Spark's state-watermark
      // derivation recognizes for eviction
      val signup = src.filter(col("event_type") === "signup" && col("value") > 30)
        .select(col("user_id").as("s_user"), col("event_id").as("s_id"),
          col("ts").as("s_ts"))
        .withWatermark("s_ts", "1 hour")
        .select(col("s_user"), col("s_id"), window(col("s_ts"), "1 day").as("s_w"))
      val purchase = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
        .select(col("p_user"), col("p_id"), window(col("p_ts"), "1 day").as("p_w"))
      signup.join(purchase,
          col("s_user") === col("p_user") && col("s_w") === col("p_w"))
        .select(col("s_user").as("user_id"), col("s_id"), col("p_id"))
    }, "append", dir)

  /** Day-bounded oracle for [[q_stream_nx3]] — the batch nx_q3 predicate
    * plus same-day equality, matching the watermark-evictable join key. */
  private val q_stream_nx3_sql =
    """SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id
      |FROM events s JOIN events p ON s.user_id = p.user_id
      | AND date_trunc('day', CAST(s.ts AS TIMESTAMP)) = date_trunc('day', CAST(p.ts AS TIMESTAMP))
      |WHERE s.event_type = 'signup' AND s.value > 30 AND p.event_type = 'purchase'""".stripMargin

  /** Streaming nx_q6 average of the last 10 purchases per user — a keyed
    * ring buffer (O(10) state per user) folded in (ts, event_id) order
    * within each batch, relying on the runStream ts-range contract across
    * batches. Each batch emits the refreshed (user, n_purchases, avg10);
    * the epilogue keeps the newest emission per user (the funnel twin's
    * n_events discipline), report-sized. The average reproduces the batch
    * decimal discipline: per-value DECIMAL(18,2) (HALF_UP), exact sum,
    * one double division. */
  def q_stream_nx6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val emits = runStream(s, { src =>
      src.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Seq[Double], Long), (Long, Long, Double)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long, Long, Double)],
           state: GroupState[(Seq[Double], Long)]) =>
            var (ring, n) = state.getOption.getOrElse((Seq.empty[Double], 0L))
            val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
            buf ++= ring
            rows.toVector.sortBy(r => (r._2, r._3)).foreach { r =>
              buf += r._4; n += 1
              if (buf.size > 10) buf.remove(0)
            }
            state.update((buf.toSeq, n))
            val sum = buf.foldLeft(java.math.BigDecimal.ZERO) { (a, v) =>
              // valueOf (shortest decimal repr), NOT new BigDecimal(v) (exact
              // binary expansion): Spark's double→DECIMAL(18,2) cast rounds
              // the shortest repr, and the two disagree at .xx5 boundaries
              a.add(java.math.BigDecimal.valueOf(v)
                .setScale(2, java.math.RoundingMode.HALF_UP))
            }
            Iterator.single((user, n, sum.doubleValue() / buf.size))
        }
        .toDF("user_id", "n", "avg10")
    }, "append", dir)
    val latest = Window.partitionBy(col("user_id")).orderBy(col("n").desc)
    emits.withColumn("rn", row_number().over(latest)).filter(col("rn") === 1)
      .select(col("user_id"), col("avg10"))
  }

  /** TF-IDF top terms (TextAnalysis.tfidfTopTerms): per-doc top-3 keywords,
    * tf·ln(N/df) rounded to 6 dp on both engines, ties broken (score desc,
    * term asc). Document frequencies broadcast back onto the tf table. */
  def q_tfidf(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"),
      "doc_id", "text", k = 3)

  private val q_tfidf_sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |t AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      |      GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS dfc FROM t GROUP BY 1),
      |n AS (SELECT count(*) AS nd FROM documents),
      |s AS (SELECT t.doc_id, t.term, t.tf,
      |        round(t.tf * ln(CAST(nd AS DOUBLE) / CAST(dfc AS DOUBLE)), 6) AS score
      |      FROM t JOIN dfq USING (term) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn FROM s)
      |SELECT doc_id, term, tf, score FROM r WHERE rn <= 3""".stripMargin

  /** BM25 retrieval (TextAnalysis.bm25TopDocs): top-20 docs for the query
    * {dup, spark, vector} (one rare + two common terms exercises the idf
    * spread). Every floating-point step is order-pinned — integer-exact
    * avgLen, per-term parts folded in term-lexicographic order, 6-dp
    * rounding — so the oracle reproduces the scores bit-for-bit. */
  def q_bm25(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.bm25TopDocs(tbl(s, dir, "documents"),
      "doc_id", "text", Seq("dup", "spark", "vector"), k = 20)

  private val q_bm25_sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |lens AS (SELECT doc_id, len(list_filter(w, x -> x <> '')) AS len FROM d),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avglen
      |       FROM lens),
      |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
      |t AS (SELECT doc_id, term, count(*) AS tf FROM tok
      |      WHERE term IN ('dup', 'spark', 'vector') GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfc FROM t GROUP BY 1),
      |p AS (SELECT t.doc_id, t.term,
      |        ln(1.0 + (st.nd - dfq.dfc + 0.5) / (dfq.dfc + 0.5)) *
      |        (CAST(t.tf AS DOUBLE) * 2.2) /
      |        (CAST(t.tf AS DOUBLE) +
      |         1.2 * (0.25 + 0.75 * CAST(lens.len AS DOUBLE) / st.avglen)) AS part
      |      FROM t JOIN dfq USING (term) JOIN lens USING (doc_id) CROSS JOIN st),
      |sc AS (SELECT doc_id,
      |        round(coalesce(max(CASE WHEN term = 'dup' THEN part END), 0.0)
      |            + coalesce(max(CASE WHEN term = 'spark' THEN part END), 0.0)
      |            + coalesce(max(CASE WHEN term = 'vector' THEN part END), 0.0),
      |          6) AS score
      |       FROM p GROUP BY 1)
      |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Persistent inverted-index retrieval (functions.InvertedIndex): the
    * SAME query as q_bm25, but through the build → save (postings
    * partitioned by term-hash bucket) → load → query path, so the driver
    * gate exercises partition-pruned retrieval from a MATERIALIZED index —
    * the build-once/query-many production shape — not just the in-memory
    * scoring core. Index cached on disk under a corpus content fingerprint
    * (the q_wordcount_file staleness discipline: a regenerated corpus gets
    * a fresh path; publication is the CacheKey.publishDir tmp+atomic-move,
    * so concurrent sessions can never read a half-written index). */
  def q_inverted_index(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    // the index stores doc_id postings, so the fingerprint must cover the
    // ids too — a text-only hash would serve stale postings if ids were
    // ever reassigned over identical text
    val fp = graft.functions.CacheKey.memoFp(s"invidx|$dir") {
      graft.functions.CacheKey.contentFp(docs, col("doc_id"), col("text"))
    }
    val path = graft.functions.CacheKey.path("invidx", version = 2, sfTag,
      Seq("doc_id", "text"), fp)
    graft.functions.CacheKey.publishDir(path) { tmp =>
      val built = graft.functions.InvertedIndex.build(docs, "doc_id", "text")
      graft.functions.InvertedIndex.save(built, tmp)
      built.release() // drop the lens cache once the index is on disk
    }
    graft.functions.InvertedIndex.query(
      graft.functions.InvertedIndex.load(s, path),
      Seq("dup", "spark", "vector"), k = 20)
  }

  /** Exact phrase search (InvertedIndex.buildPositional + phraseQuery):
    * every (doc, start) occurrence of a 3-token phrase. Postings are
    * pruned to the phrase's terms up front (bucket + term predicates —
    * posting-list-sized I/O on a saved index), slots align map-side, and
    * ONE (doc, start)-keyed aggregate replaces the per-slot N-way
    * self-join chain. */
  def q_phrase_search(s: SparkSession, dir: String): DataFrame =
    graft.functions.InvertedIndex.phraseQuery(
      graft.functions.InvertedIndex.buildPositional(
        tbl(s, dir, "documents"), "doc_id", "text"),
      Seq("slow", "hash", "batch"))

  private val q_phrase_search_sql =
    """SELECT doc_id, CAST(i - 1 AS BIGINT) AS start
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |     UNNEST(range(1, len(w) + 1)) AS t(i)
      |WHERE i + 2 <= len(w)
      |  AND w[i] = 'slow' AND w[i+1] = 'hash' AND w[i+2] = 'batch'""".stripMargin

  /** Exact grouped quantiles: interpolated p50/p95 per return flag — Spark
    * `percentile` ≡ DuckDB `quantile_cont` (both sort-exact, linearly
    * interpolated; 6-dp rounding absorbs the interpolation-arithmetic
    * difference). At scale the per-group sort is the cost — for sketched
    * quantiles use `percentile_approx` (same call shape, mergeable). */
  def q_group_quantiles(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("q50"))

  private val q_group_quantiles_sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS q50
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Repeated-span profile (Dedup.dupSpanProfile): per document, the
    * fraction of its word 5-gram occurrences shared with at least one other
    * document — the sub-document dedup signal doc-level methods miss. The
    * oracle recomputes the gram hashes, the cross-doc gram set
    * (min≠max doc), and the per-doc fractions. */
  def q_dup_spans(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Dedup.dupSpanProfile(tbl(s, dir, "documents"),
      "doc_id", "text", n = 5, portable = portable)

  private val q_dup_spans_sql =
    """WITH sh AS (
      |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(range(1, len(w) - 3)) AS t(i)),
      |hv AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM sh),
      |dg AS (SELECT gh FROM hv GROUP BY gh HAVING min(doc_id) <> max(doc_id)),
      |pd AS (SELECT h.doc_id, count(*) AS n_grams, count(dg.gh) AS n_dup_grams
      |       FROM hv h LEFT JOIN dg ON h.gh = dg.gh GROUP BY 1)
      |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
      |  coalesce(n_dup_grams, 0) AS n_dup_grams,
      |  CASE WHEN n_grams IS NULL THEN 0.0
      |       ELSE CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) END AS dup_frac
      |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin

  /** Winnowed dup-span profile (Dedup.winnowProfile): the MOSS fingerprint
    * selection — one rightmost-minimal hash per 4-gram-hash window — run
    * over the same cross-doc dup signal as q_dup_spans at ~2/(w+1) of the
    * index size. The oracle rebuilds the window argmin (ORDER BY gh ASC,
    * pos DESC ≡ the fold's <= tie rule), the distinct selection, and the
    * per-doc fractions. */
  def q_winnow(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Dedup.winnowProfile(tbl(s, dir, "documents"),
      "doc_id", "text", n = 5, w = 4, portable = portable)

  private def q_winnow_sql: String =
    """WITH sh AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS i, array_to_string(w[i:i+4], ' ') AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(range(1, len(w) - 3)) AS t(i)),
      |hv AS (SELECT doc_id, i, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM sh),
      |ng AS (SELECT doc_id, max(i) AS n FROM hv GROUP BY 1),
      |win AS (SELECT st.doc_id, st.i AS s, m.i AS j, m.gh
      |  FROM hv st JOIN ng ON ng.doc_id = st.doc_id AND st.i <= ng.n - 3
      |  JOIN hv m ON m.doc_id = st.doc_id AND m.i BETWEEN st.i AND st.i + 3),
      |sel AS (SELECT DISTINCT doc_id, j AS pos, gh AS fp FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id, s ORDER BY gh ASC, j DESC) AS rn
      |    FROM win) WHERE rn = 1),
      |dup AS (SELECT fp FROM sel GROUP BY fp HAVING min(doc_id) <> max(doc_id)),
      |pd AS (SELECT s.doc_id, count(*) AS n_fps, count(dup.fp) AS n_dup_fps
      |       FROM sel s LEFT JOIN dup ON s.fp = dup.fp GROUP BY 1)
      |SELECT d.doc_id, coalesce(n_fps, 0) AS n_fps,
      |  coalesce(n_dup_fps, 0) AS n_dup_fps,
      |  CASE WHEN n_fps IS NULL THEN 0.0
      |       ELSE CAST(n_dup_fps AS DOUBLE) / CAST(n_fps AS DOUBLE) END AS dup_frac
      |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin

  // =====================================================================
  // Sketches (mergeable distinct-count / frequency summaries)
  // =====================================================================

  /** KMV distinct-count sketch (functions.Sketches.kmvSketch) of
    * lineitem.l_orderkey, k=512: the k smallest distinct item hashes plus
    * the deterministic estimator (k−1)·|H|/h_k. Narrow per-partition
    * bounded-TreeSet pass, then a ≤P·k-row distinct + TakeOrdered — the
    * full-column distinct shuffle never happens. The oracle recomputes the
    * same k hashes and the same estimate arithmetic. */
  def q_distinct_kmv(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    kmvReport(graft.functions.Sketches.kmvSketch(
      tbl(s, dir, "lineitem"), col("l_orderkey").cast("string"), k = 512,
      portable = portable), k = 512, portable)

  /** (h, h_k, n_h, est) projection of a KMV sketch — global stats via a
    * window over the ≤k-row sketch (single tiny task). */
  private def kmvReport(sk: DataFrame, k: Int, portable: Boolean): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sk.select(col("h"),
        max(col("h")).over(w).as("h_k"),
        count(lit(1)).over(w).as("n_h"))
      .select(col("h"), col("h_k"), col("n_h"),
        when(col("n_h") < k, col("n_h").cast("double"))
          .otherwise(lit((k - 1) *
              graft.functions.Sketches.hashSpace(portable)) /
            col("h_k").cast("double"))
          .as("est"))
  }

  /** Persistent KMV sketch store over two crawl cycles (SketchStore): the
    * corpus split at the median order key, each half sketched as its OWN
    * increment and merged with the stored k hashes — history never re-read.
    * Two cycles compose to the sketch of the union (exact sketch algebra),
    * so the loaded store hash-matches the full-corpus q_distinct_kmv
    * oracle. Mode rides in the store path (Verify runs portable, Bench
    * production) under the q_inverted_index fingerprint-cache discipline. */
  def q_kmv_persist(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val k = 512
    val li = tbl(s, dir, "lineitem")
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    val fp = lineitemStoreFp(li, dir)
    val mode = if (portable) "p" else "x"
    val path = graft.functions.CacheKey.path("kmvstore", version = 2, sfTag,
      Seq(mode, k), fp)
    graft.functions.CacheKey.publishDir(path) { tmp =>
      graft.functions.SketchStore.init(s, tmp, k, portable = portable)
      val mid = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
      graft.functions.SketchStore.updateCycle(s, tmp, 1,
        li.filter(col("l_orderkey") <= mid), col("l_orderkey").cast("string"))
      graft.functions.SketchStore.updateCycle(s, tmp, 2,
        li.filter(col("l_orderkey") > mid), col("l_orderkey").cast("string"))
    }
    kmvReport(graft.functions.SketchStore.load(s, path), k, portable)
  }

  /** HyperLogLog distinct sketch of the order-key universe — the register-
    * explicit sibling of q_distinct_kmv (Sketches.hllRegisters/hllReport):
    * 256 registers via one map-side-partial hash aggregate (the exchange
    * moves ≤ partitions·256 one-long rows at any corpus size), raw estimate
    * derived from exact DECIMAL power-of-two sums so the oracle reproduces
    * every register AND the estimate bit-for-bit. */
  def q_distinct_hll(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Sketches.hllReport(
      graft.functions.Sketches.hllRegisters(
        tbl(s, dir, "lineitem"), col("l_orderkey").cast("string"), p = 8,
        portable = portable), p = 8)

  private val q_distinct_hll_sql =
    """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |r AS (SELECT h // 4503599627370496 AS bucket,
      |             h % 4503599627370496 AS w FROM h),
      |regs AS (SELECT bucket,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |  FROM r GROUP BY bucket),
      |t AS (SELECT sum(CAST(power(2.0, 63 - reg) AS DECIMAL(38,0))) AS s,
      |             count(*) AS nb FROM regs),
      |tot AS (SELECT s + (256 - nb) * CAST(power(2.0, 63) AS DECIMAL(38,0)) AS total,
      |               nb FROM t)
      |SELECT bucket, reg, nb AS nonzero,
      |  0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * power(2.0, 63)
      |    / CAST(total AS DOUBLE) AS est
      |FROM regs, tot""".stripMargin

  /** Fixed-bound equi-width histogram of the price column (Sketches
    * .histogram): 256 frozen-grid bins via one map-side-partial count — the
    * mergeable, engine-portable quantile-sketch state (per-shard histograms
    * bin-wise-sum into the corpus histogram across crawl cycles). */
  def q_histogram(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.histogram(
      tbl(s, dir, "lineitem"), col("l_extendedprice"), bins = 256,
      lo = 900.0, hi = 105000.0)

  private val q_histogram_sql =
    """SELECT bin, count(*) AS cnt FROM (
      |  SELECT greatest(0, least(255,
      |    CAST(floor((l_extendedprice - 900.0) * 256.0 / (105000.0 - 900.0)) AS BIGINT))) AS bin
      |  FROM lineitem) GROUP BY bin""".stripMargin

  /** Interpolated quantiles from the frozen-grid histogram (Sketches
    * .histogramQuantiles): rank = ceil(p·n), first crossing bin, linear
    * interpolation inside it — each estimate within one bin width of exact.
    * The whole quantile pass runs on the ≤256-row sketch (one tiny task);
    * fixed-order double arithmetic keeps the oracle bit-identical. */
  def q_quantile_hist(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.histogramQuantiles(
      graft.functions.Sketches.histogram(
        tbl(s, dir, "lineitem"), col("l_extendedprice"), bins = 256,
        lo = 900.0, hi = 105000.0),
      bins = 256, lo = 900.0, hi = 105000.0,
      probs = Seq(0.25, 0.5, 0.75, 0.95, 0.99))

  private val q_quantile_hist_sql =
    """WITH h AS (SELECT greatest(0, least(255,
      |    CAST(floor((l_extendedprice - 900.0) * 256.0 / (105000.0 - 900.0)) AS BIGINT))) AS bin
      |  FROM lineitem),
      |g AS (SELECT bin, count(*) AS cnt FROM h GROUP BY bin),
      |c AS (SELECT bin, cnt,
      |        CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER () AS BIGINT) AS n FROM g),
      |p AS (SELECT CAST(p AS DOUBLE) AS p
      |      FROM (VALUES (0.25), (0.5), (0.75), (0.95), (0.99)) AS t(p)),
      |j AS (SELECT c.*, p.p,
      |        CAST(ceil(p.p * CAST(n AS DOUBLE)) AS BIGINT) AS t
      |      FROM c CROSS JOIN p)
      |SELECT p,
      |  900.0 + (CAST(bin AS DOUBLE)
      |    + (CAST(t AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
      |    * ((105000.0 - 900.0) / 256) AS q_est,
      |  n
      |FROM j WHERE cum >= t AND cum - cnt < t""".stripMargin

  /** Per-group interpolated quantiles from frozen-grid histograms (Sketches
    * .histogramPerGroup + histogramQuantilesPerGroup): p50/p95/p99 of the
    * price per return flag — grouped quantile state bounded at groups·bins
    * rows regardless of corpus size. */
  def q_quantile_group(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.histogramQuantilesPerGroup(
      graft.functions.Sketches.histogramPerGroup(
        tbl(s, dir, "lineitem"), "l_returnflag", col("l_extendedprice"),
        bins = 256, lo = 900.0, hi = 105000.0),
      bins = 256, lo = 900.0, hi = 105000.0, probs = Seq(0.5, 0.95, 0.99))

  private val q_quantile_group_sql =
    """WITH h AS (SELECT l_returnflag AS g, greatest(0, least(255,
      |    CAST(floor((l_extendedprice - 900.0) * 256.0 / (105000.0 - 900.0)) AS BIGINT))) AS bin
      |  FROM lineitem),
      |gg AS (SELECT g, bin, count(*) AS cnt FROM h GROUP BY g, bin),
      |c AS (SELECT g, bin, cnt,
      |        CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n FROM gg),
      |p AS (SELECT CAST(p AS DOUBLE) AS p
      |      FROM (VALUES (0.5), (0.95), (0.99)) AS t(p)),
      |j AS (SELECT c.*, p.p,
      |        CAST(ceil(p.p * CAST(n AS DOUBLE)) AS BIGINT) AS t
      |      FROM c CROSS JOIN p)
      |SELECT g, p,
      |  900.0 + (CAST(bin AS DOUBLE)
      |    + (CAST(t AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
      |    * ((105000.0 - 900.0) / 256) AS q_est,
      |  n
      |FROM j WHERE cum >= t AND cum - cnt < t""".stripMargin

  /** Per-group HLL distinct sketch — distinct order keys per return flag
    * (Sketches.hllRegistersPerGroup/hllReportPerGroup): groups·256 bounded
    * register rows, per-group estimates from the same exact-DECIMAL
    * arithmetic, every register and estimate oracle-replayed. */
  def q_distinct_hll_group(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Sketches.hllReportPerGroup(
      graft.functions.Sketches.hllRegistersPerGroup(
        tbl(s, dir, "lineitem"), "l_returnflag",
        col("l_orderkey").cast("string"), p = 8, portable = portable),
      p = 8)

  private val q_distinct_hll_group_sql =
    """WITH h AS (SELECT l_returnflag AS g,
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |r AS (SELECT g, h // 4503599627370496 AS bucket,
      |             h % 4503599627370496 AS w FROM h),
      |regs AS (SELECT g, bucket,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |  FROM r GROUP BY g, bucket),
      |t AS (SELECT g, bucket, reg,
      |        CAST(sum(CAST(power(2.0, 63 - reg) AS DECIMAL(38,0))) OVER (PARTITION BY g) AS DECIMAL(38,0)) AS s,
      |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS nb
      |      FROM regs)
      |SELECT g, bucket, reg, nb AS nonzero,
      |  0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * power(2.0, 63)
      |    / CAST(s + (256 - nb) * CAST(power(2.0, 63) AS DECIMAL(38,0)) AS DOUBLE) AS est
      |FROM t""".stripMargin

  /** Persistent histogram store over two crawl cycles (HistStore): the
    * corpus split at the median order key, each half histogrammed as its
    * OWN increment on the frozen grid and bin-wise-summed with the stored
    * state — exact algebra, so two cycles compose to the BIT-IDENTICAL
    * histogram of the full corpus and the loaded store hash-matches the
    * q_histogram oracle. Same fingerprint-cache discipline as
    * q_kmv_persist. */
  def q_hist_persist(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    val fp = lineitemStoreFp(li, dir)
    val bins = 256
    val lo = 900.0
    val hi = 105000.0
    val path = graft.functions.CacheKey.path("histstore", version = 2, sfTag,
      Seq(bins, lo, hi), fp)
    graft.functions.CacheKey.publishDir(path) { tmp =>
      graft.functions.HistStore.init(s, tmp, bins = bins, lo = lo, hi = hi)
      val mid = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
      graft.functions.HistStore.updateCycle(s, tmp, 1,
        li.filter(col("l_orderkey") <= mid), col("l_extendedprice"))
      graft.functions.HistStore.updateCycle(s, tmp, 2,
        li.filter(col("l_orderkey") > mid), col("l_extendedprice"))
    }
    graft.functions.HistStore.load(s, path)
  }

  /** Pairwise Pearson correlation matrix over the lineitem measures — ONE
    * partially-aggregated scan collecting exact DECIMAL moment sums
    * (n, Σx, Σx², Σxy per pair), then each coefficient as a fixed-order
    * double expression over those exact sums: aggregation-order-
    * independent, so the oracle reproduces every coefficient bit-for-bit
    * (the Welford-free discipline of q_group_stats, extended to the full
    * matrix). */
  def q_corr_matrix(s: SparkSession, dir: String): DataFrame = {
    val q = dec(col("l_quantity")); val p = dec(col("l_extendedprice"))
    val d0 = dec(col("l_discount"))
    val agg = tbl(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      sum(q).as("sq"), sum(p).as("sp"), sum(d0).as("sd"),
      sum((q * q).cast("decimal(38,4)")).as("sqq"),
      sum((p * p).cast("decimal(38,4)")).as("spp"),
      sum((d0 * d0).cast("decimal(38,4)")).as("sdd"),
      sum((q * p).cast("decimal(38,4)")).as("sqp"),
      sum((q * d0).cast("decimal(38,4)")).as("sqd"),
      sum((p * d0).cast("decimal(38,4)")).as("spd"))
    // round(…, 9): the DECIMAL(38,4)→DOUBLE conversion of the huge moment
    // sums is 1-ULP engine-dependent (int128·10⁻⁴ vs BigDecimal's single
    // correct rounding), so the raw coefficient can differ in the last
    // bit; nine decimals is far above the noise and far below any
    // analytical use of a correlation.
    def corr(sx: String, sy: String, sxx: String, syy: String,
        sxy: String): Column = {
      val n = col("n").cast("double")
      round((n * col(sxy).cast("double") -
        col(sx).cast("double") * col(sy).cast("double")) /
        (sqrt(n * col(sxx).cast("double") -
          col(sx).cast("double") * col(sx).cast("double")) *
         sqrt(n * col(syy).cast("double") -
          col(sy).cast("double") * col(sy).cast("double"))), 9)
    }
    agg.select(explode(array(
        struct(lit("quantity~price").as("pair"),
          corr("sq", "sp", "sqq", "spp", "sqp").as("corr")),
        struct(lit("quantity~discount").as("pair"),
          corr("sq", "sd", "sqq", "sdd", "sqd").as("corr")),
        struct(lit("price~discount").as("pair"),
          corr("sp", "sd", "spp", "sdd", "spd").as("corr")))).as("r"))
      .select(col("r.pair"), col("r.corr"))
  }

  private val q_corr_matrix_sql =
    """WITH a AS (SELECT count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
      |    sum(CAST(l_discount AS DECIMAL(18,2))) AS sd,
      |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sqq,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS spp,
      |    sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sdd,
      |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sqp,
      |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sqd,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS spd
      |  FROM lineitem)
      |SELECT 'quantity~price' AS pair,
      |  round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
      |  / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
      |     * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 9) AS corr
      |FROM a
      |UNION ALL SELECT 'quantity~discount',
      |  round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
      |  / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
      |     * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 9)
      |FROM a
      |UNION ALL SELECT 'price~discount',
      |  round((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
      |  / (sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
      |     * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 9)
      |FROM a""".stripMargin

  /** Live drift monitor (streaming twin of q_drift): the LIVE side's
    * histogram accumulates as a streaming aggregation over the ingest
    * stream; the drift report then compares it against the batch baseline
    * histogram — three session primitives composed (stream histogram,
    * frozen grid, drift metric). The epilogue runs on two 256-row
    * sketches. Oracle shared with q_drift (identical halves). */
  def q_stream_drift(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val mid = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
    val baseline = graft.functions.Sketches.histogram(
      li.filter(col("l_orderkey") <= mid), col("l_extendedprice"),
      bins = 256, lo = 900.0, hi = 105000.0)
    // update mode + monotone-count reconstruction (the q_stream_histogram
    // discipline): sink traffic is touched-bins-sized per trigger
    val live = runStream(s, src => graft.functions.Sketches.histogram(
        src.filter(col("l_orderkey") > mid), col("l_extendedprice"),
        bins = 256, lo = 900.0, hi = 105000.0),
      "update", dir, table = "lineitem")
      .groupBy(col("bin")).agg(max(col("cnt")).as("cnt"))
    graft.functions.Sketches.histogramDrift(baseline, live, bins = 256)
  }

  /** Degree distribution of the customer→order graph — the graph-profiling
    * two-level aggregate (aggregate OF an aggregate): orders per customer,
    * then customers per order-count. Both levels partial-aggregate; the
    * second exchange moves degree-cardinality rows only. */
  def q_degree_dist(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .groupBy(col("n_orders")).agg(count(lit(1)).as("n_customers"))

  private val q_degree_dist_sql =
    """SELECT n_orders, count(*) AS n_customers FROM (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
      |GROUP BY n_orders""".stripMargin

  /** Weekly-active-users over ROLLING 7-day windows (the sliding sibling
    * of q_window_dau): each event's user hash lands in the seven daily-
    * slid windows covering it (map-side Expand), registers partial-max per
    * (window, bucket) — rolling distinct-count at windows×256 bounded
    * rows, never a distinct shuffle. Registers and per-window estimates
    * oracle-replayed. */
  def q_window_wau(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Sketches.hllReportPerGroup(
      graft.functions.Sketches.hllRegistersPerWindow(
        events(s, dir), "ts", "7 days", "1 day",
        col("user_id").cast("string"), p = 8, portable = portable),
      p = 8)

  private val q_window_wau_sql =
    """WITH e AS (SELECT
      |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) - k.k * 86400000000 AS g,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) k),
      |r AS (SELECT g, h // 4503599627370496 AS bucket,
      |             h % 4503599627370496 AS w FROM e),
      |regs AS (SELECT g, bucket,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |  FROM r GROUP BY g, bucket),
      |t AS (SELECT g, bucket, reg,
      |        CAST(sum(CAST(power(2.0, 63 - reg) AS DECIMAL(38,0))) OVER (PARTITION BY g) AS DECIMAL(38,0)) AS s,
      |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS nb
      |      FROM regs)
      |SELECT g, bucket, reg, nb AS nonzero,
      |  0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * power(2.0, 63)
      |    / CAST(s + (256 - nb) * CAST(power(2.0, 63) AS DECIMAL(38,0)) AS DOUBLE) AS est
      |FROM t""".stripMargin

  /** Daily-active-users estimation (the windowed distinct-count sketch):
    * per-day HLL registers over the user column — the DAU/WAU dashboard at
    * days×256 bounded rows, mergeable across shards and days (WAU = max of
    * the seven daily register tables). Reuses hllRegistersPerGroup with
    * the tumbling day window as the group; registers AND the per-day
    * estimates oracle-replayed bit-for-bit. */
  def q_window_dau(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Sketches.hllReportPerGroup(
      graft.functions.Sketches.hllRegistersPerGroup(
        events(s, dir).select(
          unix_micros(date_trunc("day", col("ts"))).as("day_us"),
          col("user_id")),
        "day_us", col("user_id").cast("string"), p = 8,
        portable = portable),
      p = 8)

  private val q_window_dau_sql =
    """WITH h AS (SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS g,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events),
      |r AS (SELECT g, h // 4503599627370496 AS bucket,
      |             h % 4503599627370496 AS w FROM h),
      |regs AS (SELECT g, bucket,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |  FROM r GROUP BY g, bucket),
      |t AS (SELECT g, bucket, reg,
      |        CAST(sum(CAST(power(2.0, 63 - reg) AS DECIMAL(38,0))) OVER (PARTITION BY g) AS DECIMAL(38,0)) AS s,
      |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS nb
      |      FROM regs)
      |SELECT g, bucket, reg, nb AS nonzero,
      |  0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * power(2.0, 63)
      |    / CAST(s + (256 - nb) * CAST(power(2.0, 63) AS DECIMAL(38,0)) AS DOUBLE) AS est
      |FROM t""".stripMargin

  /** Distribution drift between two crawl cycles (Sketches.histogramDrift):
    * the price distribution of the first half of the order keys vs the
    * second, on the shared frozen grid — per-bin KL contributions in
    * integer micro-nats whose total is an exact integer sum
    * (order-independent), all replayed by the oracle. The drift pass runs
    * on two 256-row sketches, corpus-scale-independent. */
  def q_drift(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val mid = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
    val h = (half: DataFrame) => graft.functions.Sketches.histogram(
      half, col("l_extendedprice"), bins = 256, lo = 900.0, hi = 105000.0)
    graft.functions.Sketches.histogramDrift(
      h(li.filter(col("l_orderkey") <= mid)),
      h(li.filter(col("l_orderkey") > mid)), bins = 256)
  }

  private val q_drift_sql =
    """WITH mid AS (SELECT max(l_orderkey) // 2 AS m FROM lineitem),
      |ha AS (SELECT bin, count(*) AS cnt FROM (
      |  SELECT greatest(0, least(255,
      |    CAST(floor((l_extendedprice - 900.0) * 256.0 / (105000.0 - 900.0)) AS BIGINT))) AS bin
      |  FROM lineitem WHERE l_orderkey <= (SELECT m FROM mid)) GROUP BY bin),
      |hb AS (SELECT bin, count(*) AS cnt FROM (
      |  SELECT greatest(0, least(255,
      |    CAST(floor((l_extendedprice - 900.0) * 256.0 / (105000.0 - 900.0)) AS BIGINT))) AS bin
      |  FROM lineitem WHERE l_orderkey > (SELECT m FROM mid)) GROUP BY bin),
      |grid AS (SELECT unnest(generate_series(0, 255)) AS bin),
      |j AS (SELECT CAST(g.bin AS BIGINT) AS bin,
      |        coalesce(ha.cnt, 0) AS cnt_a, coalesce(hb.cnt, 0) AS cnt_b
      |      FROM grid g LEFT JOIN ha ON g.bin = ha.bin
      |                  LEFT JOIN hb ON g.bin = hb.bin),
      |t AS (SELECT bin, cnt_a, cnt_b,
      |        CAST(sum(cnt_a) OVER () AS BIGINT) AS ta,
      |        CAST(sum(cnt_b) OVER () AS BIGINT) AS tb FROM j),
      |c AS (SELECT bin, cnt_a, cnt_b,
      |        CAST(round((CAST(cnt_a AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + 256.0)
      |          * ln(((CAST(cnt_a AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + 256.0))
      |               / ((CAST(cnt_b AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + 256.0)))
      |          * 1000000.0, 0) AS BIGINT) AS kl_contrib_micro,
      |        CAST(round(((CAST(cnt_a AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + 256.0)
      |            - (CAST(cnt_b AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + 256.0))
      |          * ln(((CAST(cnt_a AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + 256.0))
      |               / ((CAST(cnt_b AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + 256.0)))
      |          * 1000000.0, 0) AS BIGINT) AS psi_contrib_micro
      |      FROM t)
      |SELECT bin, cnt_a, cnt_b, kl_contrib_micro, psi_contrib_micro,
      |  CAST(sum(kl_contrib_micro) OVER () AS BIGINT) AS kl_micro,
      |  CAST(sum(psi_contrib_micro) OVER () AS BIGINT) AS psi_micro
      |FROM c""".stripMargin

  /** Streaming twin of q_histogram — the frozen-grid binning is a narrow
    * expression and the count a plain streaming aggregation, so the
    * identical Sketches.histogram code runs on the unbounded stream;
    * UPDATE mode emits only the bins a trigger touched, and bin counts are
    * monotone, so max(cnt) per bin reconstructs the final sketch
    * (oracle shared with q_histogram). */
  def q_stream_histogram(s: SparkSession, dir: String): DataFrame =
    runStream(s, src => graft.functions.Sketches.histogram(
        src, col("l_extendedprice"), bins = 256, lo = 900.0, hi = 105000.0),
      "update", dir, table = "lineitem")
      .groupBy(col("bin")).agg(max(col("cnt")).as("cnt"))

  private val q_distinct_kmv_sql =
    """WITH hs AS (SELECT DISTINCT
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |k AS (SELECT h FROM hs ORDER BY h LIMIT 512),
      |a AS (SELECT max(h) AS h_k, count(*) AS n_h FROM k)
      |SELECT h, h_k, n_h,
      |  CASE WHEN n_h < 512 THEN CAST(n_h AS DOUBLE)
      |       ELSE 511 * power(2.0, 60) / CAST(h_k AS DOUBLE) END AS est
      |FROM k, a""".stripMargin

  /** Skew-salted join (Scale.saltedJoin): lineitem ⋈ orders on the order
    * key with the right side replicated 8× and the left salted — the
    * hot-key lever when the dominated side is too big to broadcast whole.
    * Salting must be a pure execution-strategy change, so the oracle is the
    * PLAIN join aggregate: identical output is the whole claim. */
  def q_join_salted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.saltedJoin(
        tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        col("l_orderkey"), col("o_orderkey"), salt = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))

  private val q_join_salted_sql =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Bloom-pruned selective join (Scale.bloomPrunedJoin): lineitem probed
    * against the ~2% of orders above the price cut — the build side's keys
    * travel as broadcast Bloom bits that strip the probe shuffle to
    * (match rate + fpp) of the corpus before the exchange. Like the other
    * scale-machinery entries the oracle is the PLAIN join: identical
    * output is the claim of a strategy-only change (Bloom FPs are
    * re-checked by the join). */
  def q_join_bloom(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.bloomPrunedJoin(
        tbl(s, dir, "lineitem"),
        tbl(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
        "l_orderkey", "o_orderkey", expectedItems = 1L << 16)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))

  private val q_join_bloom_sql =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 400000.0
      |GROUP BY o_orderpriority""".stripMargin

  /** Last-writer-wins compaction (Scale.compactLatest): each customer's
    * most recent order — the recrawl-upsert shape — as a struct-max
    * aggregate: partial aggregation reduces each partition to ≤ #keys rows
    * before the exchange (the row_number-window form would shuffle every
    * order). Oracle replays the argmax with the identical
    * (version desc, tie desc) rule. */
  def q_compact_latest(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.compactLatest(
      tbl(s, dir, "orders").withColumn("o_date_us",
        unix_micros(col("o_orderdate").cast("timestamp"))),
      key = "o_custkey", version = "o_date_us", tie = "o_orderkey",
      payload = Seq("o_totalprice", "o_orderpriority"))

  private val q_compact_latest_sql =
    """WITH t AS (SELECT o_custkey,
      |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_date_us,
      |    o_orderkey, o_totalprice, o_orderpriority,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY epoch_us(CAST(o_orderdate AS TIMESTAMP)) DESC,
      |               o_orderkey DESC) AS rn
      |  FROM orders)
      |SELECT o_custkey, o_date_us, o_orderkey, o_totalprice, o_orderpriority
      |FROM t WHERE rn = 1""".stripMargin

  /** Snapshot diff (Scale.snapshotDiff — compactLatest's CDC sibling):
    * two simulated crawl snapshots of orders (different key subsets, some
    * payloads bumped) compared into per-key added/removed/changed. The
    * Spark side joins (key, xxhash64 digest) pairs only; the oracle
    * derives the SAME change labels by comparing payloads directly, so a
    * digest that ever mislabeled a row would hash-mismatch. */
  def q_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val prev = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val cur = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderpriority"))
    graft.operators.Scale.snapshotDiff(prev, cur, "o_orderkey",
      Seq("o_totalprice", "o_orderpriority"))
  }

  private val q_snapshot_diff_sql =
    """WITH prev AS (SELECT o_orderkey AS k, o_totalprice AS p1,
      |    o_orderpriority AS p2 FROM orders WHERE o_orderkey % 7 <> 0),
      |cur AS (SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS p1,
      |    o_orderpriority AS p2 FROM orders WHERE o_orderkey % 5 <> 0),
      |d AS (SELECT coalesce(p.k, c.k) AS o_orderkey,
      |    CASE WHEN p.k IS NULL THEN 'added'
      |         WHEN c.k IS NULL THEN 'removed'
      |         WHEN p.p1 <> c.p1 OR p.p2 <> c.p2 THEN 'changed'
      |         ELSE 'unchanged' END AS change
      |  FROM prev p FULL OUTER JOIN cur c ON p.k = c.k)
      |SELECT o_orderkey, change FROM d WHERE change <> 'unchanged'""".stripMargin

  /** Streaming twin of q_compact_latest — the struct-max survivor is a
    * plain streaming aggregation (associative, commutative, O(1) state per
    * key), so the compaction runs unchanged on an unbounded recrawl
    * stream; UPDATE mode emits a key only on the triggers that raise its
    * survivor, and struct-max is monotone, so re-running the SAME
    * compactLatest over the emissions reconstructs the final snapshot
    * (associativity doing the epilogue's work) under the shared oracle. */
  def q_stream_compact(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.compactLatest(
      runStream(s, src => graft.operators.Scale.compactLatest(
          src.withColumn("o_date_us",
            unix_micros(col("o_orderdate").cast("timestamp"))),
          key = "o_custkey", version = "o_date_us", tie = "o_orderkey",
          payload = Seq("o_totalprice", "o_orderpriority")),
        "update", dir, table = "orders"),
      key = "o_custkey", version = "o_date_us", tie = "o_orderkey",
      payload = Seq("o_totalprice", "o_orderpriority"))

  /** Two-phase salted aggregation (Scale.saltedSum/saltedCount): per-flag
    * quantity sums and counts computed through 16 salt sub-groups then
    * merged — the hot-key aggregation lever. Decimal values so the partial
    * sums are exact: like q_join_salted, the oracle is the PLAIN aggregate,
    * identical output being the claim of a strategy-only change. */
  def q_salted_agg(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val sums = graft.operators.Scale.saltedSum(li, col("l_returnflag"),
      dec(col("l_quantity")), salt = 16, keyName = "l_returnflag", sumName = "_s")
    val counts = graft.operators.Scale.saltedCount(li, col("l_returnflag"),
      salt = 16, keyName = "l_returnflag", cntName = "n")
    sums.join(counts, "l_returnflag")
      .select(col("l_returnflag"), col("_s").cast("double").as("sum_qty"), col("n"))
  }

  private val q_salted_agg_sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Bucketed co-located join (Scale.writeBucketed/readBucketed): both
    * sides materialized bucketed+sorted by the order key, then joined with
    * NO Exchange (ScaleSpec pins the plan; the oracle is the plain join —
    * like salting, bucketing must be a pure layout change). Tables land in
    * a temp location and re-register per session (the in-memory catalog
    * doesn't outlive the Verify/Bench JVM); table names carry the sf tag so
    * scales can't collide inside one session. */
  def q_join_bucketed(s: SparkSession, dir: String): DataFrame = {
    val sfTag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val (tl, to) = (s"graft_li_$sfTag", s"graft_ord_$sfTag")
    if (!s.catalog.tableExists(tl)) {
      val wh = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
      graft.operators.Scale.writeBucketed(
        tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
        tl, "l_orderkey", 8, Some(s"$wh/li"))
      graft.operators.Scale.writeBucketed(
        tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        to, "o_orderkey", 8, Some(s"$wh/ord"))
    }
    graft.operators.Scale.readBucketed(s, tl)
      .join(graft.operators.Scale.readBucketed(s, to),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
  }

  /** CMS join-size estimation (Sketches.cmsJoinSize): the cardinality of
    * orders ⋈ lineitem on the order key, estimated from two 4×2048 grids
    * BEFORE running the join — min over rows of the grid inner product
    * (≥ the true size always; the result carries the true count alongside
    * so the bound is visible in the gate). At 100 TB this is the
    * broadcast/salt/AQE planning input: two single-pass sketches whose
    * shuffle carries the grid, never the keys. */
  def q_join_estimate(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val (depth, width) = (4, 2048)
    val o = tbl(s, dir, "orders")
    val l = tbl(s, dir, "lineitem")
    val est = graft.functions.Sketches.cmsJoinSize(
      graft.functions.Sketches.cmsSketch(o, col("o_orderkey").cast("string"),
        depth, width, portable = portable),
      graft.functions.Sketches.cmsSketch(l, col("l_orderkey").cast("string"),
        depth, width, portable = portable))
    val truth = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("true_n"))
    est.crossJoin(truth)
  }

  private val q_join_estimate_sql =
    """WITH rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |ho AS (SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
      |       FROM orders),
      |hl AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
      |       FROM lineitem),
      |sa AS (SELECT r, (hv >> (15 * r)) % 2048 AS b, count(*) AS cnt
      |       FROM ho, rr GROUP BY 1, 2),
      |sb AS (SELECT r, (hv >> (15 * r)) % 2048 AS b, count(*) AS cnt
      |       FROM hl, rr GROUP BY 1, 2),
      |ip AS (SELECT sa.r, sum(sa.cnt * sb.cnt) AS ip
      |       FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY 1),
      |e AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM ip),
      |t AS (SELECT count(*) AS true_n FROM orders JOIN lineitem
      |      ON o_orderkey = l_orderkey)
      |SELECT est, true_n FROM e, t""".stripMargin

  /** Vocabulary build + OOV encode (functions.Vocabulary): top-24 corpus
    * words by (count desc, word asc), then every document re-encoded as
    * (pos, word, id) token rows with id 0 for out-of-vocabulary words —
    * the word-level tokenization path next to q_bpe's subword path. The
    * oracle replays the counting, the total-order tie-break and the
    * left-join encode. */
  def q_vocab_encode(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val vocab = graft.functions.Vocabulary.build(docs, "text", v = 24)
    graft.functions.Vocabulary.encode(
      docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", vocab)
  }

  private val q_vocab_encode_sql =
    """WITH w AS (
      |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
      |  FROM documents),
      |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
      |v AS (SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS id
      |      FROM c ORDER BY cnt DESC, word ASC LIMIT 24),
      |tok AS (
      |  SELECT doc_id, unnest(ws) AS word,
      |    CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
      |        FROM documents WHERE doc_id % 20 = 0))
      |SELECT doc_id, pos, word, CAST(coalesce(v.id, 0) AS BIGINT) AS id
      |FROM tok LEFT JOIN v USING (word)""".stripMargin

  /** Skew profile (operators.Scale.skewProfile): top keys of
    * documents.lang by row count with fractions, total and cardinality —
    * the pre-run diagnostic for salting / AQE skew decisions. */
  def q_skew_profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.skewProfile(
      tbl(s, dir, "documents"), col("lang"), topN = 3, keyName = "lang")

  private val q_skew_profile_sql =
    """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c)
      |SELECT lang, cnt, total, n_keys,
      |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS frac
      |FROM c, t ORDER BY cnt DESC, lang ASC LIMIT 3""".stripMargin

  /** Deterministic synthetic URL per document — six shapes covering the
    * canonicalization cases (upper-case scheme/host, www + default port,
    * tracking params, fragments, trailing slashes, subdomains, a non-http
    * scheme). Replayed verbatim in the oracle SQL so the operator under
    * test is the canonicalizer, not the builder. */
  private def syntheticUrl(id: Column, src: Column): Column = {
    val s = id.cast("string")
    val m = pmod(id, lit(6L))
    when(m === 0, concat(lit("HTTP://WWW."), src, lit("-site.com:80/a/b/?utm_source=feed&id="), s, lit("#top")))
      .when(m === 1, concat(lit("https://"), src, lit("-news.org/p/"), s))
      .when(m === 2, concat(lit("https://sub."), src, lit("-cdn.net:443/x/?fbclid=f"), s))
      .when(m === 3, concat(lit("http://"), src, lit("-site.com/q?a=1&utm_medium=m&b=2")))
      .when(m === 4, concat(lit("https://"), src, lit("-blog.io/")))
      .otherwise(concat(lit("ftp://files."), src, lit("-site.com/data/"), s))
  }

  /** Oracle-side replay of [[syntheticUrl]]. */
  private val syntheticUrlSql =
    """CASE doc_id % 6
      |      WHEN 0 THEN 'HTTP://WWW.' || source || '-site.com:80/a/b/?utm_source=feed&id=' || doc_id || '#top'
      |      WHEN 1 THEN 'https://' || source || '-news.org/p/' || doc_id
      |      WHEN 2 THEN 'https://sub.' || source || '-cdn.net:443/x/?fbclid=f' || doc_id
      |      WHEN 3 THEN 'http://' || source || '-site.com/q?a=1&utm_medium=m&b=2'
      |      WHEN 4 THEN 'https://' || source || '-blog.io/'
      |      ELSE 'ftp://files.' || source || '-site.com/data/' || doc_id
      |    END""".stripMargin

  private val urlReSql =
    """^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"""

  /** URL canonicalization (UrlOps.canonicalizeUrl / registeredDomain):
    * lowercased scheme+host, www/default-port stripped, trailing slash
    * collapsed, tracking params dropped, fragment gone — one narrow
    * Column chain per row. The oracle replays the identical regex chain
    * in DuckDB (both engines' regexes restricted to the Java∩RE2 subset,
    * same discipline as q_html_extract). */
  def q_url_canon(s: SparkSession, dir: String): DataFrame = {
    val u = tbl(s, dir, "documents")
      .select(col("doc_id"), syntheticUrl(col("doc_id"), col("source")).as("url"))
    u.select(col("doc_id"), col("url"),
      graft.functions.UrlOps.canonicalizeUrl(col("url")).as("canon_url"),
      graft.functions.UrlOps.registeredDomain(col("url")).as("domain"))
  }

  private val q_url_canon_sql =
    s"""WITH u AS (SELECT doc_id, $syntheticUrlSql AS url FROM documents),
      |p AS (SELECT doc_id, url,
      |  lower(regexp_extract(url, '$urlReSql', 1)) AS scheme,
      |  regexp_replace(regexp_replace(lower(regexp_extract(url, '$urlReSql', 2)), '^[^@]*@', ''), '^www\\.', '') AS auth0,
      |  regexp_extract(url, '$urlReSql', 3) AS path0,
      |  regexp_extract(url, '$urlReSql', 4) AS query0,
      |  regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(url, '$urlReSql', 2)), '^[^@]*@', ''), ':[0-9]+$$', ''), '^www\\.', '') AS host
      |  FROM u),
      |q AS (SELECT doc_id, url, scheme, host,
      |  CASE WHEN scheme='http' THEN regexp_replace(auth0, ':80$$', '')
      |       WHEN scheme='https' THEN regexp_replace(auth0, ':443$$', '')
      |       ELSE auth0 END AS auth,
      |  CASE WHEN regexp_replace(path0, '/$$', '') = '' THEN '/'
      |       ELSE regexp_replace(path0, '/$$', '') END AS path,
      |  coalesce(array_to_string(list_filter(str_split(query0, '&'),
      |    x -> x <> '' AND NOT starts_with(lower(regexp_extract(x, '^([^=]*)', 1)), 'utm_')
      |      AND lower(regexp_extract(x, '^([^=]*)', 1)) NOT IN ('fbclid','gclid','msclkid','mc_eid','ref','ref_src','igshid')), '&'), '') AS query
      |  FROM p)
      |SELECT doc_id, url,
      |  CASE WHEN scheme='' THEN url ELSE
      |    scheme || '://' || auth || path ||
      |    CASE WHEN query='' THEN '' ELSE '?' || query END END AS canon_url,
      |  CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = '' THEN host
      |       ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END AS domain
      |FROM q""".stripMargin

  /** Per-domain document cap (UrlOps.domainCap): keep ≤3 documents per
    * registered domain by deterministic hash order — the RefinedWeb-style
    * balance step. row_number ≤ k runs as WindowGroupLimit (map-side
    * top-k per domain before the single exchange). The oracle replays
    * the domain extraction and the (portable-hash, id) ranking. */
  def q_domain_cap(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val u = tbl(s, dir, "documents")
      .select(col("doc_id"), syntheticUrl(col("doc_id"), col("source")).as("url"))
    graft.functions.UrlOps.domainCap(u, "url", "doc_id",
        maxPerDomain = 3, portable = portable)
      .select(col("doc_id"), col("domain"))
  }

  private val q_domain_cap_sql =
    s"""WITH u AS (SELECT doc_id, $syntheticUrlSql AS url FROM documents),
      |d AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(url, '$urlReSql', 2)), '^[^@]*@', ''), ':[0-9]+$$', ''), '^www\\.', '') AS host
      |  FROM u),
      |dom AS (SELECT doc_id,
      |  CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = '' THEN host
      |       ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END AS domain
      |  FROM d),
      |r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
      |        ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rn
      |      FROM dom)
      |SELECT doc_id, domain FROM r WHERE rn <= 3""".stripMargin

  /** Mojibake repair (TextAnalysis.fixMojibake/mojibakeScore): the
    * ftfy-style encoding-artifact fix + per-doc artifact count. The
    * corpus is clean ASCII, so the query injects artifacts
    * deterministically (replayed verbatim in the oracle) and the
    * operator under test is the repair chain. Both sides single-source
    * the pattern table — the oracle SQL is GENERATED from
    * `MojibakeTable`, so the two can't drift. */
  def q_mojibake(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(5L))
    val inject = when(m === 0, lit(" cafÃ© dÃ©jÃ¡ vu"))
      .when(m === 1, lit(" itâ€™s â€œquotedâ€¦ naÃ¯ve"))
      .when(m === 2, lit(" faÃ§ade Ã¼ber ÃŸ"))
      .when(m === 3, lit(" 10Â° â€“ 20Â» Â«"))
      .otherwise(lit(""))
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40), inject).as("corrupted"))
      .select(col("doc_id"),
        graft.functions.TextAnalysis.fixMojibake(col("corrupted")).as("fixed"),
        graft.functions.TextAnalysis.mojibakeScore(col("corrupted")).as("mojibake_n"))
  }

  private val q_mojibake_sql = {
    val tbl = graft.functions.TextAnalysis.MojibakeTable
    val fixed = tbl.foldLeft("corrupted") { case (acc, (bad, good)) =>
      s"replace($acc, '$bad', '$good')"
    }
    val score = tbl.map { case (bad, _) =>
      s"CAST((length(corrupted) - length(replace(corrupted, '$bad', ''))) / length('$bad') AS BIGINT)"
    }.mkString(" + ")
    s"""WITH u AS (SELECT doc_id, substr(text, 1, 40) ||
      |  CASE doc_id % 5
      |    WHEN 0 THEN ' cafÃ© dÃ©jÃ¡ vu'
      |    WHEN 1 THEN ' itâ€™s â€œquotedâ€¦ naÃ¯ve'
      |    WHEN 2 THEN ' faÃ§ade Ã¼ber ÃŸ'
      |    WHEN 3 THEN ' 10Â° â€“ 20Â» Â«'
      |    ELSE ''
      |  END AS corrupted FROM documents)
      |SELECT doc_id, $fixed AS fixed, $score AS mojibake_n FROM u""".stripMargin
  }

  /** Cross-source overlap matrix (Sketches.kmvOverlapMatrix): for every
    * pair of document sources, estimated distinct texts, union,
    * intersection and Jaccard from the per-source KMV k-sets — the
    * "which sources duplicate each other" curation report, computed
    * entirely on k-sized sketch arrays. The oracle recomputes every
    * group's k smallest distinct hashes, the merged-union k-sets and
    * the identical estimate arithmetic. */
  def q_kmv_overlap(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val k = 64
    val sk = graft.functions.Sketches.kmvPerGroup(
      tbl(s, dir, "documents"), "source", col("text"), k,
      portable = portable)
    graft.functions.Sketches.kmvOverlapMatrix(sk, k, portable = portable)
  }

  private val q_kmv_overlap_sql =
    """WITH v AS (SELECT DISTINCT source AS g,
      |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents),
      |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM v),
      |s AS (SELECT g, h FROM r WHERE rn <= 64),
      |ks AS (SELECT g, list_sort(list(h)) AS hs, count(*) AS n FROM s GROUP BY g),
      |p AS (SELECT a.g AS g1, b.g AS g2, a.hs AS hs1, b.hs AS hs2,
      |        a.n AS n1, b.n AS n2
      |      FROM ks a, ks b WHERE a.g < b.g),
      |m AS (SELECT g1, g2, n1, n2, hs1, hs2,
      |        list_sort(list_distinct(list_concat(hs1, hs2))) AS mg FROM p),
      |e AS (SELECT g1, g2,
      |    CASE WHEN n1 < 64 THEN CAST(n1 AS DOUBLE)
      |         ELSE (CAST(63 AS DOUBLE) * 1152921504606846976) / CAST(hs1[CAST(n1 AS INT)] AS DOUBLE) END AS est1,
      |    CASE WHEN n2 < 64 THEN CAST(n2 AS DOUBLE)
      |         ELSE (CAST(63 AS DOUBLE) * 1152921504606846976) / CAST(hs2[CAST(n2 AS INT)] AS DOUBLE) END AS est2,
      |    CASE WHEN len(mg) < 64 THEN CAST(len(mg) AS DOUBLE)
      |         ELSE (CAST(63 AS DOUBLE) * 1152921504606846976) / CAST(mg[LEAST(len(mg), 64)] AS DOUBLE) END AS union_est
      |  FROM m)
      |SELECT g1, g2, est1, est2, union_est,
      |  GREATEST(est1 + est2 - union_est, 0.0) AS inter_est,
      |  GREATEST(est1 + est2 - union_est, 0.0) / union_est AS jaccard_est
      |FROM e""".stripMargin

  /** Unicode script profile (TextAnalysis.scriptProfile): per-script
    * character fractions + dominant script — the script-level
    * language-ID gate. Non-Latin text injected deterministically (the
    * corpus is ASCII); the oracle is GENERATED from the operator's
    * `ScriptRanges` table, replaying the length-arithmetic counts, the
    * fractions and the first-in-table argmax tie-break. */
  def q_script_profile(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(5L))
    val inject = when(m === 0, repeat(lit(" привет мир"), 3))
      .when(m === 1, repeat(lit(" 你好世界"), 3))
      .when(m === 2, repeat(lit(" مرحبا بالعالم"), 3))
      .when(m === 3, repeat(lit(" γειά σου κόσμε"), 3))
      .otherwise(lit(""))
    val base = tbl(s, dir, "documents")
      .select(col("doc_id"), concat(substring(col("text"), 1, 8), inject).as("t"))
    graft.functions.TextAnalysis.scriptProfile(base, "doc_id", "t")
  }

  private val q_script_profile_sql = {
    val ranges = graft.functions.TextAnalysis.ScriptRanges
    val cnts = ranges.map { case (n, r) =>
      s"(length(t) - length(regexp_replace(t, '[$r]', '', 'g'))) AS cnt_$n"
    }.mkString(",\n      |    ")
    val fracs = ranges.map { case (n, _) =>
      s"cnt_$n / greatest(length(t), 1) AS ${n}_frac"
    }.mkString(",\n      |  ")
    val mx = ranges.map(r => s"cnt_${r._1}").mkString("greatest(", ", ", ")")
    val guess = s"CASE WHEN $mx = 0 THEN 'unknown' " +
      ranges.map { case (n, _) => s"WHEN cnt_$n = $mx THEN '$n'" }.mkString(" ") +
      " END"
    s"""WITH u AS (SELECT doc_id, substr(text, 1, 8) ||
      |  CASE doc_id % 5
      |    WHEN 0 THEN repeat(' привет мир', 3)
      |    WHEN 1 THEN repeat(' 你好世界', 3)
      |    WHEN 2 THEN repeat(' مرحبا بالعالم', 3)
      |    WHEN 3 THEN repeat(' γειά σου κόσμε', 3)
      |    ELSE ''
      |  END AS t FROM documents),
      |c AS (SELECT doc_id, t,
      |    $cnts
      |  FROM u)
      |SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      |  $fracs,
      |  $guess AS script_guess
      |FROM c""".stripMargin
  }

  /** Sentence segmentation (TextAnalysis.splitSentences): boundary =
    * `[.!?]+` + whitespace, lookbehind-free so the oracle replays the
    * identical rule (capture-group sentinel insert → split → drop
    * empties → renumber). Punctuation injected deterministically (the
    * corpus is terminator-free word soup). */
  def q_sentences(s: SparkSession, dir: String): DataFrame = {
    val t = concat(lit("Start one. "), substring(col("text"), 1, 20),
      lit(". Mid two! "), substring(col("text"), 21, 15), lit("? End tail"))
    val base = tbl(s, dir, "documents").select(col("doc_id"), t.as("t"))
    graft.functions.TextAnalysis.splitSentences(base, "doc_id", "t")
  }

  private val q_sentences_sql =
    """WITH u AS (SELECT doc_id,
      |    'Start one. ' || substr(text, 1, 20) || '. Mid two! ' ||
      |    substr(text, 21, 15) || '? End tail' AS t FROM documents),
      |m AS (SELECT doc_id, list_filter(
      |        str_split(regexp_replace(t, '([.!?]+)\s+', '\1' || chr(1), 'g'), chr(1)),
      |        x -> x <> '') AS parts FROM u)
      |SELECT doc_id, CAST(generate_subscripts(parts, 1) - 1 AS BIGINT) AS sent_id,
      |  unnest(parts) AS sentence,
      |  CAST(len(list_filter(string_split_regex(unnest(parts), '\s+'), y -> y <> '')) AS BIGINT) AS n_words
      |FROM m""".stripMargin

  /** Domain ban-list filter (UrlOps.filterBlockedDomains): drop
    * documents whose host is a banned domain or any subdomain of one —
    * the robots/ban-list gate before content-level curation. The list
    * rides the plan as a literal array; the filter is narrow. The
    * oracle replays host extraction and the suffix-match rule. */
  def q_domain_filter(s: SparkSession, dir: String): DataFrame = {
    val blocked = Seq("src1-site.com", "src3-news.org", "src5-cdn.net")
    val u = tbl(s, dir, "documents")
      .select(col("doc_id"), syntheticUrl(col("doc_id"), col("source")).as("url"))
    graft.functions.UrlOps.filterBlockedDomains(u, "url", blocked)
      .select(col("doc_id"), graft.functions.UrlOps.urlHost(col("url")).as("host"))
  }

  private val q_domain_filter_sql =
    s"""WITH u AS (SELECT doc_id, $syntheticUrlSql AS url FROM documents),
      |h AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(lower(regexp_extract(url, '$urlReSql', 2)), '^[^@]*@', ''), ':[0-9]+$$', '') AS host
      |  FROM u)
      |SELECT doc_id, host FROM h
      |WHERE NOT len(list_filter(['src1-site.com', 'src3-news.org', 'src5-cdn.net'],
      |  b -> host = b OR ends_with(host, '.' || b))) > 0""".stripMargin

  /** Per-group KMV distinct sketch (Sketches.kmvPerGroup): approximate
    * distinct l_orderkey per l_returnflag, k=256 — map-side bounded
    * k-sets per group, so the per-group distinct universe never shuffles
    * (the grouped analog of q_distinct_kmv). The oracle recomputes every
    * group's k smallest distinct hashes and the same estimate
    * arithmetic. */
  def q_distinct_kmv_group(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val k = 256
    val sk = graft.functions.Sketches.kmvPerGroup(
      tbl(s, dir, "lineitem"), "l_returnflag",
      col("l_orderkey").cast("string"), k, portable = portable)
    graft.functions.Sketches.kmvPerGroupEstimate(sk, k,
      portable = portable)
  }

  private val q_distinct_kmv_group_sql =
    """WITH hs AS (SELECT DISTINCT l_returnflag AS g,
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hs),
      |a AS (SELECT g, max(h) AS h_k, count(*) AS n_h FROM r WHERE rn <= 256 GROUP BY g)
      |SELECT g, h_k, n_h,
      |  CASE WHEN n_h < 256 THEN CAST(n_h AS DOUBLE)
      |       ELSE 255 * power(2.0, 60) / CAST(h_k AS DOUBLE) END AS est
      |FROM a""".stripMargin

  /** Count-min heavy hitters (functions.Sketches.cmsSketch/cmsHeavyItems):
    * word 2-grams of documents with CMS-estimated count ≥ 40 on a 4×2048
    * grid. The shuffle carries the grid (≤ depth·width rows), never the
    * items; the probe side is prefiltered by the broadcast heavy cells (an
    * item passes iff ALL its buckets are heavy — exactly the est ≥ minCount
    * set), so no full-universe distinct ever runs. est ≥ true count always;
    * the oracle recomputes grid and minima bit-for-bit over the full
    * universe — equivalence is by the all-buckets-heavy identity. */
  def q_heavy_hitters(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val (depth, width, minCount) = (4, 2048, 40)
    val grams = tbl(s, dir, "documents")
      .select(explode(graft.functions.Dedup.shingles(col("text"), 2)).as("gram"))
    val sk = graft.functions.Sketches.cmsSketch(
      grams, col("gram"), depth, width, portable = portable)
    graft.functions.Sketches.cmsHeavyItems(
        sk, grams, col("gram"), depth, width, minCount,
        portable = portable)
      .select(col("item").as("gram"), col("est"))
  }

  private val q_heavy_hitters_sql =
    """WITH g AS (
      |  SELECT array_to_string(w[i:i+1], ' ') AS gram
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents),
      |       UNNEST(range(1, len(w))) AS t(i)),
      |rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |h AS (SELECT gram,
      |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM g),
      |sk AS (SELECT r, (hv >> (15 * r)) % 2048 AS b, count(*) AS cnt
      |  FROM h, rr GROUP BY 1, 2),
      |probes AS (SELECT d.gram, rr.r, (d.hv >> (15 * rr.r)) % 2048 AS b
      |  FROM (SELECT DISTINCT gram, hv FROM h) d CROSS JOIN rr),
      |est AS (SELECT p.gram, min(coalesce(sk.cnt, 0)) AS est
      |  FROM probes p LEFT JOIN sk ON sk.r = p.r AND sk.b = p.b
      |  GROUP BY 1)
      |SELECT gram, est FROM est WHERE est >= 40""".stripMargin

  /** Corpus-vs-corpus token JS divergence (CorpusMetrics.jsDivergence):
    * the English corpus against everything else — one vocabulary-sized
    * full-outer join, totals as a broadcast scalar, contributions
    * integer-nano-scaled before the single closing aggregate (the q_drift
    * FP discipline), one report row out. */
  def q_corpus_divergence(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    graft.functions.CorpusMetrics.jsDivergence(
      d.filter(col("lang") === "en"), d.filter(col("lang") =!= "en"), "text")
  }

  private val q_corpus_divergence_sql =
    """WITH ca AS (SELECT tok, count(*) AS na FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |    WHERE lang = 'en') WHERE tok <> '' GROUP BY tok),
      |cb AS (SELECT tok, count(*) AS nb FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |    WHERE lang <> 'en') WHERE tok <> '' GROUP BY tok),
      |j AS (SELECT coalesce(ca.na, 0) AS na, coalesce(cb.nb, 0) AS nb
      |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
      |t AS (SELECT na, nb,
      |    CAST(sum(na) OVER () AS BIGINT) AS ta,
      |    CAST(sum(nb) OVER () AS BIGINT) AS tb FROM j),
      |c AS (SELECT na, nb,
      |    CASE WHEN na > 0 THEN CAST(round(
      |      CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
      |      * log2(2.0 * (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
      |        / (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
      |           + CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)))
      |      * 1000000000.0, 0) AS BIGINT) ELSE 0 END AS ca_nano,
      |    CASE WHEN nb > 0 THEN CAST(round(
      |      CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)
      |      * log2(2.0 * (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
      |        / (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
      |           + CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)))
      |      * 1000000000.0, 0) AS BIGINT) ELSE 0 END AS cb_nano
      |  FROM t)
      |SELECT CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(count(CASE WHEN na > 0 AND nb > 0 THEN 1 END) AS BIGINT) AS vocab_shared,
      |  CAST(sum(na) AS BIGINT) AS tokens_a,
      |  CAST(sum(nb) AS BIGINT) AS tokens_b,
      |  CAST(sum(ca_nano + cb_nano) AS BIGINT) AS js2_nano_bits
      |FROM c""".stripMargin

  /** Zipf slope of the documents corpus (CorpusMetrics.zipfSlope): the
    * ln(freq)-on-ln(rank) fit over the top tokens — corpus collapses to
    * counts, TakeOrdered keeps K, the window + regression are
    * report-sized. */
  def q_zipf_slope(s: SparkSession, dir: String): DataFrame =
    graft.functions.CorpusMetrics.zipfSlope(
      tbl(s, dir, "documents"), "text", topK = 1000)

  private val q_zipf_slope_sql =
    """WITH c AS (SELECT tok, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY tok),
      |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 1000),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
      |  FROM top)
      |SELECT round(regr_slope(ln(CAST(cnt AS DOUBLE)),
      |    ln(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
      |  CAST(count(*) AS BIGINT) AS n_tokens_fit FROM r""".stripMargin

  /** Distinct-bigram diversity per source (CorpusMetrics.distinctNgrams):
    * the boilerplate detector as an aggregate OF an aggregate — the
    * distinct never materializes a set, both levels partial-aggregate. */
  def q_distinct_ngrams(s: SparkSession, dir: String): DataFrame =
    graft.functions.CorpusMetrics.distinctNgrams(
      tbl(s, dir, "documents"), "source", "text", 2)

  private val q_distinct_ngrams_sql =
    """WITH g AS (SELECT source AS key, array_to_string(w[i:i+1], ' ') AS gram
      |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(range(1, len(w))) AS t(i)),
      |c AS (SELECT key, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
      |SELECT key, CAST(sum(cnt) AS BIGINT) AS n_grams,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS distinct_ratio
      |FROM c GROUP BY key""".stripMargin

  // =====================================================================
  // Training-data pipeline operators (dedup / similarity / text / multimodal)
  // =====================================================================

  /** exact dedup via content digest (graft.functions.Dedup.exact). */
  def q_dedup_exact(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")

  private val q_dedup_exact_sql =
    """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Per-source duplication-rate report — the corpus-governance view of
    * exact dedup ("which feed is flooding us with copies"): per source,
    * docs, distinct contents, duplicate count and rate. Aggregate OF an
    * aggregate — (source, digest) grain first, both levels
    * partial-aggregate, the distinct never materializes a set; exact
    * integers, one division in double. */
  def q_dup_rate_by_source(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .groupBy(col("source"), md5(col("text")).as("digest"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dups"),
        ((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double")).as("dup_rate"))

  private val q_dup_rate_by_source_sql =
    """WITH g AS (SELECT source, md5(text) AS digest, count(*) AS n
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(n) - count(*) AS BIGINT) AS n_dups,
      |  CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_rate
      |FROM g GROUP BY source""".stripMargin

  /** Persistent digest-history dedup over two crawl cycles (DigestStore):
    * the corpus split at the median doc id; each increment dedups against
    * the store (Bloom prefilter + exact residual — FPs never surface) and
    * appends its new digests as an immutable increment directory. A digest
    * surfaces ONCE, in its first cycle, with that cycle's min-id
    * representative and within-cycle copy count — the oracle replays the
    * split and the first-cycle-wins rule. The store builds in a fresh temp
    * dir per run: the cycle outputs ARE the result being checked, and the
    * two-cycle build is the operation being measured. */
  def q_digest_persist(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val path = java.nio.file.Files.createTempDirectory("graft-digeststore").toString
    graft.functions.DigestStore.init(s, path)
    val c1 = graft.functions.DigestStore.dedupCycle(s, path, 1,
      docs.filter(col("doc_id") <= mid), "doc_id", "text")
    val c2 = graft.functions.DigestStore.dedupCycle(s, path, 2,
      docs.filter(col("doc_id") > mid), "doc_id", "text")
    val out = c1.withColumn("cycle", lit(1L))
      .unionByName(c2.withColumn("cycle", lit(2L)))
      .persist()
    out.count()
    c1.unpersist(); c2.unpersist()
    out
  }

  private val q_digest_persist_sql =
    """WITH m AS (SELECT max(doc_id) // 2 AS mid FROM documents),
      |d1 AS (SELECT md5(text) AS digest, min(doc_id) AS keep_id,
      |         count(*) AS n_copies
      |       FROM documents, m WHERE doc_id <= mid GROUP BY 1),
      |d2 AS (SELECT md5(text) AS digest, min(doc_id) AS keep_id,
      |         count(*) AS n_copies
      |       FROM documents, m
      |       WHERE doc_id > mid
      |         AND md5(text) NOT IN (SELECT digest FROM d1)
      |       GROUP BY 1)
      |SELECT digest, keep_id, n_copies, CAST(1 AS BIGINT) AS cycle FROM d1
      |UNION ALL
      |SELECT digest, keep_id, n_copies, CAST(2 AS BIGINT) AS cycle FROM d2""".stripMargin

  /** MinHash+LSH near-dup pairs (64 hashes, 16 bands), portable hashing —
    * the oracle recomputes the SAME signatures/bands in SQL (md5-derived
    * 60-bit hash + mod-p affine permutations), so the full banded pipeline is
    * hash-checked, not rows-only. */
  def q_dedup_minhash(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Dedup.minhashNearDups(tbl(s, dir, "documents"),
      "doc_id", "text", minEstSim = 0.5, portable = portable)

  private def q_dedup_minhash_sql: String = {
    val P = graft.functions.Dedup.PortableP
    val minAggs = (0 until 64).map { i =>
      val (a, b) = graft.functions.Dedup.portablePermConsts(i)
      s"min((h * $a + $b) % $P) AS h$i"
    }.mkString(", ")
    val bandSelects = (0 until 16).map { bnd =>
      val cols = (bnd * 4 until bnd * 4 + 4).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $bnd AS band_id, concat_ws('_', $cols) AS bk FROM sig"
    }.mkString(" UNION ALL ")
    val matchSum = (0 until 64).map(i =>
      s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       UNNEST(range(1, len(w) - 3)) AS t(i)),
       |hv AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $P AS h FROM sh),
       |sig AS (SELECT doc_id, $minAggs FROM hv GROUP BY doc_id),
       |banded AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, est_sim FROM (
       |  SELECT a_id, b_id, CAST($matchSum AS DOUBLE) / 64 AS est_sim
       |  FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id)
       |WHERE est_sim >= CAST(0.5 AS DOUBLE)""".stripMargin
  }

  /** Incremental (crawl-cycle) minhash dedup: the corpus split at
    * max(doc_id)/2 into two increments, each deduped only against the
    * signatures stored so far. The oracle recomputes the full-corpus banded
    * pipeline AND the reporting increment (a pair surfaces in the increment
    * of its LATER doc), so both the pair set and the
    * exactly-once-per-increment contract are hash-checked. */
  def q_dedup_incremental(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val (p1, sigs1) = graft.functions.Dedup.minhashNearDupsIncremental(
      docs.filter(col("doc_id") <= mid),
      graft.functions.Dedup.emptySignatures(s),
      "doc_id", "text", minEstSim = 0.5, portable = portable)
    val (p2, sigs2) = graft.functions.Dedup.minhashNearDupsIncremental(
      docs.filter(col("doc_id") > mid), sigs1,
      "doc_id", "text", minEstSim = 0.5, portable = portable)
    // materialize the (small) pair output, then RELEASE both increments'
    // persisted signature tables — without this every invocation (Verify +
    // both Bench modes) would leak two cached datasets for the session
    val out = p1.withColumn("inc", lit(1L)).union(p2.withColumn("inc", lit(2L)))
      .persist()
    out.count()
    sigs1.unpersist(); sigs2.unpersist()
    out
  }

  private def q_dedup_incremental_sql: String = {
    // same full-corpus pipeline as q_dedup_minhash, plus the reporting
    // increment: 2 iff the pair's later doc is past the split point. A pair
    // reported twice (or in the wrong increment) breaks the row/hash match.
    val base = q_dedup_minhash_sql
    s"""WITH full_pairs AS ($base)
       |SELECT a_id, b_id, est_sim,
       |  CAST(CASE WHEN b_id > (SELECT max(doc_id) // 2 FROM documents)
       |       THEN 2 ELSE 1 END AS BIGINT) AS inc
       |FROM full_pairs""".stripMargin
  }

  /** Bloom-prefiltered incremental EXACT dedup: the increment past
    * max(doc_id)/2 deduped against the digest history of the first half.
    * The Bloom filter is a prefilter only (false positives removed by an
    * exact confirmation join), so the oracle is the plain digest anti-join
    * — result identity is independent of the filter's parameters. */
  def q_dedup_bloom(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val hist = docs.filter(col("doc_id") <= mid)
      .select(md5(col("text")).as("digest")).distinct()
    graft.functions.Dedup.exactIncremental(
      docs.filter(col("doc_id") > mid), hist, "doc_id", "text",
      expectedItems = 4096, fpp = 0.03)
  }

  private val q_dedup_bloom_sql =
    """WITH m AS (SELECT max(doc_id) // 2 AS mid FROM documents),
      |hist AS (SELECT DISTINCT md5(text) AS digest FROM documents, m WHERE doc_id <= mid),
      |inc AS (SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
      |        FROM documents, m WHERE doc_id > mid GROUP BY 1)
      |SELECT inc.* FROM inc ANTI JOIN hist USING (digest)""".stripMargin

  /** Exact dedup over NORMALIZED text (lowercase, punctuation stripped,
    * whitespace collapsed) — catches case/punctuation variants that raw
    * digest dedup misses; the oracle replicates the normalization chain
    * character for character. */
  def q_dedup_normalized(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.exact(
      tbl(s, dir, "documents").withColumn("_norm",
        graft.functions.TextAnalysis.normalizeText(col("text"))),
      "doc_id", "_norm")

  private val q_dedup_normalized_sql =
    """SELECT md5(trim(regexp_replace(
      |         regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
      |         '\s+', ' ', 'g'))) AS digest,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Near-dup cluster resolution: minhash pairs closed into clusters via
    * connected components; cluster_id = min doc id of the cluster (kept
    * representative). The oracle recomputes the full banded minhash pipeline
    * AND the transitive closure of the pair graph recursively — clusters are
    * hash-checked end to end. */
  def q_dedup_clusters(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val pairs = graft.functions.Dedup.minhashNearDups(tbl(s, dir, "documents"),
      "doc_id", "text", minEstSim = 0.5, portable = portable)
    val out = graft.functions.Dedup.nearDupClusters(pairs)
    pairs.unpersist() // CC materialized its rounds; the pair cache is done
    out
  }

  private def q_dedup_clusters_sql: String =
    s"""WITH RECURSIVE pairs AS ($q_dedup_minhash_sql),
       |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r)
       |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin

  /** Leakage-guarded train/val/test split (Sampling.clusterSplit): the
    * assignment unit is the near-dup CLUSTER, so paraphrases never straddle
    * the train/eval boundary. The oracle recomputes the banded minhash
    * pipeline, the recursive transitive closure, AND the cluster-hash
    * bucket assignment end to end — (doc_id, cluster_id, bucket, split)
    * all hash-checked. */
  def q_cluster_split(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val pairs = graft.functions.Dedup.minhashNearDups(docs,
      "doc_id", "text", minEstSim = 0.5, portable = portable)
    val clusters = graft.functions.Dedup.nearDupClusters(pairs)
    pairs.unpersist() // CC materialized its rounds; the pair cache is done
    graft.functions.Sampling.clusterSplit(
      docs.select(col("doc_id")), "doc_id", clusters, portable = true)
  }

  private def q_cluster_split_sql: String =
    s"""WITH RECURSIVE pairs AS ($q_dedup_minhash_sql),
       |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r),
       |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT d.doc_id,
       |        coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
       |        ('0x' || substr(md5(CAST(coalesce(cl.cluster_id, d.doc_id)
       |           AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
       |      FROM documents d LEFT JOIN cl USING (doc_id))""".stripMargin

  /** DSIR-style importance resampling (Sampling.importanceResample): the
    * top-200 raw documents by hashed-n-gram importance against an
    * English-target feature distribution (target = lang='en' slice, raw =
    * whole corpus; 256 buckets). The oracle recomputes the gram extraction,
    * md5 bucket hashing, Laplace-smoothed integer micro-probabilities, and
    * per-doc BIGINT scores end to end — (doc_id, score) hash-checked. */
  def q_dsir(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // target = the English slice of the raw corpus → the single-scan
    // predicate path (both bucket distributions from one corpus pass)
    graft.functions.Sampling.importanceResampleBy(
      docs, col("lang") === "en", "doc_id", "text",
      k = 200, buckets = 256, portable = portable)
      .select(col("doc_id"), col("score"))
  }

  private val q_dsir_sql =
    """WITH docs AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang,
      |    list_concat(ws, list_transform(range(1, greatest(len(ws), 1)),
      |      i -> ws[i] || ' ' || ws[i + 1])) AS grams
      |  FROM docs),
      |tok AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(x), 1, 15))::BIGINT % 256 AS bkt
      |  FROM g, unnest(grams) AS t(x)),
      |tc AS (SELECT bkt, count(*) AS c FROM tok WHERE lang = 'en' GROUP BY 1),
      |rc AS (SELECT bkt, count(*) AS c FROM tok GROUP BY 1),
      |tn AS (SELECT CAST(coalesce(sum(c), 0) + 256 AS BIGINT) AS n FROM tc),
      |rn AS (SELECT CAST(coalesce(sum(c), 0) + 256 AS BIGINT) AS n FROM rc),
      |bs AS (
      |  SELECT b.bkt,
      |    ((coalesce(tc.c, 0) + 1) * 1000000000000) // tn.n
      |      - ((coalesce(rc.c, 0) + 1) * 1000000000000) // rn.n AS s
      |  FROM (SELECT unnest(range(0, 256)) AS bkt) b
      |  LEFT JOIN tc ON b.bkt = tc.bkt
      |  LEFT JOIN rc ON b.bkt = rc.bkt
      |  CROSS JOIN tn CROSS JOIN rn),
      |ds AS (
      |  SELECT d.doc_id, CAST(coalesce(sum(bs.s), 0) AS BIGINT) AS score
      |  FROM documents d
      |  LEFT JOIN tok ON d.doc_id = tok.doc_id
      |  LEFT JOIN bs ON tok.bkt = bs.bkt
      |  GROUP BY 1)
      |SELECT doc_id, score FROM ds ORDER BY score DESC, doc_id LIMIT 200""".stripMargin

  /** Benchmark decontamination: training docs (doc_id % 50 <> 0) sharing any
    * distinct word 3-gram with the benchmark slice (doc_id % 50 = 0), with
    * the shared-gram count. Both engines build the same distinct gram sets,
    * so (doc_id, hits) is hash-checked. */
  def q_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.functions.Dedup.contamination(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 3, minHits = 1)
  }

  private val q_decontaminate_sql =
    """WITH bg AS (
      |  SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS g
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 50 = 0),
      |       UNNEST(range(1, len(w) - 1)) AS t(i)),
      |tg AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 50 <> 0),
      |       UNNEST(range(1, len(w) - 1)) AS t(i))
      |SELECT doc_id, count(*) AS hits FROM tg JOIN bg USING (g) GROUP BY doc_id""".stripMargin

  /** HTML → text extraction (TextAnalysis.extractHtmlText): deterministic
    * markup is synthesized around each document's text (nav/script/style/
    * comment boilerplate + entities), then stripped back; the oracle builds
    * the SAME markup and replays the identical regex chain, so the cleaned
    * strings hash-match — pinning that the Java and RE2 engines agree on
    * every pattern in the chain. */
  def q_html_extract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>d</title><style>p {color: red}</style></head>" +
        "<body><!-- nav --><nav>home | about</nav><p>"), col("text"),
      lit("</p><script type=\"text/javascript\">var x = 1 && 2 < 3;</script>" +
        "<div>footer &amp; legal &lt;here&gt;&nbsp;ok</div></body></html>"))
    tbl(s, dir, "documents").select(col("doc_id"),
      graft.functions.TextAnalysis.extractHtmlText(html).as("clean"))
  }

  private val q_html_extract_sql =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      '<html><head><title>d</title><style>p {color: red}</style></head>'
      |        || '<body><!-- nav --><nav>home | about</nav><p>' || text
      |        || '</p><script type="text/javascript">var x = 1 && 2 < 3;</script>'
      |        || '<div>footer &amp; legal &lt;here&gt;&nbsp;ok</div></body></html>',
      |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g'),
      |      '&nbsp;', ' ', 'g'),
      |      '&lt;', '<', 'g'),
      |      '&gt;', '>', 'g'),
      |      '&quot;', '"', 'g'),
      |      '&amp;', '&', 'g'),
      |    '\s+', ' ', 'g')) AS clean
      |FROM documents""".stripMargin

  /** SimHash near-dup pairs (Hamming ≤ 3 via 4-band pigeonhole), portable
    * 60-bit signature. Banding recall is exact for the stated distance, so
    * the oracle is the full pairwise Hamming filter over the same
    * signatures — recomputed bit-for-bit in SQL. */
  def q_dedup_simhash(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Dedup.simhashNearDups(tbl(s, dir, "documents"),
      "doc_id", "text", maxDist = 3, portable = portable)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))

  private val q_dedup_simhash_sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |hv AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok WHERE w <> ''),
      |votes AS (SELECT doc_id, b.b AS b,
      |    sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM hv, (SELECT unnest(range(60)) AS b) b GROUP BY doc_id, b.b),
      |sig AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS sh
      |  FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin

  /** exact word-3-gram Jaccard ≥ 0.5 on same-language pairs with a
    * document-frequency cap of 50 (boilerplate grams dropped from both
    * sides — the lever that bounds the gram self-join at scale) — the
    * verify stage of the dedup pipeline, fully SQL-expressible. */
  def q_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.ngramJaccard(tbl(s, dir, "documents"),
      "doc_id", "text", "lang", n = 3, maxId = 2000, minJaccard = 0.5,
      maxDf = 50)

  private val q_ngram_jaccard_sql =
    """WITH g0 AS (
      |  SELECT DISTINCT doc_id, lang, array_to_string(w[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents WHERE doc_id < 2000),
      |       UNNEST(range(1, len(w) - 1)) AS t(i)),
      |keep AS (SELECT g FROM (SELECT g, count(*) AS c FROM g0 GROUP BY g) WHERE c <= 50),
      |g AS (SELECT g0.* FROM g0 JOIN keep USING (g)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM g a JOIN g b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= CAST(0.5 AS DOUBLE)""".stripMargin

  /** k-core degree peeling (Graph.kCore): 4 fixed peel rounds at k=2 over
    * the co-purchase graph — the dense-community extractor. Fixed rounds
    * make the computation a pure set-algebra function both engines run
    * verbatim (the fixpoint needs recursion over a SHRINKING set, beyond
    * plain recursive CTEs); extra rounds past the fixpoint are no-ops.
    * The library default peels to the true fixpoint (spec-pinned on a
    * fixture); the oracle CTEs are MATERIALIZED — inlined, the a1..a4
    * chain re-evaluates its upstream exponentially. */
  def q_kcore(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.kCore(
      copurchasePairs(s, dir)
        .select(col("a_item").as("src"), col("b_item").as("dst")),
      k = 2, rounds = Some(4), dedupeEdges = false)

  private val q_kcore_sql =
    """WITH bi AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS MATERIALIZED (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept AS MATERIALIZED (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |ab AS MATERIALIZED (
      |  SELECT a.it AS a_item, b.it AS b_item
      |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT a_item AS src, b_item AS dst FROM ab
      |  UNION SELECT b_item, a_item FROM ab),
      |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
      |a1 AS MATERIALIZED (SELECT src AS node FROM und
      |  WHERE src IN (SELECT node FROM a0) AND dst IN (SELECT node FROM a0)
      |  GROUP BY 1 HAVING count(*) >= 2),
      |a2 AS MATERIALIZED (SELECT src AS node FROM und
      |  WHERE src IN (SELECT node FROM a1) AND dst IN (SELECT node FROM a1)
      |  GROUP BY 1 HAVING count(*) >= 2),
      |a3 AS MATERIALIZED (SELECT src AS node FROM und
      |  WHERE src IN (SELECT node FROM a2) AND dst IN (SELECT node FROM a2)
      |  GROUP BY 1 HAVING count(*) >= 2),
      |a4 AS MATERIALIZED (SELECT src AS node FROM und
      |  WHERE src IN (SELECT node FROM a3) AND dst IN (SELECT node FROM a3)
      |  GROUP BY 1 HAVING count(*) >= 2)
      |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree FROM und
      |WHERE src IN (SELECT node FROM a4) AND dst IN (SELECT node FROM a4)
      |GROUP BY 1""".stripMargin

  /** Per-node clustering coefficient (Graph.clusteringCoefficient) over
    * the co-purchase graph: wedge-closure triangle counts per CENTER,
    * hub nodes above the degree cap dropped whole (the wedge quadratic
    * lives on hubs), coefficients dividing exact integers once. */
  def q_clustering_coeff(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.clusteringCoefficient(
      copurchasePairs(s, dir)
        .select(col("a_item").as("src"), col("b_item").as("dst")),
      maxDegree = 50, dedupeEdges = false)

  private val q_clustering_coeff_sql =
    """WITH bi AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS MATERIALIZED (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept0 AS MATERIALIZED (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |ab AS MATERIALIZED (
      |  SELECT a.it AS a_item, b.it AS b_item
      |  FROM kept0 a JOIN kept0 b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT a_item AS src, b_item AS dst FROM ab
      |  UNION SELECT b_item, a_item FROM ab),
      |keepn AS MATERIALIZED (
      |  SELECT src AS node FROM und GROUP BY 1 HAVING count(*) <= 50),
      |ke AS MATERIALIZED (
      |  SELECT * FROM und
      |  WHERE src IN (SELECT node FROM keepn) AND dst IN (SELECT node FROM keepn)),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree FROM ke GROUP BY 1),
      |closed AS MATERIALIZED (
      |  SELECT x.src AS node, count(*) AS triangles
      |  FROM ke x JOIN ke y ON x.src = y.src AND x.dst < y.dst
      |  JOIN ke e ON e.src = x.dst AND e.dst = y.dst
      |  GROUP BY 1)
      |SELECT deg.node, CAST(degree AS BIGINT) AS degree,
      |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
      |  CASE WHEN degree < 2 THEN 0.0
      |    ELSE 2.0 * CAST(coalesce(triangles, 0) AS DOUBLE)
      |      / CAST(degree * (degree - 1) AS DOUBLE) END AS coeff
      |FROM deg LEFT JOIN closed ON deg.node = closed.node""".stripMargin

  /** HITS hubs/authorities (Graph.hits), 2 unnormalized rounds over the
    * customer→order graph: every score an exact BIGINT, so the oracle
    * unrolls both rounds with zero floating point. */
  def q_hits(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.hits(
      tbl(s, dir, "orders").select(col("o_custkey").as("src"),
        (col("o_orderkey") + 10000000L).as("dst")),
      rounds = 2, dedupeEdges = false)

  private val q_hits_sql =
    """WITH e AS (SELECT o_custkey AS src, o_orderkey + 10000000 AS dst FROM orders),
      |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |a1 AS (SELECT dst AS node, count(*) AS v FROM e GROUP BY 1),
      |h1 AS (SELECT e.src AS node, sum(coalesce(a1.v, 0)) AS v
      |  FROM e LEFT JOIN a1 ON e.dst = a1.node GROUP BY 1),
      |a2 AS (SELECT e.dst AS node, sum(coalesce(h1.v, 0)) AS v
      |  FROM e LEFT JOIN h1 ON e.src = h1.node GROUP BY 1),
      |h2 AS (SELECT e.src AS node, sum(coalesce(a2.v, 0)) AS v
      |  FROM e LEFT JOIN a2 ON e.dst = a2.node GROUP BY 1)
      |SELECT n.node, CAST(coalesce(h2.v, 0) AS BIGINT) AS hub,
      |  CAST(coalesce(a2.v, 0) AS BIGINT) AS auth
      |FROM n LEFT JOIN h2 ON n.node = h2.node
      |       LEFT JOIN a2 ON n.node = a2.node""".stripMargin

  /** Common-neighbor link prediction (Graph.commonNeighbors) over the
    * co-purchase graph: non-adjacent part pairs sharing ≥ 2 neighbors,
    * scored by neighborhood Jaccard — the candidate generator for a
    * related-items expansion. Hub cap 50, wedge machinery shared with
    * q_clustering_coeff. */
  def q_link_predict(s: SparkSession, dir: String): DataFrame =
    graft.algorithms.Graph.commonNeighbors(
      copurchasePairs(s, dir)
        .select(col("a_item").as("src"), col("b_item").as("dst")),
      maxDegree = 50, minCommon = 2L, dedupeEdges = false)

  private val q_link_predict_sql =
    """WITH bi AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |sized AS MATERIALIZED (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 20),
      |kept0 AS MATERIALIZED (SELECT bi.* FROM bi JOIN sized USING (bk)),
      |ab AS MATERIALIZED (
      |  SELECT a.it AS a_item, b.it AS b_item
      |  FROM kept0 a JOIN kept0 b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT a_item AS src, b_item AS dst FROM ab
      |  UNION SELECT b_item, a_item FROM ab),
      |keepn AS MATERIALIZED (
      |  SELECT src AS node FROM und GROUP BY 1 HAVING count(*) <= 50),
      |ke AS MATERIALIZED (
      |  SELECT * FROM und
      |  WHERE src IN (SELECT node FROM keepn) AND dst IN (SELECT node FROM keepn)),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree FROM ke GROUP BY 1),
      |cand AS MATERIALIZED (
      |  SELECT x.dst AS a, y.dst AS b, count(*) AS common
      |  FROM ke x JOIN ke y ON x.src = y.src AND x.dst < y.dst
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |nonadj AS MATERIALIZED (
      |  SELECT c.* FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM ke k WHERE k.src = c.a AND k.dst = c.b))
      |SELECT a, b, CAST(common AS BIGINT) AS common,
      |  CAST(da.degree AS BIGINT) AS deg_a, CAST(db.degree AS BIGINT) AS deg_b,
      |  CAST(common AS DOUBLE)
      |    / CAST(da.degree + db.degree - common AS DOUBLE) AS jaccard
      |FROM nonadj JOIN deg da ON a = da.node JOIN deg db ON b = db.node""".stripMargin

  /** Skip-gram training pairs (SequencePairs.skipGramCounts): per-user
    * event sequences in (ts, event_id) order, neighbors within ±2
    * positions counted by (target, context, offset). Pairing is an
    * offset EXPLODE + one (user, position) equi-join — rows·2w output,
    * never a per-key quadratic self-join. */
  def q_skipgrams(s: SparkSession, dir: String): DataFrame =
    graft.functions.SequencePairs.skipGramCounts(events(s, dir),
      "user_id", Seq(col("ts"), col("event_id")), "event_type", window = 2)

  private val q_skipgrams_sql =
    """WITH pos AS (
      |  SELECT user_id AS k, event_type AS item,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pos
      |  FROM events),
      |wanted AS (
      |  SELECT k, item AS target, pos, o.offset, pos + o.offset AS b_pos
      |  FROM pos CROSS JOIN (
      |    SELECT unnest([-2, -1, 1, 2]) AS offset) o)
      |SELECT w.target, p.item AS context,
      |  CAST(w.offset AS BIGINT) AS offset, CAST(count(*) AS BIGINT) AS n
      |FROM wanted w JOIN pos p ON w.k = p.k AND w.b_pos = p.pos
      |GROUP BY 1, 2, 3""".stripMargin

  /** Exact length deciles (Sampling.quantileBuckets): every document's
    * global rank and decile in (n_chars, doc_id) order via the
    * distributed two-pass prefix sum — the curriculum-bucketing
    * primitive computed without the one-task `ntile() OVER (ORDER BY …)`
    * window. Rank and bucket are exact integer arithmetic. */
  def q_quantile_buckets(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.quantileBuckets(tbl(s, dir, "documents"),
      "doc_id", col("n_chars"), q = 10, partitions = Some(8))

  private val q_quantile_buckets_sql =
    """WITH r AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS rank
      |  FROM documents),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, rank, rank * 10 // n AS bucket
      |FROM r CROSS JOIN n""".stripMargin

  /** Asymmetric n-gram containment (Dedup.ngramContainment): the
    * subset-duplication pass Jaccard misses — a short doc quoted whole
    * inside a long one scores cont_a = 1 at tiny Jaccard. Same df-cap +
    * pair-keyed aggregation shape as q_ngram_jaccard; both direction
    * ratios divide exact integers once in double. */
  def q_ngram_containment(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.ngramContainment(tbl(s, dir, "documents"),
      "doc_id", "text", "lang", n = 3, maxId = 2000, minContainment = 0.8,
      maxDf = 50)

  private val q_ngram_containment_sql =
    """WITH g0 AS (
      |  SELECT DISTINCT doc_id, lang, array_to_string(w[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents WHERE doc_id < 2000),
      |       UNNEST(range(1, len(w) - 1)) AS t(i)),
      |keep AS (SELECT g FROM (SELECT g, count(*) AS c FROM g0 GROUP BY g) WHERE c <= 50),
      |g AS (SELECT g0.* FROM g0 JOIN keep USING (g)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM g a JOIN g b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
      |  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
      |  CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a,
      |  CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b
      |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8
      |   OR CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE) >= 0.8""".stripMargin

  /** LSH candidates → exact verify, the end-to-end near-dup pipeline —
    * oracle-checkable because the verified output equals the full exact
    * pairwise jaccard at this threshold (miss probability ≈ 1e-12 for the
    * planted ≥0.95 dups). */
  def q_dedup_verified(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.nearDupPipeline(tbl(s, dir, "documents"),
      "doc_id", "text", minJaccard = 0.8)

  private val q_dedup_verified_sql =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(range(1, len(w) - 1)) AS t(i)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= CAST(0.8 AS DOUBLE)""".stripMargin

  /** Per-vector int8 embedding quantization (Similarity.quantizeInt8):
    * every arithmetic step is replicated in SQL, so (vec_id, scale, dim,
    * code) is hash-checked bit for bit — ties round half-away-from-zero
    * on both engines. */
  def q_embed_int8(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.quantizeInt8(
        tbl(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"),
        posexplode(col("codes")).as(Seq("_p", "_c")))
      .select(col("vec_id"), col("scale"),
        (col("_p") + 1).cast("long").as("dim"), col("_c").cast("long").as("code"))

  private val q_embed_int8_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |s AS (SELECT vec_id, vec,
      |        list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale FROM v),
      |e AS (SELECT vec_id, scale, unnest(vec) AS x,
      |        generate_subscripts(vec, 1) AS dim FROM s)
      |SELECT vec_id, scale, CAST(dim AS BIGINT) AS dim,
      |  CAST(CASE WHEN scale = 0 THEN 0
      |            ELSE round(x / scale) END AS BIGINT) AS code
      |FROM e""".stripMargin

  /** Top-3 by int8-quantized cosine (Similarity.int8TopK): scores are
    * pure small-integer sums (scales cancel), so both engines compute
    * identical values — no float-order caveats. */
  def q_ann_int8(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.int8TopK(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", maxQueryId = 50, k = 3)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))

  private val q_ann_int8_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |s AS (SELECT vec_id, vec,
      |        list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale FROM v),
      |e AS (SELECT vec_id, scale, unnest(vec) AS x,
      |        generate_subscripts(vec, 1) AS i FROM s),
      |q AS (SELECT vec_id, i,
      |        CAST(CASE WHEN scale = 0 THEN 0
      |                  ELSE round(x / scale) END AS BIGINT) AS cde FROM e),
      |n AS (SELECT vec_id, sum(cde * cde) AS n2 FROM q GROUP BY vec_id),
      |d AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.cde * b.cde) AS dp
      |      FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 50 AND a.vec_id <> b.vec_id
      |      GROUP BY 1, 2),
      |sc AS (SELECT q_id, c_id,
      |        CASE WHEN na.n2 * nb.n2 = 0 THEN 0.0
      |             ELSE round(CAST(dp AS DOUBLE) /
      |                    sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) END AS sim
      |      FROM d JOIN n na ON na.vec_id = q_id JOIN n nb ON nb.vec_id = c_id)
      |SELECT q_id, c_id, sim, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
      |WHERE rn <= 3""".stripMargin

  /** brute-force cosine top-3 for the first 50 vectors (exact ANN baseline). */
  def q_cosine_topk(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.bruteForceTopK(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", maxQueryId = 50, k = 3)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))

  private val q_cosine_topk_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |e AS (SELECT vec_id, unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM v),
      |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
      |d AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.x * b.x) AS dp
      |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 50 AND a.vec_id <> b.vec_id
      |      GROUP BY 1, 2),
      |sc AS (SELECT q_id, c_id, round(dp / (na.nrm * nb.nrm), 6) AS sim
      |      FROM d JOIN n na ON na.vec_id = q_id JOIN n nb ON nb.vec_id = c_id)
      |SELECT q_id, c_id, sim, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
      |WHERE rn <= 3""".stripMargin

  /** Embedding QA (Similarity.centroidCosine): every vector's cosine to
    * its own label's centroid — mislabeled/corrupt embeddings surface at
    * the bottom. Centroid = (labels × dim) partial-aggregated mean,
    * broadcast back as a labels-row array table; scores are one narrow
    * fused-dot pass. */
  def q_centroid_cosine(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.centroidCosine(
      tbl(s, dir, "embeddings"), "vec_id", "label", "embedding")

  private val q_centroid_cosine_sql =
    """WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |e AS (SELECT vec_id, label, unnest(vec) AS x,
      |    generate_subscripts(vec, 1) AS i FROM v),
      |cent AS (SELECT label, i, avg(x) AS c FROM e GROUP BY 1, 2),
      |dotn AS (SELECT e.vec_id, e.label, sum(e.x * cent.c) AS dp,
      |    sqrt(sum(e.x * e.x)) AS nx
      |  FROM e JOIN cent ON e.label = cent.label AND e.i = cent.i
      |  GROUP BY 1, 2),
      |nc AS (SELECT label, sqrt(sum(c * c)) AS nc FROM cent GROUP BY 1)
      |SELECT d.vec_id, d.label, round(dp / (nx * nc.nc), 6) AS cos_centroid
      |FROM dotn d JOIN nc ON d.label = nc.label""".stripMargin

  /** Shared oracle-SQL prelude recomputing the portable LSH bucket per
    * vector: quantized integer votes against md5-derived ±1 hyperplanes —
    * exact integer arithmetic, bit-identical to
    * [[graft.functions.Similarity.lshBucketPortable]]. */
  private def lshBucketSqlPrelude(bits: Int): String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |      FROM embeddings),
       |e AS (SELECT vec_id, unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM v),
       |sgn AS (SELECT p.p AS p, d.i AS i,
       |    CASE WHEN ('0x' || substr(md5(p.p || ':' || (d.i - 1)), 1, 15))::BIGINT & 1 = 1
       |         THEN 1 ELSE -1 END AS sg
       |  FROM (SELECT unnest(range($bits)) AS p) p, (SELECT DISTINCT i FROM e) d),
       |votes AS (SELECT e.vec_id, sgn.p,
       |    CAST(sum(floor(e.x * 1e6)::BIGINT * sgn.sg) AS BIGINT) AS vt
       |  FROM e JOIN sgn ON e.i = sgn.i GROUP BY e.vec_id, sgn.p),
       |bkt AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN vt > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM votes GROUP BY vec_id),
       |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
       |m AS (SELECT e.vec_id, e.i, e.x, b.bucket, n.nrm
       |      FROM e JOIN bkt b USING (vec_id) JOIN n USING (vec_id))""".stripMargin

  /** LSH-bucketed ANN top-3 (the scale path: candidates are bucket-local,
    * not corpus-quadratic), portable bucket hashing — the oracle recomputes
    * the same buckets in SQL, so the bucketed algorithm itself is
    * hash-checked. */
  def q_ann_lsh(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Similarity.annTopK(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", maxQueryId = 50, k = 3, bits = 8,
      portable = portable)
      .select(col("q_id"), col("c_id"), col("bucket"), col("sim"), col("rank"))

  private def q_ann_lsh_sql: String =
    s"""WITH ${lshBucketSqlPrelude(8)},
       |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, max(a.bucket) AS bucket,
       |    round(sum(a.x * b.x) / (max(a.nrm) * max(b.nrm)), 6) AS sim
       |  FROM m a JOIN m b ON a.i = b.i AND a.bucket = b.bucket
       |    AND a.vec_id < 50 AND a.vec_id <> b.vec_id
       |  GROUP BY a.vec_id, b.vec_id)
       |SELECT q_id, c_id, bucket, sim, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  /** Multiprobe LSH ANN: each query also probes every 1-bit-flip neighbor
    * of its bucket (the standard recall lever; query side ×(bits+1), corpus
    * side untouched). The oracle recomputes the probe set in SQL — the
    * multiprobe machinery itself is hash-checked, not rows-only. */
  def q_ann_multiprobe(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Similarity.annTopK(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", maxQueryId = 50, k = 3, bits = 8,
      portable = portable, multiprobe = true)
      .select(col("q_id"), col("c_id"), col("bucket"), col("sim"), col("rank"))

  private def q_ann_multiprobe_sql: String =
    s"""WITH ${lshBucketSqlPrelude(8)},
       |qp AS (SELECT vec_id AS q_id,
       |    unnest([bucket] || list_transform(range(8), p -> xor(bucket, 1::BIGINT << p))) AS probe
       |  FROM bkt WHERE vec_id < 50),
       |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, max(b.bucket) AS bucket,
       |    round(sum(a.x * b.x) / (max(a.nrm) * max(b.nrm)), 6) AS sim
       |  FROM qp JOIN m b ON b.bucket = qp.probe
       |          JOIN m a ON a.vec_id = qp.q_id AND a.i = b.i
       |  WHERE a.vec_id <> b.vec_id
       |  GROUP BY a.vec_id, b.vec_id)
       |SELECT q_id, c_id, bucket, sim, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  /** IVF ANN (k-means coarse quantizer) run at full probe (nprobe = nlist):
    * provably equivalent to brute force — which is exactly what makes the
    * whole IVF machinery (train, assign, probe, list join) oracle-checkable
    * against the exact top-k SQL. NearDupSpec covers the nprobe < nlist
    * approximate operating point. k=5 to keep it distinct from
    * q_cosine_topk. */
  def q_ann_ivf(s: SparkSession, dir: String): DataFrame =
    // kmeansIters=2: at full probe the quantizer cannot change the result
    // (every list is scored), so extra Lloyd rounds are pure driver-loop cost
    graft.functions.Similarity.ivfTopK(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", maxQueryId = 50, k = 5, nlist = 8, nprobe = 8,
      kmeansIters = 2)

  /** Persistent IVF retrieval: the SAME full-probe query as q_ann_ivf, but
    * through IvfIndex build → save (lists partitioned by cluster) → load →
    * query — the driver gate covers partition-laid-out ANN serving from a
    * MATERIALIZED index. At nprobe = nlist every list is probed, so the
    * result provably equals the exact top-k oracle regardless of how the
    * quantizer trained. Same content-fingerprint disk cache discipline as
    * q_inverted_index. */
  def q_ann_ivf_persist(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    // fingerprint covers BOTH columns the index derives from: an id-only
    // hash let a corpus whose VECTORS changed under unchanged ids (exactly
    // what a scramble-scheme regeneration does) silently serve the stale
    // index while the oracle recomputed fresh — caught by the round-15
    // sf1 hash sweep
    val fp = graft.functions.CacheKey.memoFp(s"ivf|$dir") {
      graft.functions.CacheKey.contentFp(emb, col("vec_id"), col("embedding"))
    }
    val nlist = 8
    val kmeansIters = 2
    // version 2: the fp FORMULA changed (md5-prefix-sum -> xxhash64
    // contentFp, wider column coverage), so old- and new-formula caches
    // must be disjoint by construction — the path shape was otherwise
    // identical and only the hash-sum half distinguished them (same bump
    // at the invidx/kmvstore/histstore sites, whose formulas also changed)
    val path = graft.functions.CacheKey.path("ivf", version = 2, sfTag,
      Seq(nlist, kmeansIters), fp)
    graft.functions.CacheKey.publishDir(path) { tmp =>
      graft.functions.IvfIndex.save(
        graft.functions.IvfIndex.build(emb, "vec_id", "embedding",
          nlist = nlist, kmeansIters = kmeansIters), tmp)
    }
    val loaded = graft.functions.IvfIndex.load(s, path)
    graft.functions.IvfIndex.query(loaded,
      emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5, nprobe = 8)
  }

  private val q_ann_ivf_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |e AS (SELECT vec_id, unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM v),
      |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
      |d AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.x * b.x) AS dp
      |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 50 AND a.vec_id <> b.vec_id
      |      GROUP BY 1, 2),
      |sc AS (SELECT q_id, c_id, round(dp / (na.nrm * nb.nrm), 6) AS sim
      |      FROM d JOIN n na ON na.vec_id = q_id JOIN n nb ON nb.vec_id = c_id)
      |SELECT q_id, c_id, sim, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
      |WHERE rn <= 5""".stripMargin

  /** SHARDED persistent IVF retrieval — the past-a-few-thousand-lists scale
    * shape (one flat index caps at ~few·10³ lists; beyond that the corpus
    * splits into N independent per-shard indexes, query fanned across
    * shards, one tiny global top-k re-rank). Run at full probe per shard
    * (nprobe = per-shard nlist): shard id spaces are disjoint and
    * within-shard scoring is the flat path bit-for-bit, so the sharded
    * answer provably equals exact brute force — the same q_ann_ivf oracle —
    * regardless of how any shard's quantizer trained. shards=3 exercises
    * real routing (manifest, per-shard quantizers, cross-shard re-rank);
    * IvfIndexSpec additionally pins shards=1 ≡ flat and frozen-quantizer
    * sharded append. Same content-fingerprint disk cache discipline as
    * q_ann_ivf_persist. */
  def q_ann_ivf_sharded(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    val fp = graft.functions.CacheKey.memoFp(s"ivfshard|$dir") {
      graft.functions.CacheKey.contentFp(emb, col("vec_id"), col("embedding"))
    }
    val shards = 3
    val nlist = 4
    val kmeansIters = 2
    val path = graft.functions.CacheKey.path("ivfshard", version = 1, sfTag,
      Seq(shards, nlist, kmeansIters), fp)
    graft.functions.CacheKey.publishDir(path) { tmp =>
      graft.functions.IvfIndex.shardedSave(emb, "vec_id", "embedding", tmp,
        shards = shards, nlist = nlist, kmeansIters = kmeansIters)
    }
    graft.functions.IvfIndex.shardedTopK(s, path,
      emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5,
      nprobe = nlist)
  }

  /** IVF ANN through the CORPUS-ADAPTIVE sizing path (`nlist <= 0`) — the
    * configuration a 100 TB caller actually hits (autoNlist holds list
    * population ~1024; past 64 lists auto mode routes through the
    * two-level residual quantizer). Run at probe-all (nprobe ≥ every flat
    * list / every composed two-level cell): every candidate is scored, so
    * the result provably equals the exact top-k oracle at ANY corpus size
    * on EITHER branch — the quantizer cannot change a full scan.
    * IvfIndexSpec pins the two-level branch's full-probe exactness on an
    * 80k-vector corpus where autoNlist lands past the routing threshold;
    * the sf catalog corpora resolve to the flat branch. k=4/maxQueryId=40
    * keep the cell distinct from q_ann_ivf. */
  def q_ann_ivf_auto(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.ivfTopK(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", maxQueryId = 40, k = 4, nlist = 0,
      nprobe = Int.MaxValue, kmeansIters = 2)

  private val q_ann_ivf_auto_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |e AS (SELECT vec_id, unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM v),
      |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
      |d AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.x * b.x) AS dp
      |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 40 AND a.vec_id <> b.vec_id
      |      GROUP BY 1, 2),
      |sc AS (SELECT q_id, c_id, round(dp / (na.nrm * nb.nrm), 6) AS sim
      |      FROM d JOIN n na ON na.vec_id = q_id JOIN n nb ON nb.vec_id = c_id)
      |SELECT q_id, c_id, sim, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
      |WHERE rn <= 4""".stripMargin

  /** PQ/ADC ANN (ProductQuantizer): the FAISS memory-compression path —
    * 64-dim vectors encode to 8 one-byte codes, queries score candidates by
    * table lookup. Run at the provable configuration (codebook = the 4
    * smallest-id corpus vectors, zero Lloyd rounds), so the oracle rebuilds
    * the exact same codebook, codes, ADC tables and ranking in SQL — the
    * whole encode/score machinery is hash-checked; PqSpec covers the trained
    * operating point. Sub-distances round to 6dp and scale to integer
    * micro-units before summing, so every ADC distance is exact integer
    * arithmetic. */
  def q_ann_pq(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val model = graft.functions.ProductQuantizer
      .seedModel(e, "vec_id", "embedding", m = 8, ksub = 4)
    val enc = graft.functions.ProductQuantizer.encode(e, "embedding", model)
    graft.functions.ProductQuantizer.adcTopK(enc,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", model, k = 10)
  }

  private val q_ann_pq_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |grid AS (SELECT CAST(j AS INTEGER) AS j, CAST(c AS INTEGER) AS c
      |         FROM range(0, 8) rj(j), range(0, 4) rc(c)),
      |cb AS (SELECT grid.j, grid.c,
      |         s.vec[CAST(grid.j*8+1 AS INTEGER) : CAST(grid.j*8+8 AS INTEGER)] AS cent
      |       FROM grid JOIN v s ON s.vec_id = grid.c),
      |sd AS (SELECT d.vec_id, cb.j, cb.c,
      |         round(list_sum(list_transform(range(1, 9), i ->
      |           power(d.vec[CAST(cb.j*8 + i AS INTEGER)]
      |                 - cb.cent[CAST(i AS INTEGER)], 2))), 6) AS r
      |       FROM v d CROSS JOIN cb),
      |codes AS (SELECT vec_id, j, c AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY r ASC, c ASC) AS rn
      |    FROM sd) WHERE rn = 1),
      |qtab AS (SELECT vec_id AS q_id, j, c,
      |           CAST(round(r * 1000000, 0) AS BIGINT) AS micro
      |         FROM sd WHERE vec_id < 3),
      |adc AS (SELECT q.q_id, d.vec_id AS c_id, CAST(sum(q.micro) AS BIGINT) AS adc_micro
      |        FROM codes d JOIN qtab q ON q.j = d.j AND q.c = d.code
      |        WHERE d.vec_id <> q.q_id
      |        GROUP BY 1, 2)
      |SELECT q_id, c_id, adc_micro, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_micro ASC, c_id ASC) AS rn
      |  FROM adc) WHERE rn <= 10""".stripMargin

  /** IVF-PQ at full probe (ProductQuantizer.ivfPqTopK): the coarse
    * quantizer prunes nothing at nprobe = nlist, so the whole composition —
    * k-means lists, probe selection, list join, PQ encode, ADC scoring —
    * must reproduce flat ADC exactly: the oracle is q_ann_pq's SQL
    * verbatim. PqSpec covers the pruned (approximate) operating point. */
  def q_ann_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val model = graft.functions.ProductQuantizer
      .seedModel(e, "vec_id", "embedding", m = 8, ksub = 4)
    val built = graft.functions.IvfIndex.build(e, "vec_id", "embedding",
      nlist = 8, kmeansIters = 2)
    // build-once/query-many shape: lists PQ-encoded at index-build time,
    // queries pay only probe + ADC (PqSpec pins ≡ the re-encoding form)
    val enc = graft.functions.ProductQuantizer.encodeLists(built, model)
    graft.functions.ProductQuantizer.ivfPqTopK(built, enc,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", model,
      k = 10, nprobe = 8, dp = 6, excludeSelfId = true)
  }

  /** embedding-cosine near-dup pairs over portable LSH buckets — oracle
    * recomputes buckets + rounded cosine in SQL. (This corpus has
    * near-random vectors — top-1 cosine ≈ 0.49 — so the "near dup"
    * threshold is relative to the distribution.) */
  def q_embedding_neardup(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    // oracle mode bakes bits=8 (the SQL twin's plane count); production uses
    // corpus-adaptive bits (bucket population ~64 — fixed bits=8 measured
    // quadratic in the round-14 100× sweep). sf0.1's 2000 vectors resolve
    // to the floor 8, so the committed bench plan is unchanged there.
    graft.functions.Similarity.cosineNearDups(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", minSim = 0.4,
      bits = if (portable) 8 else 0, portable = portable)

  private def q_embedding_neardup_sql: String =
    s"""WITH ${lshBucketSqlPrelude(8)}
       |SELECT a_id, b_id, sim FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      round(sum(a.x * b.x) / (max(a.nrm) * max(b.nrm)), 6) AS sim
       |  FROM m a JOIN m b ON a.i = b.i AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  GROUP BY a.vec_id, b.vec_id)
       |WHERE sim >= CAST(0.4 AS DOUBLE)""".stripMargin

  /** SemDeDup-style semantic near-dup pairs. Mode split mirrors the
    * portable-hash queries: Verify runs nlist=1 — the provable
    * configuration where within-cluster pairwise cosine equals FULL exact
    * pairwise cosine (the q_ann_ivf trick) — while Bench's production pass
    * runs the clustered nlist=16 shape a user ships (NearDupSpec pins
    * clustered ⊆ full and the sim≈1 equivalence). */
  def q_semantic_dedup(s: SparkSession, dir: String, portable: Boolean): DataFrame = {
    // production: nlist <= 0 → corpus-adaptive (cluster population ~1024,
    // pair volume linear in the corpus — the round-14 100× sweep measured
    // fixed nlist=16 at 128× wall per decade); sf0.1's 2000 vectors still
    // resolve to the floor 16, so the committed bench plan is unchanged
    val (nlist, iters) = if (portable) (1, 1) else (0, 2)
    graft.functions.Similarity.semanticDedupPairs(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", minSim = 0.4, nlist = nlist, kmeansIters = iters)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  private val q_semantic_dedup_sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |e AS (SELECT vec_id, unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM v),
      |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
      |d AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.x * b.x) AS dp
      |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      |      GROUP BY 1, 2)
      |SELECT a_id, b_id, sim FROM (
      |  SELECT a_id, b_id, round(dp / (na.nrm * nb.nrm), 6) AS sim
      |  FROM d JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)
      |WHERE sim >= CAST(0.4 AS DOUBLE)""".stripMargin

  /** full text profile: token/subword counts, punct + stopword ratios, mean
    * word length, quality score, language ID, bag-of-words fingerprint. */
  def q_text_profile(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.profile(tbl(s, dir, "documents"), "doc_id", "text")

  private val stopEn = graft.functions.TextAnalysis.stopwordsEn
    .map(w => s"'$w'").mkString("[", ", ", "]")
  private val stopEs = graft.functions.TextAnalysis.stopwordsEs
    .map(w => s"'$w'").mkString("[", ", ", "]")
  private val stopDe = graft.functions.TextAnalysis.stopwordsDe
    .map(w => s"'$w'").mkString("[", ", ", "]")

  private val q_text_profile_sql =
    s"""WITH base AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, text, w, len(w) AS nw, list_distinct(w) AS dw,
      |    len(list_intersect(list_distinct(w), $stopEn)) AS s_en,
      |    len(list_intersect(list_distinct(w), $stopEs)) AS s_es,
      |    len(list_intersect(list_distinct(w), $stopDe)) AS s_de,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio,
      |    CAST(len(list_filter(w, x -> list_contains($stopEn, x))) AS DOUBLE)
      |      / greatest(len(w), 1) AS stopword_ratio
      |  FROM base)
      |SELECT doc_id,
      |  CAST(nw AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), x -> x <> ''))
      |    + len(regexp_extract_all(text, '[a-zA-Z][0-9]|[0-9][a-zA-Z]')) AS BIGINT) AS n_subwords,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  punct_ratio,
      |  stopword_ratio,
      |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(nw, 1) AS mean_word_len,
      |  (CASE WHEN nw BETWEEN 20 AND 2000 THEN CAST(1 AS DOUBLE)
      |        WHEN nw BETWEEN 5 AND 5000 THEN CAST(0.5 AS DOUBLE)
      |        ELSE CAST(0 AS DOUBLE) END) * CAST(0.5 AS DOUBLE)
      |    + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)
      |    + (CASE WHEN stopword_ratio >= CAST(0.05 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)
      |    AS quality,
      |  CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 THEN 'unknown'
      |       WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
      |       WHEN s_es >= s_de THEN 'es'
      |       ELSE 'de' END AS lang_guess,
      |  md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
      |FROM d""".stripMargin

  /** Corpus health report (composition): per-source doc counts, exact
    * duplicate fraction, token mass, mean quality and English fraction —
    * the daily drift dashboard a curation team watches. Mean quality
    * sums exact quarter-units (the score is a multiple of 0.25), so the
    * double average is order-independent and oracle-exact. */
  def q_corpus_health(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis._
    val per = tbl(s, dir, "documents").select(col("source"), col("text"),
      tokenCount(col("text")).as("nt"),
      (qualityScore(col("text")) * 4).cast("long").as("q4"),
      langId(col("text")).as("lang"))
    per.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        sum(col("nt")).as("total_tokens"),
        sum(col("q4")).as("q4sum"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_docs").cast("double")).as("dup_frac"),
        col("total_tokens"),
        (col("q4sum").cast("double") / (col("n_docs") * 4).cast("double")).as("avg_quality"),
        (col("n_en").cast("double") / col("n_docs").cast("double")).as("en_frac"))
  }

  private val q_corpus_health_sql =
    s"""WITH base AS (
      |  SELECT source, text,
      |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
      |  FROM documents),
      |d AS (
      |  SELECT source, text, len(w) AS nw,
      |    len(list_intersect(list_distinct(w), $stopEn)) AS s_en,
      |    len(list_intersect(list_distinct(w), $stopEs)) AS s_es,
      |    len(list_intersect(list_distinct(w), $stopDe)) AS s_de,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio,
      |    CAST(len(list_filter(w, x -> list_contains($stopEn, x))) AS DOUBLE)
      |      / greatest(len(w), 1) AS stopword_ratio
      |  FROM base),
      |q AS (
      |  SELECT source, text, nw,
      |    CAST(((CASE WHEN nw BETWEEN 20 AND 2000 THEN CAST(1 AS DOUBLE)
      |          WHEN nw BETWEEN 5 AND 5000 THEN CAST(0.5 AS DOUBLE)
      |          ELSE CAST(0 AS DOUBLE) END) * CAST(0.5 AS DOUBLE)
      |      + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)
      |      + (CASE WHEN stopword_ratio >= CAST(0.05 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)) * 4 AS BIGINT) AS q4,
      |    CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 THEN 'unknown'
      |         WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
      |         WHEN s_es >= s_de THEN 'es'
      |         ELSE 'de' END AS lang
      |  FROM d)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
      |  CAST(1.0 AS DOUBLE) - CAST(count(DISTINCT text) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_frac,
      |  CAST(sum(nw) AS BIGINT) AS total_tokens,
      |  CAST(sum(q4) AS DOUBLE) / CAST(count(*) * 4 AS DOUBLE) AS avg_quality,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS en_frac
      |FROM q GROUP BY source""".stripMargin

  /** multimodal: binary payload column + stub decode via mapPartitions
    * (graft.functions.Multimodal) — schema/plumbing real, codec stubbed. */
  def q_multimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"), col("source").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[graft.functions.Multimodal.MediaRecord]
    graft.functions.Multimodal.decode(media).toDF()
  }

  private val q_multimodal_sql =
    """SELECT doc_id AS media_id, source AS kind,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      |  sha256(text) AS digest,
      |  CAST(64 + octet_length(CAST(text AS BLOB)) % 577 AS INTEGER) AS width,
      |  CAST(64 + (octet_length(CAST(text AS BLOB)) // 7) % 431 AS INTEGER) AS height,
      |  CAST(1 + octet_length(CAST(text AS BLOB)) % 24 AS INTEGER) AS n_frames
      |FROM documents""".stripMargin

  /** Per-frame audio features through the REAL WAV codec
    * (Multimodal.encodeWav → audioFrameFeatures): deterministic synthetic
    * PCM per document (a pure integer function of doc_id) is encoded,
    * decoded and framed on the executors; frame energy and zero-crossing
    * counts are exact integers, so the oracle replays the generating
    * formula with zero FP while the Spark side exercises the actual
    * encode→decode→frame pipeline (the codec itself is pinned by
    * MultimodalSpec's golden fixtures). */
  def q_audio_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val pcm = Array.tabulate(192)(i =>
          (((id * 31 + i * 17 + 7) % 65536) - 32768).toShort)
        graft.functions.Multimodal.MediaRecord(id, "wav",
          graft.functions.Multimodal.encodeWav(pcm))
      }
    graft.functions.Multimodal.audioFrameFeatures(media, frameSize = 64).toDF()
  }

  private val q_audio_features_sql =
    """WITH s AS (
      |  SELECT doc_id, i,
      |    CAST((doc_id * 31 + i * 17 + 7) % 65536 - 32768 AS BIGINT) AS v,
      |    CAST(i // 64 AS INTEGER) AS frame_idx
      |  FROM documents, UNNEST(range(0, 192)) AS t(i)),
      |l AS (SELECT doc_id, frame_idx, i, v,
      |    lag(v) OVER (PARTITION BY doc_id, frame_idx ORDER BY i) AS pv
      |  FROM s)
      |SELECT doc_id AS media_id, frame_idx, CAST(64 AS INTEGER) AS n_samples,
      |  CAST(sum(v * v) AS BIGINT) AS energy,
      |  CAST(count(CASE WHEN (pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0)
      |    THEN 1 END) AS INTEGER) AS zero_crossings
      |FROM l GROUP BY 1, 2""".stripMargin

  /** Per-tile image statistics through the REAL PPM codec
    * (Multimodal.encodePpm → imageTileStats): deterministic synthetic
    * 16×12 RGB per document, encoded, decoded and cut into 4×4 patches on
    * the executors — integer byte sums, so the oracle replays the pixel
    * formula with zero FP while Spark exercises the actual
    * encode→decode→tile path. */
  def q_image_tiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val rgb = Array.tabulate(3 * 16 * 12) { k =>
          ((id * 7 + k * 13) % 256).toByte
        }
        graft.functions.Multimodal.MediaRecord(id, "ppm",
          graft.functions.Multimodal.encodePpm(16, 12, rgb))
      }
    graft.functions.Multimodal.imageTileStats(media, tile = 4).toDF()
  }

  private val q_image_tiles_sql =
    """WITH px AS (
      |  SELECT doc_id, CAST((k // 3) % 16 AS INTEGER) AS x,
      |    CAST(k // 48 AS INTEGER) AS y,
      |    (doc_id * 7 + k * 13) % 256 AS v
      |  FROM documents, UNNEST(range(0, 576)) AS t(k))
      |SELECT doc_id AS media_id, CAST(x // 4 AS INTEGER) AS tile_x,
      |  CAST(y // 4 AS INTEGER) AS tile_y, CAST(16 AS INTEGER) AS n_px,
      |  CAST(sum(v) AS BIGINT) AS rgb_sum
      |FROM px GROUP BY 1, 2, 3""".stripMargin

  /** wordcount-assoc over a TEXT FILE — the reference's hero benchmark
    * (README.md:62-96, benches/wordcount.rs): stream_file → flat_map →
    * group_by_count. The file is materialized once per (sf, content hash)
    * from the documents table so the oracle can check against the same rows. */
  def q_wordcount_file(s: SparkSession, dir: String): DataFrame = {
    val sfTag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    // stale-safety without a full rewrite per run: a CONTENT-hash
    // fingerprint (row count + order-independent sum of per-row md5
    // prefixes, each < 2^31 so the sum of any realistic corpus cannot
    // overflow a long) is part of the FILENAME — a regenerated corpus gets
    // a different name instead of silently reusing a stale file — and the
    // single same-filesystem move below is atomic, so concurrent sessions
    // can never observe a half-written file
    val fpRow = tbl(s, dir, "documents")
      .agg(count(lit(1)), coalesce(sum(
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
          % lit(2147483647L)), lit(0L))).head()
    val fp = s"${fpRow.getLong(0)}_${fpRow.getLong(1)}"
    val path = graft.functions.CacheKey.path("wordcount", version = 1, sfTag,
      Nil, fp) + ".txt"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val tmp = path + ".tmpdir." + java.util.UUID.randomUUID()
      tbl(s, dir, "documents").select(col("text"))
        .coalesce(1).write.mode("overwrite").text(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"text write produced no part file under $tmp"))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // best-effort cleanup of the temp write dir
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }
    s.read.textFile(path)
      .select(explode(split(col("value"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
  }

  private val q_wordcount_file_sql = q_flat_map_sql // identical content

  /** Flagship end-to-end training-data pipeline: profile → quality gate →
    * bag-of-words dedup (keep lowest id per fingerprint) → per-language
    * corpus stats. One narrow profiling stage, one dedup shuffle, one stats
    * shuffle — the minimal-shuffle shape of a production cleaning job. */
  def q_pipeline_clean(s: SparkSession, dir: String): DataFrame = {
    val profiled = graft.functions.TextAnalysis.profile(
      tbl(s, dir, "documents"), "doc_id", "text")
    val gated = profiled.filter(col("quality") >= 0.75)
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    val deduped = gated.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    deduped.groupBy(col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
  }

  private val q_pipeline_clean_sql =
    s"""WITH profiled AS (${q_text_profile_sql.replace("FROM d", "FROM d")}),
      |gated AS (SELECT * FROM profiled WHERE quality >= CAST(0.75 AS DOUBLE)),
      |deduped AS (
      |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      |                 FROM gated) WHERE rn = 1)
      |SELECT lang_guess, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
      |FROM deduped GROUP BY lang_guess""".stripMargin

  /** Gopher-style repetition filters (QualityFilters): duplicate-line
    * fractions, top-n-gram shares, repeated-word fraction, symbol ratio,
    * keep decision. The synthetic corpus is single-line, so ' value ' is
    * rewritten to newlines (identically on both engines) to exercise the
    * line metrics. */
  def q_quality_gopher(s: SparkSession, dir: String): DataFrame =
    graft.functions.QualityFilters.gopherProfile(
      tbl(s, dir, "documents"), "doc_id", "text",
      lineify = t => replace(t, lit(" value "), lit("\n")))

  private val q_quality_gopher_sql =
    """WITH base AS (
      |  SELECT doc_id, text, replace(text, ' value ', chr(10)) AS t FROM documents),
      |l AS (
      |  SELECT doc_id, text,
      |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> x <> '') AS ls,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w,
      |    string_split(text, ' ') AS sw
      |  FROM base),
      |m AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ls) = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE 1 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls) END AS dup_line_frac,
      |    CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE CAST(list_sum(list_transform(ls, x -> length(x)))
      |                 - list_sum(list_transform(list_distinct(ls), x -> length(x))) AS DOUBLE)
      |              / list_sum(list_transform(ls, x -> length(x))) END AS dup_char_frac,
      |    CASE WHEN len(w) = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE 1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS repeated_word_frac,
      |    CAST(len(regexp_extract_all(text, '[#*>|]|\.\.\.')) AS DOUBLE)
      |      / greatest(len(w), 1) AS symbol_ratio
      |  FROM l),
      |g2 AS (SELECT doc_id, array_to_string(sw[i:i+1], ' ') AS g
      |       FROM l, UNNEST(range(1, len(sw))) AS u(i)),
      |c2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS share
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY doc_id),
      |g3 AS (SELECT doc_id, array_to_string(sw[i:i+2], ' ') AS g
      |       FROM l, UNNEST(range(1, len(sw) - 1)) AS u(i)),
      |c3 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS share
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY doc_id),
      |j AS (
      |  SELECT m.doc_id, dup_line_frac, dup_char_frac,
      |    coalesce(c2.share, CAST(0 AS DOUBLE)) AS top2_share,
      |    coalesce(c3.share, CAST(0 AS DOUBLE)) AS top3_share,
      |    repeated_word_frac, symbol_ratio
      |  FROM m LEFT JOIN c2 ON m.doc_id = c2.doc_id LEFT JOIN c3 ON m.doc_id = c3.doc_id)
      |SELECT *,
      |  (dup_line_frac <= CAST(0.30 AS DOUBLE) AND dup_char_frac <= CAST(0.20 AS DOUBLE)
      |   AND top2_share <= CAST(0.20 AS DOUBLE) AND top3_share <= CAST(0.18 AS DOUBLE)
      |   AND repeated_word_frac <= CAST(0.70 AS DOUBLE)
      |   AND symbol_ratio <= CAST(0.10 AS DOUBLE)) AS keep
      |FROM j""".stripMargin

  /** C4-style line-level cleaning (QualityFilters.c4Profile): a line
    * survives iff it ends in terminal punctuation, has >= minWords words
    * and mentions no boilerplate token; the page keeps iff >= minLines
    * lines survive and no page-level ban marker appears. The corpus is
    * single-line, so deterministic rewrites synthesize the line structure
    * identically on both engines: ' slow ' becomes ' javascript ' (line
    * bans), ' value ' ends a line WITH terminal punctuation, ' part '
    * ends one without. */
  def q_c4_clean(s: SparkSession, dir: String): DataFrame =
    graft.functions.QualityFilters.c4Profile(
      tbl(s, dir, "documents"), "doc_id", "text", minWords = 3, minLines = 3,
      lineify = t => replace(replace(replace(t,
        lit(" slow "), lit(" javascript ")),
        lit(" value "), lit(".\n")),
        lit(" part "), lit("\n")))

  private val q_c4_clean_sql =
    """WITH base AS (
      |  SELECT doc_id,
      |    replace(replace(replace(coalesce(text, ''), ' slow ', ' javascript '),
      |      ' value ', '.' || chr(10)), ' part ', chr(10)) AS t
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, t, list_filter(
      |      list_filter(list_transform(string_split(
      |        replace(replace(t, chr(13) || chr(10), chr(10)), chr(13), chr(10)),
      |        chr(10)), x -> trim(x)), x -> x <> ''),
      |      x -> right(x, 1) IN ('.', '!', '?', '"')
      |           AND len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) >= 3
      |           AND NOT contains(lower(x), 'javascript')) AS kept
      |  FROM base)
      |SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS cleaned,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
      |   AND NOT contains(t, '{')) AS keep
      |FROM l""".stripMargin

  /** Trainable quality classifier (QualityClassifier): logistic regression
    * by 3 full-batch GD steps over the portable text features, seed labels
    * from the heuristic gate (qualityScore >= 0.75), then score the whole
    * corpus. The oracle unrolls the identical training trajectory — per-row
    * sigmoids rounded to 6 decimals, gradients as exact decimal(38,0) sums
    * of integer micro-products, round-6 weight updates — the same
    * unrolled-iteration discipline as q_kmeans. */
  def q_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val label = when(
      graft.functions.TextAnalysis.qualityScore(col("text")) >= 0.75, 1.0)
      .otherwise(0.0)
    val model = graft.functions.QualityClassifier.train(
      docs, "text", label, iters = 3, lr = 0.5)
    graft.functions.QualityClassifier.score(docs, "doc_id", "text", model)
  }

  /** The classifier oracle as a composable CTE fragment: the unrolled-GD
    * training trajectory plus a `scored (doc_id, score)` CTE, reading
    * (doc_id, text) from `src` — shared verbatim by the standalone
    * q_quality_classifier cell (src = documents) and the e2e curation
    * composition (src = the gated+deduped survivor set). Returns the
    * CTE list (no WITH, no final SELECT) ending in `scored`, for callers
    * to splice into their own WITH chain. */
  private def classifierSqlParts(src: String, iters: Int): String = {
    // z replicates the Scala foldLeft chain:
    // ((((w0 + x0*w1) + x1*w2) + x2*w3) + x3*w4) — addition order is part
    // of the contract, both engines evaluate the identical double tree
    def z(w: String) =
      s"(((($w.w0 + f.x0 * $w.w1) + f.x1 * $w.w2) + f.x2 * $w.w3) + f.x3 * $w.w4)"
    def sig(w: String) =
      s"round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-${z(w)})), 6)"
    def grad(xij: String) =
      s"(CAST(sum(CAST((pi - yi) * $xij AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / count(*))"
    val sb = new StringBuilder
    sb ++= s"""base AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
      |  FROM $src),
      |d AS (
      |  SELECT doc_id, len(w) AS nw,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS pr,
      |    CAST(len(list_filter(w, x -> list_contains($stopEn, x))) AS DOUBLE)
      |      / greatest(len(w), 1) AS sr,
      |    CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE)
      |      / greatest(len(w), 1) AS mwl
      |  FROM base),
      |feat AS (
      |  SELECT doc_id,
      |    CASE WHEN (CASE WHEN nw BETWEEN 20 AND 2000 THEN CAST(1 AS DOUBLE)
      |                    WHEN nw BETWEEN 5 AND 5000 THEN CAST(0.5 AS DOUBLE)
      |                    ELSE CAST(0 AS DOUBLE) END) * CAST(0.5 AS DOUBLE)
      |           + (CASE WHEN pr <= CAST(0.2 AS DOUBLE) THEN CAST(1 AS DOUBLE)
      |              ELSE CAST(0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)
      |           + (CASE WHEN sr >= CAST(0.05 AS DOUBLE) THEN CAST(1 AS DOUBLE)
      |              ELSE CAST(0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)
      |         >= CAST(0.75 AS DOUBLE)
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y,
      |    round(CAST(least(nw, 1000) AS DOUBLE) / CAST(1000 AS DOUBLE), 6) AS x0,
      |    round(pr, 6) AS x1,
      |    round(sr, 6) AS x2,
      |    round(least(mwl, CAST(20 AS DOUBLE)) / CAST(20 AS DOUBLE), 6) AS x3
      |  FROM d),
      |f AS (
      |  SELECT feat.*, CAST(y * 1e6 AS BIGINT) AS yi,
      |    CAST(round(x0 * 1e6, 0) AS BIGINT) AS xi0,
      |    CAST(round(x1 * 1e6, 0) AS BIGINT) AS xi1,
      |    CAST(round(x2 * 1e6, 0) AS BIGINT) AS xi2,
      |    CAST(round(x3 * 1e6, 0) AS BIGINT) AS xi3
      |  FROM feat),
      |w0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
      |              CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,
      |              CAST(0 AS DOUBLE) AS w4),
      |""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s"""i$t AS (
        |  SELECT f.*, w.w0 AS pw0, w.w1 AS pw1, w.w2 AS pw2, w.w3 AS pw3,
        |    w.w4 AS pw4,
        |    CAST(round(${sig("w")} * 1e6, 0) AS BIGINT) AS pi
        |  FROM f CROSS JOIN w${t - 1} w),
        |w$t AS (
        |  SELECT
        |    round(max(pw0) - CAST(0.5 AS DOUBLE) * ${grad("1000000")}, 6) AS w0,
        |    round(max(pw1) - CAST(0.5 AS DOUBLE) * ${grad("xi0")}, 6) AS w1,
        |    round(max(pw2) - CAST(0.5 AS DOUBLE) * ${grad("xi1")}, 6) AS w2,
        |    round(max(pw3) - CAST(0.5 AS DOUBLE) * ${grad("xi2")}, 6) AS w3,
        |    round(max(pw4) - CAST(0.5 AS DOUBLE) * ${grad("xi3")}, 6) AS w4
        |  FROM i$t),
        |""".stripMargin
    }
    sb ++= s"""scored AS (
      |  SELECT f.doc_id, ${sig("w")} AS score
      |  FROM f CROSS JOIN w$iters w)""".stripMargin
    sb.toString
  }

  private def q_quality_classifier_sql: String =
    s"""WITH ${classifierSqlParts("documents", 3)}
      |SELECT doc_id, score,
      |  CASE WHEN score >= CAST(0.5 AS DOUBLE)
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
      |FROM scored""".stripMargin

  /** Deterministic train/val/test assignment (Sampling.hashSplit, portable
    * hash so the oracle recomputes the same buckets). */
  def q_split_hash(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.hashSplit(
        tbl(s, dir, "documents").select(col("doc_id")), "doc_id",
        portable = true)
      .withColumn("bucket",
        graft.functions.Sampling.hashBucket(col("doc_id"), 100, portable = true))
      .select(col("doc_id"), col("bucket"), col("split"))

  private val q_split_hash_sql =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
      |      FROM documents)""".stripMargin

  /** Domain-mixture sampling: per-language keep fractions (en 30%, zh 100%,
    * es 50%, default 10%), portable hash — thresholds are driver-side
    * integers, so the oracle reproduces membership exactly. */
  def q_mixture_sample(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.mixtureSample(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id",
      fractions = Map("en" -> 0.3, "zh" -> 1.0, "es" -> 0.5),
      default = 0.1, portable = true)

  private val q_mixture_sample_sql =
    """SELECT doc_id, lang FROM documents
      |WHERE ('0x' || substr(md5('sample_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 <
      |  CASE lang WHEN 'en' THEN 300000 WHEN 'zh' THEN 1000000
      |            WHEN 'es' THEN 500000 ELSE 100000 END""".stripMargin

  /** TOKEN-budget mixture (Sampling.tokenBudgetMixture): en capped at 20k
    * tokens, zh at 5k, other languages kept whole — seeded-pseudo-random
    * per-stratum order, first budget-crossing doc kept. The oracle's global
    * per-stratum window cumsum is exactly the single-task formulation the
    * distributed two-pass prefix sum avoids. */
  def q_token_mixture(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.tokenBudgetMixture(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
      "lang", "doc_id",
      graft.functions.TextAnalysis.tokenCount(col("text")),
      budgets = Map("en" -> 20000L, "zh" -> 5000L),
      partitions = Some(8), portable = true)

  private val q_token_mixture_sql =
    s"""WITH t AS (
      |  SELECT doc_id, lang AS stratum,
      |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS cost,
      |    ('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS sk
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, stratum, cost,
      |    COALESCE(sum(cost) OVER (PARTITION BY stratum ORDER BY sk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_tok
      |  FROM t)
      |SELECT doc_id, stratum, cost FROM c
      |WHERE prev_tok < CASE stratum WHEN 'en' THEN 20000 WHEN 'zh' THEN 5000
      |                 ELSE 9223372036854775807 END""".stripMargin

  /** Temperature-flattened mixture (Sampling.temperatureMixture, α=1/2):
    * per-language budgets derived from the corpus token masses themselves —
    * q_i ∝ √n_i — then capped via the distributed prefix-sum selection. The
    * oracle recomputes masses, exact integer square-root weights (floor ∘
    * sqrt agrees with isqrt for n < 2^51), floor-div budgets, and the
    * seeded cumsum crossing — (doc_id, stratum, cost, budget) hash-checked. */
  def q_temperature_mixture(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.temperatureMixture(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
      "lang", "doc_id",
      graft.functions.TextAnalysis.tokenCount(col("text")),
      totalBudget = 25000L, alpha = 0.5, partitions = Some(8), portable = true)

  private val q_temperature_mixture_sql =
    """WITH t AS (
      |  SELECT doc_id, lang AS stratum,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS cost,
      |    ('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS sk
      |  FROM documents),
      |m AS (SELECT stratum, sum(cost) AS n FROM t GROUP BY 1),
      |w AS (SELECT stratum, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt FROM m),
      |ws AS (SELECT sum(wt) AS wsum FROM w),
      |b AS (SELECT stratum, CAST((25000 * wt) // wsum AS BIGINT) AS budget
      |      FROM w CROSS JOIN ws),
      |c AS (
      |  SELECT doc_id, stratum, cost,
      |    COALESCE(sum(cost) OVER (PARTITION BY stratum ORDER BY sk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_tok
      |  FROM t)
      |SELECT c.doc_id, c.stratum, c.cost, b.budget
      |FROM c JOIN b USING (stratum) WHERE c.prev_tok < b.budget""".stripMargin

  /** Epoch-based mixture (Sampling.epochMixture): de upsampled to 150k
    * tokens (multiple full epochs + a partial epoch), en capped at 8k
    * (downsampling degenerate case), other languages one epoch. The oracle
    * recomputes totals, the per-stratum ⌊B/T⌋ / B mod T epoch plan, and the
    * seeded-order prefix cumsum, then unnests generate_series per doc. */
  def q_epoch_mixture(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.epochMixture(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
      "lang", "doc_id",
      graft.functions.TextAnalysis.tokenCount(col("text")),
      budgets = Map("de" -> 150000L, "en" -> 8000L),
      partitions = Some(8), portable = true)

  private val q_epoch_mixture_sql =
    s"""WITH t AS (
      |  SELECT doc_id, lang AS stratum,
      |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS cost,
      |    ('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS sk
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, stratum, cost,
      |    COALESCE(sum(cost) OVER (PARTITION BY stratum ORDER BY sk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_tok
      |  FROM t),
      |tot AS (SELECT stratum, sum(cost) AS total FROM t GROUP BY 1),
      |n AS (
      |  SELECT c.doc_id, c.stratum, c.cost,
      |    CASE WHEN c.stratum NOT IN ('de', 'en') THEN CAST(1 AS BIGINT)
      |         ELSE (CASE c.stratum WHEN 'de' THEN 150000 ELSE 8000 END) // tot.total
      |              + CASE WHEN c.prev_tok <
      |                  (CASE c.stratum WHEN 'de' THEN 150000 ELSE 8000 END) % tot.total
      |                THEN 1 ELSE 0 END
      |    END AS copies
      |  FROM c JOIN tot USING (stratum))
      |SELECT doc_id, stratum, cost,
      |  unnest(generate_series(CAST(0 AS BIGINT), CAST(copies - 1 AS BIGINT))) AS epoch
      |FROM n WHERE copies > 0""".stripMargin

  /** Contiguous token-budget sharding via the distributed two-pass prefix
    * sum (Sampling.tokenShards, 8 range partitions — the oracle's global
    * window cumsum pins the partition-independent result). */
  def q_token_shards(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.tokenShards(tbl(s, dir, "documents"), "doc_id",
      graft.functions.TextAnalysis.tokenCount(col("text")), budget = 5000L,
      partitions = Some(8))

  private val q_token_shards_sql =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS cost
      |  FROM documents)
      |SELECT doc_id, cost,
      |  CAST(COALESCE(sum(cost) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000 AS BIGINT) AS shard
      |FROM t""".stripMargin

  /** Deterministic negative sampling (Sampling.negativeSample): two
    * pseudo-random contrastive partners per anchor document — position via
    * the distributed prefix sum (never a one-task global window), draw via
    * portable hash mod N with a self-exclusion bump, resolution via one
    * equi join. The oracle replays position assignment, hashing and the
    * bump, so the pair set is engine-reproducible. */
  def q_negative_sample(s: SparkSession, dir: String, portable: Boolean): DataFrame =
    graft.functions.Sampling.negativeSample(
      tbl(s, dir, "documents"), "doc_id", k = 2, portable = portable)

  private val q_negative_sample_sql =
    """WITH pos AS (SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS pos
      |  FROM documents),
      |nn AS (SELECT count(*) AS n FROM pos),
      |a AS (SELECT p.doc_id AS anchor_id, p.pos AS a_pos, t.j
      |      FROM pos p CROSS JOIN (VALUES (0), (1)) AS t(j)),
      |hh AS (SELECT anchor_id, j, a_pos,
      |        ('0x' || substr(md5(anchor_id || '#' || j), 1, 15))::BIGINT
      |          % (SELECT n FROM nn) AS raw
      |       FROM a),
      |tt AS (SELECT anchor_id, j,
      |        CASE WHEN raw = a_pos THEN (raw + 1) % (SELECT n FROM nn)
      |             ELSE raw END AS t_pos
      |       FROM hh)
      |SELECT anchor_id, CAST(j AS BIGINT) AS j, p.doc_id AS neg_id
      |FROM tt JOIN pos p ON tt.t_pos = p.pos""".stripMargin

  /** Weighted sampling without replacement (Sampling.weightedSample —
    * Efraimidis–Spirakis A-Res ranked by the log-domain key ln(u)/w in
    * integer micro-units, on portable-hash uniforms): the 100
    * longest-biased documents; inclusion probability scales with n_chars,
    * the draw is rerun-stable, and the oracle recomputes the micro keys
    * and the (key desc, id) top-k exactly. */
  def q_weighted_sample(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.weightedSample(
      tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", col("n_chars"), k = 100, portable = true)

  private val q_weighted_sample_sql =
    """SELECT doc_id, n_chars, ares_key FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(round(ln(
      |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |         % 1152921504606846976 AS DOUBLE) + 1.0) / 1152921504606846976.0)
      |      / CAST(n_chars AS DOUBLE) * 1000000, 0) AS BIGINT) AS ares_key
      |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0)
      |ORDER BY ares_key DESC, doc_id ASC LIMIT 100""".stripMargin

  /** Sequence packing (Sampling.packSequences): documents concatenated in
    * doc_id order into fixed 2048-token training rows, split at row
    * boundaries — one segment per (doc × row) overlap, all integer
    * arithmetic off the corpus prefix sum. Oracle: window cumsum + a
    * per-doc unnest of its covered rows with the same div/min/max algebra. */
  def q_pack_sequences(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.packSequences(tbl(s, dir, "documents"),
      "doc_id", graft.functions.TextAnalysis.tokenCount(col("text")),
      seqLen = 2048L, partitions = Some(8))

  private val q_pack_sequences_sql =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS cost
      |  FROM documents),
      |c AS (SELECT doc_id, cost,
      |    CAST(COALESCE(sum(cost) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c0
      |  FROM t WHERE cost > 0)
      |SELECT doc_id, cost, CAST(r AS BIGINT) AS row_id,
      |  CAST(greatest(c0, r * 2048) - c0 AS BIGINT) AS doc_off,
      |  CAST(greatest(c0, r * 2048) - r * 2048 AS BIGINT) AS row_off,
      |  CAST(least(c0 + cost, (r + 1) * 2048) - greatest(c0, r * 2048) AS BIGINT) AS len
      |FROM c, UNNEST(range(c0 // 2048, (c0 + cost - 1) // 2048 + 1)) AS u(r)""".stripMargin

  /** FULL end-to-end curation pipeline, oracle-checked at every seam:
    * clean (profile + quality gate) → exact dedup (lowest id per
    * bag-of-words fingerprint) → trained quality classifier (3-step GD on
    * the SURVIVOR corpus, seed labels from the heuristic gate, keep
    * score ≥ 0.5) → per-language token-budget mixture → fixed-length
    * sequence packing. The composition a 100 TB training-data run
    * actually executes, as ONE driver-verified cell — cross-operator
    * interactions (the gate changing the classifier's training set, the
    * mixture re-weighting the packer's input) are exactly what
    * per-operator cells cannot catch. Every stage reuses the library
    * operator verbatim; the oracle splices the stages' own CTE chains
    * (classifierSqlParts over the deduped survivor set). Plan shape:
    * one profiling scan, one dedup exchange, 3 driver-bounded gradient
    * aggregates, the two-pass prefix-sum mixture/packer — no stage is
    * corpus-quadratic. The survivor set (3 narrow columns — corpus-sized
    * rows but a sliver of corpus bytes) is PERSISTED across the stages:
    * the classifier's feature pass, the scoring pass, and the mixture
    * would otherwise each recompute the regex-heavy profile + dedup
    * exchange from the raw scan — at 100 TB, re-running the curation
    * prefix per downstream stage is the real cost, and a production run
    * would checkpoint this exact boundary. Released after the (tiny)
    * packed output materializes, the q_dedup_incremental discipline. */
  def q_e2e_curation(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val profiled = graft.functions.TextAnalysis.profile(docs, "doc_id", "text")
    val gated = profiled.filter(col("quality") >= 0.5)
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    val deduped = gated.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val survivors = deduped
      .select(col("doc_id"), col("lang_guess"), col("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // classifier AFTER dedup: duplicated pages must not bias the gradients
    val cdocs = docs.select(col("doc_id"), col("text"))
      .join(survivors.select(col("doc_id")), Seq("doc_id"))
    val label = when(graft.functions.TextAnalysis
      .qualityScore(col("text")) >= 0.75, 1.0).otherwise(0.0)
    val model = graft.functions.QualityClassifier.train(
      cdocs, "text", label, iters = 3, lr = 0.5)
    val kept = graft.functions.QualityClassifier
      .score(cdocs, "doc_id", "text", model)
      .filter(col("keep") === 1).select(col("doc_id"))
    val mixIn = survivors.join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("lang_guess"), col("n_tokens"))
    val mixture = graft.functions.Sampling.tokenBudgetMixture(mixIn,
      "lang_guess", "doc_id", col("n_tokens"),
      budgets = Map("en" -> 10000L, "es" -> 4000L),
      partitions = Some(8), portable = true)
    val out = graft.functions.Sampling.packSequences(mixture, "doc_id",
      col("cost"), seqLen = 2048L, partitions = Some(8)).persist()
    out.count()
    survivors.unpersist()
    out
  }

  private def q_e2e_curation_sql: String =
    s"""WITH profiled AS ($q_text_profile_sql),
      |gated AS (SELECT * FROM profiled WHERE quality >= CAST(0.5 AS DOUBLE)),
      |deduped AS (
      |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      |                 FROM gated) WHERE rn = 1),
      |cdocs AS (SELECT doc.doc_id, doc.text FROM documents doc JOIN deduped USING (doc_id)),
      |${classifierSqlParts("cdocs", 3)},
      |ckept AS (SELECT doc_id FROM scored WHERE score >= CAST(0.5 AS DOUBLE)),
      |mt AS (SELECT d.doc_id, d.lang_guess AS stratum, d.n_tokens AS cost,
      |    ('0x' || substr(md5('42_' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS sk
      |  FROM deduped d JOIN ckept USING (doc_id)),
      |mc AS (SELECT doc_id, stratum, cost,
      |    COALESCE(sum(cost) OVER (PARTITION BY stratum ORDER BY sk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_tok FROM mt),
      |mkept AS (SELECT doc_id, cost FROM mc
      |  WHERE prev_tok < CASE stratum WHEN 'en' THEN 10000 WHEN 'es' THEN 4000
      |        ELSE 9223372036854775807 END),
      |pc AS (SELECT doc_id, cost,
      |    CAST(COALESCE(sum(cost) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c0
      |  FROM mkept WHERE cost > 0)
      |SELECT doc_id, cost, CAST(r AS BIGINT) AS row_id,
      |  CAST(greatest(c0, r * 2048) - c0 AS BIGINT) AS doc_off,
      |  CAST(greatest(c0, r * 2048) - r * 2048 AS BIGINT) AS row_off,
      |  CAST(least(c0 + cost, (r + 1) * 2048) - greatest(c0, r * 2048) AS BIGINT) AS len
      |FROM pc, UNNEST(range(c0 // 2048, (c0 + cost - 1) // 2048 + 1)) AS u(r)""".stripMargin

  /** Token-budget sharding over a SEEDED SHUFFLE of the corpus (shuffleKey
    * seed 42, portable hash): the shuffle-before-sharding step that makes
    * shards ~IID instead of reflecting crawl order. The oracle recomputes
    * the same permutation and window cumsum. */
  def q_shuffle_shards(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.tokenShards(tbl(s, dir, "documents"), "doc_id",
      graft.functions.TextAnalysis.tokenCount(col("text")), budget = 5000L,
      partitions = Some(8),
      orderCol = Some(graft.functions.Sampling.shuffleKey(col("doc_id"), 42L,
        portable = true)))

  private val q_shuffle_shards_sql =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS cost,
      |    ('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS sk
      |  FROM documents)
      |SELECT doc_id, cost,
      |  CAST(COALESCE(sum(cost) OVER (ORDER BY sk, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000 AS BIGINT) AS shard
      |FROM t""".stripMargin

  /** Deterministic stratified sample: 50 docs per language, smallest
    * id-hash first (Sampling.stratifiedSample, portable hash). */
  def q_sample_stratified(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.stratifiedSample(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id", k = 50, portable = true)

  private val q_sample_stratified_sql =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (
      |    PARTITION BY lang
      |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rk
      |  FROM documents) WHERE rk <= 50""".stripMargin

  /** Diversity-balanced sample (Sampling.diversitySample): every embedding
    * assigned to its nearest of 4 seed vectors (rounded L2, lowest-seed
    * ties), then the 30 smallest-hash rows per cluster — caps what any
    * dense region contributes. Oracle rebuilds assignment and draw. */
  def q_diversity_sample(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.diversitySample(
      tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
        col("label")),
      "vec_id", "embedding", nSeeds = 4, perCluster = 30, portable = true)
      .select(col("vec_id"), col("label"), col("cluster"))

  private val q_diversity_sample_sql =
    """WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |sd AS (SELECT d.vec_id, d.label, s.vec_id AS c,
      |    round(list_sum(list_transform(range(1, 65), i ->
      |      power(d.vec[CAST(i AS INTEGER)] - s.vec[CAST(i AS INTEGER)], 2))), 6) AS r
      |  FROM v d CROSS JOIN (SELECT * FROM v WHERE vec_id < 4) s),
      |asg AS (SELECT vec_id, label, CAST(c AS INTEGER) AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY r ASC, c ASC) AS rn
      |    FROM sd) WHERE rn = 1)
      |SELECT vec_id, label, cluster FROM (
      |  SELECT *, row_number() OVER (PARTITION BY cluster
      |    ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id) AS rk
      |  FROM asg) WHERE rk <= 30""".stripMargin

  /** PII redaction (Redaction.redactPii): the slim customer table carries
    * no contact fields, so both engines synthesize the identical
    * email/phone/IP text from c_custkey/c_name, then redact + count. */
  def q_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val phone = concat(
      (lit(10) + pmod(k, lit(90))).cast("string"), lit("-"),
      (lit(100) + pmod(k, lit(900))).cast("string"), lit("-"),
      (lit(100) + pmod(k * 7, lit(900))).cast("string"), lit("-"),
      (lit(1000) + pmod(k * 13, lit(9000))).cast("string"))
    val ip = concat(lit("10."), pmod(k, lit(256)).cast("string"), lit("."),
      pmod(k * 3, lit(256)).cast("string"), lit("."),
      pmod(k, lit(100)).cast("string"))
    val text = concat(col("c_name"), lit(" reachable at "),
      lower(col("c_name")), lit("@example.com or "), phone, lit(" from "), ip)
    tbl(s, dir, "customer").select(k.as("c_custkey"),
      graft.functions.Redaction.redactPii(text).as("redacted"),
      graft.functions.Redaction.emailCount(text).cast("long").as("n_emails"),
      graft.functions.Redaction.phoneCount(text).cast("long").as("n_phones"),
      graft.functions.Redaction.ipv4Count(text).cast("long").as("n_ips"))
  }

  private val q_pii_redact_sql = {
    val email = graft.functions.Redaction.emailPattern
    val phone = graft.functions.Redaction.phonePattern
    val ipv4 = graft.functions.Redaction.ipv4Pattern
    s"""WITH t AS (
      |  SELECT c_custkey,
      |    c_name || ' reachable at ' || lower(c_name) || '@example.com or ' ||
      |    CAST(10 + c_custkey % 90 AS VARCHAR) || '-' ||
      |    CAST(100 + c_custkey % 900 AS VARCHAR) || '-' ||
      |    CAST(100 + (c_custkey * 7) % 900 AS VARCHAR) || '-' ||
      |    CAST(1000 + (c_custkey * 13) % 9000 AS VARCHAR) ||
      |    ' from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
      |    CAST((c_custkey * 3) % 256 AS VARCHAR) || '.' ||
      |    CAST(c_custkey % 100 AS VARCHAR) AS text
      |  FROM customer)
      |SELECT c_custkey,
      |  regexp_replace(regexp_replace(regexp_replace(
      |    text, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'),
      |    '$ipv4', '<IP>', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ips
      |FROM t""".stripMargin
  }

  // ---------------------------------------------------------------------
  // registry: one line per cell (Catalog.cell, or Catalog.hashed when the
  // query takes the hash mode), tagged for the harness mains
  // ---------------------------------------------------------------------

  val catalog: Seq[Cell] = Catalog(Seq(
    cell("q1_agg", q1_agg, q1_sql, Headline, Control),
    cell("q_group_count", q_group_count, q_group_count_sql),
    cell("q_group_avg", q_group_avg, q_group_avg_sql),
    cell("q_group_minmax", q_group_minmax, q_group_minmax_sql),
    cell("q_group_mode", q_group_mode, q_group_mode_sql),
    cell("q_max_element", q_max_element, q_max_element_sql),
    cell("q_fold_global", q_fold_global, q_fold_global_sql),
    cell("q_reduce_max", q_reduce_max, q_reduce_max_sql),
    cell("q_distinct", q_distinct, q_distinct_sql),
    cell("q_fold_scan", q_fold_scan, q_fold_scan_sql),
    cell("q_reduce_scan_keyed", q_reduce_scan_keyed, q_reduce_scan_keyed_sql, Soak),
    cell("q_group_reduce", q_group_reduce, q_group_reduce_sql),
    cell("q_map", q_map, q_map_sql),
    cell("q_rich_map", q_rich_map, q_rich_map_sql, Soak),
    cell("q_rich_filter_map", q_rich_filter_map, q_rich_filter_map_sql),
    cell("q_rich_flat_map", q_rich_flat_map, q_rich_flat_map_sql),
    cell("q_map_memo", q_map_memo, q_map_memo_sql),
    cell("q_map_async", q_map_async, q_map_async_sql),
    cell("q_rich_map_custom", q_rich_map_custom, q_rich_map_custom_sql),
    cell("q_reorder", q_reorder, q_reorder_sql),
    cell("q_filter", q_filter, q_filter_sql),
    cell("q_filter_map", q_filter_map, q_filter_map_sql),
    cell("q_flat_map", q_flat_map, q_flat_map_sql),
    cell("q_scalar_funcs", q_scalar_funcs, q_scalar_funcs_sql),
    cell("q_json", q_json, q_json_sql),
    cell("q_merge", q_merge, q_merge_sql),
    cell("q_zip", q_zip, q_zip_sql),
    cell("q_route", q_route, q_route_sql),
    cell("q_top_k", q_top_k, q_top_k_sql),
    cell("q_limit_offset", q_limit_offset, q_limit_offset_sql),
    cell("q_sort", q_sort, q_sort_sql, Headline, Control),
    cell("q_join_inner", q_join_inner, q_join_inner_sql, Headline, Control),
    cell("q_join_left", q_join_left, q_join_left_sql),
    cell("q_join_outer", q_join_outer, q_join_outer_sql),
    cell("q_join_semi", q_join_semi, q_join_semi_sql),
    cell("q_join_anti", q_join_anti, q_join_anti_sql),
    cell("q_join_broadcast", q_join_broadcast, q_join_broadcast_sql, Headline),
    cell("q_window_tumbling", q_window_tumbling, q_window_tumbling_sql),
    cell("q_window_sliding", q_window_sliding, q_window_sliding_sql, Headline),
    cell("q_window_session", q_window_session, q_window_session_sql, Headline),
    cell("q_window_txn", q_window_txn, q_window_txn_sql),
    cell("q_window_count", q_window_count, q_window_count_sql),
    cell("q_window_columnar", q_window_columnar, q_window_columnar_sql),
    cell("q_window_foldfirst", q_window_foldfirst, q_window_foldfirst_sql),
    cell("q_window_lastk", q_window_lastk, q_window_lastk_sql),
    cell("q_window_first_last", q_window_first_last, q_window_first_last_sql),
    cell("q_interval_join", q_interval_join, q_interval_join_sql, Headline, Soak),
    cell("q_window_join", q_window_join, q_window_join_sql),
    // streaming twins share the batch oracles: stream ≡ batch is the claim,
    cell("q_stream_session", q_stream_session, q_window_session_sql),
    cell("q_stream_interval_join", q_stream_interval_join, q_interval_join_sql),
    cell("q_stream_tumbling", q_stream_tumbling, q_window_tumbling_sql, Soak),
    cell("q_stream_sliding", q_stream_sliding, q_window_sliding_sql),
    cell("q_stream_wordcount", q_stream_wordcount, q_wordcount_file_sql),
    cell("q_stream_columnar", q_stream_columnar, q_window_columnar_sql, Soak),
    cell("q_stream_foldfirst", q_stream_foldfirst, q_window_foldfirst_sql, Soak),
    cell("q_stream_dedup", q_stream_dedup, q_dedup_exact_sql),
    cell("q_stream_funnel", q_stream_funnel, q_funnel_sql, Soak),
    cell("q_stream_sessionize", q_stream_sessionize, q_sessionize_sql, Soak),
    hashed("q_stream_hll", q_stream_hll, q_stream_hll_sql),
    hashed("q_stream_kmv", q_stream_kmv, q_stream_kmv_sql),
    cell("q_asof_join", q_asof_join, q_asof_join_sql, Headline),
    cell("q_asof_forward", q_asof_forward, q_asof_forward_sql),
    cell("q_asof_nearest", q_asof_nearest, q_asof_nearest_sql),
    cell("q_funnel", q_funnel, q_funnel_sql),
    cell("q_anomaly", q_anomaly, q_anomaly_sql),
    cell("q_retention", q_retention, q_retention_sql),
    cell("q_cohort_matrix", q_cohort_matrix, q_cohort_matrix_sql),
    cell("q_sessionize", q_sessionize, q_sessionize_sql),
    cell("q_user_journeys", q_user_journeys, q_user_journeys_sql),
    cell("q_event_transitions", q_event_transitions, q_event_transitions_sql),
    cell("q_session_stats", q_session_stats, q_session_stats_sql),
    cell("q_trending", q_trending, q_trending_sql),
    cell("q_stream_trending", q_stream_trending, q_trending_sql),
    cell("q_funnel_summary", q_funnel_summary, q_funnel_summary_sql),
    cell("q_range_join", q_range_join, q_range_join_sql, Soak),
    cell("q_overlap_join", q_overlap_join, q_overlap_join_sql),
    cell("q_snapshot_diff", q_snapshot_diff, q_snapshot_diff_sql),
    cell("q_er_clusters", q_er_clusters, q_er_clusters_sql, Persists),
    cell("q_zorder", q_zorder, q_zorder_sql),
    cell("q_bpe", q_bpe, q_bpe_sql, TmpCache),
    cell("q_chunk", q_chunk, q_chunk_sql),
    cell("q_token_mixture", q_token_mixture, q_token_mixture_sql, Soak),
    cell("q_e2e_curation", q_e2e_curation, q_e2e_curation_sql, Soak, Persists),
    cell("q_temperature_mixture", q_temperature_mixture, q_temperature_mixture_sql),
    cell("q_epoch_mixture", q_epoch_mixture, q_epoch_mixture_sql),
    cell("q_topk_group", q_topk_group, q_topk_group_sql, Soak),
    cell("q_char_lm", q_char_lm, q_char_lm_sql, Soak, Persists),
    cell("q_char_entropy", q_char_entropy, q_char_entropy_sql),
    cell("q_ngram_lm", q_ngram_lm, q_ngram_lm_sql, Headline, Persists),
    cell("q_stream_ngram_lm", q_stream_ngram_lm, q_ngram_lm_sql, Soak),
    cell("q_perplexity_tiers", q_perplexity_tiers, q_perplexity_tiers_sql, Headline, Persists),
    cell("q_fuzzy_join", q_fuzzy_join, q_fuzzy_join_sql, Persists),
    cell("q_er_join", q_er_join, q_er_join_sql),
    cell("q_copurchase", q_copurchase, q_copurchase_sql, TmpCache),
    cell("q_related_items", q_related_items, q_related_items_sql, TmpCache),
    cell("q_label_prop", q_label_prop, q_label_prop_sql, Persists),
    hashed("q_distinct_kmv", q_distinct_kmv, q_distinct_kmv_sql, BenchPortable, TmpCache),
    hashed("q_distinct_hll", q_distinct_hll, q_distinct_hll_sql),
    hashed("q_distinct_hll_group", q_distinct_hll_group, q_distinct_hll_group_sql),
    cell("q_stream_histogram", q_stream_histogram, q_histogram_sql),
    cell("q_hist_persist", q_hist_persist, q_histogram_sql, TmpCache),
    cell("q_drift", q_drift, q_drift_sql),
    cell("q_stream_drift", q_stream_drift, q_drift_sql),
    cell("q_degree_dist", q_degree_dist, q_degree_dist_sql),
    hashed("q_window_dau", q_window_dau, q_window_dau_sql),
    hashed("q_window_wau", q_window_wau, q_window_wau_sql),
    cell("q_source_quality", q_source_quality, q_source_quality_sql),
    cell("q_corr_matrix", q_corr_matrix, q_corr_matrix_sql, Soak),
    cell("q_tpch3", q_tpch3, q_tpch3_sql),
    cell("q_tpch5", q_tpch5, q_tpch5_sql),
    cell("q_tpch18", q_tpch18, q_tpch18_sql, Soak),
    cell("q_data_quality", q_data_quality, q_data_quality_sql, Soak),
    cell("q_docs_quality", q_docs_quality, q_docs_quality_sql),
    cell("q_stream_quality", q_stream_quality, q_stream_quality_sql),
    cell("q_histogram", q_histogram, q_histogram_sql),
    cell("q_quantile_hist", q_quantile_hist, q_quantile_hist_sql),
    cell("q_quantile_group", q_quantile_group, q_quantile_group_sql),
    hashed("q_kmv_persist", q_kmv_persist, q_distinct_kmv_sql),
    hashed("q_distinct_kmv_group", q_distinct_kmv_group, q_distinct_kmv_group_sql),
    cell("q_skew_profile", q_skew_profile, q_skew_profile_sql),
    hashed("q_join_estimate", q_join_estimate, q_join_estimate_sql),
    cell("q_join_salted", q_join_salted, q_join_salted_sql, Soak),
    cell("q_join_bloom", q_join_bloom, q_join_bloom_sql, Soak),
    cell("q_compact_latest", q_compact_latest, q_compact_latest_sql),
    cell("q_stream_compact", q_stream_compact, q_compact_latest_sql, Soak),
    cell("q_join_bucketed", q_join_bucketed, q_join_salted_sql, Soak),
    cell("q_salted_agg", q_salted_agg, q_salted_agg_sql),
    cell("q_vocab_encode", q_vocab_encode, q_vocab_encode_sql),
    cell("q_url_canon", q_url_canon, q_url_canon_sql),
    hashed("q_domain_cap", q_domain_cap, q_domain_cap_sql),
    cell("q_mojibake", q_mojibake, q_mojibake_sql),
    hashed("q_kmv_overlap", q_kmv_overlap, q_kmv_overlap_sql),
    cell("q_script_profile", q_script_profile, q_script_profile_sql),
    cell("q_sentences", q_sentences, q_sentences_sql),
    cell("q_corpus_health", q_corpus_health, q_corpus_health_sql),
    cell("q_domain_filter", q_domain_filter, q_domain_filter_sql),
    hashed("q_heavy_hitters", q_heavy_hitters, q_heavy_hitters_sql, BenchPortable, TmpCache),
    cell("q_corpus_divergence", q_corpus_divergence, q_corpus_divergence_sql),
    cell("q_distinct_ngrams", q_distinct_ngrams, q_distinct_ngrams_sql),
    cell("q_zipf_slope", q_zipf_slope, q_zipf_slope_sql),
    hashed("q_dup_spans", q_dup_spans, q_dup_spans_sql, BenchPortable),
    hashed("q_winnow", q_winnow, q_winnow_sql, BenchPortable),
    cell("q_tfidf", q_tfidf, q_tfidf_sql),
    cell("q_group_quantiles", q_group_quantiles, q_group_quantiles_sql),
    cell("q_cube", q_cube, q_cube_sql),
    cell("q_rollup", q_rollup, q_rollup_sql),
    cell("q_group_stats", q_group_stats, q_group_stats_sql),
    cell("q_pivot", q_pivot, q_pivot_sql),
    cell("q_analytic", q_analytic, q_analytic_sql),
    cell("q_bm25", q_bm25, q_bm25_sql, Headline, TmpCache),
    cell("q_inverted_index", q_inverted_index, q_bm25_sql, TmpCache),
    cell("q_phrase_search", q_phrase_search, q_phrase_search_sql),
    cell("q_connected_components", q_connected_components, q_connected_components_sql, Headline, Iterative, Persists),
    cell("q_transitive_closure", q_transitive_closure, q_transitive_closure_sql, Headline, Iterative, Persists),
    cell("q_iterate", q_iterate, q_iterate_sql, Persists),
    cell("q_pagerank", q_pagerank, q_pagerank_sql, Headline, Iterative, Persists),
    cell("q_pagerank_weighted", q_pagerank_weighted, q_pagerank_weighted_sql, Persists),
    cell("q_ppr", q_ppr, q_ppr_sql, Iterative, Persists),
    cell("q_pagerank_delta", q_pagerank_delta, q_pagerank_delta_sql, Headline, Iterative, Persists),
    cell("q_sssp", q_sssp, q_sssp_sql, Iterative, Persists),
    cell("q_triangles", q_triangles, q_triangles_sql, Headline, Control),
    cell("q_kmeans", q_kmeans, q_kmeans_sql, Headline, Iterative, Persists),
    cell("q_dedup_exact", q_dedup_exact, q_dedup_exact_sql, Headline),
    cell("q_dup_rate_by_source", q_dup_rate_by_source, q_dup_rate_by_source_sql),
    cell("q_digest_persist", q_digest_persist, q_digest_persist_sql, TmpCache),
    hashed("q_dedup_minhash", q_dedup_minhash, q_dedup_minhash_sql, Headline, HeadlinePortable, BenchPortable),
    hashed("q_dedup_incremental", q_dedup_incremental, q_dedup_incremental_sql, Headline, BenchPortable, Persists),
    hashed("q_dedup_clusters", q_dedup_clusters, q_dedup_clusters_sql, Persists),
    hashed("q_cluster_split", q_cluster_split, q_cluster_split_sql, Persists),
    hashed("q_dsir", q_dsir, q_dsir_sql, BenchPortable, Persists),
    cell("q_html_extract", q_html_extract, q_html_extract_sql),
    cell("q_decontaminate", q_decontaminate, q_decontaminate_sql, Soak),
    cell("q_dedup_bloom", q_dedup_bloom, q_dedup_bloom_sql),
    cell("q_token_shards", q_token_shards, q_token_shards_sql, Soak),
    cell("q_pack_sequences", q_pack_sequences, q_pack_sequences_sql),
    cell("q_weighted_sample", q_weighted_sample, q_weighted_sample_sql),
    hashed("q_negative_sample", q_negative_sample, q_negative_sample_sql),
    cell("q_mixture_sample", q_mixture_sample, q_mixture_sample_sql),
    hashed("q_semantic_dedup", q_semantic_dedup, q_semantic_dedup_sql, Headline, BenchPortable, Persists),
    cell("q_dedup_normalized", q_dedup_normalized, q_dedup_normalized_sql),
    cell("q_shuffle_shards", q_shuffle_shards, q_shuffle_shards_sql, Soak),
    hashed("q_dedup_simhash", q_dedup_simhash, q_dedup_simhash_sql, Headline, BenchPortable),
    cell("q_ngram_jaccard", q_ngram_jaccard, q_ngram_jaccard_sql, Headline),
    cell("q_ngram_containment", q_ngram_containment, q_ngram_containment_sql),
    cell("q_quantile_buckets", q_quantile_buckets, q_quantile_buckets_sql),
    cell("q_kcore", q_kcore, q_kcore_sql, Persists),
    cell("q_clustering_coeff", q_clustering_coeff, q_clustering_coeff_sql),
    cell("q_link_predict", q_link_predict, q_link_predict_sql, Persists),
    cell("q_hits", q_hits, q_hits_sql, TmpCache),
    cell("q_skipgrams", q_skipgrams, q_skipgrams_sql),
    cell("q_dedup_verified", q_dedup_verified, q_dedup_verified_sql, Headline),
    cell("q_cosine_topk", q_cosine_topk, q_cosine_topk_sql, Headline, Soak),
    cell("q_centroid_cosine", q_centroid_cosine, q_centroid_cosine_sql),
    cell("q_embed_int8", q_embed_int8, q_embed_int8_sql, Soak),
    cell("q_ann_int8", q_ann_int8, q_ann_int8_sql, Soak),
    hashed("q_ann_lsh", q_ann_lsh, q_ann_lsh_sql, Headline, HeadlinePortable, BenchPortable),
    hashed("q_ann_multiprobe", q_ann_multiprobe, q_ann_multiprobe_sql),
    cell("q_ann_ivf", q_ann_ivf, q_ann_ivf_sql, Headline, Soak),
    cell("q_ann_ivf_persist", q_ann_ivf_persist, q_ann_ivf_sql, TmpCache),
    cell("q_ann_ivf_sharded", q_ann_ivf_sharded, q_ann_ivf_sql, Soak, TmpCache),
    cell("q_ann_ivf_auto", q_ann_ivf_auto, q_ann_ivf_auto_sql, Soak),
    cell("q_ann_pq", q_ann_pq, q_ann_pq_sql, Soak),
    cell("q_ann_ivfpq", q_ann_ivfpq, q_ann_pq_sql),
    hashed("q_embedding_neardup", q_embedding_neardup, q_embedding_neardup_sql, Headline, BenchPortable),
    cell("q_text_profile", q_text_profile, q_text_profile_sql, Headline),
    cell("q_multimodal", q_multimodal, q_multimodal_sql, Headline, Control),
    cell("q_audio_features", q_audio_features, q_audio_features_sql),
    cell("q_image_tiles", q_image_tiles, q_image_tiles_sql),
    cell("nx_q1", nx_q1, nx_q1_sql, Control),
    cell("nx_q2", nx_q2, nx_q2_sql),
    cell("nx_q3", nx_q3, nx_q3_sql),
    cell("nx_q4", nx_q4, nx_q4_sql),
    cell("nx_q5", nx_q5, nx_q5_sql, Headline),
    cell("nx_q6", nx_q6, nx_q6_sql),
    cell("nx_q7", nx_q7, nx_q7_sql),
    cell("nx_q8", nx_q8, nx_q8_sql, Headline),
    cell("q_stream_nx1", q_stream_nx1, nx_q1_sql, Soak),
    cell("q_stream_nx2", q_stream_nx2, nx_q2_sql, Soak),
    cell("q_stream_nx3", q_stream_nx3, q_stream_nx3_sql),
    cell("q_stream_nx4", q_stream_nx4, nx_q4_sql),
    cell("q_stream_nx5", q_stream_nx5, nx_q5_sql, Soak),
    cell("q_stream_nx6", q_stream_nx6, nx_q6_sql),
    cell("q_stream_nx7", q_stream_nx7, nx_q7_sql),
    cell("q_stream_nx8", q_stream_nx8, nx_q8_sql, Soak),
    cell("q_pipeline_clean", q_pipeline_clean, q_pipeline_clean_sql, Headline),
    cell("q_wordcount_file", q_wordcount_file, q_wordcount_file_sql, TmpCache),
    cell("q_quality_gopher", q_quality_gopher, q_quality_gopher_sql),
    cell("q_c4_clean", q_c4_clean, q_c4_clean_sql),
    cell("q_quality_classifier", q_quality_classifier, q_quality_classifier_sql, Persists),
    cell("q_split_hash", q_split_hash, q_split_hash_sql),
    cell("q_sample_stratified", q_sample_stratified, q_sample_stratified_sql),
    cell("q_diversity_sample", q_diversity_sample, q_diversity_sample_sql, Soak),
    cell("q_pii_redact", q_pii_redact, q_pii_redact_sql)
  ) ++ TpchQueries.cells)

  /** Production hashing (`portable = false`), keyed by name. */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { c =>
      c.name -> ((s: SparkSession, dir: String) => c.run(s, dir, false))
    }.toMap

  val oracle: Map[String, String] = catalog.map(c => c.name -> c.oracleSql).toMap
}
