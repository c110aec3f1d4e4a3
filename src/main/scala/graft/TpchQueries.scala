package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Catalog.cell
import graft.Tag._

/** The TPC-H query suite, adapted to the driver's reduced star schema —
  * the "complete relational engine" exhibit alongside the operator catalog.
  * The testdata schema omits `partsupp`, the lineitem commit/receipt dates,
  * ship mode/instruct, and part container/mfgr, so:
  *
  *  - Q2 and Q11 (pure partsupp queries) derive their supplier–part
  *    relation from `lineitem` (Q2: supplycost := min extendedprice per
  *    (part, supplier); Q11: value := Σ quantity·extendedprice);
  *  - Q4/Q12/Q21 re-express their lateness predicates against
  *    `l_shipdate - o_orderdate` instead of the missing commit/receipt
  *    dates;
  *  - Q9/Q16/Q20 source supplier–part relationships from `lineitem`
  *    instead of `partsupp`;
  *  - Q19's container/ship-instruct conjuncts become size/quantity ranges;
  *  - Q22's phone-prefix filter becomes the nation key itself.
  *
  * Every query keeps the ORIGINAL's plan shape — the selective dimension
  * broadcasts, the fact-side partial aggregates, the correlated-subquery
  * decorrelation into joins, the top-k lowering to TakeOrdered — which is
  * what the suite exists to exercise.
  *
  * Determinism (same conventions as [[Queries]]): money sums in DECIMAL
  * (order-independent), cast to DOUBLE once at the end; the one scale-6
  * aggregate that can exceed 2^53 micro-units (Q1's charge) is emitted as
  * an exact BIGINT of micro-units instead; ratio metrics divide two exact
  * sums in one fixed-order double division; every LIMIT sits under a
  * total ORDER BY.
  */
object TpchQueries {

  import Queries.tbl

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def dec9(c: Column): Column = c.cast("decimal(9,2)")

  /** Count-gated broadcast for SF-proportional-but-usually-small join
    * sides (the round-11 verdict's "gate it on a cheap count"): a blind
    * `broadcast()` hint OOMs at 100×, while NO hint makes AQE materialize
    * the fact side's full shuffle write before it can convert the
    * sort-merge join to a broadcast one. The count is one action over a
    * dimension-subset scan — trivial next to either failure mode. 5M rows
    * of (key) ≈ low hundreds of MB as a HashedRelation, the same
    * survivable-broadcast band as [[graft.algorithms.Graph]]'s node gate
    * (both delegate to the one policy home, [[graft.operators.Scale
    * .broadcastIfSmall]]). */
  private def broadcastIfSmall(df: DataFrame, maxRows: Long = 5000000L): DataFrame =
    graft.operators.Scale.broadcastIfSmall(df, maxRows)
  private val one9 = lit(1).cast("decimal(9,2)")
  private def ts(s: String): Column = lit(s).cast("timestamp")
  private def us(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** l_extendedprice·(1−l_discount) at scale 4 — exact, order-independent. */
  private def discPrice: Column =
    dec9(col("l_extendedprice")) * (one9 - dec9(col("l_discount")))
  private val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))"

  // =====================================================================
  // Q1 — pricing summary report
  // =====================================================================

  /** Full Q1 (q1_agg keeps the reduced two-metric form): one scan, partial
    * + final HashAggregate to 6 groups. The charge aggregate multiplies
    * three scale-2 decimals (scale 6); its corpus total passes 2^53
    * micro-units at sf0.1 already, so it is emitted as an exact BIGINT of
    * micro-units — double would round engine-dependently at scale. */
  def q_tpch1(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("2001-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum((discPrice * (one9 + dec9(col("l_tax")))
          * lit(1000000L).cast("decimal(7,0)")).cast("long"))
          .as("sum_charge_micro"),
        (sum(dec(col("l_quantity"))).cast("double") /
          count(lit(1)).cast("double")).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") /
          count(lit(1)).cast("double")).as("avg_price"),
        (sum(dec(col("l_discount"))).cast("double") /
          count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private val q_tpch1_sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
       |  CAST(sum(CAST($discPriceSql * (CAST(1 AS DECIMAL(9,2)) + CAST(l_tax AS DECIMAL(9,2))) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)) AS BIGINT) AS sum_charge_micro,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price,
       |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc,
       |  CAST(count(*) AS BIGINT) AS count_order
       |FROM lineitem
       |WHERE CAST(l_shipdate AS TIMESTAMP) <= TIMESTAMP '2001-09-01'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // =====================================================================
  // Q2 — minimum-cost supplier (partsupp via lineitem)
  // =====================================================================

  /** Q2 adapted: the schema has no `partsupp`, so the supplier–part
    * relation is derived from lineitem the same way Q9/Q16/Q20 derive
    * theirs — `ps_supplycost := min(l_extendedprice)` per (part,
    * supplier), an exact DECIMAL aggregate. The correlated
    * `min(ps_supplycost)` over the region's suppliers decorrelates into
    * a per-part aggregate joined back on (partkey, exact-DECIMAL cost
    * equality), preserving Q2's defining shape: dimension broadcasts
    * (region→nation→supplier, filtered part), one fact-grain aggregate,
    * the min-join, and a totally-ordered top-100. Ties on the minimum
    * keep every attaining supplier, as in the original. */
  def q_tpch2(s: SparkSession, dir: String): DataFrame = {
    val eu = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation")
          .join(broadcast(tbl(s, dir, "region")
              .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val ps = tbl(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(min(dec(col("l_extendedprice"))).as("ps_supplycost"))
    // The part/supplier subsets grow with the scale factor (unlike
    // nation/region's fixed 25/5 rows), so their broadcasts are COUNT-GATED:
    // a blind hint OOMs at 100×, no hint costs an extra fact-grain shuffle
    // write of `ps` before AQE converts the SMJ (see broadcastIfSmall).
    val psEu = ps
      .join(broadcastIfSmall(tbl(s, dir, "part")
          .filter(col("p_size") <= 25 && col("p_type") === "LARGE")
          .select(col("p_partkey"), col("p_brand"))),
        col("ps_partkey") === col("p_partkey"))
      .join(broadcastIfSmall(eu), col("ps_suppkey") === col("s_suppkey"))
    val minCost = psEu.groupBy(col("ps_partkey").as("mc_partkey"))
      .agg(min(col("ps_supplycost")).as("mc_cost"))
    psEu.join(minCost, col("ps_partkey") === col("mc_partkey") &&
        col("ps_supplycost") === col("mc_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("s_suppkey"),
        col("ps_supplycost").cast("double").as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"), col("s_suppkey"))
      .limit(100)
  }

  private val q_tpch2_sql =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
      |  FROM lineitem GROUP BY 1, 2),
      |eu AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |ps_eu AS (
      |  SELECT *
      |  FROM ps
      |  JOIN part ON ps_partkey = p_partkey
      |  JOIN eu ON ps_suppkey = s_suppkey
      |  WHERE p_size <= 25 AND p_type = 'LARGE')
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, s_suppkey,
      |  CAST(ps_supplycost AS DOUBLE) AS supplycost
      |FROM ps_eu
      |WHERE ps_supplycost = (
      |  SELECT min(i.ps_supplycost) FROM ps_eu i
      |  WHERE i.ps_partkey = ps_eu.ps_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
      |LIMIT 100""".stripMargin

  // =====================================================================
  // Q4 — order priority checking (lateness vs. ship date)
  // =====================================================================

  /** Q4 with the EXISTS re-expressed on shipdate lag (no commitdate in
    * schema): orders in one quarter having at least one lineitem shipped
    * 45+ days after the order date, counted by priority. The EXISTS
    * lowers to a LEFT SEMI join — the probe never duplicates orders. */
  def q_tpch4(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-07-01") &&
        col("o_orderdate") < ts("1996-10-01"))
    val li = tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), us(col("l_shipdate")).as("ship_us"))
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("ship_us") > us(o("o_orderdate")) + lit(45L * 86400000000L),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  private val q_tpch4_sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-07-01'
      |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND epoch_us(CAST(l_shipdate AS TIMESTAMP)) >
      |          epoch_us(CAST(o_orderdate AS TIMESTAMP)) + 45 * 86400000000)
      |GROUP BY o_orderpriority""".stripMargin

  // =====================================================================
  // Q6 — forecasting revenue change
  // =====================================================================

  /** Q6 verbatim: the canonical scan-only aggregate — every predicate
    * pushes into the parquet scan, no join, no shuffle beyond the 1-row
    * final aggregate. */
  def q_tpch6(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec9(col("l_extendedprice")) * dec9(col("l_discount")))
        .cast("double").as("revenue"))

  private val q_tpch6_sql =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
      |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // =====================================================================
  // Q7 — volume shipping between two nations
  // =====================================================================

  /** Q7: bidirectional trade volume between two nations by ship year. The
    * nation dimension joins twice under different roles — both broadcast;
    * the symmetric pair filter applies after both are attached. */
  def q_tpch7(s: SparkSession, dir: String): DataFrame = {
    val n1 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate").cast("timestamp")).cast("long").as("l_year"))
      .agg(sum(discPrice).cast("double").as("revenue"))
  }

  private val q_tpch7_sql =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS l_year,
       |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
       |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
       |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |GROUP BY n1.n_name, n2.n_name, year(CAST(l_shipdate AS TIMESTAMP))""".stripMargin

  // =====================================================================
  // Q8 — national market share
  // =====================================================================

  /** Q8: NATION_2's share of ASIA-region PROMO-part revenue by order year.
    * The share is two exact decimal sums divided once in double — the
    * oracle replays the identical operation order. */
  def q_tpch8(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = tbl(s, dir, "nation")
      .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey").as("cust_nkey"))
    val suppNation = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("supp_nkey"), col("n_name").as("supp_nation"))
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part").filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(asiaNations, col("c_nationkey") === col("cust_nkey"), "left_semi")
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("supp_nkey"))
      .groupBy(year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_2", discPrice)
            .otherwise(lit(0).cast("decimal(9,2)"))).cast("double") /
          sum(discPrice).cast("double")).as("mkt_share"))
  }

  private val q_tpch8_sql =
    s"""SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
       |  CAST(sum(CASE WHEN n2.n_name = 'NATION_2' THEN $discPriceSql ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE)
       |    / CAST(sum($discPriceSql) AS DOUBLE) AS mkt_share
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE p_type = 'PROMO'
       |  AND c_nationkey IN (SELECT n_nationkey FROM nation
       |    JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')
       |GROUP BY year(CAST(o_orderdate AS TIMESTAMP))""".stripMargin

  // =====================================================================
  // Q9 — product-type profit (no supplycost in schema)
  // =====================================================================

  /** Q9 adapted: profit collapses to revenue (partsupp's supplycost term
    * is absent from the schema); grouped by supplier nation and order
    * year for one part type. Keeps Q9's shape: a five-table join whose
    * only large side is lineitem. */
  def q_tpch9(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part").filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
      .agg(sum(discPrice).cast("double").as("sum_profit"))

  private val q_tpch9_sql =
    s"""SELECT n_name AS nation,
       |  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
       |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_type = 'ECONOMY'
       |GROUP BY n_name, year(CAST(o_orderdate AS TIMESTAMP))""".stripMargin

  // =====================================================================
  // Q10 — returned-item reporting
  // =====================================================================

  /** Q10: top 20 customers by lost revenue (returned items) in one
    * quarter. Fact-side aggregate on the customer grain, then a
    * TakeOrdered top-k — never a global sort materialization. */
  def q_tpch10(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1997-01-01") &&
            col("o_orderdate") < ts("1997-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  private val q_tpch10_sql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
       |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-04-01'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  // =====================================================================
  // Q11 — important stock identification (partsupp via lineitem)
  // =====================================================================

  /** Q11 adapted: stock "value" per part is derived from lineitem
    * (no partsupp/availqty) as Σ l_quantity·l_extendedprice over one
    * nation's suppliers — kept EXACT as a BIGINT of 1e-4 units (the
    * scale-4 product is integer-valued after ×10⁴), following the
    * pure-integer oracle idiom. The scalar-subquery threshold
    * decorrelates into a 1-row broadcast total; the HAVING compare
    * cross-multiplies integers (value·10⁴ > total, i.e. the original's
    * `value > total·0.0001`) so no engine ever divides. Output stays
    * BIGINT — no float conversion at all. */
  def q_tpch11(s: SparkSession, dir: String): DataFrame = {
    val natSupp = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // deliberately NOT persisted across the threshold-total and probe
    // consumers: both run inside ONE action, where AQE reuses the identical
    // partial-aggregate exchange stage, so only the cheap reduce-side final
    // aggregate duplicates — a persist+count was measured strictly worse
    // (1.08 vs 0.81 s min-of-3 at sf0.1; SCALE.md "within one action" note)
    val value = tbl(s, dir, "lineitem")
      // natSupp is a supplier subset — SF-proportional, so the broadcast is
      // COUNT-GATED rather than forced (blind hint = OOM at 100×) or
      // dropped (hint-less AQE pays a full lineitem shuffle WRITE before it
      // converts the SMJ to a broadcast join — measured 0.63 → 0.98 s at
      // sf0.1). The gate costs one cheap dimension-scan count.
      .join(broadcastIfSmall(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("ps_partkey"))
      .agg(sum((dec9(col("l_quantity")) * dec9(col("l_extendedprice")) *
        lit(10000L).cast("decimal(5,0)")).cast("long")).as("value_micro"))
    val total = value.agg(sum(col("value_micro")).as("total_micro"))
    value.crossJoin(broadcast(total))
      .filter(col("value_micro") * lit(10000L) > col("total_micro"))
      .select(col("ps_partkey"), col("value_micro"))
      .orderBy(col("value_micro").desc, col("ps_partkey"))
  }

  private val q_tpch11_sql =
    """WITH value AS (
      |  SELECT l_partkey AS ps_partkey,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(10000 AS DECIMAL(5,0)) AS BIGINT)) AS BIGINT) AS value_micro
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_7'
      |  GROUP BY 1)
      |SELECT ps_partkey, value_micro
      |FROM value
      |WHERE value_micro * 10000 > (SELECT sum(value_micro) FROM value)
      |ORDER BY value_micro DESC, ps_partkey""".stripMargin

  // =====================================================================
  // Q12 — shipping lateness classes (no shipmode in schema)
  // =====================================================================

  /** Q12 adapted: ship-delay buckets replace the missing ship modes; the
    * priority split is Q12's verbatim CASE aggregation. Delay is exact
    * integer day arithmetic on epoch micros — no calendar ambiguity
    * between engines. */
  def q_tpch12(s: SparkSession, dir: String): DataFrame = {
    val delayDays = (us(col("l_shipdate")) - us(col("o_orderdate"))) /
      lit(86400000000L)
    val bucket = when(delayDays >= 90, "very_late")
      .when(delayDays >= 45, "late").otherwise("on_time")
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .groupBy(bucket.as("delay_class"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
  }

  private val q_tpch12_sql =
    """SELECT CASE
      |    WHEN (epoch_us(CAST(l_shipdate AS TIMESTAMP)) - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // 86400000000 >= 90 THEN 'very_late'
      |    WHEN (epoch_us(CAST(l_shipdate AS TIMESTAMP)) - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // 86400000000 >= 45 THEN 'late'
      |    ELSE 'on_time' END AS delay_class,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
      |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
      |GROUP BY 1""".stripMargin

  // =====================================================================
  // Q13 — customer order-count distribution
  // =====================================================================

  /** Q13: the aggregate-of-aggregate histogram — orders per customer
    * (LEFT join keeps zero-order customers), then customers per order
    * count. The second aggregate runs on customer-cardinality rows. */
  def q_tpch13(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  private val q_tpch13_sql =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  // =====================================================================
  // Q14 — promotion effect
  // =====================================================================

  /** Q14: PROMO revenue share of one month — two exact decimal sums in a
    * single aggregate, divided once in double. */
  def q_tpch14(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-09-01") &&
        col("l_shipdate") < ts("1997-10-01"))
      .join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", discPrice)
          .otherwise(lit(0).cast("decimal(9,2)"))).cast("double") /
        sum(discPrice).cast("double")).as("promo_revenue"))

  private val q_tpch14_sql =
    s"""SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPriceSql ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE)
       |  / CAST(sum($discPriceSql) AS DOUBLE) AS promo_revenue
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-09-01'
       |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-10-01'""".stripMargin

  // =====================================================================
  // Q15 — top supplier
  // =====================================================================

  /** Q15: supplier(s) attaining the max quarterly revenue. The revenue
    * "view" aggregates once; the max is a 1-row broadcast joined back on
    * DECIMAL equality (exact — a double max-compare could split ties). */
  def q_tpch15(s: SparkSession, dir: String): DataFrame = {
    val revenue = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-10-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discPrice).as("total_dec"))
    val top = revenue.agg(max(col("total_dec")).as("max_dec"))
    revenue.join(broadcast(top), col("total_dec") === col("max_dec"))
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_dec").cast("double").as("total_revenue"))
  }

  private val q_tpch15_sql =
    s"""WITH revenue AS (
       |  SELECT l_suppkey, sum($discPriceSql) AS total_dec
       |  FROM lineitem
       |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-10-01'
       |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
       |FROM revenue
       |JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_dec = (SELECT max(total_dec) FROM revenue)""".stripMargin

  // =====================================================================
  // Q16 — supplier breadth per part segment (partsupp via lineitem)
  // =====================================================================

  /** Q16 adapted: distinct shipping suppliers per (brand, type, size)
    * segment, sourced from lineitem (no partsupp). The COUNT DISTINCT is
    * the query's one key shuffle; the top-20 is totally ordered. */
  def q_tpch16(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
      .join(tbl(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
      .limit(20)

  private val q_tpch16_sql =
    """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM part
      |JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |LIMIT 20""".stripMargin

  // =====================================================================
  // Q17 — small-quantity-order revenue
  // =====================================================================

  /** Q17: revenue from orders of less than 20% of a part's average
    * quantity. The correlated AVG decorrelates into a per-part aggregate
    * joined back; the threshold compare is kept EXACT by cross-multiplying
    * integers (qty·5·count < sum) instead of comparing against a divided
    * average, whose last-ulp could differ between engines. */
  def q_tpch17(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part").filter(col("p_brand") === "Brand#3"),
        col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy(col("l_partkey").as("st_partkey"))
      .agg(count(lit(1)).as("st_n"), sum(col("l_quantity")).as("st_sum"))
    li.join(stats, col("l_partkey") === col("st_partkey"))
      .filter(col("l_quantity") * lit(5.0) * col("st_n") < col("st_sum"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  private val q_tpch17_sql =
    """WITH li AS (
      |  SELECT l.* FROM lineitem l JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#3'),
      |stats AS (
      |  SELECT l_partkey AS st_partkey, count(*) AS st_n,
      |    sum(l_quantity) AS st_sum
      |  FROM li GROUP BY l_partkey)
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM li JOIN stats ON l_partkey = st_partkey
      |WHERE l_quantity * 5.0 * st_n < st_sum""".stripMargin

  // =====================================================================
  // Q19 — discounted revenue (disjunctive pushdown)
  // =====================================================================

  /** Q19 adapted: the three-way OR-of-ANDs over brand/size/quantity
    * ranges (container and ship-instruct are absent). The point is the
    * disjunctive predicate: Catalyst extracts the common join key and
    * pushes the residual OR below the join. */
  def q_tpch19(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(5, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(discPrice).cast("double").as("revenue"))

  private val q_tpch19_sql =
    s"""SELECT CAST(sum($discPriceSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 5 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // =====================================================================
  // Q20 — dominant suppliers of promoted parts (partsupp via lineitem)
  // =====================================================================

  /** Q20 adapted: suppliers in one nation who shipped MORE THAN HALF of a
    * PROMO part's 1997 volume (availqty is absent; dominance over shipped
    * volume keeps the "who can cover this part" semantics). Quantity sums
    * are exact integer doubles, so the half-comparison cannot straddle
    * engines. */
  def q_tpch20(s: SparkSession, dir: String): DataFrame = {
    val shipped = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(tbl(s, dir, "part").filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("sp_partkey"), col("l_suppkey").as("sp_suppkey"))
      .agg(sum(col("l_quantity")).as("sp_qty"))
    val totals = shipped.groupBy(col("sp_partkey").as("t_partkey"))
      .agg(sum(col("sp_qty")).as("t_qty"))
    val dominant = shipped
      .join(totals, col("sp_partkey") === col("t_partkey"))
      .filter(col("sp_qty") > lit(0.5) * col("t_qty"))
      .select(col("sp_suppkey")).distinct()
    tbl(s, dir, "supplier")
      .join(tbl(s, dir, "nation").filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(dominant, col("s_suppkey") === col("sp_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  private val q_tpch20_sql =
    """WITH shipped AS (
      |  SELECT l_partkey AS sp_partkey, l_suppkey AS sp_suppkey,
      |    sum(l_quantity) AS sp_qty
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
      |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
      |    AND p_type = 'PROMO'
      |  GROUP BY 1, 2),
      |totals AS (
      |  SELECT sp_partkey AS t_partkey, sum(sp_qty) AS t_qty
      |  FROM shipped GROUP BY 1),
      |dominant AS (
      |  SELECT DISTINCT sp_suppkey FROM shipped
      |  JOIN totals ON sp_partkey = t_partkey
      |  WHERE sp_qty > 0.5 * t_qty)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
      |  AND s_suppkey IN (SELECT sp_suppkey FROM dominant)
      |ORDER BY s_suppkey""".stripMargin

  // =====================================================================
  // Q21 — suppliers who kept orders waiting
  // =====================================================================

  /** Q21 adapted: for finalized multi-supplier orders, blame the UNIQUE
    * supplier whose last shipment closed the order (receipt/commit dates
    * are absent; "latest ship date" carries the waiting semantics). One
    * order-keyed exchange computes per-supplier maxima, order maxima, and
    * the sole-attainer test; top 10 by wait count. */
  def q_tpch21(s: SparkSession, dir: String): DataFrame = {
    val perSupp = tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(us(col("l_shipdate"))).as("supp_last_us"))
    val w = Window.partitionBy(col("l_orderkey"))
    val flagged = perSupp
      .withColumn("order_last_us", max(col("supp_last_us")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_attain",
        sum(when(col("supp_last_us") === col("order_last_us"), 1L)
          .otherwise(0L)).over(w))
    flagged
      .filter(col("n_supp") >= 2 && col("n_attain") === 1 &&
        col("supp_last_us") === col("order_last_us"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
  }

  private val q_tpch21_sql =
    """WITH per_supp AS (
      |  SELECT l_orderkey, l_suppkey,
      |    max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS supp_last_us
      |  FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      |  GROUP BY l_orderkey, l_suppkey),
      |win AS (
      |  SELECT *,
      |    max(supp_last_us) OVER (PARTITION BY l_orderkey) AS order_last_us,
      |    count(*) OVER (PARTITION BY l_orderkey) AS n_supp
      |  FROM per_supp),
      |flagged AS (
      |  SELECT *,
      |    sum(CASE WHEN supp_last_us = order_last_us THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY l_orderkey) AS n_attain
      |  FROM win)
      |SELECT s_suppkey, s_name, CAST(numwait AS BIGINT) AS numwait
      |FROM (
      |  SELECT l_suppkey, count(*) AS numwait
      |  FROM flagged
      |  WHERE n_supp >= 2 AND n_attain = 1 AND supp_last_us = order_last_us
      |  GROUP BY l_suppkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY numwait DESC, s_suppkey
      |LIMIT 10""".stripMargin

  // =====================================================================
  // Q22 — global sales opportunity
  // =====================================================================

  /** Q22 adapted: rich-but-inactive customers per nation — balance above
    * the positive-balance average (one fixed-order double division on
    * exact decimal sums, broadcast back) and no orders at all (anti
    * join). Phone prefixes are absent; the nation key plays their role. */
  def q_tpch22(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val thresh = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") /
        count(lit(1)).cast("double")).as("avg_bal"))
    c.filter(col("c_nationkey").isin(1, 2, 3, 10, 17, 18, 21))
      .crossJoin(broadcast(thresh))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(tbl(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
  }

  private val q_tpch22_sql =
    """SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
      |  CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_nationkey IN (1, 2, 3, 10, 17, 18, 21)
      |  AND c_acctbal > (
      |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey""".stripMargin

  // =====================================================================
  // registry
  // =====================================================================

  val cells: Seq[Cell] = Seq(
    cell("q_tpch1", q_tpch1, q_tpch1_sql, Control),
    cell("q_tpch2", q_tpch2, q_tpch2_sql, Headline),
    cell("q_tpch4", q_tpch4, q_tpch4_sql, Soak),
    cell("q_tpch6", q_tpch6, q_tpch6_sql),
    cell("q_tpch7", q_tpch7, q_tpch7_sql),
    cell("q_tpch8", q_tpch8, q_tpch8_sql),
    cell("q_tpch9", q_tpch9, q_tpch9_sql),
    cell("q_tpch10", q_tpch10, q_tpch10_sql),
    cell("q_tpch11", q_tpch11, q_tpch11_sql),
    cell("q_tpch12", q_tpch12, q_tpch12_sql),
    cell("q_tpch13", q_tpch13, q_tpch13_sql),
    cell("q_tpch14", q_tpch14, q_tpch14_sql),
    cell("q_tpch15", q_tpch15, q_tpch15_sql),
    cell("q_tpch16", q_tpch16, q_tpch16_sql),
    cell("q_tpch17", q_tpch17, q_tpch17_sql),
    cell("q_tpch19", q_tpch19, q_tpch19_sql),
    cell("q_tpch20", q_tpch20, q_tpch20_sql),
    cell("q_tpch21", q_tpch21, q_tpch21_sql),
    cell("q_tpch22", q_tpch22, q_tpch22_sql))
}
