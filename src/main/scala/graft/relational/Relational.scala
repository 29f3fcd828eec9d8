package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampType}

import graft.{Op, Tables}

/** Relational query surface: aggregation, joins (broadcast / shuffle /
  * semi / anti), window functions, rollup, set operations, scalar
  * string/date/math functions, sessionization.
  *
  * The reference pipeline itself has none of these (SURVEY.md §2C — its two
  * streams never meet and it never aggregates); this module supplies the
  * analytic query surface its fact tables exist for, expressed as
  * declarative DataFrame plans so Catalyst handles pushdown, join
  * strategy, and whole-stage codegen.
  *
  * Determinism contract with the DuckDB oracle: every money/quantity
  * aggregate casts its inputs to DECIMAL(18,2) *before* summing (exact,
  * order-independent) and casts the final aggregate to DOUBLE. Outputs are
  * BIGINT / INT / DOUBLE / STRING only — no raw double sums, no timestamp
  * objects (epoch millis instead), so hash comparison cannot be tripped by
  * float summation order or timezone typing.
  */
object Relational {

  private val dec = DecimalType(18, 2)
  /** Exact decimal sum surfaced as double: deterministic across engines. */
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)
  private def one: Column = lit(1).cast(dec)
  /** l_extendedprice * (1 - l_discount), all-decimal (exact). */
  private def discPrice(df: DataFrame): Column =
    df("l_extendedprice").cast(dec) * (one - df("l_discount").cast(dec))

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: scan + filter + hash aggregate.
    * Map-side partial aggregation keeps the shuffle at |groups| rows. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.where(li("l_shipdate") <= lit("2000-01-01").cast(TimestampType))
      .groupBy(li("l_returnflag"), li("l_linestatus"))
      .agg(
        dsum(li("l_quantity")).as("sum_qty"),
        dsum(li("l_extendedprice")).as("sum_base_price"),
        sum(discPrice(li)).cast(DoubleType).as("sum_disc_price"),
        sum(discPrice(li) * (one + li("l_tax").cast(dec)))
          .cast(DoubleType).as("sum_charge"),
        (sum(li("l_quantity").cast(dec)).cast(DoubleType) / count(lit(1)))
          .as("avg_qty"),
        (sum(li("l_extendedprice").cast(dec)).cast(DoubleType) / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3-style shipping priority: 3-way join + agg + top-k.
    * customer is the small side of customer⋈orders — broadcast it; the
    * orders⋈lineitem join shuffles on the (high-cardinality) orderkey. */
  def q03ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(o("o_orderkey"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        o("o_orderpriority"))
      .agg(sum(discPrice(li)).cast(DoubleType).as("revenue"))
      .select(col("o_orderkey"), col("revenue"), col("orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q03Sql: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q05
  /** TPC-H Q5-style local-supplier volume: 6-way join. Dimension tables
    * (region, nation, supplier) are broadcast; the two fact joins shuffle
    * on orderkey. AQE re-plans the post-filter sides at runtime. */
  def q05LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).where(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val sup = Tables.supplier(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
             col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
    val li = Tables.lineitem(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(sup),
        li("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(sum(discPrice(li)).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q05Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Semi/anti join: customers that ordered at least once but never at
    * '1-URGENT' priority. LEFT SEMI / LEFT ANTI avoid materializing the
    * join payload — only the key probe crosses the shuffle. */
  def q07SemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderpriority"))
    val urgent = o.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o.select(col("o_custkey")),
        c("c_custkey") === col("o_custkey"), "left_semi")
      .join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val q07Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Window top-k: 3 priciest parts per brand (rank within partition —
    * single shuffle on p_brand, no self-join). */
  def q09WindowTopK(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    p.select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("p_retailprice"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy(col("p_brand"), col("rn"))
  }

  val q09Sql: String =
    """SELECT p_brand, p_partkey, p_name, p_retailprice, rn FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rn
      |  FROM part) t
      |WHERE rn <= 3
      |ORDER BY p_brand, rn""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Running cumulative sum per supplier over ship time (event-sourced
    * replay shape — same plan as order-book B2). */
  def q10RunningSum(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_suppkey") <= 5)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        Tables.epochMs(col("l_shipdate")).as("ship_ms"),
        sum(col("l_quantity").cast(dec)).over(w).cast(DoubleType)
          .as("running_qty"))
      .orderBy(col("l_suppkey"), col("ship_ms"), col("l_orderkey"),
        col("l_linenumber"))
  }

  val q10Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  epoch_ms(l_shipdate) AS ship_ms,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem
      |WHERE l_suppkey <= 5
      |ORDER BY l_suppkey, ship_ms, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q11
  /** ROLLUP hierarchy totals (returnflag → linestatus → grand total).
    * Two-level like q18: rollup's Expand replicates its input per
    * grouping level, so the rollup runs on the pre-aggregated
    * (rf, ls) base — Expand cost independent of fact cardinality,
    * decimal partials exact across both levels. */
  def q11Rollup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(dec)).as("q0"),
        count(lit(1)).as("n0"))
    base.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("q0")).cast(DoubleType).as("sum_qty"),
        sum(col("n0")).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  val q11Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Set operations: INTERSECT / EXCEPT between two customer-key sets. */
  def q12SetOps(s: SparkSession, d: String): DataFrame = {
    val b = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val u = Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val tagged = b.intersect(u).withColumn("tag", lit("both"))
      .unionByName(b.except(u).withColumn("tag", lit("building_only")))
      .unionByName(u.except(b).withColumn("tag", lit("urgent_only")))
    tagged.groupBy(col("tag")).agg(count(lit(1)).as("n")).orderBy(col("tag"))
  }

  val q12Sql: String =
    """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |u AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT tag, COUNT(*) AS n FROM (
      |  SELECT 'both' AS tag, c_custkey FROM (SELECT * FROM b INTERSECT SELECT * FROM u) t1
      |  UNION ALL
      |  SELECT 'building_only' AS tag, c_custkey FROM (SELECT * FROM b EXCEPT SELECT * FROM u) t2
      |  UNION ALL
      |  SELECT 'urgent_only' AS tag, c_custkey FROM (SELECT * FROM u EXCEPT SELECT * FROM b) t3) t
      |GROUP BY tag
      |ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Scalar string/math function projection (narrow, codegen'd end to
    * end — stays inside one WholeStageCodegen span with the scan). */
  def q13ScalarFuncs(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    p.select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_up"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        concat(col("p_type"), lit("/"), col("p_brand")).as("type_brand"),
        abs(col("p_size") - 25).as("size_dev"),
        round(col("p_retailprice"), 1).as("price_r1"),
        floor(col("p_retailprice") / 100).as("price_bucket"),
        when(col("p_size") < 10, "S").when(col("p_size") < 30, "M")
          .otherwise("L").as("size_class"))
      .orderBy(col("p_partkey"))
  }

  val q13Sql: String =
    """SELECT p_partkey,
      |  UPPER(p_brand) AS brand_up,
      |  SUBSTR(p_name, 1, 8) AS name_prefix,
      |  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
      |  CONCAT(p_type, '/', p_brand) AS type_brand,
      |  ABS(p_size - 25) AS size_dev,
      |  ROUND(p_retailprice, 1) AS price_r1,
      |  CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_bucket,
      |  CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Date/time scalar functions over orders (epoch millis out — no
    * timestamp objects cross the oracle boundary). */
  def q14DateFuncs(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).where(col("o_orderkey") % 100 === 0)
    o.select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"),
        Tables.epochMs(date_trunc("month", col("o_orderdate")))
          .as("month_start_ms"))
      .orderBy(col("o_orderkey"))
  }

  val q14Sql: String =
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS INTEGER) AS y,
      |  CAST(MONTH(o_orderdate) AS INTEGER) AS m,
      |  CAST(DAY(o_orderdate) AS INTEGER) AS dom,
      |  strftime(o_orderdate, '%Y-%m-%d') AS ds,
      |  epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms
      |FROM orders
      |WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Tumbling 1-hour event-time windows over the events stream table —
    * batch twin of the Structured Streaming windowed aggregation. */
  def q15EventsTumbling(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.groupBy(
        unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),  // ts already LTZ-ms from Tables.events
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour_ms"), col("event_type"))
  }

  val q15Sql: String =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_ms, event_type""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Sessionization: a >30-min silence starts a new session (lag +
    * conditional sum — the standard gaps-and-islands plan). */
  def q16Sessionize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    e.withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull ||
             col("ts_ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q16Sql: String =
    """WITH x AS (
      |  SELECT user_id,
      |    CASE WHEN LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
      |         OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events)
      |SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM x
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Distinct + conditional aggregation per order priority. */
  def q17DistinctAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        sum(when(col("o_orderstatus") === "F",
          col("o_totalprice").cast(dec)).otherwise(lit(0).cast(dec)))
          .cast(DoubleType).as("f_total"))
      .orderBy(col("o_orderpriority"))
  }

  val q17Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Scalar subquery: parts priced above the global average retail
    * price. The subquery is a one-row aggregate Catalyst plans as a
    * (reused) broadcast — no per-row re-evaluation. Average compared
    * in exact decimal so both engines cut the same boundary. */
  def q20ScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val avgPrice = p.agg(
      (sum(col("p_retailprice").cast(dec)) / count(lit(1))).as("a"))
    p.join(broadcast(avgPrice))
      .where(col("p_retailprice").cast(dec) > col("a"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_above"),
        dsum(col("p_retailprice")).as("sum_price"))
      .orderBy(col("p_brand"))
  }

  val q20Sql: String =
    """SELECT p_brand, COUNT(*) AS n_above,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part
      |WHERE CAST(p_retailprice AS DECIMAL(18,2)) >
      |  (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) / COUNT(*) FROM part)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Sliding event-time windows: 10-minute windows sliding by 5 —
    * every event lands in exactly two windows (Spark's window()
    * replicates rows per overlapping window; the oracle unnests the
    * same two window starts). */
  def q21Sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("n_users"))
      .orderBy(col("window_start_ms"), col("event_type"))

  val q21Sql: String =
    """WITH slid AS (
      |  SELECT w.start_ms AS ws, event_type, user_id
      |  FROM events, unnest([
      |    epoch_ms(ts) - epoch_ms(ts) % 300000,
      |    epoch_ms(ts) - epoch_ms(ts) % 300000 - 300000]) AS w(start_ms))
      |SELECT ws AS window_start_ms, event_type,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM slid
      |GROUP BY ws, event_type
      |ORDER BY window_start_ms, event_type""".stripMargin

  // ---------------------------------------------------------------- q18
  /** CUBE over (returnflag, linestatus): all four grouping-set levels.
    * Grouping-null markers replaced with 'ALL' so the hash compare
    * never depends on engine null-ordering.
    *
    * Two-level spelling: CUBE plans as an Expand that replicates its
    * INPUT once per grouping set, so cubing the raw fact table pushes
    * 2^dims × |lineitem| rows through the map stage. Aggregating to
    * the (rf, ls) base first (one ordinary hash-agg with map-side
    * partials) makes the Expand's input |distinct dim combos| — a
    * handful of rows — so the cube's cost is independent of fact
    * cardinality. Decimal partials stay exact across both levels, so
    * the final double is bit-identical to the one-level sum. */
  def q18Cube(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n0"),
        sum(col("l_quantity").cast(dec)).as("q0"))
    base.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n0")).as("n_rows"),
        sum(col("q0")).cast(DoubleType).as("sum_qty"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        when(col("g_rf") === 1, "ALL")
          .otherwise(col("l_returnflag")).as("returnflag"),
        when(col("g_ls") === 1, "ALL")
          .otherwise(col("l_linestatus")).as("linestatus"),
        col("n_rows"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  val q18Sql: String =
    """SELECT
      |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
      |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Pivot: order counts per year × status as columns (relational pivot
    * = groupBy().pivot(known values) — a single hash aggregate; the
    * explicit value list keeps the plan free of a distinct-scan). */
  def q19Pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"))
      .groupBy(col("order_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("order_year"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("order_year"))

  val q19Sql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders
      |GROUP BY 1
      |ORDER BY order_year""".stripMargin

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6-style forecast revenue: a pure scan→filter→global-agg with
    * NO grouping — the whole query is one codegen stage ending in a
    * single-row partial/final agg, and every predicate (date range,
    * discount band, quantity cap) pushes to the parquet scan. The
    * discount/quantity literals compare against the raw doubles both
    * engines read identically; only the SUM is decimal-exact. */
  def q06ForecastRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.where(li("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        li("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
        li("l_discount") >= 0.05 && li("l_discount") <= 0.07 &&
        li("l_quantity") < 24)
      .agg(sum(li("l_extendedprice").cast(dec) * li("l_discount").cast(dec))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q06Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q08
  /** TPC-H Q8-style market share: nation joined in TWO roles (customer's
    * nation restricts the market to region AMERICA; supplier's nation is
    * the share numerator), part filtered to one type. All dimensions
    * broadcast; the only shuffles are the two fact joins on orderkey.
    * Share = exact-decimal numerator/denominator, divided as doubles so
    * both engines round identically. */
  def q08MarketShare(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).where(col("p_type") === "ECONOMY")
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
    val r = Tables.region(s, d).where(col("r_name") === "AMERICA")
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val vol = discPrice(li)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), c("c_nationkey") === col("c_nkey"))
      .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
      .join(broadcast(Tables.supplier(s, d)),
        li("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
      .groupBy(year(o("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_1", vol)
            .otherwise(lit(0).cast(dec))).cast(DoubleType) /
          sum(vol).cast(DoubleType)).as("mkt_share"),
        sum(vol).cast(DoubleType).as("total_volume"))
      .orderBy(col("o_year"))
  }

  val q08Sql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_volume
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region ON n1.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
      |GROUP BY year(o_orderdate)
      |ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------- q22
  /** TPC-H Q22-style sales opportunity: rich customers (acctbal above
    * the positive-balance average — a scalar aggregate broadcast to
    * every row) with no RECENT order (left-anti against the 2001+ slice
    * of orders; the date filter pushes to the scan, and "no orders at
    * all" would be empty at every shipped SF — lapsed-customer cut
    * keeps the gate non-trivial), rolled up by nation. The threshold is
    * exact-decimal sum / count divided in doubles, so the cut line is
    * bit-identical across engines. */
  def q22SalesOpportunity(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val thr = c.where(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast(dec)).cast(DoubleType) /
        count(lit(1))).as("thr"))
    val rich = c.join(broadcast(thr))
      .where(col("c_acctbal") > col("thr"))
    val never = rich.join(
      Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("2001-01-01").cast(TimestampType)),
      col("c_custkey") === col("o_custkey"), "left_anti")
    never
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("n_name"))
  }

  val q22Sql: String =
    """SELECT n_name, COUNT(*) AS n_custs,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > (
      |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |    FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Full outer join — the one join type the rest of the surface doesn't
    * exercise. Customer presence (BUILDING segment, nations < 20) vs
    * supplier presence (nations ≥ 10) per nation: the deliberate key
    * asymmetry guarantees null rows on BOTH sides at any scale factor,
    * and COALESCE folds them to zero counts. */
  def q23NationCoverage(s: SparkSession, d: String): DataFrame = {
    val cs = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING" && col("c_nationkey") < 20)
      .groupBy(col("c_nationkey").as("ckey"))
      .agg(count(lit(1)).as("cust_n"))
    val ss = Tables.supplier(s, d)
      .where(col("s_nationkey") >= 10)
      .groupBy(col("s_nationkey").as("skey"))
      .agg(count(lit(1)).as("supp_n"))
    cs.join(ss, col("ckey") === col("skey"), "full_outer")
      .select(coalesce(col("ckey"), col("skey")).as("nationkey"),
        coalesce(col("cust_n"), lit(0L)).as("n_customers"),
        coalesce(col("supp_n"), lit(0L)).as("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  val q23Sql: String =
    """WITH cs AS (
      |  SELECT c_nationkey AS ckey, COUNT(*) AS cust_n FROM customer
      |  WHERE c_mktsegment = 'BUILDING' AND c_nationkey < 20
      |  GROUP BY 1),
      |ss AS (
      |  SELECT s_nationkey AS skey, COUNT(*) AS supp_n FROM supplier
      |  WHERE s_nationkey >= 10
      |  GROUP BY 1)
      |SELECT COALESCE(ckey, skey) AS nationkey,
      |  COALESCE(cust_n, 0) AS n_customers,
      |  COALESCE(supp_n, 0) AS n_suppliers
      |FROM cs FULL OUTER JOIN ss ON ckey = skey
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- q24
  /** TPC-H Q4-style order-priority check: orders with at least one
    * LATE lineitem (shipped > 60 days after the order date), counted by
    * priority. The correlated EXISTS is a left-semi hash join on
    * l_orderkey with the cross-table date comparison as a residual
    * condition — still keyed, never nested-loop, and the date slice on
    * orders pushes to its scan. */
  def q24LateOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q24Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q25
  /** TPC-H Q13-style customer distribution: orders-per-customer
    * histogram INCLUDING zero-order customers — the left outer join +
    * two-level aggregation shape (count non-null keys per customer,
    * then histogram the counts). Urgent orders are excluded so the
    * join condition is composite, like Q13's comment filter. */
  def q25CustDistribution(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q25Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Ordered conversion funnel over the events stream: per user, the
    * first `view`, the first `click` within 24 h AFTER that view, the
    * first `purchase` within 24 h after that click — then one summary
    * row of stage populations and conversion rates. The strict
    * ordering + deadline is what makes it a funnel rather than three
    * independent counts (here: 150 viewers → 60 clickers → 25 buyers). */
  private val FunnelWindowMs = 86400000L // 24 h stage deadline

  /** Plan shape: three hash-aggregations and two joins, every one
    * keyed on user_id, so the whole funnel runs in a single exchange's
    * partitioning (Spark reuses the hash partitioning across the
    * stages) — at 100 TB this is shuffle-once-then-narrow, and the
    * final single-row gather is trivially small. */
  def q26Funnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_ms"))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_view"))
    val c = e.where(col("event_type") === "click")
      .join(v, "user_id")
      .where(col("ts_ms") > col("t_view") &&
        col("ts_ms") <= col("t_view") + FunnelWindowMs)
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_click"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, "user_id")
      .where(col("ts_ms") > col("t_click") &&
        col("ts_ms") <= col("t_click") + FunnelWindowMs)
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
      .select(col("n_view"), col("n_click_after_view"),
        col("n_purchase_after_click"),
        // empty funnel stages → NULL rate, not an ANSI 0-division abort
        when(col("n_view") > 0,
          col("n_click_after_view").cast(DoubleType) / col("n_view"))
          .as("view_to_click"),
        when(col("n_click_after_view") > 0,
          col("n_purchase_after_click").cast(DoubleType)
            / col("n_click_after_view")).as("click_to_purchase"))
  }

  val q26Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |v AS (
      |  SELECT user_id, MIN(ts_ms) AS t_view FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts_ms) AS t_click
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts_ms > v.t_view
      |    AND e.ts_ms <= v.t_view + 86400000
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts_ms) AS t_purchase
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts_ms > c.t_click
      |    AND e.ts_ms <= c.t_click + 86400000
      |  GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |  (SELECT COUNT(*) FROM c) AS n_click_after_view,
      |  (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
      |  CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM v) AS view_to_click,
      |  CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM c) AS click_to_purchase""".stripMargin

  // ---------------------------------------------------------------- q27
  /** TPC-H Q2-shape minimum-cost supplier: a CORRELATED scalar subquery
    * in WHERE against an aggregate over a 4-way join (the one classic
    * subquery shape q20/q22/q24 don't cover — their subqueries correlate
    * in SELECT or via EXISTS). There is no partsupp table in this
    * corpus, so lineitem plays the part↔supplier cost association:
    * keep, per small part, exactly the EUROPE-region rows whose unit
    * price equals that part's regional minimum.
    *
    * Run as SQL TEXT through the engine's SQL surface
    * ([[graft.SqlInterface]]) — the correlated subquery is the point,
    * and Catalyst's RewriteCorrelatedScalarSubquery decorrelates it
    * into the per-part min aggregate + re-join plan a hand-written
    * DataFrame version would spell anyway. region/nation/supplier are
    * broadcast on both the outer and inner sides (PlanSpec pin); the
    * only big-table work is two lineitem scans keyed on l_partkey.
    * The identical text runs on DuckDB — one spelling, two engines.
    *
    * Determinism: unit_cost is ONE double division (no accumulation
    * order), MIN over identical doubles, and the equality filter
    * compares those same bit-identical values; DISTINCT collapses
    * multi-lineitem ties so (p_partkey, s_name) is a unique sort key. */
  val q27Sql: String =
    """SELECT DISTINCT p_partkey, p_brand, s_name, n_name,
      |  CAST(l_extendedprice AS DOUBLE) / l_quantity AS unit_cost
      |FROM part, lineitem, supplier, nation, region
      |WHERE l_partkey = p_partkey AND s_suppkey = l_suppkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE' AND p_size <= 10
      |  AND CAST(l_extendedprice AS DOUBLE) / l_quantity = (
      |    SELECT MIN(CAST(l2.l_extendedprice AS DOUBLE) / l2.l_quantity)
      |    FROM lineitem l2, supplier s2, nation n2, region r2
      |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey
      |      AND r2.r_name = 'EUROPE')
      |ORDER BY p_partkey, s_name""".stripMargin

  def q27MinCostSupplier(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d, q27Sql)

  // ---------------------------------------------------------------- q28
  /** Bucketed RANGE join — the interval-containment operator Spark has
    * no native physical strategy for (it plans point-in-interval
    * predicates as BroadcastNestedLoopJoin, O(|points|·|intervals|)).
    * Overlapping 34-minute promo windows every 17 minutes are joined to
    * the events table by containment, as an EQUI-join: points bucket to
    * `ts div 17min`; each window explodes to the 2–3 buckets it covers;
    * the exact `start ≤ ts < end` filter runs on the equi-join output.
    * Each point meets only the windows sharing its bucket (≤ 3), so
    * cost is O(|events|) with a shuffle key whose cardinality grows
    * with the time span — the same blocking idea as the banded LSH
    * joins, applied to time. At 100 TB the window side is far too big
    * to broadcast; this shape never needs to. Window starts/ends are
    * exact integer millis, so the oracle (a plain non-equi join in
    * DuckDB) matches by hash. */
  def q28RangeJoin(s: SparkSession, d: String): DataFrame = {
    val W = 17L * 60000L // bucket width = window stride
    val L = 34L * 60000L // window length (overlap factor 2)
    val ev = Tables.events(s, d).select(col("ts_ms"))
    val base = ev.agg((floor(min(col("ts_ms")) / 86400000L) * 86400000L)
      .cast("long").as("base_ms"))
    val span = ev.join(broadcast(base))
    // one window per stride across the observed span: derived from the
    // same table both engines read, so the window dim is reproducible
    val windows = span
      .agg(max(expr("cast(ceil((ts_ms - base_ms + 1) / cast(" + W +
        " as double)) as long)")).as("n_win"))
      .join(broadcast(base))
      .select(explode(expr("sequence(0L, n_win - 1)")).as("k"), col("base_ms"))
      .select(col("k"), (col("base_ms") + col("k") * W).as("w_start"),
        (col("base_ms") + col("k") * W + L).as("w_end"))
    val wb = windows.select(col("k"), col("w_start"), col("w_end"),
      explode(expr(s"sequence(w_start div $W, (w_end - 1) div $W)"))
        .as("bucket"))
    val pts = span.select(col("ts_ms"), expr(s"ts_ms div $W").as("bucket"))
    pts.join(wb, "bucket")
      .where(col("ts_ms") >= col("w_start") && col("ts_ms") < col("w_end"))
      .groupBy(col("k"), col("w_start"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("k"))
  }

  val q28Sql: String = {
    val w = 17L * 60000L
    val l = 34L * 60000L
    s"""WITH ev AS (SELECT epoch_ms(ts) AS ts_ms FROM events),
       |base AS (
       |  SELECT CAST(FLOOR(MIN(ts_ms) / 86400000) * 86400000 AS BIGINT) AS base_ms
       |  FROM ev),
       |nw AS (
       |  SELECT MAX(CAST(CEIL((ts_ms - base_ms + 1) / CAST($w AS DOUBLE)) AS BIGINT)) AS n_win
       |  FROM ev, base),
       |windows AS (
       |  SELECT k, base_ms + k * $w AS w_start, base_ms + k * $w + $l AS w_end
       |  FROM (SELECT unnest(range(0, (SELECT n_win FROM nw))) AS k), base)
       |SELECT k, w_start, COUNT(*) AS n_events
       |FROM ev JOIN windows
       |  ON ev.ts_ms >= windows.w_start AND ev.ts_ms < windows.w_end
       |GROUP BY k, w_start
       |ORDER BY k""".stripMargin
  }

  // ----------------------------------------------------------- registry
  val ops: Seq[Op] = Seq(
    Op("q01_pricing_summary", q01PricingSummary, q01Sql),
    Op("q03_shipping_priority", q03ShippingPriority, q03Sql),
    Op("q05_local_supplier", q05LocalSupplier, q05Sql),
    Op("q06_forecast_revenue", q06ForecastRevenue, q06Sql),
    Op("q07_semi_anti", q07SemiAnti, q07Sql),
    Op("q08_market_share", q08MarketShare, q08Sql),
    Op("q09_window_topk", q09WindowTopK, q09Sql),
    Op("q10_running_sum", q10RunningSum, q10Sql),
    Op("q11_rollup", q11Rollup, q11Sql),
    Op("q12_setops", q12SetOps, q12Sql),
    Op("q13_scalar_funcs", q13ScalarFuncs, q13Sql),
    Op("q14_date_funcs", q14DateFuncs, q14Sql),
    Op("q15_events_tumbling", q15EventsTumbling, q15Sql),
    Op("q16_sessionize", q16Sessionize, q16Sql),
    Op("q17_distinct_agg", q17DistinctAgg, q17Sql),
    Op("q18_cube", q18Cube, q18Sql),
    Op("q19_pivot", q19Pivot, q19Sql),
    Op("q20_scalar_subquery", q20ScalarSubquery, q20Sql),
    Op("q21_sliding", q21Sliding, q21Sql),
    Op("q22_sales_opportunity", q22SalesOpportunity, q22Sql),
    Op("q23_nation_coverage", q23NationCoverage, q23Sql),
    Op("q24_late_orders", q24LateOrders, q24Sql),
    Op("q25_cust_distribution", q25CustDistribution, q25Sql),
    Op("q26_funnel", q26Funnel, q26Sql),
    Op("q27_min_cost_supplier", q27MinCostSupplier, q27Sql),
    Op("q28_range_join", q28RangeJoin, q28Sql))
}
