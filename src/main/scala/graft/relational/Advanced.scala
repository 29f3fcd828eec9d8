package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, TimestampType}

import graft.Tables

/** Round-5 relational additions: the classic TPC-H subquery shapes the
  * q01–q31 set didn't cover (Q21 double-correlated EXISTS / NOT EXISTS,
  * Q15 view + scalar-max), GROUPING SETS (the third grouping surface
  * next to q11's ROLLUP and q18's CUBE), and the ntile/percent_rank/
  * cume_dist window family.
  *
  * Same determinism contract as [[Relational]]: decimal-cast before
  * SUM, outputs limited to BIGINT/INT/DOUBLE/STRING, unique sort keys.
  */
object Advanced {

  private val dec = DecimalType(18, 2)
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)
  private def one: Column = lit(1).cast(dec)

  // ---------------------------------------------------------------- q32
  /** TPC-H Q21-shape "suppliers who kept orders waiting": for finished
    * orders, count a supplier's late lines on multi-supplier orders
    * where it was the ONLY late supplier (classic EXISTS + NOT EXISTS
    * double correlation; there is no receiptdate/commitdate in this
    * corpus, so late ≙ shipped > 60 days after the order date).
    *
    * Spark-first shape: the correlated subqueries are NOT spelled as
    * two extra lineitem self-joins. Both existence tests are functions
    * of per-order supplier facts, so ONE aggregation pass computes
    * them: per (orderkey, suppkey) lateness, then per orderkey the
    * supplier count and late-supplier count — the EXISTS becomes
    * `n_supp > 1`, the NOT EXISTS becomes `n_late_supp = 1` on a
    * frame that is already orderkey-partitioned from the first
    * shuffle (AQE reuses the partitioning for the join back). The
    * oracle spells the same query with literal EXISTS/NOT EXISTS —
    * two spellings, one answer. Supplier names attach by broadcast. */
  def q32WaitingSupplier(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).where(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val lo = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    val suppOrder = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("supp_late"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late_lines"))
    val orderStats = suppOrder.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("supp_late"), 1).otherwise(0)).as("n_late_supp"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
    suppOrder.where(col("supp_late"))
      .join(orderStats, "l_orderkey")
      .where(col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(sum(col("n_late_lines")).as("numwait"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q32Sql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q33
  /** TPC-H Q15-shape top supplier: quarterly revenue per supplier, keep
    * every supplier whose revenue equals the maximum (ties preserved —
    * the equality-against-aggregate shape, not a LIMIT 1). The max is
    * a scalar: one tiny aggregate broadcast back over the revenue
    * frame (same attach pattern as q20/q26); the equality compares the
    * exact same decimal-sum-cast-double values on both sides, so it is
    * bit-safe. */
  def q33TopSupplier(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
             col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
    val revenue = li.groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(col("l_extendedprice").cast(dec) *
          (one - col("l_discount").cast(dec)))
        .cast(DoubleType).as("total_revenue"))
    val mx = revenue.agg(max(col("total_revenue")).as("max_rev"))
    revenue.crossJoin(broadcast(mx))
      .where(col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q33Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |      AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q34
  /** GROUPING SETS — the explicit-sets grouping surface (q11 covers
    * ROLLUP, q18 CUBE): per-(status, priority), per-status, and
    * per-priority aggregates in one pass, disambiguated by
    * grouping_id. Spark expands the sets with a single Expand operator
    * feeding one hash aggregate — rows are replicated per set
    * MAP-SIDE, so the shuffle still carries only |groups| rows per
    * set. Run as SQL text (the DataFrame API exposes only
    * rollup/cube). Spark's grouping_id and DuckDB's GROUPING both
    * follow the Postgres bit convention (last column = LSB). */
  def q34GroupingSets(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d,
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)

  val q34Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), (o_orderpriority))
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Distribution windows: ntile / percent_rank / cume_dist over
    * customer balances per market segment, summarized per quartile.
    * percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single
    * integer divisions — bit-identical across engines. The window
    * partitions by segment: dimension-scale keys, so parallelism is
    * bounded by segment count — the right tool for dimension tables;
    * fact-scale distribution stats should use approx_percentile or
    * the two-level bucketed scans instead (ob09/ob14/ob18). */
  def q35NtileQuartiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("q", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy(col("c_mktsegment"), col("q"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        max(col("pr")).as("max_pr"),
        max(col("cd")).as("max_cd"))
      .orderBy(col("c_mktsegment"), col("q"))
  }

  val q35Sql: String =
    """SELECT c_mktsegment, q, COUNT(*) AS n,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
      |  MAX(pr) AS max_pr, MAX(cd) AS max_cd
      |FROM (SELECT c_mktsegment, c_acctbal,
      |    CAST(NTILE(4) OVER w AS INT) AS q,
      |    PERCENT_RANK() OVER w AS pr,
      |    CUME_DIST() OVER w AS cd
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment
      |               ORDER BY c_acctbal, c_custkey)) t
      |GROUP BY c_mktsegment, q
      |ORDER BY c_mktsegment, q""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Exact percentiles (median / p90 / p99 of order value per
    * priority): `percentile` is Spark's exact linear-interpolation
    * aggregate — the same `lo + (hi-lo)·frac` at `rank = q·(n-1)` as
    * DuckDB's quantile_cont, so the doubles match bit-for-bit.
    * Exact percentile buffers each group's values (here: bounded
    * priority groups — dimension-scale); for fact-scale groups the
    * scale path is approx_percentile (t-digest sketch, mergeable
    * map-side), which trades the oracle-exact answer for O(1) state —
    * the classic exact/sketch pair, same as txt15's KMV vs COUNT
    * DISTINCT. */
  def q36Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("percentile(o_totalprice, 0.5d)").as("p50"),
        expr("percentile(o_totalprice, 0.9d)").as("p90"),
        expr("percentile(o_totalprice, 0.99d)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q36Sql: String =
    """SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  quantile_cont(o_totalprice, 0.99) AS p99,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Time-RANGE window frames: per-user trailing-1-hour sum/count at
    * every event — RANGE BETWEEN (value-based bounds) is a different
    * frame semantics from the ROWS frames q10/ob04 use: the frame is
    * "all events within 3 600 000 ms", not "the last k rows", so it
    * widens and narrows with event density. Partitioning is by
    * user_id — a key whose cardinality grows with the data (unlike a
    * 5-value language key), so the per-partition sort parallelizes;
    * a pathologically hot user would take the bucketed-scan treatment
    * (ob18). Frame sums are decimal-exact then cast. */
  def q37RangeFrames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("hour_sum",
        sum(col("value").cast(dec)).over(w).cast(DoubleType))
      .withColumn("hour_cnt", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("hour_sum"), col("hour_cnt"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q37Sql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hour_sum,
      |  COUNT(*) OVER w AS hour_cnt
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** TPC-H Q16 shape (parts/supplier relationship counts): for each
    * (brand, type, size-octile), how many DISTINCT suppliers ship the
    * part — excluding "problem" suppliers (negative account balance; the
    * synthetic stand-in for Q16's complaints LIKE filter) via a
    * broadcast ANTI-join. The supplier-part relation comes from
    * lineitem (this corpus has no partsupp table); the distinct-count
    * runs on (group, suppkey) AFTER the slim project, so the shuffle
    * carries keys, never lineitem rows. Exercises: multi-join +
    * anti-join + COUNT(DISTINCT) + computed grouping key, the Q16
    * rubric row. */
  def q38PartSupplierCounts(s: SparkSession, d: String): DataFrame = {
    val bad = Tables.supplier(s, d).where(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("l_suppkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), Seq("l_suppkey"), "left_anti")
    li.join(broadcast(Tables.part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"),
          col("p_type"), expr("p_size div 8").as("size_octile"))),
        "l_partkey")
      .groupBy(col("p_brand"), col("p_type"), col("size_octile"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("size_octile"))
  }

  val q38Sql: String =
    """SELECT p.p_brand, p.p_type, CAST(p.p_size // 8 AS BIGINT) AS size_octile,
      |  COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_suppkey NOT IN (
      |  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p.p_brand, p.p_type, size_octile
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, size_octile""".stripMargin

  // ---------------------------------------------------------------- q39
  /** TPC-H Q20 shape (excess-share suppliers): suppliers in one nation
    * who, for some 'red%' part, shipped MORE THAN HALF of that part's
    * total 1996 flow — the deepest classic nesting: an IN subquery
    * whose HAVING contains a correlated scalar aggregate (Q20 spells
    * it availqty > 0.5·SUM; this corpus has no partsupp, so the
    * supplier-part quantity proxies availqty, as in q38).
    *
    * Spark-first: both correlation levels decorrelate into plain
    * aggregates — per-(part, supplier) lifetime quantity, and
    * per-part 1996 totals — joined on the part key; the correlated
    * scalar becomes a LEFT join (parts with no 1996 flow keep
    * threshold 0 via coalesce, exactly the empty-scalar-subquery
    * semantics). The ×2 comparison stays in DECIMAL — no 0.5 double
    * rounding on either engine. The 'red%' filter broadcasts into
    * BOTH lineitem passes so the shuffles only ever carry the ~1/9
    * of rows that can matter; the surviving supplier keys are a
    * dimension-scale set, broadcast-semi-joined back to supplier. */
  def q39ExcessShare(s: SparkSession, d: String): DataFrame = {
    val red = Tables.part(s, d).where(col("p_name").like("red%"))
      .select(col("p_partkey").as("l_partkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_shipdate"))
      .join(broadcast(red), Seq("l_partkey"))
    val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("qty_ps"))
    val win = li
      .where(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
             col("l_shipdate") < lit("1997-01-01").cast(TimestampType))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("qty_96"))
    val excess = ps.join(win, Seq("l_partkey"), "left")
      .where(col("qty_ps") * 2 > coalesce(col("qty_96"), lit(0).cast(dec)))
      .select(col("l_suppkey").as("s_suppkey")).distinct()
    val nat = Tables.nation(s, d).where(col("n_name") === "NATION_3")
      .select(col("n_nationkey"))
    Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(excess), Seq("s_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q39Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT ps.l_suppkey FROM lineitem ps
      |    WHERE ps.l_partkey IN (
      |      SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    GROUP BY ps.l_partkey, ps.l_suppkey
      |    HAVING SUM(CAST(ps.l_quantity AS DECIMAL(18,2))) * 2 >
      |      (SELECT COALESCE(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))),
      |                       CAST(0 AS DECIMAL(18,2)))
      |       FROM lineitem l2
      |       WHERE l2.l_partkey = ps.l_partkey
      |         AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
      |         AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q40
  /** RECURSIVE CTE — the hierarchy/graph-walk surface (BOM explosion,
    * org rollups, path closures) that was unreachable before Spark 4's
    * `WITH RECURSIVE` (executed as an iterative `UnionLoop` fixed
    * point, each step a distributed job over only the frontier rows —
    * NOT a driver loop). The hierarchy is synthesized from data:
    * parent(k) = k div 10 makes the customer keys a 10-ary tree; the
    * walk emits every (key, ancestor) pair with its depth, i.e. the
    * ancestor closure, aggregated per level.
    *
    * Run as SQL text through [[graft.SqlInterface]] (the DataFrame API
    * has no recursion surface). Note the division spellings differ —
    * Spark `div`, DuckDB `//` — but both are exact BIGINT floor-div on
    * non-negative keys. dd09's star contraction stays the CC engine
    * because component labeling needs the alternating contraction to
    * be O(log n); plain DAG walks like this one map directly onto
    * WITH RECURSIVE. */
  def q40HierarchyWalk(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d,
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS k, c_custkey div 10 AS anc, 1 AS depth
        |  FROM customer WHERE c_custkey > 0
        |  UNION ALL
        |  SELECT k, anc div 10, depth + 1 FROM anc WHERE anc > 0)
        |SELECT CAST(depth AS INT) AS depth, COUNT(*) AS n_paths,
        |  COUNT(DISTINCT k) AS n_keys,
        |  MIN(anc) AS min_anc, MAX(anc) AS max_anc
        |FROM anc GROUP BY depth
        |ORDER BY depth""".stripMargin)

  val q40Sql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT c_custkey AS k, c_custkey // 10 AS anc, 1 AS depth
      |  FROM customer WHERE c_custkey > 0
      |  UNION ALL
      |  SELECT k, anc // 10, depth + 1 FROM anc WHERE anc > 0)
      |SELECT CAST(depth AS INT) AS depth, COUNT(*) AS n_paths,
      |  COUNT(DISTINCT k) AS n_keys,
      |  MIN(anc) AS min_anc, MAX(anc) AS max_anc
      |FROM anc GROUP BY depth
      |ORDER BY depth""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Gap filling / LOCF imputation — `last_value(… IGNORE NULLS)`: the
    * sparse-observation carry-forward every sensor/market pipeline
    * runs (a book price is only quoted when it changes; analytics
    * need it at every row). The IGNORE-NULLS frame variant is a
    * different window semantics from q10/q37's dense frames: the
    * carried value comes from an unbounded-preceding running frame
    * that skips nulls, and rows before a partition's first
    * observation STAY null (there is nothing to carry — an engine
    * that invents a default here corrupts the series). Sparsity is
    * synthesized (value visible on every 3rd event); the carried
    * doubles are copies, not arithmetic, so hash-exact. Partitioning
    * is by user_id — data-scale keys, parallel sorts. */
  def q41GapFill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        when(col("event_id") % 3 === 0, col("value")).as("sparse"))
      .withColumn("filled",
        last(col("sparse"), ignoreNulls = true).over(w))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q41Sql: String =
    """SELECT user_id, event_id,
      |  CASE WHEN event_id % 3 = 0 THEN value END AS sparse,
      |  LAST_VALUE(CASE WHEN event_id % 3 = 0 THEN value END
      |    IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Semi-structured JSON processing: the `props` payload column
    * parsed with a SCHEMA (`from_json` → codegen'd JsonToStructs, one
    * parse per row feeding typed extraction) instead of per-path
    * string probing — N `get_json_object` calls parse the document N
    * times. Aggregates run on the extracted integers; malformed JSON
    * or missing keys become NULLs and fall out of the sums on both
    * engines (PERMISSIVE mode ≙ TRY_CAST of json_extract's null).
    * Contract: `k` is an unquoted integer or absent — a QUOTED number
    * ({"k":"5"}) is outside it (Spark's typed parse nulls the record,
    * DuckDB's text extract still casts). */
  def q42JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val q42Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(TRY_CAST(props ->> '$.k' AS BIGINT)) AS n_k,
      |  CAST(SUM(TRY_CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(TRY_CAST(props ->> '$.k' AS BIGINT)) AS min_k,
      |  MAX(TRY_CAST(props ->> '$.k' AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Multiplicity-preserving set operations — INTERSECT ALL / EXCEPT
    * ALL (q12 covers the DISTINCT variants; these are different
    * operators with different physics: Spark plans them as
    * replication-count joins via `generate`, not as distinct-then-
    * join, so each row's multiplicity min/difference survives). The
    * multisets are supplier keys of heavy vs discounted lineitems;
    * per-key multiplicities aggregate after the set op, proving
    * counts, not just membership, flowed through. */
  def q43SetOpsAll(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val a = li.where(col("l_quantity") > 25).select(col("l_suppkey"))
    val b = li.where(col("l_discount") >= 0.05).select(col("l_suppkey"))
    a.intersectAll(b).withColumn("tag", lit("intersect_all"))
      .unionByName(a.exceptAll(b).withColumn("tag", lit("except_all")))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_suppkey")).as("n_keys"))
      .orderBy(col("tag"))
  }

  val q43Sql: String =
    """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 25),
      |b AS (SELECT l_suppkey FROM lineitem WHERE l_discount >= 0.05),
      |t AS (
      |  SELECT l_suppkey, 'intersect_all' AS tag
      |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      |  UNION ALL
      |  SELECT l_suppkey, 'except_all' AS tag
      |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
      |SELECT tag, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_suppkey) AS n_keys
      |FROM t GROUP BY tag
      |ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q44
  /** UNPIVOT / melt — the inverse of q19's pivot and a first-class
    * narrow operator in Spark 3.4+ (`Dataset.unpivot` → Expand: each
    * input row fans to one row per metric MAP-SIDE, no shuffle, no
    * join against a metric dimension). Wide per-priority aggregates
    * (count / distinct customers / exact total cents) melt into
    * (priority, metric, value) — the long shape dashboards and ML
    * feature stores ingest. All three metrics are exact BIGINTs, so
    * the melt is type-lossless on both engines. */
  def q44Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        (sum(col("o_totalprice").cast(dec)) * 100)
          .cast(org.apache.spark.sql.types.LongType).as("total_cents"))
    wide.unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("n_custs"), col("total_cents")),
        "metric", "val")
      .orderBy(col("o_orderpriority"), col("metric"))
  }

  val q44Sql: String =
    """WITH wide AS (
      |  SELECT o_orderpriority, COUNT(*) AS n_orders,
      |    COUNT(DISTINCT o_custkey) AS n_custs,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS total_cents
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, metric, val
      |FROM wide UNPIVOT (val FOR metric IN (n_orders, n_custs, total_cents))
      |ORDER BY o_orderpriority, metric""".stripMargin

  // ---------------------------------------------------------------- q45
  /** NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): the join
    * spelling where NULL keys MATCH each other instead of silently
    * dropping — Catalyst keeps EqualNullSafe as a hash-join key
    * (null-safe ≠ non-equi; no nested-loop fallback), which a naive
    * `=` + COALESCE sentinel rewrite gets wrong the day a real value
    * collides with the sentinel. One segment is nulled out
    * (BUILDING → NULL) on both sides; the NULL bucket must survive
    * the join with its aggregate attached. */
  def q45NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val seg = when(col("c_mktsegment") =!= "BUILDING", col("c_mktsegment"))
    val dim = Tables.customer(s, d)
      .groupBy(seg.as("dseg"))
      .agg((sum(col("c_acctbal").cast(dec)).cast(DoubleType)
          / count(lit(1))).as("seg_avg"))
    Tables.customer(s, d).select(seg.as("seg"), col("c_custkey"))
      .join(broadcast(dim), col("seg") <=> col("dseg"))
      .groupBy(col("seg").as("tag"))
      .agg(count(lit(1)).as("n_custs"), max(col("seg_avg")).as("seg_avg"))
      .orderBy(col("tag"))
  }

  val q45Sql: String =
    """WITH c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_mktsegment <> 'BUILDING' THEN c_mktsegment END AS seg
      |  FROM customer),
      |dim AS (
      |  SELECT seg AS dseg,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |      AS seg_avg
      |  FROM c JOIN customer USING (c_custkey) GROUP BY 1)
      |SELECT c.seg AS tag, COUNT(*) AS n_custs, MAX(d.seg_avg) AS seg_avg
      |FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.dseg
      |GROUP BY c.seg
      |ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Column PROFILING — the ANALYZE-style statistics pass every
    * warehouse runs before trusting a new feed (row/null/distinct
    * counts, min/max, mode): melt the profiled columns into one long
    * (colname, v) frame via a literal-array explode (narrow Generate —
    * NOT `unpivot`, whose null handling differs from SQL UNPIVOT's
    * default null-exclusion; the explode retains nulls identically on
    * both engines), then TWO hash aggregates: per-column stats, and
    * per-(column, value) counts reduced to the mode by lexicographic
    * `min(struct(-cnt, v))`. Scale shape: the long frame is 4× the
    * source but never wider than two columns; both shuffles key on
    * content whose cardinality grows with the data; the 4-row mode
    * side broadcasts back. All values profile as strings (ASCII here,
    * so byte order ≡ DuckDB collation); `status_nulled` proves the
    * null path (NULLIF keeps reals out of the null bucket — a sentinel
    * would collide). */
  def q46Profile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val long = o.select(explode(array(
        struct(lit("o_orderstatus").as("colname"),
          col("o_orderstatus").as("v")),
        struct(lit("o_orderpriority").as("colname"),
          col("o_orderpriority").as("v")),
        struct(lit("status_nulled").as("colname"),
          nullif(col("o_orderstatus"), lit("O")).as("v")),
        struct(lit("o_custkey").as("colname"),
          col("o_custkey").cast(org.apache.spark.sql.types.StringType)
            .as("v")))).as("e"))
      .select(col("e.colname").as("colname"), col("e.v").as("v"))
    val prof = long.groupBy(col("colname"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    val mode = long.where(col("v").isNotNull)
      .groupBy(col("colname"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("colname"))
      .agg(min(struct((-col("c")).as("nc"), col("v").as("v"))).as("w"))
      .select(col("colname"), col("w.v").as("mode_v"),
        (-col("w.nc")).as("mode_n"))
    prof.join(broadcast(mode), "colname")
      .withColumn("null_frac",
        col("n_null").cast(DoubleType) / col("n_rows"))
      .orderBy(col("colname"))
  }

  val q46Sql: String =
    """WITH long AS (
      |  SELECT 'o_orderstatus' AS colname, o_orderstatus AS v FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT 'status_nulled', NULLIF(o_orderstatus, 'O') FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
      |prof AS (
      |  SELECT colname, COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_null,
      |    COUNT(DISTINCT v) AS n_distinct,
      |    MIN(v) AS min_v, MAX(v) AS max_v
      |  FROM long GROUP BY colname),
      |mode AS (
      |  SELECT colname, v AS mode_v, c AS mode_n FROM (
      |    SELECT colname, v, c,
      |      ROW_NUMBER() OVER (PARTITION BY colname
      |        ORDER BY c DESC, v) AS rn
      |    FROM (SELECT colname, v, COUNT(*) AS c FROM long
      |          WHERE v IS NOT NULL GROUP BY colname, v) t) r
      |  WHERE rn = 1)
      |SELECT p.colname, n_rows, n_null, n_distinct, min_v, max_v,
      |  mode_v, mode_n, CAST(n_null AS DOUBLE) / n_rows AS null_frac
      |FROM prof p JOIN mode USING (colname)
      |ORDER BY colname""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Two-sided LINEAR interpolation between sparse observations — the
    * time-series imputation q41's LOCF can't do (LOCF steps, this
    * slopes): per user, each gap row gets
    * prev + (next − prev) · (pos − prev_pos)/(next_pos − prev_pos),
    * with LOCF carry after the last observation and null before the
    * first. Both direction scans are `last/first(… IGNORE NULLS)`
    * frames over ONE user-keyed sort (same partition + ordering →
    * Spark reuses the exchange and sort across both WindowExecs).
    * Double parity: the carried values are copies and the interpolated
    * ones come from the identical parenthesized expression — IEEE
    * mul/div/add are correctly rounded, so same shape ⇒ same bits. */
  def q47Interpolate(s: SparkSession, d: String): DataFrame = {
    val sparse = when(col("event_id") % 3 === 0, col("value"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), sparse.as("sparse"))
      .withColumn("prev_v", last(col("sparse"), ignoreNulls = true).over(wPrev))
      .withColumn("prev_pos",
        last(when(col("sparse").isNotNull, col("event_id")),
          ignoreNulls = true).over(wPrev))
      .withColumn("next_v", first(col("sparse"), ignoreNulls = true).over(wNext))
      .withColumn("next_pos",
        first(when(col("sparse").isNotNull, col("event_id")),
          ignoreNulls = true).over(wNext))
      .withColumn("interp",
        when(col("sparse").isNotNull, col("sparse"))
          .when(col("prev_v").isNull, lit(null))
          .when(col("next_v").isNull, col("prev_v"))
          .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
            ((col("event_id") - col("prev_pos")).cast(DoubleType) /
              (col("next_pos") - col("prev_pos")).cast(DoubleType))))
      .select(col("user_id"), col("event_id"), col("sparse"), col("interp"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q47Sql: String =
    """WITH s AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_id % 3 = 0 THEN value END AS sparse
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, sparse,
      |    LAST_VALUE(sparse IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
      |    LAST_VALUE(CASE WHEN sparse IS NOT NULL THEN event_id END
      |      IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_pos,
      |    FIRST_VALUE(sparse IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
      |    FIRST_VALUE(CASE WHEN sparse IS NOT NULL THEN event_id END
      |      IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pos
      |  FROM s)
      |SELECT user_id, event_id, sparse,
      |  CASE WHEN sparse IS NOT NULL THEN sparse
      |       WHEN prev_v IS NULL THEN NULL
      |       WHEN next_v IS NULL THEN prev_v
      |       ELSE prev_v + (next_v - prev_v) *
      |         (CAST(event_id - prev_pos AS DOUBLE) /
      |          CAST(next_pos - prev_pos AS DOUBLE)) END AS interp
      |FROM f
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Robust outlier gating via MAD (median absolute deviation) — the
    * curation filter that survives what a z-score doesn't: mean and
    * stddev are themselves dragged by the outliers they're supposed to
    * catch, while median/MAD have a 50% breakdown point. Per event
    * type: median, MAD (median of |x − med|), and the count/fraction
    * beyond 3·MAD. Two grouped EXACT percentile passes with a
    * broadcast median join between them (event types are
    * dimension-scale, so the per-group value buffer is bounded the
    * same way ob11/q36 are — fact-scale groups would switch to
    * approx_percentile); the outlier verdicts are plain comparisons of
    * identically-shaped doubles, so both engines flag the same rows. */
  def q48MadOutliers(s: SparkSession, d: String): DataFrame = {
    val med = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5d)").as("med"))
    val dev = Tables.events(s, d)
      .join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val st = dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        expr("percentile(adev, 0.5d)").as("mad"))
    dev.select(col("event_type"), col("adev"))
      .join(broadcast(st), "event_type")
      .groupBy(col("event_type"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L))
        .as("n_outliers"))
      .withColumn("outlier_frac",
        col("n_outliers").cast(DoubleType) / col("n"))
      .orderBy(col("event_type"))
  }

  val q48Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
      |  FROM events e JOIN med m USING (event_type)),
      |st AS (
      |  SELECT event_type, COUNT(*) AS n, MAX(med) AS med,
      |    quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT s.event_type, s.n, s.med, s.mad,
      |  CAST(SUM(CASE WHEN d.adev > s.mad * 3 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN d.adev > s.mad * 3 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / s.n AS outlier_frac
      |FROM st s JOIN dev d USING (event_type)
      |GROUP BY s.event_type, s.n, s.med, s.mad
      |ORDER BY s.event_type""".stripMargin

  // ---------------------------------------------------------------- q49
  /** SCHEMA EVOLUTION on read — the source capability a long-lived feed
    * needs the day a producer adds a column: two parquet batches with
    * DIFFERENT schemas (the second adds `o_totalprice`) land in one
    * dataset, and a `mergeSchema` scan reconciles them — old-batch rows
    * surface the new column as NULL, and the aggregate distinguishes
    * "absent in the batch schema" (counted by `n_with_price`) from a
    * value. The batches are derived from the orders table and written
    * to a per-invocation temp dir (the write is the fixture, not the
    * operator; the oracle recomputes the logical result straight from
    * the base table). Scale: schema merge is a FOOTER-level operation —
    * Spark reads every file's footer schema and unions them; the row
    * scan itself stays columnar with per-file projection pushdown. */
  def q49SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    // ONE deterministic dir per corpus, overwritten each call — a
    // fresh createTempDirectory would leak a full orders copy per
    // invocation (deleteOnExit cannot remove non-empty directories)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-evo-$digest")
    val o = Tables.orders(s, d)
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$dir/batch1")
    o.where(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/batch2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$dir/batch1", s"$dir/batch2")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_with_price"),
        dsum(col("o_totalprice")).as("price_sum"))
      .orderBy(col("o_orderstatus"))
  }

  val q49Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  COUNT(CASE WHEN o_orderkey % 2 <> 0 THEN o_totalprice END)
      |    AS n_with_price,
      |  CAST(SUM(CASE WHEN o_orderkey % 2 <> 0
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS price_sum
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Equi-WIDTH histogram — the distribution sketch a profiler draws
    * next to q46's stats and q36's quantiles: one scalar min/max
    * aggregate broadcast back over the scan, bin =
    * ⌊(v − min)/width⌋ clamped into the last bucket (the max lands in
    * bin 9, not a phantom bin 10), then ONE hash aggregate on the bin
    * id. Histogram doubles stay parity-safe because the bin expression
    * is the identical shape on both engines and per-bin outputs are
    * min/max copies + a decimal-summed total; the degenerate all-
    * equal-values column collapses to bin 0 by the width-zero guard
    * rather than a 0/0 NaN. Two passes over the column, both
    * full-width shuffle-free before their single-row/10-row
    * exchanges — the classic profiler trade (approx_percentile-style
    * sketches would do it in one pass at the price of exactness). */
  def q50Histogram(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_totalprice"))
    val mm = o.agg(min(col("o_totalprice")).as("mn"),
      max(col("o_totalprice")).as("mx"))
    o.crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("mx") === col("mn"), 0L)
          .otherwise(least(
            floor((col("o_totalprice") - col("mn")) /
              ((col("mx") - col("mn")) / 10)), lit(9L))
            .cast(LongType)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("bin_min"),
        max(col("o_totalprice")).as("bin_max"),
        dsum(col("o_totalprice")).as("price_sum"))
      .orderBy(col("bin"))
  }

  val q50Sql: String =
    """WITH mm AS (
      |  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
      |  FROM orders)
      |SELECT CASE WHEN mx = mn THEN 0
      |         ELSE CAST(LEAST(FLOOR((o_totalprice - mn) /
      |           ((mx - mn) / 10)), 9) AS BIGINT) END AS bin,
      |  COUNT(*) AS n,
      |  MIN(o_totalprice) AS bin_min, MAX(o_totalprice) AS bin_max,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS price_sum
      |FROM orders, mm
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q51
  /** NULL-AWARE anti join — `NOT IN (subquery)` under three-valued
    * logic, the SQL trap every engine must get right: one NULL in the
    * subquery makes `x NOT IN (…)` UNKNOWN for every x, so the NOT IN
    * variant returns ZERO rows while the NOT EXISTS spelling (where
    * NULL simply never equals) returns the real "customers without
    * orders" count. Both variants side by side prove the engine
    * distinguishes them instead of rewriting one into the other.
    * Physical plan: Catalyst compiles NOT-IN-with-nullable-key to a
    * null-aware anti join (broadcast-only — the null check needs the
    * whole build side per task), a DIFFERENT join operator from q07's
    * left-anti and q45's null-safe equi-join. */
  def q51NotInNull(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d, q51Body)

  private val q51Body: String =
    """SELECT 'not_exists' AS variant, COUNT(*) AS n FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE (CASE WHEN o.o_orderkey % 1000 = 0 THEN NULL
      |              ELSE o.o_custkey END) = c.c_custkey)
      |UNION ALL
      |SELECT 'not_in', COUNT(*) FROM customer
      |WHERE c_custkey NOT IN (
      |  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
      |              ELSE o_custkey END
      |  FROM orders)
      |ORDER BY variant""".stripMargin

  val q51Sql: String = q51Body

  // ---------------------------------------------------------------- q52
  /** LATERAL correlated subquery — the per-row table-valued shape
    * (for every nation, its top-2 customers by balance) that is
    * neither a scalar subquery (q20) nor EXISTS (q22): the inner
    * SELECT references the outer row and returns ROWS. Catalyst
    * decorrelates the LIMIT-per-group into a window-under-join plan
    * (DecorrelateInnerQuery) instead of executing the subquery per
    * outer row — the same answer as a rank window, reached from the
    * SQL shape users actually write. Tie-broken on custkey so both
    * engines pick identical rows. */
  def q52Lateral(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d, q52Body)

  private val q52Body: String =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n,
      |  LATERAL (
      |    SELECT c_name, c_acctbal FROM customer c
      |    WHERE c.c_nationkey = n.n_nationkey
      |    ORDER BY c_acctbal DESC, c_custkey
      |    LIMIT 2) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin

  val q52Sql: String = q52Body

  // ---------------------------------------------------------------- q53
  /** Higher-order ARRAY functions over the embedding column — the
    * codegen'd lambda surface (`transform`/`filter`/`aggregate`/
    * `zip_with`) that replaces per-element UDF loops: per vector, the
    * positive-component count (filter+size), adjacent sign changes
    * (zip_with over the two shifted slices), the argmax dimension
    * (array_position on array_max — float copies, no arithmetic), and
    * the L1 norm summed EXACTLY as round(|x|·10⁶) BIGINTs inside the
    * aggregate lambda (floats quantized before the fold, so the fold
    * order and the engines' float-sum orders are both irrelevant; the
    * one double division at the end is engine-identical).
    *
    * Scale: every column is a map-side codegen'd expression — no
    * explode, no shuffle, no UDF; the scan is the whole plan. */
  def q53ArrayHof(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        size(expr("filter(embedding, x -> x > 0)")).cast(LongType)
          .as("n_pos"),
        expr("""aggregate(
            zip_with(slice(embedding, 1, size(embedding) - 1),
                     slice(embedding, 2, size(embedding) - 1),
                     (a, b) -> if(signum(a) <> signum(b), 1L, 0L)),
            0L, (acc, x) -> acc + x)""").as("n_sign_changes"),
        expr("array_position(embedding, array_max(embedding))")
          .as("argmax_dim"),
        expr("""aggregate(embedding, 0L,
            (acc, x) -> acc + cast(round(abs(cast(x as double)) * 1000000)
                                   as bigint))""").as("l1_micro"))
      .withColumn("l1", col("l1_micro").cast(DoubleType) / lit(1000000.0d))
      .orderBy(col("vec_id"))

  val q53Sql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |  CAST(list_sum(list_transform(range(1, len(embedding)),
      |    i -> CASE WHEN sign(embedding[CAST(i AS INT)])
      |                <> sign(embedding[CAST(i AS INT) + 1])
      |         THEN 1 ELSE 0 END)) AS BIGINT) AS n_sign_changes,
      |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
      |    AS argmax_dim,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(round(abs(CAST(x AS DOUBLE)) * 1000000) AS BIGINT)))
      |    AS BIGINT) AS l1_micro,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(round(abs(CAST(x AS DOUBLE)) * 1000000) AS BIGINT)))
      |    AS DOUBLE) / 1000000.0 AS l1
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Markov TRANSITION-MATRIX analytics over the event stream — the
    * behavioral-graph shape (funnel analysis, next-action prediction,
    * session-flow audits): per-user consecutive event pairs become a
    * weighted edge list, aggregated into the |types|² transition
    * matrix with per-edge probability, plus the TWO-STEP closure
    * (matrix square) computed as a self-join — the matrix-multiply-
    * as-join pattern that is how graph/linear-algebra steps actually
    * run on a cluster. Pairs reachable only in two steps survive the
    * full-outer between the direct and squared matrices.
    *
    * Determinism: counts and path counts are exact BIGINTs; the edge
    * probability is one double division. Scale: edge extraction is
    * the only data-sized stage (a per-user lag — user-keyed, bounded
    * partitions); everything after operates on the |types|²-bounded
    * matrix, so the closure join is broadcast-trivial no matter how
    * large the corpus that produced it. */
  def q54MarkovChain(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val edges = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .where(col("src").isNotNull)
      .select(col("src"), col("event_type").as("dst"))
    val cnts = edges.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
    val out = cnts.groupBy(col("src").as("o_src"))
      .agg(sum(col("cnt")).as("out_cnt"))
    val sq = cnts.select(col("src").as("a_src"), col("dst").as("mid"),
        col("cnt").as("a_cnt"))
      .join(cnts.select(col("src").as("mid"), col("dst").as("b_dst"),
        col("cnt").as("b_cnt")), Seq("mid"))
      .groupBy(col("a_src").as("src"), col("b_dst").as("dst"))
      .agg(sum(col("a_cnt") * col("b_cnt")).as("paths2"))
    cnts.join(sq, Seq("src", "dst"), "full_outer")
      .join(broadcast(out), col("src") === col("o_src"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        when(col("cnt").isNotNull,
            col("cnt").cast(DoubleType) / col("out_cnt").cast(DoubleType))
          .otherwise(lit(0.0d)).as("p"),
        coalesce(col("paths2"), lit(0L)).as("paths2"))
      .orderBy(col("src"), col("dst"))
  }

  val q54Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS src
      |  FROM events),
      |edges AS (SELECT src, event_type AS dst FROM ev WHERE src IS NOT NULL),
      |cnts AS (SELECT src, dst, COUNT(*) AS cnt FROM edges GROUP BY 1, 2),
      |outc AS (SELECT src, SUM(cnt) AS out_cnt FROM cnts GROUP BY 1),
      |sq AS (
      |  SELECT a.src AS src, b.dst AS dst, SUM(a.cnt * b.cnt) AS paths2
      |  FROM cnts a JOIN cnts b ON a.dst = b.src
      |  GROUP BY 1, 2)
      |SELECT COALESCE(c.src, s.src) AS src, COALESCE(c.dst, s.dst) AS dst,
      |  CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
      |  CASE WHEN c.cnt IS NOT NULL
      |       THEN CAST(c.cnt AS DOUBLE) / CAST(o.out_cnt AS DOUBLE)
      |       ELSE 0.0 END AS p,
      |  CAST(COALESCE(s.paths2, 0) AS BIGINT) AS paths2
      |FROM cnts c FULL OUTER JOIN sq s ON c.src = s.src AND c.dst = s.dst
      |LEFT JOIN outc o ON o.src = COALESCE(c.src, s.src)
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q55
  /** q55 — VARIANT shredding (Spark 4's open semi-structured type, the
    * schema-LESS counterpart of q42's explicit-schema `from_json`):
    * `parse_json` materializes the binary variant once per row,
    * `variant_get` extracts a typed path from it — the
    * schema-on-read route for payloads whose shape is NOT known at
    * plan time (q42's contract is a fixed struct; a variant column
    * tolerates heterogeneous rows and still extracts typed paths
    * where they exist). Missing paths and type mismatches surface as
    * NULL and fall out of the aggregates on both engines.
    *
    * Scale: parse + extract are one codegen'd projection; the
    * aggregate shuffles |event_type| groups with map-side partials.
    * At 100 TB the variant column would be stored shredded
    * (Parquet variant shredding) and this exact query prunes to the
    * shredded `$.k` subcolumn. */
  def q55VariantShred(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(col("event_type"),
        expr("try_variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_k"),
        sum(col("k").cast(LongType)).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val q55Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(k) AS n_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        TRY_CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q56
  /** q56 — per-group top-k via a RANK window, kept deliberately in the
    * window spelling (the registry's ranking workhorse is the
    * graft_topk aggregate — sim01/sim08 — precisely because a naive
    * window ranks everything): Spark ≥3.5 rescues this spelling with
    * WINDOW GROUP LIMIT pushdown — a `rank() <= k` filter over a
    * window becomes a WindowGroupLimitExec BELOW the shuffle that
    * keeps only each partition's local top-k rows before the exchange
    * and sort, so the full fact table is never exchanged for a top-3
    * answer. PlanSpec pins the operator's presence in BOTH partial
    * (map-side) and final positions. `rank` (not row_number) keeps
    * ties meaningful; the unique (o_totalprice DESC, o_orderkey)
    * ordering keeps both engines on identical rows anyway. */
  def q56TopPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    graft.Tables.orders(s, d)
      .withColumn("rnk", rank().over(w))
      .where(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  val q56Sql: String =
    """SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rnk, o_orderkey,
      |  o_totalprice
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |        RANK() OVER (PARTITION BY o_orderpriority
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |      FROM orders) t
      |WHERE rnk <= 3
      |ORDER BY o_orderpriority, rnk""".stripMargin

  // ---------------------------------------------------------------- q57
  /** q57 — PIVOT: rows → columns over an EXPLICIT value list
    * (`RelationalGroupedDataset.pivot(col, values)`), the inverse of
    * q44's unpivot. The explicit list matters at scale: values omitted
    * → Spark runs a distinct-collect JOB at PLAN time to discover the
    * columns (a driver-side action hidden inside query construction);
    * pinned here in the values-known spelling a production report
    * uses, which plans as one ordinary pivot aggregate — no discovery
    * scan, map-side partials, |groups| × |values| output cells.
    * NULL cells (no rows for the pair) stay NULL, matching the
    * oracle's SUM(CASE…) — pivot IS conditional aggregation. */
  def q57Pivot(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DoubleType))
      .select(col("o_orderpriority"), col("F").as("total_f"),
        col("O").as("total_o"), col("P").as("total_p"))
      .orderBy(col("o_orderpriority"))

  val q57Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS total_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS total_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS total_p
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q58
  /** q58 — DATE-SPINE DENSIFICATION: the time-series gap-fill every
    * reporting/feature pipeline needs — a (hour × event_type) grid
    * generated from the data's own bounds, LEFT-joined to the hourly
    * aggregate, absent cells zero-filled (q41/q47 impute VALUES inside
    * an existing row set; this materializes the MISSING rows — at
    * sf0.01 the 10k events land in only some of the 3.6k grid cells,
    * so real zeros survive to the output).
    *
    * Spark-first shape: the spine is `explode(sequence(min, max,
    * interval 1 hour))` over a 1-row scalar-aggregate frame — fully
    * declarative, no driver-side collect of the bounds — and the grid
    * is spine × broadcast(distinct types): dimension-sized on both
    * sides (|hours| × |types|), never data-sized. The hourly
    * aggregate is the only fact-scale stage (one hash agg with
    * map-side partials); the grid LEFT-joins it on (hour, type) and
    * AQE broadcasts the grid side. Hours ship as epoch-ms BIGINT
    * (q15's parity convention), sums as decimal-cast doubles. */
  def q58DateSpine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"), col("value"))
    val bounds = e.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val spine = bounds.select(explode(
      sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val types = e.select(col("event_type")).distinct()
    val grid = spine.crossJoin(broadcast(types))
    val hourly = e.groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    grid.join(hourly, Seq("hour", "event_type"), "left")
      .select(unix_millis(col("hour")).as("hour_ms"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0d)).as("sum_value"))
      .orderBy(col("hour_ms"), col("event_type"))
  }

  val q58Sql: String =
    """WITH b AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS h0,
      |         date_trunc('hour', MAX(ts)) AS h1 FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT epoch_ms(s.hour) AS hour_ms, t.event_type,
      |  COALESCE(h.n_events, 0) AS n_events,
      |  COALESCE(h.sum_value, 0.0) AS sum_value
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
      |ORDER BY hour_ms, t.event_type""".stripMargin

  // ---------------------------------------------------------------- q59
  /** q59 — STRING/REGEX scalar surface (the codegen'd text-wrangling
    * functions q13/q14's date-and-arithmetic family doesn't touch):
    * regexp_extract, global regexp_replace, instr/strpos, levenshtein,
    * substring, reverse — folded per language into one hash aggregate.
    * Every function is evaluated map-side inside whole-stage codegen;
    * the only exchange is the |lang|-cardinality final aggregate.
    *
    * Parity notes baked into the oracle: DuckDB `regexp_replace`
    * replaces the FIRST match unless the 'g' flag is passed (Spark
    * always replaces all); `strpos` ≡ Spark `instr` (1-based, 0 when
    * absent); patterns stay in the character-class subset where Java
    * and RE2 regex semantics agree. */
  def q59StringFuncs(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("lang"), col("text"),
        regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
        length(regexp_replace(col("text"), "[^aeiou]", "")).as("n_vowels"),
        instr(col("text"), "data").as("data_pos"),
        levenshtein(substring(col("text"), 1, 8), lit("the quick"))
          .as("lev8"))
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_vowels").cast(LongType)).as("n_vowels"),
        countDistinct(col("first_word")).as("n_first_words"),
        sum(when(col("data_pos") > 0, 1L).otherwise(0L))
          .as("n_contains_data"),
        sum(col("lev8").cast(LongType)).as("sum_lev"),
        min(reverse(col("first_word"))).as("min_rev_first"))
      .orderBy(col("lang"))
  }

  val q59Sql: String =
    """WITH t AS (
      |  SELECT lang,
      |    regexp_extract(text, '^([a-z]+)', 1) AS first_word,
      |    LENGTH(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowels,
      |    strpos(text, 'data') AS data_pos,
      |    levenshtein(substr(text, 1, 8), 'the quick') AS lev8
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_vowels) AS BIGINT) AS n_vowels,
      |  CAST(COUNT(DISTINCT first_word) AS BIGINT) AS n_first_words,
      |  CAST(SUM(CASE WHEN data_pos > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contains_data,
      |  CAST(SUM(lev8) AS BIGINT) AS sum_lev,
      |  MIN(reverse(first_word)) AS min_rev_first
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q60
  /** q60 — MAP higher-order functions (the MapType twin of q53's array
    * HOFs): each document's token-frequency profile built as a REAL
    * `map<string,bigint>` column (map_from_entries over the per-doc
    * grouped counts), filtered with `map_filter` (tokens repeated ≥ 2),
    * re-scored with `transform_values` (excess occurrences v−1), and
    * exploded back to rows for the per-doc audit — repeated-token
    * count, total repeats, total excess. The map column and all three
    * lambdas evaluate inside codegen; collect_list's nondeterministic
    * entry order is irrelevant because every consumer re-aggregates.
    *
    * The oracle never builds a map — it states the same result
    * relationally (GROUP BY + HAVING), which is exactly the point: the
    * map pipeline must be a lossless re-expression, not new semantics.
    * Docs with no repeated token drop on both sides. */
  def q60MapHof(s: SparkSession, d: String): DataFrame = {
    val tcnt = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val m = tcnt.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("token"), col("cnt"))))
        .as("freq"))
      .select(col("doc_id"),
        map_filter(col("freq"), (_, v) => v >= 2).as("rep"))
    m.select(col("doc_id"),
        explode(transform_values(col("rep"), (_, v) => struct(
          v.as("occ"), (v - 1).as("excess")))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_repeated_tokens"),
        sum(col("value.occ")).as("n_repeat_occurrences"),
        sum(col("value.excess")).as("n_excess"))
      .orderBy(col("doc_id"))
  }

  val q60Sql: String =
    """WITH tc AS (
      |  SELECT doc_id, t.token, COUNT(*) AS cnt
      |  FROM documents, unnest(string_split(text, ' ')) AS t(token)
      |  WHERE LENGTH(t.token) > 0
      |  GROUP BY doc_id, t.token)
      |SELECT doc_id,
      |  COUNT(*) AS n_repeated_tokens,
      |  CAST(SUM(cnt) AS BIGINT) AS n_repeat_occurrences,
      |  CAST(SUM(cnt - 1) AS BIGINT) AS n_excess
      |FROM tc WHERE cnt >= 2
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q61
  /** q61 — CALENDAR-INTERVAL window frames: `RANGE BETWEEN INTERVAL 10
    * MINUTES PRECEDING AND CURRENT ROW` ordering by the TIMESTAMP
    * itself — the time-typed frame surface next to q37's numeric
    * epoch-ms ranges (same engine mechanics, different frontend type
    * system: the frame bound is a CalendarInterval the analyzer must
    * resolve against a timestamp order key, a path q37 never touches).
    * Run as SQL text through the SqlInterface so the WINDOW-clause
    * spelling is exercised too. Equal-ts peers all enter the frame
    * (RANGE semantics), so ties cost nothing in determinism; sums
    * stay decimal-cast. UTC session keeps interval arithmetic
    * wall-clock-identical to DuckDB's naive timestamps. */
  def q61IntervalFrames(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d,
      """SELECT user_id, event_id, ts_ms,
        |  COUNT(*) OVER w AS n_10m,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS sum_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING
        |                       AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)

  val q61Sql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |  COUNT(*) OVER w AS n_10m,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    AS sum_10m
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |             RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING
      |                       AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q62
  /** q62 — OUTER generate (`posexplode_outer`): exploding a
    * possibly-EMPTY per-row array while keeping the parent row — the
    * LEFT JOIN LATERAL UNNEST shape every flattening pipeline needs
    * (plain explode silently DROPS parents with no elements, which
    * turns "docs with zero long tokens" into missing rows instead of
    * zero rows; q44's unpivot and q53's HOFs never hit this because
    * their arrays are never empty). Per doc: long-token (> 8 chars)
    * count with zeros retained, and the position of the first one
    * (−1 when none) — position comes from the generator, so the
    * oracle's list_position mirrors it.
    *
    * Plan: one Generate (outer) + one doc-keyed hash aggregate; the
    * array is built and exploded map-side. */
  def q62GenerateOuter(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(
        """filter(transform(split(text, ' '), (x, i) -> struct(x AS t, i AS i)),
             p -> length(p.t) > 8)""").as("longs"))
      .select(col("doc_id"), posexplode_outer(col("longs")))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("col").isNotNull, 1L).otherwise(0L))
          .as("n_long_tokens"),
        coalesce(min(col("col.i")), lit(-1))
          .cast(LongType).as("first_long_pos"))
      .orderBy(col("doc_id"))

  val q62Sql: String =
    """WITH f AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ix AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(t) + 1),
      |      i -> LENGTH(t[CAST(i AS INT)]) > 8) AS idxs
      |  FROM f)
      |SELECT doc_id,
      |  CAST(len(idxs) AS BIGINT) AS n_long_tokens,
      |  CAST(CASE WHEN len(idxs) = 0 THEN -1 ELSE idxs[1] - 1 END
      |    AS BIGINT) AS first_long_pos
      |FROM ix
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q63
  /** q63 — BITMAP distinct counting: COUNT(DISTINCT user) per event
    * type through Spark's bitmap aggregate family
    * (`bitmap_bit_position` / `bitmap_construct_agg` / `bitmap_count`)
    * — the warehouse-scale route for exact distinct counts. The id
    * space shards into 32k-bit buckets (`bitmap_bucket_number`), each
    * (type, bucket) group reduces to ONE bitmap with map-side partial
    * merge (bitwise OR — tiny, fixed-size state per group), and the
    * outer aggregate sums per-bucket cardinalities. Versus the naive
    * `COUNT(DISTINCT)`, the shuffle carries |groups|·|buckets| 4 KB
    * bitmaps instead of every distinct (group, user) pair — the same
    * result, hash-exact, with bounded per-group state at any
    * cardinality. Oracle = the naive spelling: the bitmap route must
    * be a lossless re-expression. */
  def q63BitmapDistinct(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d,
      """SELECT event_type,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(cnt) AS BIGINT) AS n_users
        |FROM (
        |  SELECT event_type, bitmap_bucket_number(user_id) AS b,
        |    COUNT(*) AS n,
        |    bitmap_count(bitmap_construct_agg(
        |      bitmap_bit_position(user_id))) AS cnt
        |  FROM events GROUP BY 1, 2) t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)

  val q63Sql: String =
    """SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q64
  /** q64 — ordered string aggregation (`LISTAGG … WITHIN GROUP`, new
    * in Spark 4): the report-formatting aggregate that needs a
    * DETERMINISTIC element order — the WITHIN GROUP sort happens
    * inside the aggregate, so the result is stable under any
    * partitioning (an unordered collect_list + array_join would
    * shuffle-order-flip between runs). Names are unique per group ⇒
    * total order ⇒ both engines emit the identical string. */
  def q64Listagg(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d,
      """SELECT r.r_name,
        |  COUNT(*) AS n_nations,
        |  listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
        |    AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |ORDER BY r.r_name""".stripMargin)

  val q64Sql: String =
    """SELECT r.r_name,
      |  COUNT(*) AS n_nations,
      |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name
      |ORDER BY r.r_name""".stripMargin

  // ---------------------------------------------------------------- q65
  /** q65 — DISCRETE percentiles (`PERCENTILE_DISC … WITHIN GROUP`):
    * the inverse-distribution aggregate that returns an ACTUAL data
    * value (smallest value whose cume_dist reaches p) instead of
    * q36/ob11's interpolated midpoints — the variant a
    * compliance/report surface wants ("a real observed latency", not
    * a synthetic average of two), and hash-exact across engines
    * because the result is copied, never computed. The oracle spells
    * the DEFINITION (min value with cume_dist ≥ p) rather than
    * DuckDB's quantile_disc, whose even-count index convention is not
    * contractually the same. */
  def q65PercentileDisc(s: SparkSession, d: String): DataFrame =
    graft.SqlInterface.sql(s, d,
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)

  val q65Sql: String =
    """WITH cd AS (
      |  SELECT event_type, value,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY value)
      |      AS cd
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  MIN(CASE WHEN cd >= 0.5 THEN value END) AS p50,
      |  MIN(CASE WHEN cd >= 0.9 THEN value END) AS p90
      |FROM cd
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q66
  /** q66 — JOIN-STRATEGY HINTS: `/*+ SHUFFLE_HASH(o) */` forces the
    * orders side to build a shuffled hash table where the planner
    * would otherwise pick sort-merge (or broadcast, disabled on this
    * session copy) — the escape hatch for the cases the cost model
    * gets wrong at 100 TB (a "small" build side the stats don't see,
    * a sort the pipeline can't afford). Oracle is the UNHINTED join:
    * a strategy hint must never change the rows. Plan-pinned
    * ShuffledHashJoin in PlanSpec; conf isolation on a `newSession`
    * so the broadcast-threshold override can't leak. */
  def q66HintJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.SqlInterface.sql(s2, d,
      """SELECT /*+ SHUFFLE_HASH(o) */
        |  o.o_orderpriority,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin)
  }

  val q66Sql: String =
    """SELECT o.o_orderpriority,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q67
  /** q67 — K-ANONYMITY / L-DIVERSITY privacy audit over a 3-level
    * generalization ladder, the release gate a training-data pipeline
    * runs before shipping user-adjacent records: treating
    * (nation, account-balance band) as the quasi-identifier and market
    * segment as the sensitive attribute, report — per generalization
    * level (band=100 → band=1000 → balance suppressed) — how many
    * equivalence classes exist, how many violate k<4, how many records
    * sit in violating classes, and the worst-case k and l. The operator
    * answers "how much must we coarsen before re-identification risk
    * clears the bar".
    *
    * Scale: each level is ONE hash aggregate on the quasi-id key
    * followed by a cells-count rollup — map-side partials bound the
    * shuffle by distinct QI tuples, and only class COUNTS travel, never
    * records. The band arithmetic (floor(bal/width)) is IEEE-identical
    * across engines; all outputs are integers. */
  def q67KAnonymity(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    def level(lv: Int, qiBand: Option[Int]): DataFrame = {
      val qi: Seq[Column] = col("c_nationkey") +: qiBand.toSeq.map(w =>
        floor(col("c_acctbal") / w).cast("long").as("band"))
      cust.groupBy(qi: _*)
        .agg(count(lit(1)).as("k"),
          countDistinct(col("c_mktsegment")).as("l"))
        .agg(lit(lv).as("level"),
          count(lit(1)).as("n_classes"),
          sum(when(col("k") < 4, 1L).otherwise(0L)).as("violating"),
          sum(when(col("k") < 4, col("k")).otherwise(0L))
            .as("records_at_risk"),
          min(col("k")).as("min_k"),
          min(col("l")).as("min_l"))
    }
    level(1, Some(100)).union(level(2, Some(1000))).union(level(3, None))
      .orderBy(col("level"))
  }

  private def kAnonLevelSql(lv: Int, qi: String): String =
    s"""SELECT $lv AS level, COUNT(*) AS n_classes,
       |  CAST(SUM(CASE WHEN k < 4 THEN 1 ELSE 0 END) AS BIGINT) AS violating,
       |  CAST(SUM(CASE WHEN k < 4 THEN k ELSE 0 END) AS BIGINT)
       |    AS records_at_risk,
       |  MIN(k) AS min_k, MIN(l) AS min_l
       |FROM (
       |  SELECT COUNT(*) AS k, COUNT(DISTINCT c_mktsegment) AS l
       |  FROM customer GROUP BY $qi) t""".stripMargin

  val q67Sql: String =
    kAnonLevelSql(1,
      "c_nationkey, CAST(floor(c_acctbal / 100) AS BIGINT)") +
      "\nUNION ALL\n" +
    kAnonLevelSql(2,
      "c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)") +
      "\nUNION ALL\n" +
    kAnonLevelSql(3, "c_nationkey") +
    "\nORDER BY level"

  // ---------------------------------------------------------------- q70
  /** Groupwise 2-D skyline (Pareto front): per brand, the parts no
    * other part of the same brand dominates — dominate = cheaper-or-
    * equal AND bigger-or-equal, strict in at least one dimension. The
    * textbook formulation is the quadratic NOT-EXISTS self-join, and
    * the DuckDB oracle spells exactly that (an INDEPENDENT derivation,
    * so the gate cross-checks the algorithm, not the transcription).
    *
    * The engine plan is the sort-based linear scan instead: collapse
    * to distinct (brand, price) levels keeping the max size (anything
    * below its own level's max is dominated within the level), one
    * window pass for the running max size over STRICTLY cheaper levels
    * (ROWS ..-1 is exact because post-groupBy each row is a distinct
    * price), keep levels whose max beats every cheaper level, then a
    * broadcast join back for the part-level audit. O(n log n) with a
    * single hash exchange on brand (the explicit repartition lets both
    * the (brand,price) aggregate and the brand window reuse it —
    * ClusteredDistribution is satisfied by the subset partitioning),
    * versus the oracle's O(n²/brands): at 100 TB the self-join is
    * intractable and this shape is the standard skyline reduction. */
  def q70Skyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(
      col("p_partkey"), col("p_brand"),
      (col("p_retailprice").cast(dec) * 100)
        .cast(org.apache.spark.sql.types.LongType).as("price_c"),
      col("p_size").cast(org.apache.spark.sql.types.LongType).as("size"))
    // only the level/window side exchanges (once, on brand — the
    // subset partitioning satisfies both the (brand,price) aggregate
    // and the brand window); the probe side of the broadcast join back
    // streams straight off the scan with no shuffle at all
    val levels = p.repartition(col("p_brand"))
      .groupBy(col("p_brand"), col("price_c"))
      .agg(max(col("size")).as("size"))
    val cheaper = Window.partitionBy(col("p_brand"))
      .orderBy(col("price_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = levels
      .withColumn("cheaper_mx", max(col("size")).over(cheaper))
      .where(col("cheaper_mx").isNull || col("cheaper_mx") < col("size"))
      .select(col("p_brand"), col("price_c"), col("size"))
    p.join(broadcast(sky), Seq("p_brand", "price_c", "size"))
      .groupBy(col("p_brand"), col("price_c"), col("size"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("p_partkey")).as("min_partkey"))
      .orderBy(col("p_brand"), col("price_c"))
  }

  val q70Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS price_c,
      |    CAST(p_size AS BIGINT) AS size
      |  FROM part)
      |SELECT p_brand, price_c, size,
      |  COUNT(*) AS n_parts, MIN(p_partkey) AS min_partkey
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.p_brand = a.p_brand AND b.price_c <= a.price_c
      |    AND b.size >= a.size
      |    AND (b.price_c < a.price_c OR b.size > a.size))
      |GROUP BY p_brand, price_c, size
      |ORDER BY p_brand, price_c""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Row-pattern recognition (the MATCH_RECOGNIZE subset Spark lacks):
    * per user, maximal runs of strictly-ascending `value` (pattern
    * `UP{2,}` — the canonical rising-ticks example), reported as
    * qualifying-run count, longest run, and best run gain. Classic
    * gaps-and-islands: one lag pass marks run breaks, a running sum
    * mints run ids, runs aggregate per (user, run).
    *
    * Scale: ONE hash exchange on user_id serves everything — both
    * windows, the (user, run) aggregate (subset partitioning), and the
    * final per-user rollup; plan-pinned. Direction tests compare the
    * raw doubles (no arithmetic, engine-identical by construction);
    * the only float arithmetic is one max−min subtraction per run. */
  def q71PatternRuns(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val runs = e
      .withColumn("prev_v", lag(col("value"), 1).over(w))
      .withColumn("brk",
        when(col("prev_v").isNull || col("value") <= col("prev_v"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"))
      .agg(count(lit(1)).as("len"),
        // the run is ascending, so first = min(value), last = max(value)
        (max(col("value")) - min(col("value"))).as("gain"))
    runs.where(col("len") >= 3)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_runs"), max(col("len")).as("max_len"),
        max(col("gain")).as("best_gain"))
      .orderBy(col("user_id"))
  }

  val q71Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN lag(value) OVER w IS NULL
      |    OR value <= lag(value) OVER w THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |r AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
      |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM m),
      |runs AS (
      |  SELECT user_id, run_id, COUNT(*) AS len,
      |    MAX(value) - MIN(value) AS gain
      |  FROM r GROUP BY user_id, run_id)
      |SELECT user_id, COUNT(*) AS n_runs, MAX(len) AS max_len,
      |  MAX(gain) AS best_gain
      |FROM runs WHERE len >= 3
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Time-series decomposition of daily revenue into trend + weekly
    * seasonal + residual — the drift/seasonality audit a pipeline runs
    * over its ingest volumes before alerting on anomalies. Trend is a
    * centered 7-day moving average; seasonal is the per-weekday mean
    * deviation from trend; residual is what's left.
    *
    * Scale: the corpus-sized stage is the one day-keyed revenue
    * aggregate (map-side partials); every window and join after it
    * runs on the |days|-row derived series — bounded by the calendar,
    * not the corpus, so the single-partition ordered window is O(days)
    * at any data size. Determinism: daily revenue is an exact decimal
    * cents BIGINT; trend is one BIGINT÷count division; deviations are
    * micro-quantized to BIGINT before the per-weekday sum (a raw
    * double sum is partition-order-dependent — the txt22 lesson), so
    * the seasonal means are order-independent and engine-identical. */
  def q72SeasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(dec)) * 100)
        .cast(org.apache.spark.sql.types.LongType).as("rev_c"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val t = daily
      .withColumn("trend",
        sum(col("rev_c")).over(w7).cast(DoubleType)
          / count(lit(1)).over(w7))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast(IntegerType))
      .withColumn("dev_u",
        round((col("rev_c") - col("trend")) * 1000000L)
          .cast(org.apache.spark.sql.types.LongType))
    val seasonal = t.groupBy(col("dow"))
      .agg(sum(col("dev_u")).as("sdev"), count(lit(1)).as("n"))
      .select(col("dow"),
        (col("sdev").cast(DoubleType) / (lit(1000000.0) * col("n")))
          .as("seasonal"))
    t.join(broadcast(seasonal), Seq("dow"))
      .select(col("day"), col("rev_c"), col("trend"), col("dow"),
        col("seasonal"),
        (col("dev_u").cast(DoubleType) / 1000000.0 - col("seasonal"))
          .as("residual"))
      .orderBy(col("day"))
  }

  val q72Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS rev_c
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT day, rev_c,
      |    CAST(SUM(rev_c) OVER w AS DOUBLE) / COUNT(*) OVER w AS trend,
      |    CAST(dayofweek(day) AS INTEGER) AS dow
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |d AS (
      |  SELECT *, CAST(ROUND((rev_c - trend) * 1000000) AS BIGINT) AS dev_u
      |  FROM t),
      |s AS (
      |  SELECT dow, CAST(SUM(dev_u) AS BIGINT) AS sdev, COUNT(*) AS n
      |  FROM d GROUP BY dow)
      |SELECT d.day, d.rev_c, d.trend, d.dow,
      |  CAST(s.sdev AS DOUBLE) / (1000000.0 * s.n) AS seasonal,
      |  CAST(d.dev_u AS DOUBLE) / 1000000.0
      |    - CAST(s.sdev AS DOUBLE) / (1000000.0 * s.n) AS residual
      |FROM d JOIN s USING (dow)
      |ORDER BY d.day""".stripMargin

  // ----------------------------------------------------------- registry
  // ---------------------------------------------------------------- q73
  /** Conversion FUNNEL (view → click → purchase, each step within 24 h
    * of the prior): per user the first view, the first click after it,
    * the first purchase after that — then one corpus rollup of step
    * counts and conversion rates. The product-analytics staple that
    * MATCH_RECOGNIZE engines advertise, reduced to relational algebra.
    *
    * Scale: THREE unordered window aggregates over ONE user_id hash
    * exchange (each step's conditional min references the previous
    * step's column — no self-joins, no ordered sort, no per-user
    * arrays); the per-user reduction is a user-keyed aggregate on the
    * SAME partitioning (subset), and the final rollup is a 1-row
    * aggregate. All arithmetic on epoch-millis BIGINTs; rates in
    * integer ppm via `div` (nonnegative ⇒ floor = truncate in both
    * engines). */
  def q73Funnel(s: SparkSession, d: String): DataFrame = {
    val day = 86400000L
    val w = Window.partitionBy(col("user_id"))
    val staged = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_ms"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_ms"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts_ms") > col("t_view") &&
          col("ts_ms") <= col("t_view") + day, col("ts_ms"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts_ms") > col("t_click") &&
          col("ts_ms") <= col("t_click") + day, col("ts_ms"))).over(w))
    val perUser = staged.groupBy(col("user_id"))
      .agg(min(col("t_view")).as("t_v"), min(col("t_click")).as("t_c"),
        min(col("t_purchase")).as("t_p"))
    perUser.agg(
        count(lit(1)).as("n_users"),
        count(col("t_v")).as("n_view"),
        count(col("t_c")).as("n_click"),
        count(col("t_p")).as("n_purchase"))
      .select(col("n_users"), col("n_view"), col("n_click"),
        col("n_purchase"),
        // nullif: an empty step yields NULL, not an ANSI 0-division
        expr("n_click * 1000000 div nullif(n_view, 0)").as("click_ppm"),
        expr("n_purchase * 1000000 div nullif(n_click, 0)")
          .as("purchase_ppm"))
  }

  val q73Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |s1 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_ms END)
      |    OVER (PARTITION BY user_id) AS t_view
      |  FROM e),
      |s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_ms > t_view
      |      AND ts_ms <= t_view + 86400000 THEN ts_ms END)
      |    OVER (PARTITION BY user_id) AS t_click
      |  FROM s1),
      |s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_ms > t_click
      |      AND ts_ms <= t_click + 86400000 THEN ts_ms END)
      |    OVER (PARTITION BY user_id) AS t_purchase
      |  FROM s2),
      |u AS (
      |  SELECT user_id, MIN(t_view) AS t_v, MIN(t_click) AS t_c,
      |    MIN(t_purchase) AS t_p
      |  FROM s3 GROUP BY user_id),
      |r AS (
      |  SELECT COUNT(*) AS n_users, COUNT(t_v) AS n_view,
      |    COUNT(t_c) AS n_click, COUNT(t_p) AS n_purchase
      |  FROM u)
      |SELECT n_users, n_view, n_click, n_purchase,
      |  CAST(n_click * 1000000 // NULLIF(n_view, 0) AS BIGINT)
      |    AS click_ppm,
      |  CAST(n_purchase * 1000000 // NULLIF(n_click, 0) AS BIGINT)
      |    AS purchase_ppm
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- q74
  /** COHORT RETENTION triangle: users cohorted by first-seen week,
    * per (cohort, week-offset) distinct active users and retention ppm
    * — the growth-analytics staple next to q73's funnel.
    *
    * Scale: the corpus is scanned ONCE and pays ONE event-sized
    * exchange (the (user, week) distinct); the cohort is a window min
    * over the already-collapsed activity set (a first draft joined a
    * separate first-seen aggregate back — a second fact scan Catalyst
    * wouldn't dedupe, since the distinct-insensitive min rewrites the
    * two subtrees apart); (cohort, offset, user) rows are unique by
    * construction so the triangle is a plain count; and the cohort
    * SIZE is the triangle's own offset-0 row (every user is active in
    * their first week by definition — no size table, no join), lifted
    * by a window over the calendar-bounded triangle. Weeks are integer
    * epoch-day `div` 7 (nonnegative ⇒ floor = truncate in both
    * engines). */
  def q74CohortRetention(s: SparkSession, d: String): DataFrame = {
    val active = Tables.events(s, d)
      .select(col("user_id"),
        expr("ts_ms div 86400000 div 7").as("week"))
      .distinct()
    val tri = active
      .withColumn("cohort",
        min(col("week")).over(Window.partitionBy(col("user_id"))))
      .select(col("cohort"), (col("week") - col("cohort")).as("offset"))
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
    tri
      .withColumn("cohort_size",
        max(when(col("offset") === 0, col("n_active")))
          .over(Window.partitionBy(col("cohort"))))
      .select(col("cohort"), col("offset"), col("n_active"),
        col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
      .orderBy(col("cohort"), col("offset"))
  }

  val q74Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 // 7 AS week
      |  FROM events),
      |c AS (
      |  SELECT user_id, week,
      |    MIN(week) OVER (PARTITION BY user_id) AS cohort
      |  FROM act),
      |tri AS (
      |  SELECT cohort, week - cohort AS "offset", COUNT(*) AS n_active
      |  FROM c GROUP BY 1, 2),
      |sz AS (
      |  SELECT *, MAX(CASE WHEN "offset" = 0 THEN n_active END)
      |    OVER (PARTITION BY cohort) AS cohort_size
      |  FROM tri)
      |SELECT cohort, "offset", n_active, cohort_size,
      |  CAST(n_active * 1000000 // cohort_size AS BIGINT) AS retention_ppm
      |FROM sz
      |ORDER BY cohort, "offset"""".stripMargin

  // ---------------------------------------------------------------- q75
  /** BITEMPORAL as-of: per user, the record valid at business time T1
    * as KNOWN at transaction time T2, and the same cut as known at a
    * later T3 — plus a `revised` flag where late-arriving data changed
    * the answer between the two knowledge times. The warehouse
    * audit/reproducibility staple ("what did the dashboard say on the
    * 16th about the 15th, and did the backfill on the 23rd revise
    * it"), the two-axis generalization of q30's valid-time SCD2.
    * Transaction time is simulated deterministically (recording lag =
    * (event_id % 11) · 6 h, up to 60 h), so late facts exist between
    * the knowledge cuts by construction and both engines build
    * identical ledgers.
    *
    * Scale: ONE scan, ONE user-keyed hash aggregate — both knowledge
    * cuts are conditional lexicographic-min(struct) argmaxes folded
    * into the same pass (the assignCells trick: negate the (ts,
    * event_id) order so min = latest; each partition reduces to one
    * row per user per cut BEFORE the shuffle). No windows, no joins,
    * no second fact scan for the second cut. `revised` compares the
    * globally-unique winning event ids. The oracle spells the
    * INDEPENDENT window-ranked formulation. */
  def q75Bitemporal(s: SparkSession, d: String): DataFrame = {
    val t1 = 1705276800000L // 2024-01-15 valid-time cut
    val t2 = 1705363200000L // 2024-01-16 first knowledge cut
    val t3 = 1705968000000L // 2024-01-23 second knowledge cut
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_ms"))
      .withColumn("tx_ms",
        col("ts_ms") + col("event_id") % 11 * 21600000L)
      .where(col("ts_ms") <= t1)
    def cut(bound: Long) = min(when(col("tx_ms") <= bound,
      struct((-col("ts_ms")).as("nts"), (-col("event_id")).as("nid"),
        col("event_type").as("t"))))
    ev.groupBy(col("user_id"))
      .agg(cut(t2).as("k2"), cut(t3).as("k3"))
      .select(col("user_id"),
        col("k2.t").as("t2_type"), (-col("k2.nts")).as("t2_ts"),
        (-col("k2.nid")).as("t2_id"),
        col("k3.t").as("t3_type"), (-col("k3.nts")).as("t3_ts"),
        (-col("k3.nid")).as("t3_id"),
        when(coalesce((-col("k2.nid")), lit(-1L)) =!=
          coalesce((-col("k3.nid")), lit(-1L)), 1).otherwise(0)
          .cast(IntegerType).as("revised"))
      .orderBy(col("user_id"))
  }

  val q75Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
      |    CAST(epoch_ms(ts) + event_id % 11 * 21600000 AS BIGINT) AS tx_ms
      |  FROM events WHERE epoch_ms(ts) <= 1705276800000),
      |k2 AS (
      |  SELECT user_id, event_type AS t2_type, ts_ms AS t2_ts,
      |    event_id AS t2_id
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_ms DESC, event_id DESC) AS rn
      |    FROM ev WHERE tx_ms <= 1705363200000) t WHERE rn = 1),
      |k3 AS (
      |  SELECT user_id, event_type AS t3_type, ts_ms AS t3_ts,
      |    event_id AS t3_id
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_ms DESC, event_id DESC) AS rn
      |    FROM ev WHERE tx_ms <= 1705968000000) t WHERE rn = 1),
      |u AS (SELECT DISTINCT user_id FROM ev)
      |SELECT u.user_id, t2_type, t2_ts, t2_id, t3_type, t3_ts, t3_id,
      |  CAST(CASE WHEN COALESCE(t2_id, -1) <> COALESCE(t3_id, -1)
      |    THEN 1 ELSE 0 END AS INTEGER) AS revised
      |FROM u LEFT JOIN k2 USING (user_id) LEFT JOIN k3 USING (user_id)
      |ORDER BY u.user_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q32_waiting_supplier" -> (q32WaitingSupplier _),
    "q33_top_supplier" -> (q33TopSupplier _),
    "q34_grouping_sets" -> (q34GroupingSets _),
    "q35_ntile_quartiles" -> (q35NtileQuartiles _),
    "q36_percentiles" -> (q36Percentiles _),
    "q37_range_frames" -> (q37RangeFrames _),
    "q38_part_supplier_counts" -> (q38PartSupplierCounts _),
    "q39_excess_share" -> (q39ExcessShare _),
    "q40_hierarchy_walk" -> (q40HierarchyWalk _),
    "q41_gap_fill" -> (q41GapFill _),
    "q42_json_extract" -> (q42JsonExtract _),
    "q43_set_ops_all" -> (q43SetOpsAll _),
    "q44_unpivot" -> (q44Unpivot _),
    "q45_nullsafe_join" -> (q45NullSafeJoin _),
    "q46_profile" -> (q46Profile _),
    "q47_interpolate" -> (q47Interpolate _),
    "q48_mad_outliers" -> (q48MadOutliers _),
    "q49_schema_evolution" -> (q49SchemaEvolution _),
    "q50_histogram" -> (q50Histogram _),
    "q51_notin_null" -> (q51NotInNull _),
    "q52_lateral" -> (q52Lateral _),
    "q53_array_hof" -> (q53ArrayHof _),
    "q54_markov_chain" -> (q54MarkovChain _),
    "q55_variant_shred" -> (q55VariantShred _),
    "q56_top_per_group" -> (q56TopPerGroup _),
    "q57_pivot" -> (q57Pivot _),
    "q58_date_spine" -> (q58DateSpine _),
    "q59_string_funcs" -> (q59StringFuncs _),
    "q60_map_hof" -> (q60MapHof _),
    "q61_interval_frames" -> (q61IntervalFrames _),
    "q62_generate_outer" -> (q62GenerateOuter _),
    "q63_bitmap_distinct" -> (q63BitmapDistinct _),
    "q64_listagg" -> (q64Listagg _),
    "q65_percentile_disc" -> (q65PercentileDisc _),
    "q66_hint_join" -> (q66HintJoin _),
    "q67_k_anonymity" -> (q67KAnonymity _),
    "q70_skyline" -> (q70Skyline _),
    "q71_pattern_runs" -> (q71PatternRuns _),
    "q72_seasonal_decompose" -> (q72SeasonalDecompose _),
    "q73_funnel" -> (q73Funnel _),
    "q74_cohort_retention" -> (q74CohortRetention _),
    "q75_bitemporal" -> (q75Bitemporal _))

  val oracles: Seq[(String, String)] = Seq(
    "q32_waiting_supplier" -> q32Sql,
    "q33_top_supplier" -> q33Sql,
    "q34_grouping_sets" -> q34Sql,
    "q35_ntile_quartiles" -> q35Sql,
    "q36_percentiles" -> q36Sql,
    "q37_range_frames" -> q37Sql,
    "q38_part_supplier_counts" -> q38Sql,
    "q39_excess_share" -> q39Sql,
    "q40_hierarchy_walk" -> q40Sql,
    "q41_gap_fill" -> q41Sql,
    "q42_json_extract" -> q42Sql,
    "q43_set_ops_all" -> q43Sql,
    "q44_unpivot" -> q44Sql,
    "q45_nullsafe_join" -> q45Sql,
    "q46_profile" -> q46Sql,
    "q47_interpolate" -> q47Sql,
    "q48_mad_outliers" -> q48Sql,
    "q49_schema_evolution" -> q49Sql,
    "q50_histogram" -> q50Sql,
    "q51_notin_null" -> q51Sql,
    "q52_lateral" -> q52Sql,
    "q53_array_hof" -> q53Sql,
    "q54_markov_chain" -> q54Sql,
    "q55_variant_shred" -> q55Sql,
    "q56_top_per_group" -> q56Sql,
    "q57_pivot" -> q57Sql,
    "q58_date_spine" -> q58Sql,
    "q59_string_funcs" -> q59Sql,
    "q60_map_hof" -> q60Sql,
    "q61_interval_frames" -> q61Sql,
    "q62_generate_outer" -> q62Sql,
    "q63_bitmap_distinct" -> q63Sql,
    "q64_listagg" -> q64Sql,
    "q65_percentile_disc" -> q65Sql,
    "q66_hint_join" -> q66Sql,
    "q67_k_anonymity" -> q67Sql,
    "q70_skyline" -> q70Sql,
    "q71_pattern_runs" -> q71Sql,
    "q72_seasonal_decompose" -> q72Sql,
    "q73_funnel" -> q73Sql,
    "q74_cohort_retention" -> q74Sql,
    "q75_bitemporal" -> q75Sql)
}
