package graft.orderbook

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.Op

/** The analytic query surface of the reference's order-book tables
  * (SURVEY.md §2B, B1–B9) plus the A-operator batch twins (A3 seq
  * validation, A10 explode, A11 flatten, A15 dedup), over the derived
  * facts in [[Derive]].
  *
  * Scale notes (100 TB): every aggregation here is a single hash-shuffle
  * on its natural key; "latest snapshot per ticker" is max+semi-join
  * rather than a global sort; windows partition by (ticker[, side,
  * price]) which is bounded cardinality (SURVEY.md §7.4-4), so no
  * partition ever holds more than one ticker's history.
  */
object Analytics {

  /** Book-reconstruction as-of instant: 2024-01-15T00:00:00Z (mid-range of
    * the events table's 2024-01-01..01-30 span at every SF). */
  val AsOfMs = 1705276800000L

  /** ms-epoch → 'yyyy-MM-dd' day bucket (UTC session), with its single
    * DuckDB spelling — shared by every day-grained rollup so the two
    * engines can never disagree on the bucket boundary in one query
    * but not another. */
  private def dayCol: Column =
    date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd")
  private val daySqlD = "strftime(epoch_ms(ts_ms), '%Y-%m-%d')"

  // ------------------------------------------------------------- A10/A12
  /** Exploded snapshot fact table — the reference's core transform
    * (consumer.py:51-96): ladder arrays → one row per (side, level). */
  def snapshotExplode(s: SparkSession, d: String): DataFrame =
    Derive.snapshots(s, d)
      .orderBy(col("event_id"), col("side"), col("price"))

  val snapshotExplodeSql: String = Derive.cte +
    """SELECT ts_ms, ticker, side, price, contracts, event_id
      |FROM ob_snapshots
      |ORDER BY event_id, side, price""".stripMargin

  // ------------------------------------------------------------- A11/A12
  /** Flattened delta fact table (consumer.py:131-162 rename/cast). */
  def deltaFlatten(s: SparkSession, d: String): DataFrame =
    Derive.deltas(s, d)
      .select(col("ts_ms").as("timestamp"), col("ticker"), col("side"),
        col("price"), col("delta"), col("seq"))
      .orderBy(col("ticker"), col("seq"))

  val deltaFlattenSql: String = Derive.cte +
    """SELECT ts_ms AS timestamp, ticker, side, price, delta, seq
      |FROM ob_deltas
      |ORDER BY ticker, seq""".stripMargin

  // ------------------------------------------------------------------ B1
  /** Book as-of time T: latest snapshot ≤ T per ticker, plus the sum of
    * deltas after that snapshot (snapshot-reset semantics — a snapshot
    * supersedes all prior deltas, SURVEY.md §7.4-3). */
  def bookAsOf(s: SparkSession, d: String): DataFrame = {
    val snaps = Derive.snapshots(s, d).where(col("ts_ms") <= AsOfMs)
    val anchor = snaps.groupBy(col("ticker").as("a_ticker"))
      .agg(max(col("event_id")).as("snap_eid"))
    val levels = snaps.join(broadcast(anchor),
        col("ticker") === col("a_ticker") && col("event_id") === col("snap_eid"))
      .select(col("ticker"), col("side"), col("price"), col("contracts"))
    val dsums = Derive.deltas(s, d).where(col("ts_ms") <= AsOfMs)
      .join(broadcast(anchor), col("ticker") === col("a_ticker") &&
        col("event_id") > col("snap_eid"))
      .groupBy(col("ticker").as("d_ticker"), col("side").as("d_side"),
        col("price").as("d_price"))
      .agg(sum(col("delta")).as("dsum"))
    levels.join(dsums,
        col("ticker") === col("d_ticker") && col("side") === col("d_side") &&
        col("price") === col("d_price"), "full_outer")
      .select(
        coalesce(col("ticker"), col("d_ticker")).as("ticker"),
        coalesce(col("side"), col("d_side")).as("side"),
        coalesce(col("price"), col("d_price")).as("price"),
        (coalesce(col("contracts"), lit(0)).cast(LongType) +
         coalesce(col("dsum"), lit(0L))).as("contracts_now"))
      .orderBy(col("ticker"), col("side"), col("price"))
  }

  val bookAsOfSql: String = Derive.cte +
    s""",
       |snap_anchor AS (
       |  SELECT ticker, MAX(event_id) AS snap_eid
       |  FROM ob_snapshots WHERE ts_ms <= $AsOfMs GROUP BY ticker),
       |snap_levels AS (
       |  SELECT s.ticker, s.side, s.price, s.contracts
       |  FROM ob_snapshots s JOIN snap_anchor a
       |    ON s.ticker = a.ticker AND s.event_id = a.snap_eid),
       |delta_sums AS (
       |  SELECT d.ticker, d.side, d.price, SUM(d.delta) AS dsum
       |  FROM ob_deltas d JOIN snap_anchor a ON d.ticker = a.ticker
       |  WHERE d.ts_ms <= $AsOfMs AND d.event_id > a.snap_eid
       |  GROUP BY d.ticker, d.side, d.price)
       |SELECT COALESCE(s.ticker, d.ticker) AS ticker,
       |       COALESCE(s.side, d.side) AS side,
       |       COALESCE(s.price, d.price) AS price,
       |       CAST(COALESCE(s.contracts, 0) + COALESCE(d.dsum, 0) AS BIGINT) AS contracts_now
       |FROM snap_levels s FULL OUTER JOIN delta_sums d
       |  ON s.ticker = d.ticker AND s.side = d.side AND s.price = d.price
       |ORDER BY ticker, side, price""".stripMargin

  // ------------------------------------------------------------------ B2
  /** Event-sourced running book: cumulative depth per (ticker, side,
    * price) in seq order (a modulo sample of tickers — T1/T8/T15 — bounds
    * verify output while still exercising multi-ticker parallelism; the
    * window partitions by the full key so the plan is SF-independent). */
  def bookRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("ticker"), col("side"), col("price"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Derive.deltas(s, d)
      .where(substring(col("ticker"), 2, 3).cast(IntegerType) % 7 === 1)
      .select(col("ticker"), col("side"), col("price"), col("event_id"),
        sum(col("delta")).over(w).cast(LongType).as("depth_running"))
      .orderBy(col("ticker"), col("side"), col("price"), col("event_id"))
  }

  val bookRunningSql: String = Derive.cte +
    """SELECT ticker, side, price, event_id,
      |  CAST(SUM(delta) OVER (PARTITION BY ticker, side, price ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth_running
      |FROM ob_deltas WHERE CAST(SUBSTRING(ticker, 2) AS INTEGER) % 7 = 1
      |ORDER BY ticker, side, price, event_id""".stripMargin

  /** Latest snapshot levels per ticker (shared by B3/B4/B5). */
  private def latestLevels(s: SparkSession, d: String): DataFrame = {
    val snaps = Derive.snapshots(s, d)
    val latest = snaps.groupBy(col("ticker").as("l_ticker"))
      .agg(max(col("event_id")).as("l_eid"))
    snaps.join(broadcast(latest),
      col("ticker") === col("l_ticker") && col("event_id") === col("l_eid"))
      .select(col("ticker"), col("side"), col("price"), col("contracts"))
  }

  private val latestLevelsCte: String =
    """,
      |latest AS (
      |  SELECT ticker AS l_ticker, MAX(event_id) AS l_eid
      |  FROM ob_snapshots GROUP BY ticker),
      |lvl AS (
      |  SELECT s.ticker, s.side, s.price, s.contracts
      |  FROM ob_snapshots s JOIN latest l
      |    ON s.ticker = l.l_ticker AND s.event_id = l.l_eid)
      |""".stripMargin

  // ------------------------------------------------------------------ B3
  /** Top-of-book per (ticker, side) on the latest snapshot. */
  def bestBid(s: SparkSession, d: String): DataFrame =
    latestLevels(s, d)
      .groupBy(col("ticker"), col("side"))
      .agg(max(col("price")).as("best_price"),
        expr("max_by(contracts, price)").as("contracts_at_best"))
      .orderBy(col("ticker"), col("side"))

  val bestBidSql: String = Derive.cte + latestLevelsCte +
    """SELECT ticker, side, MAX(price) AS best_price,
      |  CAST(arg_max(contracts, price) AS INTEGER) AS contracts_at_best
      |FROM lvl GROUP BY ticker, side
      |ORDER BY ticker, side""".stripMargin

  // ------------------------------------------------------------------ B4
  /** Spread and mid from yes/no duality (yes ≙ 1 − no on Kalshi): integer
    * cents throughout, mid reported ×2 to stay integral. */
  def spreadMid(s: SparkSession, d: String): DataFrame =
    latestLevels(s, d)
      .groupBy(col("ticker"))
      .agg(
        max(when(col("side") === "yes", col("price"))).as("yes_best"),
        max(when(col("side") === "no", col("price"))).as("no_best"))
      .withColumn("spread_cents", lit(100) - col("yes_best") - col("no_best"))
      .withColumn("mid_x2", col("yes_best") + lit(100) - col("no_best"))
      .orderBy(col("ticker"))

  val spreadMidSql: String = Derive.cte + latestLevelsCte +
    """SELECT ticker,
      |  MAX(CASE WHEN side = 'yes' THEN price END) AS yes_best,
      |  MAX(CASE WHEN side = 'no' THEN price END) AS no_best,
      |  100 - MAX(CASE WHEN side = 'yes' THEN price END)
      |      - MAX(CASE WHEN side = 'no' THEN price END) AS spread_cents,
      |  MAX(CASE WHEN side = 'yes' THEN price END) + 100
      |      - MAX(CASE WHEN side = 'no' THEN price END) AS mid_x2
      |FROM lvl GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  // ------------------------------------------------------------------ B5
  /** Liquidity: total depth and top-2-level depth per (ticker, side). */
  def depth(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("ticker"), col("side"))
      .orderBy(col("price").desc)
    latestLevels(s, d)
      .withColumn("price_rank", row_number().over(w))
      .groupBy(col("ticker"), col("side"))
      .agg(
        sum(col("contracts")).as("total_contracts"),
        sum(when(col("price_rank") <= 2, col("contracts")).otherwise(0))
          .as("top2_contracts"))
      .orderBy(col("ticker"), col("side"))
  }

  val depthSql: String = Derive.cte + latestLevelsCte +
    """SELECT ticker, side,
      |  CAST(SUM(contracts) AS BIGINT) AS total_contracts,
      |  CAST(SUM(CASE WHEN price_rank <= 2 THEN contracts ELSE 0 END) AS BIGINT) AS top2_contracts
      |FROM (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY ticker, side ORDER BY price DESC) AS price_rank
      |      FROM lvl) t
      |GROUP BY ticker, side
      |ORDER BY ticker, side""".stripMargin

  // ------------------------------------------------------------------ B6
  /** Daily OHLC of the delta price stream per ticker. */
  def ohlcDaily(s: SparkSession, d: String): DataFrame =
    Derive.deltas(s, d)
      .groupBy(col("ticker"),
        dayCol.as("day"))
      .agg(
        expr("min_by(price, event_id)").as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        expr("max_by(price, event_id)").as("close"),
        count(lit(1)).as("n_msgs"))
      .orderBy(col("ticker"), col("day"))

  val ohlcDailySql: String = Derive.cte +
    s"""SELECT ticker,
      |  $daySqlD AS day,
      |  CAST(arg_min(price, event_id) AS INTEGER) AS open,
      |  MAX(price) AS high,
      |  MIN(price) AS low,
      |  CAST(arg_max(price, event_id) AS INTEGER) AS close,
      |  COUNT(*) AS n_msgs
      |FROM ob_deltas
      |GROUP BY 1, 2
      |ORDER BY ticker, day""".stripMargin

  /** Bucket sizing for the two-level window scans (ob09/ob14/ob18). A
    * plain `Window.partitionBy(ticker)` over full history is the classic
    * low-cardinality skew killer: with ≤1,000 tickers every ticker's
    * entire history sorts in ONE task no matter how many executors
    * exist. Instead the heavy rows only ever sort within
    * (ticker, bucket) — cardinality grows with the data — and the
    * cross-bucket carry travels through a per-bucket summary ~B× smaller
    * than the input, whose own prefix scan is a per-ticker window over
    * #buckets ROWS, not #events.
    *
    * The bucket width is chosen from the TARGET ROWS PER (key, bucket)
    * (`spark.graft.scanBucketRows`), corrected for the DENSITY of the
    * bucketed ordinal: `seq` is per-ticker dense (every ticker sees
    * every value), so width = target; `event_id` is globally dense and
    * shared by [[Derive.TickerFanout]] tickers, so width = target ×
    * fanout — the correction the fixed 256 width lacked (13-row buckets
    * on the event_id scans, a 4× local regression from per-bucket
    * overhead). The result set is width-INVARIANT (pinned by
    * BucketWidthSpec); only the summary-to-data ratio moves. The
    * 256-row default keeps several buckets per key at sf0.01 so the
    * correctness gate always exercises the carry handoff; Bench derives
    * a √density-scaled target at startup so the summary stays ~√n-sized
    * at any scale factor. */
  val DefaultScanBucketRows = 256L
  private def scanTargetRows(s: SparkSession): Long =
    s.conf.get("spark.graft.scanBucketRows",
      DefaultScanBucketRows.toString).toLong
  /** Width for bucketing a PER-KEY-dense ordinal (seq). */
  private[graft] def seqScanWidth(s: SparkSession): Long = scanTargetRows(s)
  /** Width for bucketing a GLOBALLY-dense ordinal (event_id) whose id
    * space is shared by ~[[Derive.TickerFanout]] keys. */
  private[graft] def eventScanWidth(s: SparkSession): Long =
    scanTargetRows(s) * Derive.TickerFanout

  // ------------------------------------------------------------------ A3
  /** Sequence-gap detection (batch twin of the fail-stop validator,
    * kalshi_ws_client.py:129-146): flag every message whose seq is not
    * predecessor+1 within its ticker.
    *
    * Two-level scan (see [[DefaultScanBucketRows]]): lag within
    * (ticker, seq div B), with each bucket's first row checked against
    * the previous populated bucket's max seq (seq is monotone, so the
    * running max over preceding buckets IS the predecessor). The
    * summary join keys match the local window's partitioning, so the
    * big side shuffles exactly once. */
  def seqGaps(s: SparkSession, d: String): DataFrame = {
    val rows = Derive.deltasWithGaps(s, d)
      .select(col("ticker"), col("seq"))
      .withColumn("bucket", expr(s"seq div ${seqScanWidth(s)}"))
    val wPrefix = Window.partitionBy(col("ticker")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = rows.groupBy(col("ticker"), col("bucket"))
      .agg(max(col("seq")).as("bucket_last_seq"))
      .withColumn("carry_seq", max(col("bucket_last_seq")).over(wPrefix))
      .select(col("ticker"), col("bucket"), col("carry_seq"))
    val wLocal = Window.partitionBy(col("ticker"), col("bucket"))
      .orderBy(col("seq"))
    rows
      .withColumn("prev_in_bucket", lag(col("seq"), 1).over(wLocal))
      .join(carry, Seq("ticker", "bucket"))
      .withColumn("prev_seq",
        coalesce(col("prev_in_bucket"), col("carry_seq")))
      .where(col("prev_seq").isNotNull && col("seq") =!= col("prev_seq") + 1)
      .select(col("ticker"), col("seq"), col("prev_seq"))
      .orderBy(col("ticker"), col("seq"))
  }

  val seqGapsSql: String = Derive.cte +
    """SELECT ticker, seq, prev_seq FROM (
      |  SELECT ticker, seq,
      |    LAG(seq) OVER (PARTITION BY ticker ORDER BY seq) AS prev_seq
      |  FROM ob_deltas_gappy) t
      |WHERE prev_seq IS NOT NULL AND seq <> prev_seq + 1
      |ORDER BY ticker, seq""".stripMargin

  // ------------------------------------------------------------------ B7
  /** Message-rate / continuity monitoring per ticker over the gappy
    * stream: counts plus implied missing-message count. */
  def msgRate(s: SparkSession, d: String): DataFrame =
    Derive.deltasWithGaps(s, d)
      .groupBy(col("ticker"))
      .agg(
        count(lit(1)).as("n_msgs"),
        (max(col("seq")) - min(col("seq")) + 1 - count(lit(1))).as("n_missing"),
        countDistinct(col("side")).as("n_sides"))
      .orderBy(col("ticker"))

  val msgRateSql: String = Derive.cte +
    """SELECT ticker, COUNT(*) AS n_msgs,
      |  MAX(seq) - MIN(seq) + 1 - COUNT(*) AS n_missing,
      |  COUNT(DISTINCT side) AS n_sides
      |FROM ob_deltas_gappy
      |GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  // ------------------------------------------------------------------ B8
  /** Ingest-latency distribution (exact percentiles; latency is the
    * deterministic event_id-derived skew so both engines see identical
    * integer samples).
    *
    * BOUNDED-BUFFER INVARIANT: exact `percentile` buffers every DISTINCT
    * value per group (with counts), so its per-group state is
    * O(distinct latencies), NOT O(rows) — safe here ONLY because latency
    * = event_id % 7 has a 7-value domain (LatencyBoundSpec pins this).
    * Real ingest latencies are unbounded-cardinality: at 100 TB the
    * registered spelling must become `approx_percentile` (t-digest,
    * O(1) state, ±ε rank error) or bucket the latency first. Do not
    * widen the domain of this column without switching the aggregate. */
  def latency(s: SparkSession, d: String): DataFrame =
    Derive.deltas(s, d)
      .select(col("ticker"), (col("event_id") % 7).cast(IntegerType).as("latency"))
      .groupBy(col("ticker"))
      .agg(
        expr("percentile(latency, 0.5)").as("p50"),
        expr("percentile(latency, 0.95)").as("p95"),
        max(col("latency")).as("max_latency"))
      .orderBy(col("ticker"))

  val latencySql: String = Derive.cte +
    """SELECT ticker,
      |  quantile_cont(latency, 0.5) AS p50,
      |  quantile_cont(latency, 0.95) AS p95,
      |  MAX(latency) AS max_latency
      |FROM (SELECT ticker, CAST(event_id % 7 AS INTEGER) AS latency FROM ob_deltas) t
      |GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- A15
  /** Replay dedup: full-row dropDuplicates over the at-least-once stream
    * restores exact per-ticker counts. */
  def dedupReplay(s: SparkSession, d: String): DataFrame =
    Derive.deltasWithDups(s, d)
      .dropDuplicates()
      .groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_msgs"))
      .orderBy(col("ticker"))

  val dedupReplaySql: String = Derive.cte +
    """SELECT ticker, COUNT(*) AS n_msgs
      |FROM (SELECT DISTINCT * FROM ob_deltas_dup) t
      |GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  // ------------------------------------------------------------------ B9
  /** Duplicate audit: with-dups vs distinct counts per ticker. */
  def dupAudit(s: SparkSession, d: String): DataFrame =
    Derive.deltasWithDups(s, d)
      .groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_with_dups"),
        countDistinct(col("event_id")).as("n_distinct"))
      .orderBy(col("ticker"))

  val dupAuditSql: String = Derive.cte +
    """SELECT ticker, COUNT(*) AS n_with_dups,
      |  COUNT(DISTINCT event_id) AS n_distinct
      |FROM ob_deltas_dup
      |GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- B10
  /** As-of join — the canonical time-series operator Spark has no
    * built-in for: for every snapshot anchor, the last delta (per
    * ticker) at or before it. Implemented as union + ordered window
    * with `last(ignoreNulls)` instead of a per-row range join (a range
    * join would re-scan the delta side per anchor), decomposed as a
    * two-level scan (see [[DefaultScanBucketRows]]) so no task ever sorts a
    * whole ticker's history: the ordered `last` runs within
    * (ticker, event_id div B), and anchors whose bucket holds no
    * earlier quote fall back to a carry — the last quote of the
    * nearest preceding populated bucket, prefix-scanned over the tiny
    * per-bucket summary (one row per populated bucket). The as-of key
    * is `event_id` (globally unique, per-ticker ordered) so ties are
    * impossible and both engines pick the same row; at equal event_id
    * the quote sorts before the anchor → "at or before". */
  def asofPrice(s: SparkSession, d: String): DataFrame =
    asofCore(s, d, strict = false)
      .select(col("ticker"), col("event_id"), col("last_price"),
        col("last_seq"))
      .orderBy(col("ticker"), col("event_id"))

  /** ob29 — ob14's as-of enrichment through the NATIVE operator
    * ([[graft.plans.AsOfJoinExec]]: custom LogicalPlan + SparkStrategy
    * + partitioned merge SparkPlan, injected via SparkSessionExtensions)
    * instead of the composed bucket/window route. Same anchors, same
    * quotes, same output columns, SAME ORACLE as ob14 — two
    * implementations, one DuckDB ASOF truth; the oracle gate proves the
    * custom exec's semantics, the bench compares the two routes' cost. */
  def asofNative(s: SparkSession, d: String): DataFrame = {
    val anchors = Derive.snapshots(s, d)
      .select(col("ticker"), col("event_id")).distinct()
    val quotes = Derive.deltas(s, d)
      .select(col("ticker").as("q_ticker"),
        col("event_id").as("q_event_id"),
        col("price").as("last_price"), col("seq").as("last_seq"))
    graft.plans.AsOf.join(anchors, quotes,
        "ticker", "q_ticker", "event_id", "q_event_id")
      .select(col("ticker"), col("event_id"), col("last_price"),
        col("last_seq"))
      .orderBy(col("ticker"), col("event_id"))
  }

  /** Shared two-level as-of machinery for ob14/ob19. `strict = false`
    * matches the quote AT or before the anchor (a same-event quote
    * counts — ob14's ASOF `<=` semantics); `strict = true` matches the
    * quote STRICTLY before (the anchor sorts ahead of an equal-id quote
    * in the local window, so that quote never enters the anchor's
    * frame — needed when the anchor population is a subset of the quote
    * stream and "latest at-or-before" would trivially be the anchor's
    * own event). Also exposes the matched quote's event_id (`last_eid`)
    * so callers can reason about staleness. */
  private def asofCore(s: SparkSession, d: String, strict: Boolean)
      : DataFrame = {
    val anchors = Derive.snapshots(s, d)
      .select(col("ticker"), col("event_id")).distinct()
      .withColumn("is_anchor", lit(1))
    val quotes = Derive.deltas(s, d)
      .select(col("ticker"), col("event_id"),
        col("price").as("q_price"), col("seq").as("q_seq"))
      .withColumn("is_anchor", lit(0))
    val rows = anchors.unionByName(quotes, allowMissingColumns = true)
      .withColumn("bucket", expr(s"event_id div ${eventScanWidth(s)}"))
    // last quote per populated (ticker, bucket) — max_by is safe on the
    // globally-unique event_id (buckets partition event_id ranges, so
    // carries from earlier buckets are strictly earlier either way)
    val summary = quotes
      .withColumn("bucket", expr(s"event_id div ${eventScanWidth(s)}"))
      .groupBy(col("ticker"), col("bucket"))
      .agg(expr("max_by(q_price, event_id)").as("b_price"),
        expr("max_by(q_seq, event_id)").as("b_seq"),
        max(col("event_id")).as("b_eid"))
    // every populated cell (quote- OR anchor-bearing) joins the
    // summary, so the prefix scan carries across quote-empty buckets
    val wPrefix = Window.partitionBy(col("ticker")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = rows.select(col("ticker"), col("bucket")).distinct()
      .join(summary, Seq("ticker", "bucket"), "left")
      .withColumn("carry_price",
        last(col("b_price"), ignoreNulls = true).over(wPrefix))
      .withColumn("carry_seq",
        last(col("b_seq"), ignoreNulls = true).over(wPrefix))
      .withColumn("carry_eid",
        last(col("b_eid"), ignoreNulls = true).over(wPrefix))
      .select(col("ticker"), col("bucket"), col("carry_price"),
        col("carry_seq"), col("carry_eid"))
    // at equal event_id: quote-first includes it in the anchor's frame
    // (at-or-before), anchor-first excludes it (strictly-before)
    val tie = if (strict) col("is_anchor").desc else col("is_anchor").asc
    val wLocal = Window.partitionBy(col("ticker"), col("bucket"))
      .orderBy(col("event_id"), tie)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qEid = when(col("is_anchor") === 0, col("event_id"))
    rows
      .withColumn("local_price", last(col("q_price"), ignoreNulls = true).over(wLocal))
      .withColumn("local_seq", last(col("q_seq"), ignoreNulls = true).over(wLocal))
      .withColumn("local_eid", last(qEid, ignoreNulls = true).over(wLocal))
      .join(carry, Seq("ticker", "bucket"))
      .where(col("is_anchor") === 1)
      .select(col("ticker"), col("event_id"),
        coalesce(col("local_price"), col("carry_price")).as("last_price"),
        coalesce(col("local_seq"), col("carry_seq")).as("last_seq"),
        coalesce(col("local_eid"), col("carry_eid")).as("last_eid"))
  }

  /** ob19 — tolerance-bounded as-of: the strictly-previous quote is
    * accepted only when it is FRESH (anchor − quote ≤ tolerance in the
    * as-of dimension); stale or missing matches surface as -1 with the
    * observed staleness, the bounded-staleness join every live
    * consumer of an order feed actually wants (a reconstruction that
    * silently uses an hour-old quote is worse than one that says "no
    * fresh quote"). Same two-level scan as ob14 — the tolerance is a
    * projection on top, not a different join. */
  val AsofToleranceEvents = 30L

  def asofTolerance(s: SparkSession, d: String): DataFrame =
    asofCore(s, d, strict = true)
      .withColumn("staleness",
        coalesce(col("event_id") - col("last_eid"), lit(-1L)))
      .select(col("ticker"), col("event_id"),
        when(col("last_eid").isNotNull &&
          col("event_id") - col("last_eid") <= AsofToleranceEvents,
          col("last_price")).otherwise(lit(-1)).as("fresh_price"),
        col("staleness"))
      .orderBy(col("ticker"), col("event_id"))

  /** ob30 — ob19's tolerance-bounded as-of through the NATIVE operator
    * in STRICT mode (`rightTs < leftTs` — a same-event quote must not
    * count as prevailing), tolerance and staleness as a projection on
    * the operator output exactly as ob19 layers them on the composed
    * core. SAME oracle as ob19 — the custom exec's second semantics
    * mode under the gate. */
  def asofNativeStrict(s: SparkSession, d: String): DataFrame = {
    val anchors = Derive.snapshots(s, d)
      .select(col("ticker"), col("event_id")).distinct()
    val quotes = Derive.deltas(s, d)
      .select(col("ticker").as("q_ticker"),
        col("event_id").as("q_event_id"), col("price").as("q_price"))
    graft.plans.AsOf.join(anchors, quotes,
        "ticker", "q_ticker", "event_id", "q_event_id", strict = true)
      .select(col("ticker"), col("event_id"),
        when(col("q_event_id").isNotNull &&
          col("event_id") - col("q_event_id") <= AsofToleranceEvents,
          col("q_price")).otherwise(lit(-1)).as("fresh_price"),
        coalesce(col("event_id") - col("q_event_id"), lit(-1L))
          .as("staleness"))
      .orderBy(col("ticker"), col("event_id"))
  }

  /** ob34 — COMPOSITE-KEY native as-of: the (ticker, side) book query
    * the single-key operator can't express without concat hacks — for
    * every snapshot LEVEL anchor (distinct (ticker, side, event_id)),
    * the latest delta ON THE SAME SIDE at or before it. A yes-side
    * anchor must never be enriched with a no-side print: the two sides
    * are independent books (A10's side-tag explode exists precisely to
    * keep them apart). Same one-exchange-one-sort-per-side merge as
    * ob29, now clustering and comparing on a two-column key row;
    * oracle is DuckDB ASOF with an additional equality condition. */
  def asofComposite(s: SparkSession, d: String): DataFrame = {
    val anchors = Derive.snapshots(s, d)
      .select(col("ticker"), col("side"), col("event_id")).distinct()
    val quotes = Derive.deltas(s, d)
      .select(col("ticker").as("q_ticker"), col("side").as("q_side"),
        col("event_id").as("q_event_id"),
        col("price").as("last_price"), col("seq").as("last_seq"))
    graft.plans.AsOf.join(anchors, quotes,
        Seq("ticker", "side"), Seq("q_ticker", "q_side"),
        "event_id", "q_event_id")
      .select(col("ticker"), col("side"), col("event_id"),
        col("last_price"), col("last_seq"))
      .orderBy(col("ticker"), col("side"), col("event_id"))
  }

  val asofCompositeSql: String = Derive.cte +
    """SELECT s.ticker, s.side, s.event_id,
      |  d.price AS last_price, d.seq AS last_seq
      |FROM (SELECT DISTINCT ticker, side, event_id FROM ob_snapshots) s
      |ASOF LEFT JOIN ob_deltas d
      |  ON s.ticker = d.ticker AND s.side = d.side
      |  AND d.event_id <= s.event_id
      |ORDER BY s.ticker, s.side, s.event_id""".stripMargin

  /** ob36 — ob14's as-of enrichment through PURE SQL TEXT: the
    * `graft_asof` table function ([[graft.plans.AsOfSql]] — TVF
    * builder + resolution rule, injected via SparkSessionExtensions)
    * over temp views, `ORDER BY` and projection in the same SQL
    * string. SAME oracle as ob14/ob29 — the operator's FOURTH gated
    * implementation under one DuckDB ASOF truth (composed, native
    * API, native strict, native SQL): a SQL-resident user of the
    * reference's stack can reach the custom operator without a line
    * of Scala. */
  def asofSqlTvf(s: SparkSession, d: String): DataFrame = {
    Derive.snapshots(s, d)
      .select(col("ticker"), col("event_id")).distinct()
      .createOrReplaceTempView("ob36_anchors")
    Derive.deltas(s, d)
      .select(col("ticker").as("q_ticker"),
        col("event_id").as("q_event_id"),
        col("price").as("last_price"), col("seq").as("last_seq"))
      .createOrReplaceTempView("ob36_quotes")
    s.sql("""SELECT ticker, event_id, last_price, last_seq
      |FROM graft_asof('ob36_anchors', 'ob36_quotes',
      |  'ticker', 'q_ticker', 'event_id', 'q_event_id')
      |ORDER BY ticker, event_id""".stripMargin)
  }

  /** ob35 — LEE–READY trade classification: tag every delta print as
    * buyer- or seller-initiated — THE microstructure labeling (Lee &
    * Ready 1991) that order-flow work (ob16/ob21/ob28) presupposes:
    * quote test first (2·price vs the PREVAILING snapshot mid_x2 —
    * strictly-before via the native as-of, ob30's semantics: a
    * same-event quote must not classify its own print), tick test as
    * the tie/no-quote fallback (vs the last DIFFERENT price of the
    * same ticker: uptick → buy, downtick → sell), unclassified when
    * neither speaks. Per ticker: counts by classification route and
    * the buy fraction over classified prints.
    *
    * Shape: one (ticker, event_id) snapshot hash-agg for mids (ob06's
    * mid_x2, exact integers), ONE native as-of (strict), and one
    * per-ticker ordered window for the tick base — the last different
    * price is `lag` + change-point carry (`last(_, ignoreNulls)` over
    * the prefix), the q41 LOCF shape keyed by ticker, so no
    * self-join re-scans history per print. All-integer comparisons
    * (2·price vs mid_x2 — no halves), one double division at the
    * end. */
  def leeReady(s: SparkSession, d: String): DataFrame = {
    val mids = Derive.snapshots(s, d)
      .groupBy(col("ticker").as("m_ticker"), col("event_id").as("m_eid"))
      .agg((max(when(col("side") === "yes", col("price"))) + lit(100) -
        max(when(col("side") === "no", col("price")))).as("mid_x2"))
    val dl = Derive.deltas(s, d)
      .select(col("ticker"), col("event_id"), col("price"))
    val withMid = graft.plans.AsOf.join(dl, mids,
      "ticker", "m_ticker", "event_id", "m_eid", strict = true)
    val w = Window.partitionBy(col("ticker")).orderBy(col("event_id"))
    val chg = when(lag(col("price"), 1).over(w).isNotNull &&
      lag(col("price"), 1).over(w) =!= col("price"),
      lag(col("price"), 1).over(w))
    val classified = withMid
      .withColumn("last_diff", last(chg, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cls",
        when(col("mid_x2").isNotNull && col("price") * 2 > col("mid_x2"),
          "quote_buy")
        .when(col("mid_x2").isNotNull && col("price") * 2 < col("mid_x2"),
          "quote_sell")
        .when(col("last_diff").isNotNull && col("price") > col("last_diff"),
          "tick_buy")
        .when(col("last_diff").isNotNull && col("price") < col("last_diff"),
          "tick_sell")
        .otherwise("unclassified"))
    def n(c: String) = sum(when(col("cls") === c, 1L).otherwise(0L))
    classified.groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_trades"),
        n("quote_buy").as("n_quote_buy"),
        n("quote_sell").as("n_quote_sell"),
        n("tick_buy").as("n_tick_buy"),
        n("tick_sell").as("n_tick_sell"),
        n("unclassified").as("n_unclassified"))
      .withColumn("buy_frac",
        when(col("n_trades") > col("n_unclassified"),
          (col("n_quote_buy") + col("n_tick_buy")).cast(DoubleType) /
            (col("n_trades") - col("n_unclassified"))))
      .orderBy(col("ticker"))
  }

  val leeReadySql: String = Derive.cte +
    """, lr_mids AS (
      |  SELECT ticker AS m_ticker, event_id AS m_eid,
      |    MAX(CASE WHEN side = 'yes' THEN price END) + 100
      |      - MAX(CASE WHEN side = 'no' THEN price END) AS mid_x2
      |  FROM ob_snapshots GROUP BY 1, 2),
      |lr AS (
      |  SELECT d.ticker, d.event_id, d.price, m.mid_x2
      |  FROM ob_deltas d
      |  ASOF LEFT JOIN lr_mids m
      |    ON d.ticker = m.m_ticker AND m.m_eid < d.event_id),
      |lr_tick AS (
      |  SELECT *, LAST_VALUE(chg IGNORE NULLS) OVER (
      |      PARTITION BY ticker ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_diff
      |  FROM (
      |    SELECT *, CASE WHEN LAG(price) OVER w IS NOT NULL
      |        AND LAG(price) OVER w <> price
      |      THEN LAG(price) OVER w END AS chg
      |    FROM lr
      |    WINDOW w AS (PARTITION BY ticker ORDER BY event_id)) t),
      |lr_cls AS (
      |  SELECT ticker,
      |    CASE
      |      WHEN mid_x2 IS NOT NULL AND price * 2 > mid_x2 THEN 'quote_buy'
      |      WHEN mid_x2 IS NOT NULL AND price * 2 < mid_x2 THEN 'quote_sell'
      |      WHEN last_diff IS NOT NULL AND price > last_diff THEN 'tick_buy'
      |      WHEN last_diff IS NOT NULL AND price < last_diff THEN 'tick_sell'
      |      ELSE 'unclassified' END AS cls
      |  FROM lr_tick)
      |SELECT ticker, COUNT(*) AS n_trades,
      |  CAST(SUM(CASE WHEN cls = 'quote_buy' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quote_buy,
      |  CAST(SUM(CASE WHEN cls = 'quote_sell' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quote_sell,
      |  CAST(SUM(CASE WHEN cls = 'tick_buy' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_tick_buy,
      |  CAST(SUM(CASE WHEN cls = 'tick_sell' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_tick_sell,
      |  CAST(SUM(CASE WHEN cls = 'unclassified' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unclassified,
      |  CASE WHEN COUNT(*) >
      |      SUM(CASE WHEN cls = 'unclassified' THEN 1 ELSE 0 END)
      |    THEN CAST(SUM(CASE WHEN cls IN ('quote_buy', 'tick_buy')
      |        THEN 1 ELSE 0 END) AS DOUBLE)
      |      / (COUNT(*) -
      |         SUM(CASE WHEN cls = 'unclassified' THEN 1 ELSE 0 END))
      |  END AS buy_frac
      |FROM lr_cls GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  /** ob31 — BOOK-CONSERVATION audit: content-level integrity on top of
    * A3's sequence-level fail-stop — for each consecutive snapshot
    * pair, does the sum of deltas in the interval (a, b] account for
    * the change in total book contracts? A transport that drops or
    * duplicates messages without breaking seq numbering shows up HERE
    * (and on this synthetic corpus the two streams are independent, so
    * the audit mostly reports discrepancies — the OUTPUT is the audit
    * table, not an assertion). Per ticker: intervals, consistent
    * intervals, total absolute gap, consistency fraction.
    *
    * Shape: snapshot totals are one hash agg; intervals come from a
    * per-ticker lead window over snapshot-count rows (the ob03
    * precedent); each delta finds its interval anchor through the
    * NATIVE as-of operator in strict mode (latest snapshot STRICTLY
    * before — so a delta landing on a snapshot event belongs to the
    * interval that snapshot CLOSES, the (a, b] convention the oracle
    * spells as an interval join); one (ticker, anchor) hash agg, one
    * anchor-keyed join. All-BIGINT until the final fraction. */
  def bookConservation(s: SparkSession, d: String): DataFrame = {
    val tot = Derive.snapshots(s, d)
      .groupBy(col("ticker"), col("event_id"))
      .agg(sum(col("contracts")).cast(LongType).as("total"))
    val w = Window.partitionBy(col("ticker")).orderBy(col("event_id"))
    val iv = tot.select(col("ticker"), col("event_id").as("a_eid"),
        lead(col("event_id"), 1).over(w).as("b_eid"),
        (lead(col("total"), 1).over(w) - col("total")).as("change"))
      .where(col("b_eid").isNotNull)
    val anchors = tot.select(col("ticker").as("s_ticker"),
      col("event_id").as("s_eid"))
    val dl = Derive.deltas(s, d)
      .select(col("ticker").as("d_ticker"), col("event_id").as("d_eid"),
        col("delta"))
    val ds = graft.plans.AsOf.join(dl, anchors,
        "d_ticker", "s_ticker", "d_eid", "s_eid", strict = true)
      .where(col("s_eid").isNotNull)
      .groupBy(col("d_ticker"), col("s_eid"))
      .agg(sum(col("delta")).cast(LongType).as("dsum"))
    iv.join(ds,
        iv("ticker") === ds("d_ticker") && iv("a_eid") === ds("s_eid"),
        "left")
      .select(col("ticker"), col("change"),
        coalesce(col("dsum"), lit(0L)).as("dsum"))
      .groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("change") === col("dsum"), 1L).otherwise(0L))
          .as("n_consistent"),
        sum(abs(col("change") - col("dsum"))).cast(LongType)
          .as("total_abs_gap"))
      .withColumn("consistency_frac",
        col("n_consistent").cast(DoubleType) /
          col("n_intervals").cast(DoubleType))
      .orderBy(col("ticker"))
  }

  val bookConservationSql: String = Derive.cte +
    """, bc_tot AS (
      |  SELECT ticker, event_id, CAST(SUM(contracts) AS BIGINT) AS total
      |  FROM ob_snapshots GROUP BY 1, 2),
      |bc_iv AS (
      |  SELECT * FROM (
      |    SELECT ticker, event_id AS a_eid,
      |      LEAD(event_id) OVER w AS b_eid,
      |      LEAD(total) OVER w - total AS change
      |    FROM bc_tot
      |    WINDOW w AS (PARTITION BY ticker ORDER BY event_id)) t
      |  WHERE b_eid IS NOT NULL),
      |bc_ds AS (
      |  SELECT d.ticker, i.a_eid, CAST(SUM(d.delta) AS BIGINT) AS dsum
      |  FROM ob_deltas d JOIN bc_iv i
      |    ON d.ticker = i.ticker
      |    AND d.event_id > i.a_eid AND d.event_id <= i.b_eid
      |  GROUP BY 1, 2)
      |SELECT i.ticker, COUNT(*) AS n_intervals,
      |  CAST(SUM(CASE WHEN i.change = COALESCE(s.dsum, 0) THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_consistent,
      |  CAST(SUM(ABS(i.change - COALESCE(s.dsum, 0))) AS BIGINT)
      |    AS total_abs_gap,
      |  CAST(SUM(CASE WHEN i.change = COALESCE(s.dsum, 0) THEN 1 ELSE 0
      |    END) AS DOUBLE) / COUNT(*) AS consistency_frac
      |FROM bc_iv i LEFT JOIN bc_ds s
      |  ON s.ticker = i.ticker AND s.a_eid = i.a_eid
      |GROUP BY i.ticker
      |ORDER BY i.ticker""".stripMargin

  /** ob23 — EFFECTIVE SPREAD against the prevailing quote: for every
    * snapshot anchor, 2·|top-of-book − the STRICTLY-previous quote's
    * price| (the execution-quality metric a venue reports — how far
    * the book has drifted from the last print when a snapshot lands),
    * aggregated per ticker. Composes [[asofCore]] (strict: a quote at
    * the anchor's own event must not count as "prevailing") with an
    * exact-integer aggregate: BIGINT spread sums, one double division
    * at the end; anchors with no previous quote are counted, never
    * averaged. Anchor top-of-book is the level-1 yes price, which is
    * event_id-derived ([[Derive.snapshots]]) so no snapshot re-join is
    * needed. */
  def effectiveSpread(s: SparkSession, d: String): DataFrame = {
    val topYes = col("event_id") % 90 + 1
    asofCore(s, d, strict = true)
      .groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_anchors"),
        sum(when(col("last_price").isNull, 1L).otherwise(0L))
          .as("n_unmatched"),
        sum(when(col("last_price").isNotNull,
          abs(topYes - col("last_price")) * 2)).as("eff_sum"))
      .withColumn("avg_eff_spread",
        when(col("n_anchors") > col("n_unmatched"),
          col("eff_sum").cast(DoubleType) /
            (col("n_anchors") - col("n_unmatched"))))
      .select(col("ticker"), col("n_anchors"), col("n_unmatched"),
        col("avg_eff_spread"))
      .orderBy(col("ticker"))
  }

  val effectiveSpreadSql: String = Derive.cte +
    """SELECT ticker, n_anchors, n_unmatched,
      |  CASE WHEN n_anchors > n_unmatched
      |       THEN CAST(eff_sum AS DOUBLE) / (n_anchors - n_unmatched)
      |  END AS avg_eff_spread
      |FROM (
      |  SELECT s.ticker, COUNT(*) AS n_anchors,
      |    CAST(SUM(CASE WHEN d.price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_unmatched,
      |    CAST(SUM(CASE WHEN d.price IS NOT NULL
      |      THEN ABS(s.event_id % 90 + 1 - d.price) * 2 END) AS BIGINT)
      |      AS eff_sum
      |  FROM (SELECT DISTINCT ticker, event_id FROM ob_snapshots) s
      |  ASOF LEFT JOIN ob_deltas d
      |    ON s.ticker = d.ticker AND d.event_id < s.event_id
      |  GROUP BY s.ticker) t
      |ORDER BY ticker""".stripMargin

  val asofPriceSql: String = Derive.cte +
    """SELECT s.ticker, s.event_id,
      |  d.price AS last_price, d.seq AS last_seq
      |FROM (SELECT DISTINCT ticker, event_id FROM ob_snapshots) s
      |ASOF LEFT JOIN ob_deltas d
      |  ON s.ticker = d.ticker AND d.event_id <= s.event_id
      |ORDER BY s.ticker, s.event_id""".stripMargin

  val asofToleranceSql: String = Derive.cte +
    s"""SELECT s.ticker, s.event_id,
       |  CASE WHEN d.event_id IS NOT NULL
       |         AND s.event_id - d.event_id <= ${AsofToleranceEvents}
       |       THEN d.price ELSE -1 END AS fresh_price,
       |  COALESCE(s.event_id - d.event_id, -1) AS staleness
       |FROM (SELECT DISTINCT ticker, event_id FROM ob_snapshots) s
       |ASOF LEFT JOIN ob_deltas d
       |  ON s.ticker = d.ticker AND d.event_id < s.event_id
       |ORDER BY s.ticker, s.event_id""".stripMargin

  // ----------------------------------------------------------------- B11
  /** VWAP per (ticker, side) over the latest snapshot levels, computed
    * by a custom typed `Aggregator` (the engine's UDAF surface). The
    * buffer holds exact integer sums, so partition merge order cannot
    * perturb the double emitted at the end. */
  def vwap(s: SparkSession, d: String): DataFrame = {
    val vwapUdaf = udaf(graft.functions.Vwap.agg)
    Derive.snapshots(s, d)
      .groupBy(col("ticker"), col("side"))
      .agg(vwapUdaf(col("price"), col("contracts")).as("vwap"),
        sum(col("contracts")).as("volume"))
      .orderBy(col("ticker"), col("side"))
  }

  val vwapSql: String = Derive.cte +
    """SELECT ticker, side,
      |  CAST(SUM(CAST(price AS BIGINT) * contracts) AS DOUBLE)
      |    / SUM(contracts) AS vwap,
      |  CAST(SUM(contracts) AS BIGINT) AS volume
      |FROM ob_snapshots
      |GROUP BY ticker, side
      |ORDER BY ticker, side""".stripMargin

  // ----------------------------------------------------------------- B12
  /** Order-flow imbalance per (ticker, day): signed delta volume on the
    * yes side minus the no side — the standard pressure indicator a
    * book-event table exists to answer. One hash-shuffle on the
    * bounded (ticker, day) key. */
  def flowImbalance(s: SparkSession, d: String): DataFrame =
    Derive.deltas(s, d)
      .groupBy(col("ticker"),
        dayCol.as("day"))
      .agg(
        sum(when(col("side") === "yes", col("delta")).otherwise(0))
          .as("yes_flow"),
        sum(when(col("side") === "no", col("delta")).otherwise(0))
          .as("no_flow"))
      .withColumn("imbalance", col("yes_flow") - col("no_flow"))
      .orderBy(col("ticker"), col("day"))

  val flowImbalanceSql: String = Derive.cte +
    s"""SELECT ticker, $daySqlD AS day,
      |  CAST(SUM(CASE WHEN side = 'yes' THEN delta ELSE 0 END) AS BIGINT) AS yes_flow,
      |  CAST(SUM(CASE WHEN side = 'no' THEN delta ELSE 0 END) AS BIGINT) AS no_flow,
      |  CAST(SUM(CASE WHEN side = 'yes' THEN delta ELSE 0 END)
      |    - SUM(CASE WHEN side = 'no' THEN delta ELSE 0 END) AS BIGINT) AS imbalance
      |FROM ob_deltas
      |GROUP BY ticker, day
      |ORDER BY ticker, day""".stripMargin

  /** ob33 — DEPTH-WEIGHTED book imbalance: per snapshot, level-1
    * liquidity matters more than level-3, so the pressure signal
    * weights contracts by 1/level before differencing the sides —
    * wimb = (Σ_yes c/l − Σ_no c/l) / (Σ_yes c/l + Σ_no c/l) ∈ [−1, 1]
    * — then summarizes per ticker (snapshot count, min/max, mean).
    * The "which way is the book leaning where it counts" number next
    * to ob07's flat depth and ob16's flow imbalance.
    *
    * Exactness: weights 1/l for l ∈ {1,2,3} become INTEGERS via the
    * LCM trick (6/l ∈ {6,3,2}), so both weighted sums are exact
    * BIGINTs and each snapshot's ratio is one correctly-rounded
    * double division — engine-identical; the per-ticker mean runs
    * over DECIMAL(18,9)-quantized ratios (exact inputs, so the grid
    * is safe at any size — no libm anywhere). Level is recovered from
    * the snapshot encoding (price − event_id % 90), mirrored by the
    * oracle. Two hash aggregates, no window. */
  def weightedImbalance(s: SparkSession, d: String): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val weighted = Derive.snapshots(s, d)
      .withColumn("lvl", (col("price") - col("event_id") % 90))
      .withColumn("w", (lit(6) / col("lvl")).cast(LongType))
      .groupBy(col("ticker"), col("event_id"))
      .agg(
        sum(when(col("side") === "yes", col("w") * col("contracts"))
          .otherwise(0L)).as("wyes"),
        sum(when(col("side") === "no", col("w") * col("contracts"))
          .otherwise(0L)).as("wno"))
      .withColumn("wimb",
        when(col("wyes") + col("wno") > 0,
          (col("wyes") - col("wno")).cast(DoubleType) /
            (col("wyes") + col("wno")).cast(DoubleType)))
    weighted.groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_snapshots"),
        min(col("wimb")).as("min_wimb"),
        max(col("wimb")).as("max_wimb"),
        (sum(col("wimb").cast(dec9)).cast(DoubleType) /
          count(when(col("wimb").isNotNull, 1L))).as("mean_wimb"))
      .orderBy(col("ticker"))
  }

  val weightedImbalanceSql: String = Derive.cte +
    """, wi AS (
      |  SELECT ticker, event_id,
      |    CAST(SUM(CASE WHEN side = 'yes'
      |      THEN (6 // (price - event_id % 90)) * contracts ELSE 0 END)
      |      AS BIGINT) AS wyes,
      |    CAST(SUM(CASE WHEN side = 'no'
      |      THEN (6 // (price - event_id % 90)) * contracts ELSE 0 END)
      |      AS BIGINT) AS wno
      |  FROM ob_snapshots GROUP BY ticker, event_id),
      |wr AS (
      |  SELECT ticker,
      |    CASE WHEN wyes + wno > 0 THEN
      |      CAST(wyes - wno AS DOUBLE) / CAST(wyes + wno AS DOUBLE)
      |    END AS wimb
      |  FROM wi)
      |SELECT ticker, COUNT(*) AS n_snapshots,
      |  MIN(wimb) AS min_wimb, MAX(wimb) AS max_wimb,
      |  CAST(SUM(CAST(wimb AS DECIMAL(18,9))) AS DOUBLE)
      |    / COUNT(wimb) AS mean_wimb
      |FROM wr GROUP BY ticker ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- B13
  /** Microprice (size-weighted mid) per ticker from the latest book:
    * micro = (ask·q_bid + bid·q_ask) / (q_bid + q_ask) with the
    * yes/no-duality ask = 100 − no_best — the queue-imbalance-aware
    * fair value that leads the plain mid when one side of the book is
    * thick. Numerator stays exact integer; the single final division
    * is the only float op, so both engines produce the identical
    * double. Same one-shuffle budget as ob06. */
  def microprice(s: SparkSession, d: String): DataFrame =
    latestLevels(s, d)
      .groupBy(col("ticker"), col("side"))
      .agg(max(col("price")).as("p"),
        expr("max_by(contracts, price)").as("q"))
      .groupBy(col("ticker"))
      .agg(max(when(col("side") === "yes", col("p"))).as("yes_best"),
        max(when(col("side") === "yes", col("q"))).as("q_yes"),
        max(when(col("side") === "no", col("p"))).as("no_best"),
        max(when(col("side") === "no", col("q"))).as("q_no"))
      .select(col("ticker"), col("yes_best"),
        (lit(100) - col("no_best")).as("ask_cents"),
        col("q_yes"), col("q_no"),
        (((lit(100) - col("no_best")).cast(LongType) * col("q_yes") +
          col("yes_best").cast(LongType) * col("q_no")).cast(DoubleType)
          / (col("q_yes") + col("q_no"))).as("microprice"))
      .orderBy(col("ticker"))

  val micropriceSql: String = Derive.cte + latestLevelsCte +
    """,bb AS (
      |  SELECT ticker, side, MAX(price) AS p,
      |    CAST(arg_max(contracts, price) AS INTEGER) AS q
      |  FROM lvl GROUP BY 1, 2),
      |piv AS (
      |  SELECT ticker,
      |    MAX(CASE WHEN side = 'yes' THEN p END) AS yes_best,
      |    MAX(CASE WHEN side = 'yes' THEN q END) AS q_yes,
      |    MAX(CASE WHEN side = 'no' THEN p END) AS no_best,
      |    MAX(CASE WHEN side = 'no' THEN q END) AS q_no
      |  FROM bb GROUP BY 1)
      |SELECT ticker, yes_best, 100 - no_best AS ask_cents, q_yes, q_no,
      |  CAST((100 - no_best) * CAST(q_yes AS BIGINT)
      |       + yes_best * CAST(q_no AS BIGINT) AS DOUBLE)
      |    / (q_yes + q_no) AS microprice
      |FROM piv
      |ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- B14
  /** Realized variance per (ticker, day): sum of squared successive
    * price moves in integer cents² — the volatility aggregate a tick
    * archive exists for, and exact-integer so it hash-checks.
    *
    * The successive-move lag uses the same two-level bucketed scan as
    * ob09/ob14 ([[DefaultScanBucketRows]]): lag within (ticker, day, bucket),
    * with each bucket's first move taken against the previous
    * populated bucket's last price via the per-bucket summary — no
    * task ever sorts a whole (ticker, day) partition, and day
    * boundaries fall out naturally (the first bucket of a day has no
    * carry, so no cross-day move is ever counted). */
  def realizedVariance(s: SparkSession, d: String): DataFrame = {
    val rows = Derive.deltas(s, d)
      .select(col("ticker"), dayCol.as("day"), col("event_id"), col("price"))
      .withColumn("bucket", expr(s"event_id div ${eventScanWidth(s)}"))
    val wPrefix = Window.partitionBy(col("ticker"), col("day"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = rows.groupBy(col("ticker"), col("day"), col("bucket"))
      .agg(expr("max_by(price, event_id)").as("bucket_last_price"))
      .withColumn("carry_price", last(col("bucket_last_price")).over(wPrefix))
      .select(col("ticker"), col("day"), col("bucket"), col("carry_price"))
    val wLocal = Window.partitionBy(col("ticker"), col("day"), col("bucket"))
      .orderBy(col("event_id"))
    rows
      .withColumn("prev_in_bucket", lag(col("price"), 1).over(wLocal))
      .join(carry, Seq("ticker", "day", "bucket"))
      .withColumn("prev_price",
        coalesce(col("prev_in_bucket"), col("carry_price")))
      .where(col("prev_price").isNotNull)
      .withColumn("mv", (col("price") - col("prev_price")).cast(LongType))
      .groupBy(col("ticker"), col("day"))
      .agg(sum(col("mv") * col("mv")).cast(LongType).as("rv_cents2"),
        count(lit(1)).as("n_moves"))
      .orderBy(col("ticker"), col("day"))
  }

  val realizedVarianceSql: String = Derive.cte + s""",
      |rv_base AS (
      |  SELECT ticker, $daySqlD AS day, event_id, price FROM ob_deltas),
      |rv_moves AS (
      |  SELECT ticker, day,
      |    price - LAG(price) OVER (PARTITION BY ticker, day
      |                             ORDER BY event_id) AS mv
      |  FROM rv_base)
      |SELECT ticker, day, CAST(SUM(mv * mv) AS BIGINT) AS rv_cents2,
      |  COUNT(*) AS n_moves
      |FROM rv_moves WHERE mv IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY ticker, day""".stripMargin

  // ----------------------------------------------------------------- B15
  /** Time-weighted average price (TWAP) per (ticker, day): each quote
    * price weighted by how long it stood (next event's timestamp minus
    * its own) — the benchmark execution-quality metric next to ob15's
    * volume-weighted VWAP. Sums stay exact (cents × ms in BIGINT); the
    * single final division is the only float op, guarded for the
    * zero-span degenerate day (all events on one timestamp).
    *
    * The successive-event LEAD runs on the same two-level bucketed
    * scan as ob18's lag ([[DefaultScanBucketRows]]), mirrored forward:
    * lead within (ticker, day, bucket); each bucket's LAST event takes
    * its gap against the next populated bucket's first timestamp via
    * the per-bucket summary — no task ever sorts a whole (ticker, day)
    * partition, and the last event of a day drops out naturally (no
    * following bucket in the partition ⇒ null next_ts), exactly
    * matching the plain LEAD spelling in the oracle. */
  def twap(s: SparkSession, d: String): DataFrame = {
    val rows = Derive.deltas(s, d)
      .select(col("ticker"), dayCol.as("day"), col("event_id"),
        col("ts_ms"), col("price"))
      .withColumn("bucket", expr(s"event_id div ${eventScanWidth(s)}"))
    val wSuffix = Window.partitionBy(col("ticker"), col("day"))
      .orderBy(col("bucket"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carry = rows.groupBy(col("ticker"), col("day"), col("bucket"))
      .agg(expr("min_by(ts_ms, event_id)").as("bucket_first_ts"))
      .withColumn("carry_next_ts",
        first(col("bucket_first_ts")).over(wSuffix))
      .select(col("ticker"), col("day"), col("bucket"),
        col("carry_next_ts"))
    val wLocal = Window.partitionBy(col("ticker"), col("day"), col("bucket"))
      .orderBy(col("event_id"))
    rows
      .withColumn("next_in_bucket", lead(col("ts_ms"), 1).over(wLocal))
      .join(carry, Seq("ticker", "day", "bucket"))
      .withColumn("next_ts",
        coalesce(col("next_in_bucket"), col("carry_next_ts")))
      .where(col("next_ts").isNotNull)
      .withColumn("dt", col("next_ts") - col("ts_ms"))
      .groupBy(col("ticker"), col("day"))
      .agg(sum(col("price").cast(LongType) * col("dt")).as("pd"),
        sum(col("dt")).as("span_ms"),
        count(lit(1)).as("n_quotes"))
      .select(col("ticker"), col("day"),
        when(col("span_ms") > 0,
          col("pd").cast(DoubleType) / col("span_ms")).as("twap_cents"),
        col("span_ms").cast(LongType).as("span_ms"),
        col("n_quotes"))
      .orderBy(col("ticker"), col("day"))
  }

  val twapSql: String = Derive.cte + s""",
      |tw AS (
      |  SELECT ticker, $daySqlD AS day, ts_ms, price,
      |    LEAD(ts_ms) OVER (PARTITION BY ticker, $daySqlD
      |                      ORDER BY event_id) AS next_ts
      |  FROM ob_deltas)
      |SELECT ticker, day,
      |  CASE WHEN SUM(next_ts - ts_ms) > 0
      |    THEN CAST(SUM(price * (next_ts - ts_ms)) AS DOUBLE)
      |         / SUM(next_ts - ts_ms) END AS twap_cents,
      |  CAST(SUM(next_ts - ts_ms) AS BIGINT) AS span_ms,
      |  COUNT(*) AS n_quotes
      |FROM tw WHERE next_ts IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY ticker, day""".stripMargin

  // ----------------------------------------------------------- registry
  // ----------------------------------------------------------------- B10
  /** Price impact (Kyle's λ) per ticker: OLS slope of intra-minute
    * price move on net signed order flow — the microstructure
    * regression desks monitor per market (how many cents does a unit
    * of one-sided flow move the book). Per (ticker, minute):
    * flow = Σ(±delta) (yes buys +, no sells −) and dp = price at the
    * minute's last event − price at its first (max_by/min_by on the
    * unique event_id — no window, no sort). Per ticker the slope is
    * closed-form over EXACT BIGINT moments (n, Σx, Σy, Σxy, Σx²) —
    * integer inputs, so unlike a streaming regr_slope the partial
    * aggregation is order-independent and engine-exact; the single
    * double division happens once, identically, at the end (NULL when
    * flow never varies — a one-minute ticker has no slope).
    *
    * Scale: two hash aggregates — (ticker, minute) then (ticker) —
    * both map-side combinable; no per-ticker sort anywhere. */
  def priceImpact(s: SparkSession, d: String): DataFrame = {
    val minutes = Derive.deltas(s, d)
      .groupBy(col("ticker"), expr("ts_ms div 60000").as("minute"))
      .agg(
        sum(when(col("side") === "yes", col("delta"))
          .otherwise(-col("delta"))).as("flow"),
        (expr("max_by(price, event_id)") - expr("min_by(price, event_id)"))
          .cast(LongType).as("dp"))
    minutes.groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_minutes"),
        sum(col("flow")).as("sx"), sum(col("dp")).as("sy"),
        sum(col("flow") * col("dp")).as("sxy"),
        sum(col("flow") * col("flow")).as("sxx"))
      .withColumn("lambda",
        when(col("n_minutes") * col("sxx") - col("sx") * col("sx") =!= 0L,
          (col("n_minutes") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) /
          (col("n_minutes") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)))
      .select(col("ticker"), col("n_minutes"), col("lambda"))
      .orderBy(col("ticker"))
  }

  /** ob32 — FLOW-PREDICTABILITY contingency: does this minute's net
    * signed flow predict the NEXT minute's price move? ob21 fits the
    * contemporaneous impact (λ); trading on flow needs the LAGGED
    * relation, and the first look at that is a 2×2 sign contingency —
    * per ticker: minutes where (flow sign, next-move sign) agree vs
    * disagree (zero-flow / zero-move minutes excluded from the table,
    * counted separately) and the directional hit rate. Reuses ob21's
    * exact flow and intra-minute move definitions; the one-minute lead
    * partitions by ticker over minute-grain rows (ob27's bounded-
    * partition regime); all-integer until the hit rate. */
  def flowPredictability(s: SparkSession, d: String): DataFrame = {
    val minutes = Derive.deltas(s, d)
      .groupBy(col("ticker"), expr("ts_ms div 60000").as("minute"))
      .agg(
        sum(when(col("side") === "yes", col("delta"))
          .otherwise(-col("delta"))).as("flow"),
        (expr("max_by(price, event_id)") - expr("min_by(price, event_id)"))
          .cast(LongType).as("dp"))
    val w = Window.partitionBy(col("ticker")).orderBy(col("minute"))
    val paired = minutes
      .withColumn("next_dp", lead(col("dp"), 1).over(w))
      .where(col("next_dp").isNotNull)
    paired.groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("flow") > 0 && col("next_dp") > 0, 1L)
          .otherwise(0L)).as("n_pp"),
        sum(when(col("flow") > 0 && col("next_dp") < 0, 1L)
          .otherwise(0L)).as("n_pn"),
        sum(when(col("flow") < 0 && col("next_dp") > 0, 1L)
          .otherwise(0L)).as("n_np"),
        sum(when(col("flow") < 0 && col("next_dp") < 0, 1L)
          .otherwise(0L)).as("n_nn"))
      .withColumn("n_signed",
        col("n_pp") + col("n_pn") + col("n_np") + col("n_nn"))
      .withColumn("hit_rate",
        when(col("n_signed") > 0,
          (col("n_pp") + col("n_nn")).cast(DoubleType) /
            col("n_signed").cast(DoubleType)))
      .orderBy(col("ticker"))
  }

  val flowPredictabilitySql: String = Derive.cte +
    """, fp_mn AS (
      |  SELECT ticker, ts_ms // 60000 AS minute,
      |    SUM(CASE WHEN side = 'yes' THEN delta ELSE -delta END) AS flow,
      |    CAST(arg_max(price, event_id) - arg_min(price, event_id)
      |      AS BIGINT) AS dp
      |  FROM ob_deltas GROUP BY 1, 2),
      |fp_pair AS (
      |  SELECT * FROM (
      |    SELECT ticker, flow,
      |      LEAD(dp) OVER (PARTITION BY ticker ORDER BY minute)
      |        AS next_dp
      |    FROM fp_mn) t
      |  WHERE next_dp IS NOT NULL),
      |fp_ct AS (
      |  SELECT ticker, COUNT(*) AS n_pairs,
      |    CAST(SUM(CASE WHEN flow > 0 AND next_dp > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pp,
      |    CAST(SUM(CASE WHEN flow > 0 AND next_dp < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pn,
      |    CAST(SUM(CASE WHEN flow < 0 AND next_dp > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_np,
      |    CAST(SUM(CASE WHEN flow < 0 AND next_dp < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_nn
      |  FROM fp_pair GROUP BY ticker)
      |SELECT ticker, n_pairs, n_pp, n_pn, n_np, n_nn,
      |  n_pp + n_pn + n_np + n_nn AS n_signed,
      |  CASE WHEN n_pp + n_pn + n_np + n_nn > 0 THEN
      |    CAST(n_pp + n_nn AS DOUBLE)
      |      / CAST(n_pp + n_pn + n_np + n_nn AS DOUBLE)
      |  END AS hit_rate
      |FROM fp_ct
      |ORDER BY ticker""".stripMargin

  val priceImpactSql: String = Derive.cte +
    """, mn AS (
      |  SELECT ticker, ts_ms // 60000 AS minute,
      |    SUM(CASE WHEN side = 'yes' THEN delta ELSE -delta END) AS flow,
      |    CAST(arg_max(price, event_id) - arg_min(price, event_id)
      |      AS BIGINT) AS dp
      |  FROM ob_deltas GROUP BY 1, 2),
      |mo AS (
      |  SELECT ticker, COUNT(*) AS n_minutes,
      |    SUM(flow) AS sx, SUM(dp) AS sy,
      |    SUM(flow * dp) AS sxy, SUM(flow * flow) AS sxx
      |  FROM mn GROUP BY ticker)
      |SELECT ticker, n_minutes,
      |  CASE WHEN n_minutes * sxx - sx * sx <> 0 THEN
      |    CAST(n_minutes * sxy - sx * sy AS DOUBLE)
      |      / CAST(n_minutes * sxx - sx * sx AS DOUBLE)
      |  END AS lambda
      |FROM mo ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- B11
  /** Return AUTOCORRELATION per (ticker, day): Pearson r between
    * consecutive price moves — THE microstructure diagnostic (negative
    * ⇒ bid-ask bounce/mean reversion, positive ⇒ momentum/stale
    * quotes). Same determinism recipe as ob21: moves are exact
    * integers, all five moments sum in BIGINT, and the only floating
    * point is the final fixed-shape expression (sqrt is IEEE
    * correctly-rounded, so even it is engine-identical); NULL when
    * either variance is zero.
    *
    * Scale: consecutive-move pairing runs the two-level bucketed-lag
    * scan TWICE (price → move, move → previous move) — both lags are
    * per-bucket local windows plus a per-bucket carry summary, so no
    * whole-ticker sort exists anywhere (ob18's shape, composed). */
  /** (ticker, day, event_id, mv, prev_mv) consecutive-move pairs —
    * the shared core of ob22's autocorrelation and ob25's Roll
    * estimator: both lag levels (price → move, move → previous move)
    * run as per-bucket local windows plus a per-bucket carry summary,
    * never a whole-ticker sort. */
  private def movePairs(s: SparkSession, d: String): DataFrame = {
    val rows = Derive.deltas(s, d)
      .select(col("ticker"), dayCol.as("day"), col("event_id"), col("price"))
      .withColumn("bucket", expr(s"event_id div ${eventScanWidth(s)}"))
    val wPrefix = Window.partitionBy(col("ticker"), col("day"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLocal = Window.partitionBy(col("ticker"), col("day"), col("bucket"))
      .orderBy(col("event_id"))
    val carry = rows.groupBy(col("ticker"), col("day"), col("bucket"))
      .agg(expr("max_by(price, event_id)").as("blp"))
      .withColumn("carry_price", last(col("blp")).over(wPrefix))
      .select(col("ticker"), col("day"), col("bucket"), col("carry_price"))
    val moves = rows
      .withColumn("prev_in_bucket", lag(col("price"), 1).over(wLocal))
      .join(carry, Seq("ticker", "day", "bucket"))
      .withColumn("prev_price",
        coalesce(col("prev_in_bucket"), col("carry_price")))
      .where(col("prev_price").isNotNull)
      .withColumn("mv", (col("price") - col("prev_price")).cast(LongType))
      .select(col("ticker"), col("day"), col("bucket"), col("event_id"),
        col("mv"))
    val carryMv = moves.groupBy(col("ticker"), col("day"), col("bucket"))
      .agg(expr("max_by(mv, event_id)").as("blm"))
      .withColumn("carry_mv", last(col("blm")).over(wPrefix))
      .select(col("ticker"), col("day"), col("bucket"), col("carry_mv"))
    moves
      .withColumn("prev_in_bucket", lag(col("mv"), 1).over(wLocal))
      .join(carryMv, Seq("ticker", "day", "bucket"))
      .withColumn("prev_mv",
        coalesce(col("prev_in_bucket"), col("carry_mv")))
      .where(col("prev_mv").isNotNull)
  }

  def returnAutocorr(s: SparkSession, d: String): DataFrame = {
    movePairs(s, d).groupBy(col("ticker"), col("day"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("prev_mv")).as("sx"), sum(col("mv")).as("sy"),
        sum(col("prev_mv") * col("mv")).as("sxy"),
        sum(col("prev_mv") * col("prev_mv")).as("sxx"),
        sum(col("mv") * col("mv")).as("syy"))
      .withColumn("vx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .withColumn("autocorr",
        when(col("vx") > 0L && col("vy") > 0L,
          (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) /
          sqrt(col("vx").cast(DoubleType) * col("vy").cast(DoubleType))))
      .select(col("ticker"), col("day"), col("n_pairs"), col("autocorr"))
      .orderBy(col("ticker"), col("day"))
  }

  /** Oracle mirror of [[movePairs]] + the five BIGINT moments (`mo`) —
    * shared by ob22 and ob25, so the two estimators can never disagree
    * on what a "consecutive move pair" is. */
  private val moveMomentsSqlCte: String = Derive.cte + s""",
      |ac_base AS (
      |  SELECT ticker, $daySqlD AS day, event_id, price FROM ob_deltas),
      |ac_mv AS (
      |  SELECT ticker, day, event_id,
      |    CAST(price - LAG(price) OVER w AS BIGINT) AS mv
      |  FROM ac_base
      |  WINDOW w AS (PARTITION BY ticker, day ORDER BY event_id)),
      |ac_nn AS (SELECT * FROM ac_mv WHERE mv IS NOT NULL),
      |ac_pairs AS (
      |  SELECT ticker, day, mv,
      |    LAG(mv) OVER (PARTITION BY ticker, day ORDER BY event_id)
      |      AS prev_mv
      |  FROM ac_nn),
      |mo AS (
      |  SELECT ticker, day, COUNT(*) AS n_pairs,
      |    SUM(prev_mv) AS sx, SUM(mv) AS sy, SUM(prev_mv * mv) AS sxy,
      |    SUM(prev_mv * prev_mv) AS sxx, SUM(mv * mv) AS syy
      |  FROM ac_pairs WHERE prev_mv IS NOT NULL
      |  GROUP BY 1, 2)
      |""".stripMargin

  val returnAutocorrSql: String = moveMomentsSqlCte +
    """SELECT ticker, day, n_pairs,
      |  CASE WHEN n_pairs * sxx - sx * sx > 0
      |        AND n_pairs * syy - sy * sy > 0 THEN
      |    CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
      |           * CAST(n_pairs * syy - sy * sy AS DOUBLE))
      |  END AS autocorr
      |FROM mo ORDER BY ticker, day""".stripMargin

  // ----------------------------------------------------------------- B13
  /** ob24 — AMIHUD ILLIQUIDITY per (ticker, day): the mean over minutes
    * of |price move| / traded volume — the standard price-impact-per-
    * dollar proxy when quote data is all you have (Amihud 2002). Each
    * minute contributes |last price − first price| (max_by/min_by on
    * the unique event_id — no window, no sort) over Σ|delta|;
    * zero-volume minutes are excluded (no trade ⇒ no impact sample).
    *
    * Determinism: the per-minute ratio is ONE double division of two
    * BIGINTs (identical shape both engines), quantized to DECIMAL(28,6)
    * — inside the ratio's information content, and coarse enough that
    * DuckDB's scale-in-double cast can't double-round differently from
    * Spark's exact BigDecimal rounding (the sim10 recipe) — then summed
    * EXACTLY, so partial-aggregate merge order cannot perturb the mean;
    * the final mean divides once, in double.
    *
    * Scale: two hash aggregates — (ticker, day, minute) then
    * (ticker, day) — both map-side combinable; nothing sorts. */
  def amihud(s: SparkSession, d: String): DataFrame = {
    val d6 = DecimalType(28, 6)
    val minutes = Derive.deltas(s, d)
      .groupBy(col("ticker"), dayCol.as("day"),
        expr("ts_ms div 60000").as("minute"))
      .agg(
        abs(expr("max_by(price, event_id)") - expr("min_by(price, event_id)"))
          .cast(LongType).as("adp"),
        sum(abs(col("delta"))).as("vol"))
      .where(col("vol") > 0L)
      .withColumn("ratio",
        (col("adp").cast(DoubleType) / col("vol").cast(DoubleType)).cast(d6))
    minutes.groupBy(col("ticker"), col("day"))
      .agg(count(lit(1)).as("n_minutes"),
        (sum(col("ratio")).cast(DoubleType) / count(lit(1)))
          .as("amihud_illiq"))
      .select(col("ticker"), col("day"), col("n_minutes"),
        col("amihud_illiq"))
      .orderBy(col("ticker"), col("day"))
  }

  val amihudSql: String = Derive.cte + s""",
      |am_mn AS (
      |  SELECT ticker, $daySqlD AS day, ts_ms // 60000 AS minute,
      |    CAST(abs(arg_max(price, event_id) - arg_min(price, event_id))
      |      AS BIGINT) AS adp,
      |    SUM(abs(delta)) AS vol
      |  FROM ob_deltas GROUP BY 1, 2, 3),
      |am_r AS (
      |  SELECT ticker, day,
      |    CAST(CAST(adp AS DOUBLE) / CAST(vol AS DOUBLE) AS DECIMAL(28,6))
      |      AS ratio
      |  FROM am_mn WHERE vol > 0)
      |SELECT ticker, day, COUNT(*) AS n_minutes,
      |  CAST(SUM(ratio) AS DOUBLE) / COUNT(*) AS amihud_illiq
      |FROM am_r GROUP BY 1, 2 ORDER BY ticker, day""".stripMargin

  // ----------------------------------------------------------------- B14
  /** ob25 — ROLL IMPLIED SPREAD per (ticker, day): Roll's (1984)
    * estimator s = 2·√(−cov(Δp_t, Δp_{t−1})) — the effective bid-ask
    * spread inferred from trade prices ALONE (bid-ask bounce makes
    * consecutive moves negatively autocovariant; the magnitude encodes
    * the spread). The estimator is defined only when the
    * autocovariance is negative — a positive-cov (trending) day
    * surfaces NULL, which is the standard treatment.
    *
    * Shares [[movePairs]] (and the oracle's `mo` CTE) with ob22, so
    * both microstructure estimators agree on the pair universe.
    * Determinism: population covariance numerator n·Σxy − Σx·Σy stays
    * BIGINT; the only floating point is ONE fixed-shape expression
    * 2·√(−num)/n (÷n² inside the root becomes ÷n outside — done
    * identically in both engines, so even the last ulp agrees). */
  def rollSpread(s: SparkSession, d: String): DataFrame =
    movePairs(s, d).groupBy(col("ticker"), col("day"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("prev_mv")).as("sx"), sum(col("mv")).as("sy"),
        sum(col("prev_mv") * col("mv")).as("sxy"))
      .withColumn("cov_num",
        col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("roll_spread",
        when(col("cov_num") < 0L,
          lit(2.0) * sqrt((-col("cov_num")).cast(DoubleType))
            / col("n_pairs").cast(DoubleType)))
      .select(col("ticker"), col("day"), col("n_pairs"), col("roll_spread"))
      .orderBy(col("ticker"), col("day"))

  val rollSpreadSql: String = moveMomentsSqlCte +
    """SELECT ticker, day, n_pairs,
      |  CASE WHEN n_pairs * sxy - sx * sy < 0 THEN
      |    2.0 * sqrt(CAST(-(n_pairs * sxy - sx * sy) AS DOUBLE))
      |      / CAST(n_pairs AS DOUBLE)
      |  END AS roll_spread
      |FROM mo ORDER BY ticker, day""".stripMargin

  // ----------------------------------------------------------------- B15
  /** ob26 — CANDLE RESAMPLE: 5-minute OHLCV built FROM 1-minute
    * candles, not from raw events — the hierarchical re-aggregation
    * every candle store runs (1m → 5m → 1h → 1d) so coarser grains
    * never rescan the event log. The merge is pure aggregation
    * algebra: each 1-minute partial carries its boundary event-ids
    * (first_id = min event_id, last_id = max), and the coarser candle
    * takes open = open of the minute with the smallest first_id
    * (min_by), close = close of the largest last_id (max_by),
    * high/low/volume by max/min/sum — EXACTLY the direct-from-raw
    * answer regardless of event-id/timestamp alignment, which is what
    * the oracle computes.
    *
    * Scale: the first aggregate is the only event-sized stage; the
    * second consumes |minutes| rows (3-4 orders smaller). At 100 TB
    * the 1m layer would persist and every coarser grain derives from
    * it incrementally — this operator IS that derivation, oracle-gated
    * against the raw recompute. */
  def candleResample(s: SparkSession, d: String): DataFrame = {
    val m1 = Derive.deltas(s, d)
      .groupBy(col("ticker"), expr("ts_ms div 60000").as("minute"))
      .agg(
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"),
        expr("min_by(price, event_id)").as("o"),
        max(col("price")).as("h"),
        min(col("price")).as("l"),
        expr("max_by(price, event_id)").as("c"),
        count(lit(1)).as("n"))
    m1.groupBy(col("ticker"), expr("minute div 5").as("m5"))
      .agg(
        expr("min_by(o, first_id)").as("open"),
        max(col("h")).as("high"),
        min(col("l")).as("low"),
        expr("max_by(c, last_id)").as("close"),
        sum(col("n")).as("n_msgs"))
      .select(col("ticker"), (col("m5") * 300000L).as("m5_start_ms"),
        col("open"), col("high"), col("low"), col("close"), col("n_msgs"))
      .orderBy(col("ticker"), col("m5_start_ms"))
  }

  val candleResampleSql: String = Derive.cte +
    """SELECT ticker, (ts_ms // 300000) * 300000 AS m5_start_ms,
      |  CAST(arg_min(price, event_id) AS INTEGER) AS open,
      |  MAX(price) AS high,
      |  MIN(price) AS low,
      |  CAST(arg_max(price, event_id) AS INTEGER) AS close,
      |  COUNT(*) AS n_msgs
      |FROM ob_deltas
      |GROUP BY 1, 2
      |ORDER BY ticker, m5_start_ms""".stripMargin

  // ----------------------------------------------------------------- B16
  /** ob27 — VARIANCE RATIO per (ticker, day): Lo–MacKinlay's random-walk
    * diagnostic VR(q) = Var(r_q) / (q·Var(r_1)) with q = 5 over
    * minute-close returns (non-overlapping aggregation periods). Under
    * a random walk VR ≈ 1; VR < 1 ⇒ mean reversion (bid-ask bounce),
    * VR > 1 ⇒ momentum/trending — the day-level companion to ob22's
    * event-scale autocorrelation.
    *
    * Determinism: both variances are population moments over exact
    * BIGINT minute-close diffs; the whole ratio reduces to ONE integer
    * numerator (nq·Σy²−(Σy)²)·n1² and ONE integer denominator
    * q·(n1·Σx²−(Σx)²)·nq², divided once in double — no intermediate
    * float anywhere, so the engines agree to the last bit. NULL when
    * the 1-minute variance is zero or either series has < 2 returns.
    *
    * Scale: minute closes are a hash aggregate; the return lags
    * partition by (ticker, day) whose row count is bounded by 1440
    * minutes — a dimension-bounded window like ob11, not an
    * event-scale sort (the event-sized stage is only the first
    * aggregate). */
  def varianceRatio(s: SparkSession, d: String): DataFrame = {
    val Q = 5
    val mins = Derive.deltas(s, d)
      .groupBy(col("ticker"), dayCol.as("day"),
        expr("ts_ms div 60000").as("minute"))
      .agg(expr("max_by(price, event_id)").as("close"))
    val w1 = Window.partitionBy(col("ticker"), col("day"))
      .orderBy(col("minute"))
    val r1 = mins
      .withColumn("x", (col("close") - lag(col("close"), 1).over(w1))
        .cast(LongType))
      .where(col("x").isNotNull)
      .groupBy(col("ticker"), col("day"))
      .agg(count(lit(1)).as("n1"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2"))
    val m5 = mins
      .groupBy(col("ticker"), col("day"), expr(s"minute div $Q").as("m5"))
      .agg(expr("max_by(close, minute)").as("close5"))
    val w5 = Window.partitionBy(col("ticker"), col("day"))
      .orderBy(col("m5"))
    val rq = m5
      .withColumn("y", (col("close5") - lag(col("close5"), 1).over(w5))
        .cast(LongType))
      .where(col("y").isNotNull)
      .groupBy(col("ticker"), col("day"))
      .agg(count(lit(1)).as("nq"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("sy2"))
    r1.join(rq, Seq("ticker", "day"))
      .withColumn("num",
        (col("nq") * col("sy2") - col("sy") * col("sy"))
          * col("n1") * col("n1"))
      .withColumn("den",
        lit(Q.toLong) * (col("n1") * col("sx2") - col("sx") * col("sx"))
          * col("nq") * col("nq"))
      .withColumn("vr",
        when(col("den") > 0L && col("n1") >= 2L && col("nq") >= 2L,
          col("num").cast(DoubleType) / col("den").cast(DoubleType)))
      .select(col("ticker"), col("day"), col("n1").as("n_r1"),
        col("nq").as("n_rq"), col("vr"))
      .orderBy(col("ticker"), col("day"))
  }

  val varianceRatioSql: String = Derive.cte + s""",
      |vr_min AS (
      |  SELECT ticker, $daySqlD AS day, ts_ms // 60000 AS minute,
      |    arg_max(price, event_id) AS close
      |  FROM ob_deltas GROUP BY 1, 2, 3),
      |vr_r1 AS (
      |  SELECT ticker, day, COUNT(*) AS n1, SUM(x) AS sx,
      |    SUM(x * x) AS sx2
      |  FROM (SELECT ticker, day,
      |          CAST(close - LAG(close) OVER
      |            (PARTITION BY ticker, day ORDER BY minute) AS BIGINT) AS x
      |        FROM vr_min) t
      |  WHERE x IS NOT NULL GROUP BY 1, 2),
      |vr_m5 AS (
      |  SELECT ticker, day, minute // 5 AS m5,
      |    arg_max(close, minute) AS close5
      |  FROM vr_min GROUP BY 1, 2, 3),
      |vr_rq AS (
      |  SELECT ticker, day, COUNT(*) AS nq, SUM(y) AS sy,
      |    SUM(y * y) AS sy2
      |  FROM (SELECT ticker, day,
      |          CAST(close5 - LAG(close5) OVER
      |            (PARTITION BY ticker, day ORDER BY m5) AS BIGINT) AS y
      |        FROM vr_m5) t
      |  WHERE y IS NOT NULL GROUP BY 1, 2)
      |SELECT a.ticker, a.day, a.n1 AS n_r1, b.nq AS n_rq,
      |  CASE WHEN 5 * (a.n1 * a.sx2 - a.sx * a.sx) * b.nq * b.nq > 0
      |        AND a.n1 >= 2 AND b.nq >= 2 THEN
      |    CAST((b.nq * b.sy2 - b.sy * b.sy) * a.n1 * a.n1 AS DOUBLE)
      |      / CAST(5 * (a.n1 * a.sx2 - a.sx * a.sx) * b.nq * b.nq AS DOUBLE)
      |  END AS vr
      |FROM vr_r1 a JOIN vr_rq b ON a.ticker = b.ticker AND a.day = b.day
      |ORDER BY a.ticker, a.day""".stripMargin

  // ---------------------------------------------------------------- ob28
  /** ob28 — VPIN (volume-synchronized probability of informed trading,
    * Easley/López de Prado/O'Hara) per (ticker, day): order flow is cut
    * into VOLUME buckets of [[VpinBucket]] contracts (volume clock, not
    * wall clock — the construction's whole point), each bucket scores
    * its absolute buy/sell imbalance (signed delta = direction, the
    * tick-rule stand-in this feed makes exact), and VPIN is
    * Σ|buy−sell| / Σvolume over the day's buckets — the toxicity
    * number a market maker watches next to ob16's flow imbalance.
    *
    * Determinism: bucket ids come from an integer running volume
    * ((cum−1) div V, zero-volume rows ride in their current bucket),
    * imbalances and volumes stay BIGINT to the end, one double
    * division at the surface — engines agree to the last bit.
    *
    * Scale: the running-volume window is per (ticker, day) ordered by
    * the wire's own event_id — ob04's cumulative-replay regime, an
    * event-scale sort bounded per partition, followed by two hash
    * aggregates of |buckets| ≪ |events| rows. */
  val VpinBucket = 200L

  def vpin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("ticker"), col("day"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = Derive.deltas(s, d)
      .select(col("ticker"), dayCol.as("day"), col("event_id"),
        col("delta").cast(LongType).as("dl"))
      .withColumn("cum", sum(abs(col("dl"))).over(w))
      .withColumn("bucket",
        expr(s"greatest(cum - 1, 0) div $VpinBucket"))
      .groupBy(col("ticker"), col("day"), col("bucket"))
      .agg(sum(when(col("dl") > 0, col("dl")).otherwise(0L)).as("buy"),
        sum(when(col("dl") < 0, -col("dl")).otherwise(0L)).as("sell"))
    buckets.groupBy(col("ticker"), col("day"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(abs(col("buy") - col("sell"))).as("imb"),
        sum(col("buy") + col("sell")).as("vol"))
      .withColumn("vpin", when(col("vol") > 0L,
        col("imb").cast(DoubleType) / col("vol").cast(DoubleType)))
      .select(col("ticker"), col("day"), col("n_buckets"), col("vpin"))
      .orderBy(col("ticker"), col("day"))
  }

  val vpinSql: String = Derive.cte + s""",
      |vp_c AS (
      |  SELECT ticker, $daySqlD AS day, event_id,
      |    CAST(delta AS BIGINT) AS dl,
      |    SUM(ABS(CAST(delta AS BIGINT))) OVER
      |      (PARTITION BY ticker, $daySqlD ORDER BY event_id
      |       ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM ob_deltas),
      |vp_b AS (
      |  SELECT ticker, day, GREATEST(cum - 1, 0) // $VpinBucket AS bucket,
      |    SUM(CASE WHEN dl > 0 THEN dl ELSE 0 END) AS buy,
      |    SUM(CASE WHEN dl < 0 THEN -dl ELSE 0 END) AS sell
      |  FROM vp_c GROUP BY 1, 2, 3)
      |SELECT ticker, day, COUNT(*) AS n_buckets,
      |  CASE WHEN SUM(buy + sell) > 0 THEN
      |    CAST(SUM(ABS(buy - sell)) AS DOUBLE)
      |      / CAST(SUM(buy + sell) AS DOUBLE) END AS vpin
      |FROM vp_b GROUP BY 1, 2
      |ORDER BY ticker, day""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("ob01_snapshot_explode", snapshotExplode, snapshotExplodeSql),
    Op("ob02_delta_flatten", deltaFlatten, deltaFlattenSql),
    Op("ob03_book_asof", bookAsOf, bookAsOfSql),
    Op("ob04_book_running", bookRunning, bookRunningSql),
    Op("ob05_best_bid", bestBid, bestBidSql),
    Op("ob06_spread_mid", spreadMid, spreadMidSql),
    Op("ob07_depth", depth, depthSql),
    Op("ob08_ohlc_daily", ohlcDaily, ohlcDailySql),
    Op("ob09_seq_gaps", seqGaps, seqGapsSql),
    Op("ob10_msg_rate", msgRate, msgRateSql),
    Op("ob11_latency", latency, latencySql),
    Op("ob12_dedup_replay", dedupReplay, dedupReplaySql),
    Op("ob13_dup_audit", dupAudit, dupAuditSql),
    Op("ob14_asof_price", asofPrice, asofPriceSql),
    Op("ob19_asof_tolerance", asofTolerance, asofToleranceSql),
    Op("ob15_vwap", vwap, vwapSql),
    Op("ob16_flow_imbalance", flowImbalance, flowImbalanceSql),
    Op("ob17_microprice", microprice, micropriceSql),
    Op("ob18_realized_var", realizedVariance, realizedVarianceSql),
    Op("ob20_twap", twap, twapSql),
    Op("ob21_price_impact", priceImpact, priceImpactSql),
    Op("ob22_return_autocorr", returnAutocorr, returnAutocorrSql),
    Op("ob23_eff_spread", effectiveSpread, effectiveSpreadSql),
    Op("ob24_amihud", amihud, amihudSql),
    Op("ob25_roll_spread", rollSpread, rollSpreadSql),
    Op("ob26_candle_resample", candleResample, candleResampleSql),
    Op("ob27_variance_ratio", varianceRatio, varianceRatioSql),
    Op("ob28_vpin", vpin, vpinSql),
    Op("ob29_asof_native", asofNative, asofPriceSql),
    Op("ob30_asof_native_strict", asofNativeStrict, asofToleranceSql),
    Op("ob31_book_conservation", bookConservation, bookConservationSql),
    Op("ob32_flow_predictability", flowPredictability, flowPredictabilitySql),
    Op("ob33_weighted_imbalance", weightedImbalance, weightedImbalanceSql),
    Op("ob34_asof_composite", asofComposite, asofCompositeSql),
    Op("ob35_lee_ready", leeReady, leeReadySql),
    Op("ob36_asof_sql", asofSqlTvf, asofPriceSql))
}
