package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Op, Tables}

/** Partition PRUNING as an oracle-gated operator (op03): the
  * directory-partitioned layout + partition-filter scan that lets a
  * 100 TB table answer a one-status query by never LISTING the other
  * statuses' files — the filter is resolved against the directory
  * names at planning time (`PartitionFilters` in the scan, pinned in
  * PlanSpec), so cost scales with the selected partition, not the
  * table. CompactionSpec pins the same property on the writer side;
  * this registers the read side in the correctness registry.
  *
  * The partitioned copy is the fixture, not the operator: one
  * deterministic per-corpus dir (same overwrite discipline as q49 —
  * no per-invocation leak), the oracle recomputes from the base
  * table. */
object Pruning {

  private val dec = DecimalType(18, 2)

  def partitionPruned(s: SparkSession, d: String): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-part-$digest")
    Tables.orders(s, d)
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(dir.toString)
    s.read.parquet(dir.toString)
      .where(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec)).cast(DoubleType).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val partitionPrunedSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- op06
  /** DYNAMIC partition pruning (op06): op03's filter is a literal the
    * planner resolves against directory names; here the set of live
    * partitions is only known at RUNTIME — it comes out of a dim-side
    * aggregate (event types whose mean value beats the corpus mean).
    * Spark broadcasts the dim result and injects a
    * `dynamicpruningexpression` into the fact scan's PartitionFilters
    * (pinned in PlanSpec), so the 100 TB fact table reads ONLY the
    * qualifying types' directories — the mechanism that makes
    * star-schema fact⋈dim joins partition-cheap without hand-written
    * literals. Oracle recomputes from the base table.
    *
    * Threshold comparison is cross-multiplied exact decimals
    * (SUM_type · N_total > SUM_total · n_type), never a float AVG — a
    * borderline type must land identically in both engines. */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    // content-fingerprint keys (not a path digest): the fixture copies
    // are written once per corpus but must invalidate on in-place
    // testdata regeneration, same contract as the Seams artifacts
    val fp = graft.Seams.corpusFingerprint(d)
    val factDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-dpp-fact-$fp")
    val dimDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-dpp-dim-$fp")
    val base = Tables.events(s, d)
    if (!java.nio.file.Files.exists(factDir.resolve("_SUCCESS")))
      base.write.mode("overwrite").partitionBy("event_type")
        .parquet(factDir.toString)
    // the dim FIXTURE: per-type stats with an above-corpus-mean flag,
    // decided by cross-multiplied exact decimals (never a float AVG —
    // a borderline type must land identically in both engines); the
    // oracle CTE recomputes it from the base table
    if (!java.nio.file.Files.exists(dimDir.resolve("_SUCCESS"))) {
      val vdec = col("value").cast(DecimalType(18, 6))
      val tot = base.agg(
        sum(vdec).as("sum_all"), count(lit(1)).as("n_all"))
      base.groupBy(col("event_type"))
        .agg(sum(vdec).as("sum_t"), count(lit(1)).as("n_t"))
        .crossJoin(broadcast(tot))
        .select(col("event_type"),
          // INT flag, filtered with an = comparison: a bare boolean
          // filter simplifies to a naked attribute, which Spark's
          // isLikelySelective() does not treat as a pruning filter and
          // the DPP rule silently declines
          when(col("sum_t") * col("n_all") >
            col("sum_all") * col("n_t"), 1).otherwise(0)
            .cast(org.apache.spark.sql.types.IntegerType).as("above_mean"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dimDir.toString)
    }
    // conf isolation (op05's pattern): DPP's cost model compares the
    // estimated pruned bytes against the dim subtree's cost — correct
    // at 100 TB where a partition is GBs, but a KB-scale fixture scan
    // always loses the comparison and the rule silently declines. The
    // fixture pins the MECHANISM (the runtime pruning subquery in
    // PartitionFilters, asserted in PlanSpec), so stats-based
    // second-guessing is disabled on this query's OWN session and the
    // fallback ratio mirrors the multi-GB regime.
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    s2.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "5.0")
    val fact = s2.read.parquet(factDir.toString)
    val dim = s2.read.parquet(dimDir.toString)
      .where(col("above_mean") === 1).select(col("event_type"))
    fact.join(broadcast(dim), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast(DoubleType).as("total"))
      .orderBy(col("event_type"))
  }

  val dppJoinSql: String =
    """WITH tot AS (
      |  SELECT SUM(CAST(value AS DECIMAL(18,6))) AS sum_all,
      |    COUNT(*) AS n_all FROM events),
      |dim AS (
      |  SELECT event_type
      |  FROM events, tot
      |  GROUP BY event_type, tot.sum_all, tot.n_all
      |  HAVING SUM(CAST(value AS DECIMAL(18,6))) * tot.n_all
      |       > tot.sum_all * COUNT(*))
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- op13
  /** Z-ORDER file pruning (op13): the read side of
    * [[Compaction.compactZOrdered]], registered so the 2-D layout's
    * whole point — a filter on the SECOND clustering dimension prunes
    * files, which single-key clustering structurally cannot do — is
    * under the oracle, not just CompactionSpec. The fixture is a
    * z-ordered (user_id, ts_ms) copy of events, ~1k rows/file (≥10
    * files at sf0.01); the query band-filters ts_ms (the second
    * interleave argument) to the middle fifth of its domain, so the
    * scan's pushed range predicate can only be answered cheaply if
    * the per-file ts_ms [min,max] actually cluster — a plain or
    * user_id-sorted layout leaves every file's ts span ≈ the whole
    * domain. CompactionZOrderPruneSpec pins the file-count reduction
    * on this exact fixture+predicate; the oracle recomputes from the
    * base table.
    *
    * Band bounds are integer arithmetic on the base table's min/max
    * epoch-millis ((3·mn+2·mx) div 5 … (2·mn+3·mx) div 5) — exact and
    * engine-identical, never a float quantile. */
  def zorderScan(s: SparkSession, d: String): DataFrame = {
    val dir = zorderFixture(s, d)
    val r = Tables.events(s, d)
      .agg(min(col("ts_ms")), max(col("ts_ms"))).head
    // an EMPTY events corpus has NULL bounds — band over an empty
    // domain selects nothing, matching the oracle's empty result
    val (mn, mx) =
      if (r.isNullAt(0)) (1L, 0L) else (r.getLong(0), r.getLong(1))
    // floorDiv, not '/': the oracle spells '//' (floor division), and
    // for pre-1970 corpora 3·mn+2·mx is negative — Scala '/' truncates
    // toward zero and would land 1 ms above DuckDB's floor.
    val (lo, hi) = (Math.floorDiv(3 * mn + 2 * mx, 5),
      Math.floorDiv(2 * mn + 3 * mx, 5))
    s.read.parquet(dir.toString)
      .where(col("ts_ms") >= lo && col("ts_ms") <= hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6)))
          .cast(DoubleType).as("total"))
      .orderBy(col("event_type"))
  }

  /** Writes (once per corpus content-fingerprint) the z-ordered events
    * copy op13 reads; shared with the pruning spec so the pinned
    * file-count reduction is measured on the registered fixture. */
  def zorderFixture(s: SparkSession, d: String): java.nio.file.Path = {
    val fp = graft.Seams.corpusFingerprint(d)
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-zord-$fp")
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
      Compaction.compactZOrdered(
        Tables.events(s, d)
          .select("event_id", "user_id", "ts_ms", "event_type", "value"),
        col("user_id"), col("ts_ms"), targetRows = 1000L)
        .write.mode("overwrite").parquet(dir.toString)
    dir
  }

  val zorderScanSql: String =
    """WITH b AS (
      |  SELECT MIN(epoch_ms(ts)) AS mn, MAX(epoch_ms(ts)) AS mx
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM events, b
      |WHERE epoch_ms(ts) >= (3 * b.mn + 2 * b.mx) // 5
      |  AND epoch_ms(ts) <= (2 * b.mn + 3 * b.mx) // 5
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("op03_partition_pruned", partitionPruned, partitionPrunedSql,
      Set(Op.IoLayout)),
    Op("op06_dpp_join", dppJoin, dppJoinSql, Set(Op.IoLayout)),
    Op("op13_zorder_scan", zorderScan, zorderScanSql, Set(Op.IoLayout)))
}
