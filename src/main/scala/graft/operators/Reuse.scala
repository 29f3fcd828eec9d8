package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Op, Tables}

/** op09 — EXCHANGE REUSE under the oracle gate: when one query consumes
  * the SAME shuffled subtree twice, the engine must shuffle it once and
  * read it twice (`ReusedExchange` / AQE stage reuse) — at 100 TB the
  * difference between one fact-scale shuffle and two. The registered
  * shape is the report-with-summary-footer: per-(day, type) detail rows
  * UNION a per-type summary (total events, peak daily value), BOTH
  * computed from one daily rollup.
  *
  * Getting actual reuse is a design constraint, not an accident —
  * canonical plan identity is fragile, and the first spelling of this
  * query (a day-over-day SELF-JOIN on a shifted key) silently shuffled
  * twice: the join's inferred `isnotnull(day_ms + 86400000)` filter
  * pushed into one side's scan and column pruning dropped the unused
  * aggregate from the other, so the two exchange subtrees stopped
  * canonicalizing equal. The union spelling has no join (no asymmetric
  * inferred filters) and its summary consumes EVERY detail column
  * (`max(sum_value)` keeps the double; `sum(n)` keeps the count), so
  * pruning cannot diverge the partial aggregates. PlanSpec pins the
  * ReusedExchange/stage-reuse node so a regression that re-splits the
  * shuffle fails the suite, not a 100 TB bill.
  *
  * Determinism: the summary's `max` over doubles is order-independent
  * (unlike a double re-sum); totals rows carry day_ms = −1. */
object Reuse {

  private val dec = DecimalType(18, 2)

  def exchangeReuse(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(unix_millis(date_trunc("day", col("ts"))).as("day_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast(DoubleType).as("sum_value"))
    val totals = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), max(col("sum_value")).as("sum_value"))
      .select(lit(-1L).as("day_ms"), col("event_type"), col("n"),
        col("sum_value"))
    daily.select(col("day_ms"), col("event_type"), col("n"),
        col("sum_value"))
      .unionByName(totals)
      .orderBy(col("day_ms"), col("event_type"))
  }

  val exchangeReuseSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, event_type,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT day_ms, event_type, n, sum_value FROM daily
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS day_ms, event_type,
      |  CAST(SUM(n) AS BIGINT) AS n, MAX(sum_value) AS sum_value
      |FROM daily GROUP BY event_type
      |ORDER BY day_ms, event_type""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("op09_exchange_reuse", exchangeReuse, exchangeReuseSql))
}
