package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Op, Tables}

/** Spark's OWN runtime bloom-filter injection as an oracle-gated
  * operator (op04) — the optimizer-automated twin of dd10's hand-built
  * Bloom route: a selective filter sits on the CREATION side (orders
  * pruned to one urgent status) of a fact⋈fact shuffle join, and the
  * `InjectRuntimeFilter` rule plants a `BloomFilterAggregate` subquery
  * over the filtered keys whose `might_contain` probe prunes the PROBE
  * side (lineitem) map-side, before the join shuffle moves a row.
  * This is the regime where the dimension is too big to broadcast at
  * 100 TB (so a true broadcast join is off the table) but its KEY SET
  * sketches into megabytes — exactly dd10's argument, now produced by
  * the engine's optimizer rule instead of by hand.
  *
  * Conf isolation: injection is gated on thresholds tuned for clusters
  * (probe scan ≥ 10 GB), so the query runs on its own `newSession()`
  * with them lowered to local-data scale and broadcast disabled — the
  * whole point is the non-broadcastable join. Every action on the
  * returned frame plans under these confs; the caller's session keeps
  * its stock ones. PlanSpec pins `might_contain` in the plan.
  */
object RuntimeFilter {

  private val dec = DecimalType(18, 2)

  def runtimeFiltered(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = Tables.orders(s2, d)
      .where(col("o_orderpriority") === "1-URGENT" &&
             col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val li = Tables.lineitem(s2, d)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_quantity"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast(DoubleType).as("qty"))
      .orderBy(col("l_linestatus"))
  }

  val runtimeFilteredSql: String =
    """SELECT l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("op04_runtime_filter", runtimeFiltered, runtimeFilteredSql))
}
