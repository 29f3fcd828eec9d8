package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** graft_topk must equal the row_number()-window spelling row for row —
  * the exactness claim the similarity queries' oracles rest on. The
  * input is spread over many partitions so the ObjectHashAggregate
  * partial/merge path (serialize → shuffle → deserialize → merge) is
  * actually exercised, not just a single-buffer update loop. */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  private def scored(n: Int, nQueries: Int) = {
    spark.range(0, n, 1, 16).selectExpr(
      s"id % $nQueries AS query_id",
      "id AS neighbor_id",
      // deterministic pseudo-scores with deliberate collisions (% 7) so
      // the unique-tiebreak path is hit, plus an extra payload column
      s"cast(hash(id) % 7 as double) AS sc",
      "cast(id * 3 as double) AS extra")
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sc").desc, col("neighbor_id"))
    df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sc"), col("extra"),
        col("rnk").cast("int").as("rnk"))
  }

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("query_id"))
      .agg(call_function("graft_topk", col("sc"), col("neighbor_id"),
        struct(col("neighbor_id"), col("sc"), col("extra")), lit(k))
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.neighbor_id"), col("col.sc"),
        col("col.extra"), (col("pos") + 1).cast("int").as("rnk"))

  test("graft_topk equals the window top-k, ranks and payload included") {
    val df = scored(5000, 7)
    val ord = Seq(col("query_id"), col("rnk"))
    assert(viaAgg(df, 5).orderBy(ord: _*).collect().toSeq ===
      viaWindow(df, 5).orderBy(ord: _*).collect().toSeq)
  }

  test("groups smaller than k emit all rows; k = 1 emits the max") {
    val df = scored(40, 25) // 1-2 rows per query
    val ord = Seq(col("query_id"), col("rnk"))
    assert(viaAgg(df, 5).orderBy(ord: _*).collect().toSeq ===
      viaWindow(df, 5).orderBy(ord: _*).collect().toSeq)
    assert(viaAgg(df, 1).orderBy(ord: _*).collect().toSeq ===
      viaWindow(df, 1).orderBy(ord: _*).collect().toSeq)
  }

  test("null scores and null tiebreaks are skipped, not ranked") {
    val df = spark.range(0, 100, 1, 8).selectExpr(
      "id % 2 AS query_id",
      "id AS neighbor_id",
      "CASE WHEN id % 10 = 0 THEN NULL ELSE cast(id as double) END AS sc",
      "cast(0 as double) AS extra")
    val got = viaAgg(df, 3).collect()
    assert(got.length === 6)
    // nulls never beat real scores: top ids are the largest non-null ids
    assert(got.map(_.getLong(1)).toSet === Set(99L, 98L, 97L, 96L, 95L, 94L))
  }

  test("bad arguments are rejected at analysis, not as a runtime CCE") {
    val df = scored(10, 2)
    def agg(scoreE: String, tieE: String, kE: String) =
      df.groupBy("query_id").agg(expr(
        s"graft_topk($scoreE, $tieE, struct(neighbor_id, sc), $kE)"))
    // non-literal k
    val e1 = intercept[Exception](agg("sc", "neighbor_id", "query_id").collect())
    assert(e1.getMessage.contains("literal"), e1.getMessage)
    // wrong score type (string)
    val e2 = intercept[Exception](
      agg("cast(sc as string)", "neighbor_id", "3").collect())
    assert(e2.getMessage.contains("DOUBLE"), e2.getMessage)
    // non-positive k
    val e3 = intercept[Exception](agg("sc", "neighbor_id", "0").collect())
    assert(e3.getMessage.contains("positive"), e3.getMessage)
    // -0.0 score ranks identically to +0.0 (ties fall to the tiebreak)
    val z = df.selectExpr("query_id", "neighbor_id",
      "CASE WHEN neighbor_id % 2 = 0 THEN -0.0D ELSE 0.0D END AS sc",
      "cast(0 as double) AS extra")
    val ord = Seq(col("query_id"), col("rnk"))
    assert(viaAgg(z, 3).orderBy(ord: _*).collect().toSeq ===
      viaWindow(z, 3).orderBy(ord: _*).collect().toSeq)
  }

  test("the plan is an ObjectHashAggregate with a map-side partial stage") {
    val df = viaAgg(scored(5000, 7), 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }
}
