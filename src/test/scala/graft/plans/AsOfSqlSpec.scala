package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The `graft_asof` SQL table function: pure-SQL reach into the native
  * as-of operator (TVF builder → unresolved AsOfSqlNode → resolution
  * rule → the same AsOfJoinNode.build core as the DataFrame API).
  * Equality with the API path is the contract; the oracle gate pins
  * ob36 against DuckDB separately. */
class AsOfSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  import spark.implicits._

  private def setupViews(): Unit = {
    Seq(("A", 10L, 1), ("A", 20L, 2), ("A", 30L, 3),
      ("B", 15L, 4), ("C", 5L, 5)).toDF("k", "ts", "trade_id")
      .createOrReplaceTempView("asql_trades")
    Seq(("A", 5L, 100), ("A", 20L, 200), ("A", 25L, 250),
      ("B", 99L, 900), ("D", 1L, 111)).toDF("qk", "qts", "px")
      .createOrReplaceTempView("asql_quotes")
  }

  test("SQL graft_asof equals the DataFrame-API native as-of") {
    setupViews()
    val sql = spark.sql(
      """SELECT k, ts, trade_id, px FROM graft_asof(
        |  'asql_trades', 'asql_quotes', 'k', 'qk', 'ts', 'qts')""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    val api = AsOf.join(spark.table("asql_trades"),
        spark.table("asql_quotes"), "k", "qk", "ts", "qts")
      .select($"k", $"ts", $"trade_id", $"px")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    assert(sql === api)
    assert(sql === Set(("A", 10L, 1, 100), ("A", 20L, 2, 200),
      ("A", 30L, 3, 250), ("B", 15L, 4, -1), ("C", 5L, 5, -1)))
  }

  test("the SQL path plans the NATIVE exec, composes with further SQL, " +
    "and honors the strict flag") {
    setupViews()
    val df = spark.sql(
      """SELECT k, COUNT(px) AS n_matched FROM graft_asof(
        |  'asql_trades', 'asql_quotes', 'k', 'qk', 'ts', 'qts', true)
        |GROUP BY k ORDER BY k""".stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "SQL path did not plan the native exec")
    // strict: A@20 no longer matches the equal-ts quote@20 -> quote@5
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === Set(("A", 3L), ("B", 0L), ("C", 0L)))
  }

  test("composite keys spell as comma-joined lists") {
    Seq(("A", "yes", 20L, 1), ("A", "no", 20L, 2))
      .toDF("k", "side", "ts", "id")
      .createOrReplaceTempView("asql_cl")
    Seq(("A", "yes", 5L, 100), ("A", "no", 10L, 200))
      .toDF("qk", "qside", "qts", "px")
      .createOrReplaceTempView("asql_cr")
    val rows = spark.sql(
      """SELECT id, px FROM graft_asof('asql_cl', 'asql_cr',
        |  'k,side', 'qk,qside', 'ts', 'qts')""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rows === Set((1, 100), (2, 200)))
  }

  test("errors are loud and early: unknown relation, unknown column, " +
    "non-literal argument, wrong arity") {
    setupViews()
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof('no_such_view', 'asql_quotes', " +
        "'k', 'qk', 'ts', 'qts')").collect())
    assert(e1.getMessage.toLowerCase.contains("no_such_view"))
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof('asql_trades', 'asql_quotes', " +
        "'nope', 'qk', 'ts', 'qts')").collect())
    assert(e2.getMessage.contains("no column 'nope'"))
    val e3 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof('asql_trades', 'asql_quotes', " +
        "upper('k'), 'qk', 'ts', 'qts')").collect())
    assert(e3.getMessage.contains("string literal"))
    val e4 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof('asql_trades', 'asql_quotes')").collect())
    assert(e4.getMessage.contains("6 or 7 arguments"))
  }
}
