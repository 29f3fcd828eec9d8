package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-7 lesson into the harness itself: a crashing query
  * must surface as a RED row in Verify's artifact (an `_ERROR`-marked
  * output dir), never as a silently-missing key. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val sf = "/root/testdata/sf0.001"

  test("a deliberately-broken query leaves an _ERROR marker; good ones dump parquet") {
    val out = Files.createTempDirectory("graft-verifyspec").toString
    val good: (SparkSession, String) => DataFrame =
      (s, d) => Tables.region(s, d)
    val analysisCrash: (SparkSession, String) => DataFrame =
      (s, d) => Tables.region(s, d).selectExpr("no_such_column + 1")
    val runtimeCrash: (SparkSession, String) => DataFrame =
      (s, _) => {
        import s.implicits._
        Seq("boom").toDF("v").selectExpr(
          "assert_true(v != 'boom', 'deliberate') AS x")
      }
    // resetBetween=false: the shared test context runs suites in
    // parallel, and dump's context-wide unpersist would race their
    // in-flight localCheckpoint blocks (see Verify.dump scaladoc);
    // the red-row behavior under pin here doesn't involve the reset
    val failed = Verify.dump(spark, sf, out, Seq(
      "vx_good" -> good,
      "vx_analysis_crash" -> analysisCrash,
      "vx_runtime_crash" -> runtimeCrash), resetBetween = false)
    assert(failed.toSet == Set("vx_analysis_crash", "vx_runtime_crash"))
    // good query: parquet present, no marker
    assert(spark.read.parquet(s"$out/vx_good").count() > 0)
    assert(!Files.exists(Paths.get(s"$out/vx_good/_ERROR")))
    // broken queries: dir EXISTS with an _ERROR marker naming the query —
    // a reader that iterates output dirs sees a red row, not a gap
    for (n <- Seq("vx_analysis_crash", "vx_runtime_crash")) {
      val marker = Paths.get(s"$out/$n/_ERROR")
      assert(Files.exists(marker), s"$n missing its _ERROR marker")
      assert(Files.readString(marker).startsWith(n))
    }
  }

  test("Verify's registry is the full SparkEntry surface (no silent subsetting)") {
    // main() dumps SparkEntry.queries verbatim when no prefix filter is
    // passed (the driver passes none) — pin the registry size here so a
    // refactor that drops a module from the aggregation turns this red.
    assert(SparkEntry.queries.size >= 143,
      s"registry shrank to ${SparkEntry.queries.size} — a module fell out " +
        "of SparkEntry.queries aggregation")
    // (oracle⊆queries + exemption bookkeeping is EntrySpec's job)
  }
}
