package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** op17 pins beyond the hash gate: the bucketed two-level prefix-max
  * must equal the textbook all-pairs dominance semantics computed
  * INDEPENDENTLY in Spark (the oracle already cross-checks via DuckDB;
  * this catches a regression without a DuckDB in the loop), including
  * the tie rule (equal pairs co-survive), and the frontier must be a
  * genuine anti-chain. */
class SkylineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.01"

  test("bucketed skyline equals all-pairs dominance and is an anti-chain") {
    val got = Skyline.skylineSelect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // independent brute force over the same axes
    val f = graft.Tables.documents(spark, dir).selectExpr(
      "doc_id",
      s"""4 * cast(size(array_distinct(split(text, ' '))) as bigint)
          + 8 * cast(size(filter(split(text, ' '),
              t -> t IN ('the','a','of'))) as bigint)
          - (case when size(split(text, ' '))
               >= ${graft.text.TextAnalysis.MinTokens} then 2 else 5 end)
            * cast(size(split(text, ' ')) as bigint) as s""",
      "n_chars as c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = f.filter { case (_, s, c) =>
      !f.exists { case (_, s2, c2) =>
        s2 >= s && c2 >= c && (s2 > s || c2 > c) }
    }.sortBy(t => (-t._2, t._1))
    assert(got.toSeq == brute.toSeq)
    // anti-chain: no kept row weakly dominates another except as a tie
    for ((a, i) <- got.zipWithIndex; (b, j) <- got.zipWithIndex if i != j)
      assert(!(a._2 >= b._2 && a._3 >= b._3 && (a._2 > b._2 || a._3 > b._3)),
        s"$a dominates kept row $b")
  }

  test("tie rule: duplicate frontier points co-survive") {
    import spark.implicits._
    val rows = Seq((1L, 10L, 5L), (2L, 10L, 5L), (3L, 10L, 4L),
      (4L, 9L, 6L), (5L, 8L, 6L)).toDF("doc_id", "sscore", "n_chars")
    val kept = Skyline.frontierOf(rows)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // (10,5)×2 co-survive; (10,4) dominated by them; (9,6) survives
    // (nothing has both higher score and ≥ length); (8,6) dominated by
    // (9,6)
    assert(kept == Set(1L, 2L, 4L))
  }
}
