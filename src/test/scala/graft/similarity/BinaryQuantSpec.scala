package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** sim23 (binary sign-bit quantization ANN) and sim24 (multi-iteration
  * Lloyd k-means) semantic pins that the DuckDB hash gate can't express:
  * the bit-packing matches an independent Scala fold (incl. the bit-63
  * two's-complement wrap), the re-rank stage reports TRUE cosines, and
  * Lloyd's monotone-SSE / member-conservation invariants hold. */
class BinaryQuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  test("sim23 sign-bit packing matches an independent Scala fold") {
    val packed = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("sig", expr(
        """aggregate(sequence(0, cast(size(embedding) as int) - 1),
          |  cast(0 as bigint),
          |  (acc, i) -> acc + (CASE WHEN element_at(embedding, i + 1) > 0F
          |    THEN shiftleft(cast(1 as bigint), i)
          |    ELSE cast(0 as bigint) END))""".stripMargin))
      // the native codegen'd expression sim23 actually ships must agree
      // with both the HOF spelling and the Scala reference fold
      .withColumn("sig_native", call_function("graft_sign_pack",
        expr("transform(embedding, x -> cast(x as double))")))
      .limit(50).collect()
    assert(packed.nonEmpty)
    var sawBit63 = false
    packed.foreach { r =>
      val e = r.getSeq[Float](1)
      val ref = e.indices.foldLeft(0L) { (acc, i) =>
        if (e(i) > 0f) acc + (1L << i) else acc // 1L<<63 wraps to MinValue
      }
      assert(r.getLong(2) == ref, s"vec ${r.getLong(0)} sig mismatch")
      assert(r.getLong(3) == ref,
        s"vec ${r.getLong(0)} native graft_sign_pack diverged from the fold")
      if (e.length == 64 && e(63) > 0f) sawBit63 = true
    }
    // the fixture must actually exercise the sign bit (sig < 0 branch)
    assert(sawBit63, "no sampled vector set bit 63 — wrap path untested")
  }

  test("sim23 re-rank cosines are exact (match a from-scratch scorer)") {
    val out = Similarity.binaryHamming(spark, dir)
      .select("query_id", "neighbor_id", "cosine").collect()
    assert(out.nonEmpty)
    val n = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    val exact = n.select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"))
      .join(n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nc")), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", call_function("graft_vec_dot", col("eq"), col("ec"))
        / (col("nq") * col("nc")))
      .select("query_id", "neighbor_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(exact(k) == r.getDouble(2), s"cosine drift at $k")
    }
  }

  test("sim24 Lloyd invariants: monotone SSE, conserved members, k cells") {
    val stats = Similarity.kmeansLloyd(spark, dir).collect()
    val byIter = stats.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    assert(byIter.map(_._1) == Seq(1, 2, 3))
    val corpus = byIter.head._2.map(_.getLong(2)).sum
    byIter.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sum == corpus, "members not conserved")
      assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    }
    val sse = byIter.map(_._2.map(_.getLong(3)).sum)
    assert(sse == sse.sorted.reverse, s"SSE not non-increasing: $sse")
  }
}
