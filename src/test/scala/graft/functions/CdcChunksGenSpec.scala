package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The UDTF surface: the custom graft_cdc_chunks GENERATOR must emit
  * byte-identical chunk digests to the declarative
  * hex/substring/md5-over-cuts spelling (mm07/mm08's oracle shape),
  * work from SQL via LATERAL VIEW, and skip null payloads. */
class CdcChunksGenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  import spark.implicits._

  private def payloads = Seq(
    (1L, "the quick brown fox jumps over the lazy dog, repeatedly, " * 8),
    (2L, ""),                  // empty payload: one zero-length chunk
    (3L, "short"),             // below the hash window: one chunk
    (4L, "the quick brown fox jumps over the lazy dog, repeatedly, " * 8)
  ).toDF("media_id", "txt").select(col("media_id"),
    col("txt").cast("binary").as("payload"))

  test("generator digests equal the declarative cuts spelling") {
    val viaGen = payloads
      .select(col("media_id"),
        expr("graft_cdc_chunks(payload)").as(Seq("dg", "blen")))
      .select(col("media_id"), col("dg"), col("blen"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq
    val viaCuts = payloads
      .select(col("media_id"), hex(col("payload")).as("hx"),
        call_function("graft_cdc_cuts", col("payload")).as("cuts"))
      .select(col("media_id"), posexplode(expr(
        """transform(sequence(0, size(cuts) - 2),
             k -> struct(
               md5(substring(hx, element_at(cuts, k + 1) * 2 + 1,
                 (element_at(cuts, k + 2) - element_at(cuts, k + 1)) * 2))
                 AS dg,
               (element_at(cuts, k + 2) - element_at(cuts, k + 1))
                 AS blen))""")))
      .select(col("media_id"), col("col.dg"), col("col.blen"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq
    assert(viaGen.nonEmpty && viaGen.sorted === viaCuts.sorted)
    // the repeated long payload must actually chunk (>1 row)
    assert(viaGen.count(_._1 == 1L) > 1, "long payload did not chunk")
    // blen sums back to payload length
    assert(viaGen.filter(_._1 == 1L).map(_._3).sum ===
      payloads.where($"media_id" === 1).select(length($"payload"))
        .head().getInt(0))
  }

  test("usable from SQL text via LATERAL VIEW; null payload emits no rows") {
    payloads.createOrReplaceTempView("cdc_gen_fixture")
    val n = spark.sql(
      """SELECT media_id, c.dg, c.blen
        |FROM cdc_gen_fixture
        |LATERAL VIEW graft_cdc_chunks(payload) c AS dg, blen""".stripMargin)
      .count()
    assert(n > 4, "lateral view produced too few chunk rows")
    val withNull = Seq((9L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val rows = withNull
      .select(expr("graft_cdc_chunks(payload)").as(Seq("dg", "blen")))
      .count()
    assert(rows === 0, "null payload must generate nothing")
  }

  test("identical payloads share every chunk digest") {
    val dgs = payloads
      .select(col("media_id"),
        expr("graft_cdc_chunks(payload)").as(Seq("dg", "blen")))
      .groupBy(col("media_id"))
      .agg(sort_array(collect_list(col("dg"))).as("dgs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(dgs(1L) === dgs(4L))
  }
}
