package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The coarse-quantizer width must be a real parameter, not a fixture
  * literal: `spark.graft.ivfCells` set → that many cells; unset → ⌈√n⌉.
  * The check compares sim03 against an independent window-ranked
  * re-implementation with the cell count hand-inlined — same cells in,
  * same neighbors out — so it fails both if the conf is ignored and if
  * the default diverges from ⌈√n⌉. */
class SimCellsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  /** sim03 re-spelled with Window row_number ranking and an explicit
    * cell count — shares no ranking/selection code with the engine. */
  private def refIvf(s: SparkSession, d: String, cells: Long): DataFrame = {
    val n = graft.Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    val cent = n.where(col("vec_id") < cells)
      .select(col("vec_id").as("pid"), col("e").as("ce"),
        col("nrm").as("cnrm"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("pid"))
    val assigned = n.crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("e"), col("ce"))
          / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("pid").as("cell"))
    val c = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    assigned.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("cell"))
      .join(c, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
      .withColumn("rnk", row_number().over(wRank).cast("int"))
      .where(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  test("spark.graft.ivfCells set → sim03 uses exactly that many cells") {
    val key = Similarity.IvfCellsKey
    spark.conf.set(key, "3")
    try {
      val got = rows(Similarity.ivfAnn(spark, dir))
      assert(got === rows(refIvf(spark, dir, 3L)),
        "sim03 ignored a non-default ivfCells=3")
      // and the conf genuinely changes the answer vs another width
      assert(got !== rows(refIvf(spark, dir, 8L)),
        "cells=3 and cells=8 coincide — fixture can't distinguish widths")
    } finally spark.conf.unset(key)
  }

  test("spark.graft.ivfCells unset → default is ceil(sqrt(corpus rows))") {
    spark.conf.unset(Similarity.IvfCellsKey)
    // the default is defined over the NONZERO-NORM corpus (the frame
    // the engine actually quantizes), not the raw table row count
    val n = graft.Tables.embeddings(spark, dir)
      .where(expr(
        "aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * x) > 0"))
      .count()
    val expected = math.ceil(math.sqrt(n.toDouble)).toLong
    assert(rows(Similarity.ivfAnn(spark, dir)) ===
      rows(refIvf(spark, dir, expected)),
      s"default cell count is not ceil(sqrt($n)) = $expected")
  }

  test("sim10 k-means step honors the conf: partition of the corpus, " +
    "centroid set bounded by cells") {
    val key = Similarity.IvfCellsKey
    spark.conf.set(key, "4")
    try {
      val out = Similarity.kmeansStep(spark, dir).collect()
      val cells = out.map(_.getLong(0)).distinct
      assert(cells.length <= 4 && cells.forall(_ < 4L),
        s"conf=4 but cells ${cells.mkString(",")}")
      // the assignment is a PARTITION: per dim, member counts sum to
      // the nonzero-norm corpus size
      val nz = graft.Tables.embeddings(spark, dir)
        .where(expr(
          "aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * x) > 0"))
        .count()
      val dims = out.map(_.getInt(1)).distinct
      dims.foreach { dim =>
        val total = out.filter(_.getInt(1) == dim).map(_.getLong(2)).sum
        assert(total === nz, s"dim $dim member counts sum to $total != $nz")
      }
    } finally spark.conf.unset(key)
  }

  test("sim08 honors the conf too (cells flow through the graph build)") {
    val key = Similarity.IvfCellsKey
    spark.conf.set(key, "2")
    try {
      // with 2 cells every vector has ≥1 same-cell neighbor on this
      // fixture → one row per (vector, rank≤2); distinct cells ≤ 2
      val out = Similarity.knnGraph(spark, dir)
      val cells = Similarity.ivfAnn(spark, dir)
        .select(col("cell")).distinct().count()
      assert(cells <= 2, s"conf=2 but $cells distinct cells probed")
      assert(out.count() > 0)
    } finally spark.conf.unset(key)
  }
}
