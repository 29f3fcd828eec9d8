package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** sim36 — durable IVF store + daily append. The DuckDB gate pins the
  * big theorem (store-carried assignments == from-scratch reassignment
  * under the frozen quantizer, per-cell id_checksum exact). This spec
  * pins what the gate structurally can't:
  *  - the append stage NEVER RESCANS HISTORY EMBEDDINGS: fed
  *    parquet-backed stores and a parquet increment, its plan's file
  *    scans exclude the embeddings table entirely (dd25's
  *    CurationIncSpec discipline on the ANN side);
  *  - parquet store roundtrip changes nothing — the census from
  *    persisted stores equals the in-process derivation;
  *  - multi-day ASSOCIATIVITY: folding day-1 through the store
  *    handoff then appending day-2 equals the one-shot append over
  *    the union. Trivially true while the append is a per-vector
  *    deterministic union; the pin is what keeps it true if the
  *    append ever grows order-dependent logic (re-centroiding,
  *    rebalancing). */
class IvfStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  private def inc() = {
    graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
      .where(col("vec_id") % 5 === 0)
  }

  test("the append plan never scans history embeddings, and the " +
      "parquet store roundtrip is the same census") {
    val tmp = Files.createTempDirectory("graft-sim36-stores")
    tmp.toFile.deleteOnExit()
    val (cent, assigns) = Similarity.sim36Stores(spark, dir)
    cent.write.mode("overwrite").parquet(s"$tmp/cent")
    assigns.write.mode("overwrite").parquet(s"$tmp/assign")
    inc().write.mode("overwrite").parquet(s"$tmp/inc")
    val fromParquet = Similarity.ivfStoreCensusFrom(
      spark.read.parquet(s"$tmp/cent"),
      spark.read.parquet(s"$tmp/assign"),
      spark.read.parquet(s"$tmp/inc"))
    val scanned = fromParquet.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scanned.nonEmpty, "no file scans found in the plan")
    assert(!scanned.exists(_.contains("embeddings")),
      s"append plan rescans history embeddings: " +
        scanned.filter(_.contains("embeddings")).take(3).mkString(", "))
    val viaStores = fromParquet.collect().map(_.toSeq).toSeq
    val inProcess = Similarity.ivfStoreCensus(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaStores === inProcess,
      "parquet store roundtrip changed the census")
  }

  test("sim39: the store-consuming drift audit scans no embeddings on " +
      "the history side and equals sim34's full recompute row-for-row") {
    val tmp = Files.createTempDirectory("graft-sim39-stores")
    tmp.toFile.deleteOnExit()
    val (cent, assigns) = Similarity.sim36Stores(spark, dir)
    cent.write.mode("overwrite").parquet(s"$tmp/cent")
    assigns.write.mode("overwrite").parquet(s"$tmp/assign")
    inc().write.mode("overwrite").parquet(s"$tmp/inc")
    val fromParquet = Similarity.ivfStoreDriftFrom(
      spark.read.parquet(s"$tmp/cent"),
      spark.read.parquet(s"$tmp/assign"),
      spark.read.parquet(s"$tmp/inc"))
    val scanned = fromParquet.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(!scanned.exists(_.contains("embeddings")),
      "store-consuming drift audit rescans embeddings")
    val viaStores = fromParquet.collect().map(_.toSeq).toSeq
    val recompute = Similarity.ivfAppend(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaStores === recompute,
      "store-based drift audit diverged from sim34's full recompute")
  }

  test("multi-day associativity: day-1 through the store handoff then " +
      "day-2 equals the one-shot append over the union") {
    val (cent, a0) = Similarity.sim36Stores(spark, dir)
    val all = inc()
    val day1 = all.where(col("vec_id") % 2 === 0)
    val day2 = all.where(col("vec_id") % 2 =!= 0)
    assert(day1.count() > 0 && day2.count() > 0, "degenerate day split")
    val oneShot = Similarity.ivfStoreCensusFrom(cent, a0, all)
      .collect().map(_.toSeq).toSeq
    val a1 = Similarity.ivfStoreAppendFrom(cent, a0, day1)
    val chained = Similarity.ivfStoreCensusFrom(cent, a1, day2)
      .collect().map(_.toSeq).toSeq
    assert(chained === oneShot,
      "chained day-1/day-2 append diverged from the one-shot append")
  }
}
