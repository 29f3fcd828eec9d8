package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** dd23 semantic pins beyond the hash gate: the split is actually
  * LEAKAGE-PROOF (no verified near-dup pair straddles two splits —
  * re-checked against the pair set, not just argued from construction),
  * covers every document exactly once, and lands all three splits in
  * sane proportions at cluster granularity. */
class ClusterSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.01"

  test("no verified near-dup pair straddles splits; coverage exact") {
    val asg = Dedup.clusterSplit(spark, dir)
    val n = Dedup.docsAug(spark, dir).count()
    assert(asg.count() == n, "split assignment lost or duplicated docs")
    val byDoc = asg.select(col("doc_id").as("id"), col("split"))
    val pairs = Dedup.minhashLsh(spark, dir)
    val leaked = pairs
      .join(byDoc.withColumnRenamed("split", "sa"),
        pairs("id_a") === byDoc("id")).drop("id")
      .join(byDoc.withColumnRenamed("split", "sb"),
        col("id_b") === col("id"))
      .where(col("sa") =!= col("sb"))
      .count()
    assert(leaked == 0L, s"$leaked verified pairs straddle splits")
    // all three splits present and train dominates (80/10/10 at
    // cluster granularity; the fixture has ~hundreds of clusters)
    val dist = asg.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist.keySet == Set("train", "val", "test"),
      s"missing split class: $dist")
    assert(dist("train") > dist("val") && dist("train") > dist("test"),
      s"train does not dominate: $dist")
  }
}
