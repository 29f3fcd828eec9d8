package graft.similarity

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** sim09's recall on true semantic duplicates is STRUCTURAL, not
  * probabilistic: a scaled copy keeps its direction, so it lands in its
  * source's IVF cell and scores cosine ≈ 1 ≥ 0.95 — every injected
  * (vec, vec+100000) pair must come out in one cluster with the source
  * as the kept representative. */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  test("every injected scaled copy clusters with (and yields to) its source") {
    val clusters = Similarity.semDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byId = clusters.map(t => t._1 -> t).toMap
    val n = graft.Tables.embeddings(spark, dir).count()
    val injected = (0L until n).filter(_ % 9 == 0)
    assert(injected.nonEmpty)
    injected.foreach { id =>
      val (_, nVecs, maxId) = byId.getOrElse(id,
        fail(s"source $id is not a cluster representative"))
      assert(nVecs >= 2, s"cluster $id lost its copy")
      assert(maxId === id + 100000L, s"cluster $id: unexpected max $maxId")
    }
    // keep rule: every representative is the smallest id in its cluster
    clusters.foreach { case (cid, _, maxId) => assert(cid < maxId) }
  }
}
