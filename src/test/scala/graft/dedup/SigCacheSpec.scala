package graft.dedup

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.{Seams, TestSpark}

/** The durable signature seam: with [[graft.Seams.CacheDirKey]] set, the
  * shingle→minhash stage is written to parquet ONCE and every later
  * session reads the artifact back instead of recomputing — the shape
  * that survives session restarts and executor loss at 100 TB, where
  * the signature pass is the expensive CPU hop. */
class SigCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  private def ls(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try {
      val it = s.iterator()
      val out = Seq.newBuilder[Path]
      while (it.hasNext) out += it.next()
      out.result()
    } finally s.close()
  }

  private def artifactFiles(cache: Path): Map[String, Long] = {
    val sig = ls(cache)
      .find(_.getFileName.toString.startsWith("minhash-sig-"))
    assert(sig.isDefined, "no signature artifact written")
    ls(sig.get).map(f =>
      f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap
  }

  test("sigCacheDir writes the artifact once; a second session reuses " +
    "it untouched and produces identical pairs") {
    // baseline: the session-scoped (non-durable) answer
    val expected = Dedup.ngramJaccard(spark, dir).collect().toSeq

    val cache = Files.createTempDirectory("graft-sigcache")
    cache.toFile.deleteOnExit()

    // "session 1": durable path populates the artifact
    val s1 = spark.newSession()
    s1.conf.set(Seams.CacheDirKey, cache.toString)
    val got1 = Dedup.ngramJaccard(s1, dir).collect().toSeq
    assert(got1 === expected)
    val after1 = artifactFiles(cache)
    assert(after1.contains("_SUCCESS"), s"incomplete artifact: $after1")

    // "session 2": a fresh session (cold sig memo entry) must REUSE the
    // artifact — byte-for-byte untouched — not recompute or rewrite it
    val s2 = spark.newSession()
    s2.conf.set(Seams.CacheDirKey, cache.toString)
    val got2 = Dedup.ngramJaccard(s2, dir).collect().toSeq
    assert(got2 === expected)
    assert(artifactFiles(cache) === after1,
      "second session rewrote the signature artifact instead of reusing it")

    // dd05/dd07 stay green on the durable path too (shared pair seam)
    assert(Dedup.minhashLsh(s2, dir).collect().toSeq ===
      Dedup.minhashLsh(spark, dir).collect().toSeq)
    assert(Dedup.dupClusters(s2, dir).collect().toSeq ===
      Dedup.dupClusters(spark, dir).collect().toSeq)

    Seams.release(s1)
    Seams.release(s2)
  }
}
