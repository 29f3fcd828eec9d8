package graft

import org.scalatest.funsuite.AnyFunSuite

/** The application-end cache drain (r16/r17 advice hygiene): the
  * JVM-wide [[Seams.memo]] entries must not outlive the SparkContext
  * when a session dies without calling resetCaches — GraftSession
  * registers a SparkListener whose onApplicationEnd drops every entry.
  * Pinned by firing the listener directly (stopping the shared test
  * context would tax every later suite; the listener's only behavior
  * IS the drain call). */
class CacheDrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  test("drain drops populated operator-cache entries and is idempotent") {
    // populate the dedup signature + pair caches for a throwaway
    // session that never calls resetCaches — the leak shape
    val s = spark.newSession()
    graft.dedup.Dedup.ngramJaccard(s, dir).collect()
    val dropped = Seams.releaseAll()
    assert(dropped >= 2,
      s"expected at least the sig + pair entries dropped, got $dropped")
    assert(Seams.releaseAll() === 0,
      "second drain found entries the first should have removed")
  }

  test("the listener's application-end hook performs the drain") {
    val s = spark.newSession()
    graft.dedup.Dedup.ngramJaccard(s, dir).collect()
    new GraftSession.CacheDrainListener().onApplicationEnd(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(Seams.releaseAll() === 0,
      "listener fired but entries survived")
  }
}
