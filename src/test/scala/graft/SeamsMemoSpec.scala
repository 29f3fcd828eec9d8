package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Seams.memo]] is the one owner of every (session, corpus) value the
  * operators share across queries. Pinned here: builds nest (the pair
  * seam's build asks for the signature memo), concurrent [[Par]] arms
  * build once, a failed build is not cached, and release drops exactly
  * one session's entries and frames. */
class SeamsMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val corpus = "seams-memo-spec"

  test("a build that calls another memo completes") {
    val s = spark.newSession()
    val got = Seams.memo(s, corpus, "outer") {
      Seams.memo(s, corpus, "inner")(20) + 1
    }
    assert(got === 21)
    assert(Seams.memo[Int](s, corpus, "inner")(fail("inner rebuilt")) === 20)
    Seams.release(s)
  }

  test("two Par callers of one key run the build once") {
    val s = spark.newSession()
    val builds = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    def call() = Seams.memo(s, corpus, "shared") {
      builds.incrementAndGet()
      started.countDown()
      gate.await()
      "built"
    }
    val a = Par.async(call())
    started.await()
    val b = Par.async(call()) // arrives while a's build is still running
    Thread.sleep(100)
    gate.countDown()
    assert(Par.await(a) === "built")
    assert(Par.await(b) === "built")
    assert(builds.get === 1)
    Seams.release(s)
  }

  test("a build that throws is retried on the next call") {
    val s = spark.newSession()
    val boom = new IllegalStateException("seam build failed")
    val caught = intercept[IllegalStateException] {
      Seams.memo[Int](s, corpus, "flaky")(throw boom)
    }
    assert(caught eq boom)
    assert(Seams.memo(s, corpus, "flaky")(7) === 7)
    assert(Seams.memo[Int](s, corpus, "flaky")(fail("rebuilt")) === 7)
    Seams.release(s)
  }

  test("release(s1) unpersists s1's frames and leaves s2's entries") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    // distinct plans: the cache manager is shared by all sessions and
    // matches frames by plan, so equal plans would share one entry
    def frame(s: SparkSession, n: Int) =
      Seams.memo(s, corpus, "frame")(s.range(n).toDF("id").persist())
    val (f1, f2) = (frame(s1, 10), frame(s2, 11))
    assert(f1.count() === 10 && f2.count() === 11)
    assert(f1.storageLevel !== StorageLevel.NONE)

    Seams.release(s1)
    assert(f1.storageLevel === StorageLevel.NONE, "s1's frame still cached")
    assert(f2.storageLevel !== StorageLevel.NONE, "s2's frame unpersisted")
    assert(Seams.memo[DataFrame](s2, corpus, "frame")(fail("s2 dropped")) eq f2)
    assert(frame(s1, 10) ne f1, "s1's entry survived release")
    Seams.release(s1)
    Seams.release(s2)
  }

  test("releaseAll drops every entry and is idempotent") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    Seams.memo(s1, corpus, "a")(1)
    Seams.memo(s2, corpus, "b")(s2.range(3).toDF().persist())
    assert(Seams.releaseAll() >= 2)
    assert(Seams.releaseAll() === 0)
  }
}
