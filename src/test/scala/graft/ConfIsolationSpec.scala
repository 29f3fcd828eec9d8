package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query code must not change the session it is handed: the replay
  * harness runs its streams on a scoped `newSession()`, and op04 plans
  * on its own session. A leaked conf (the state-store provider was
  * once left on RocksDB for good after st01) silently re-plans every
  * later query on the session, and two replays sharing one session
  * under [[Par]] would race on it. */
class ConfIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  test("replays and op04 leave the caller's session conf unchanged") {
    Seq("st01_stream_ivf", "st03_stream_sessions", "st12_stream_tickerstats",
        "st20_stream_emit", "op04_runtime_filter").foreach { name =>
      val before = spark.conf.getAll
      assert(rows(name).nonEmpty, s"$name returned no rows")
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
      assert(changed.isEmpty, s"$name changed the session conf: $changed")
    }
  }

  test("st01 (RocksDB) and st03 (HDFS-backed) overlap under Par and " +
      "each matches its solo result") {
    val st01 = "st01_stream_ivf"
    val st03 = "st03_stream_sessions"
    val solo01 = rows(st01)
    val solo03 = rows(st03)
    val f01 = Par.async(rows(st01))
    val f03 = Par.async(rows(st03))
    assert(Par.await(f01) === solo01)
    assert(Par.await(f03) === solo03)
  }
}
