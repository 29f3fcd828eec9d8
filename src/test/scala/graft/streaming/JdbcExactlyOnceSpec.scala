package graft.streaming

import java.nio.file.Files
import java.sql.DriverManager
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.orderbook.{Fixtures, Normalize}

/** The transactional upgrade of A14/A15: the reference's
  * insert-then-XDEL commit (consumer.py:98-107) duplicates rows when a
  * crash lands between the insert and the XDEL; [[JdbcSink.appendExactlyOnce]]
  * makes the JDBC fact sink idempotent per (query_id, batch_id) so a
  * re-delivered micro-batch is a no-op — NO dropDuplicates anywhere in
  * the path. Exercised against embedded Derby: same df.write.jdbc /
  * driver-transaction code path Postgres would get.
  */
class JdbcExactlyOnceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  private def derby(): (String, Properties) = {
    val dir = Files.createTempDirectory("graft-derby-eo")
    dir.toFile.deleteOnExit()
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    (s"jdbc:derby:${dir.resolve("db")};create=true", props)
  }

  private def facts() = Normalize.flattenDeltas(
    Normalize.parseDeltaEntries(Fixtures.deltaEntries(spark)))

  private def rowCount(url: String, props: Properties, table: String): Long = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  test("re-delivered batch is a no-op; distinct batches both land") {
    val (url, props) = derby()
    val df = facts()
    val n = df.count()
    assert(JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 0L))
    assert(rowCount(url, props, "orderbook_deltas") === n)
    // the replay: same query, same batch id → skipped before any write
    assert(!JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 0L))
    assert(rowCount(url, props, "orderbook_deltas") === n)
    // a NEW batch id appends normally
    assert(JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 1L))
    assert(rowCount(url, props, "orderbook_deltas") === 2 * n)
    // stage is drained after every successful promotion
    assert(rowCount(url, props, "orderbook_deltas_stage") === 0)
  }

  test("junk from a crashed half-staged attempt never reaches the facts") {
    val (url, props) = derby()
    val df = facts()
    val n = df.count()
    // batch 0 lands normally (also creates the tables)
    JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 0L)
    // an attempt at batch 1 "crashed" mid-staging-load: its junk rows
    // sit in the stage, no commit-log row, facts untouched
    val conn = DriverManager.getConnection(url, props)
    try {
      conn.createStatement().executeUpdate(
        """INSERT INTO orderbook_deltas_stage ("timestamp", "ticker",
          | "side", "price_dollars", "delta", "redis_stream_id",
          | "query_id", "batch_id")
          | VALUES (1, 'JUNK', 'yes', 0.5, 1, 'junk-1', 'q1', 1)""".stripMargin)
    } finally conn.close()
    // the retry of batch 1 must clear the junk, then land the batch once
    assert(JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 1L))
    assert(rowCount(url, props, "orderbook_deltas") === 2 * n)
    assert(rowCount(url, props, "orderbook_deltas_stage") === 0)
    val conn2 = DriverManager.getConnection(url, props)
    try {
      val rs = conn2.createStatement().executeQuery(
        """SELECT COUNT(*) FROM orderbook_deltas WHERE "ticker" = 'JUNK'""")
      rs.next(); assert(rs.getLong(1) === 0L)
    } finally conn2.close()
  }

  test("killed-and-restarted stream re-delivers a batch; facts stay " +
    "duplicate-free with zero dropDuplicates") {
    val (url, props) = derby()
    val in = Files.createTempDirectory("graft-eo-in")
    val ckpt = Files.createTempDirectory("graft-eo-ckpt").toString
    in.toFile.deleteOnExit()
    // one file per micro-batch (maxFilesPerTrigger=1) → 3 batches
    Fixtures.ndjsonLines.grouped(
        (Fixtures.ndjsonLines.size + 2) / 3).zipWithIndex.foreach {
      case (lines, i) => Files.write(in.resolve(f"m$i%02d.ndjson"), lines.asJava)
    }
    def run(): Unit = {
      val q = JdbcSink.factStream(
        StreamPipeline.routeDeltas(
          StreamPipeline.readMessages(spark, in.toString, maxFilesPerTrigger = 1)),
        url, "orderbook_deltas", JdbcSink.deltaColumnTypes, props, ckpt)
      q.awaitTermination()
      // AvailableNow self-stops, but deregistration from the active-query
      // map (which guards the checkpoint) is async — drain it before the
      // restart, else the engine reports a phantom concurrent query
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    run()
    val expected = Fixtures.deltas.size.toLong
    assert(rowCount(url, props, "orderbook_deltas") === expected)

    // kill-and-restart with a torn checkpoint: the last batch's engine
    // commit file is gone, so Structured Streaming RE-EXECUTES that
    // batch with the same batch id on restart — the at-least-once
    // delivery the sink must absorb
    val commits = new java.io.File(ckpt, "commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).sortBy(_.getName)
    assert(commits.length >= 2, "need >=2 committed batches to tear one")
    assert(commits.last.delete())
    // the local checksum fs shadows every file with .N.crc — drop it too
    // or the re-run's atomic rename trips over the stale checksum
    new java.io.File(ckpt + "/commits", "." + commits.last.getName + ".crc")
      .delete()
    run()

    val back = spark.read.jdbc(url, "orderbook_deltas", props)
    assert(back.count() === expected)
    val dupIds = back.groupBy("redis_stream_id")
      .agg(count(lit(1)).as("n")).where(col("n") > 1).count()
    assert(dupIds === 0L, "re-delivered batch duplicated fact rows")
  }

  test("the full reference topology, exactly once: durable queue -> " +
    "decode -> route -> transactional JDBC, across producer epochs " +
    "and a consumer restart") {
    val (url, props) = derby()
    val qdir = Files.createTempDirectory("graft-eo-queue").toString
    val ckpt = Files.createTempDirectory("graft-eo-qckpt").toString

    val all = Fixtures.genMessages(Seq("KXEO-A", "KXEO-B"), 30)
      .map(Fixtures.envelopeJson)
    val (first, second) = all.splitAt(40)
    val nDeltas = Fixtures.genMessages(Seq("KXEO-A", "KXEO-B"), 30)
      .count(_.isRight).toLong

    def runOnce(): Unit = {
      val q = JdbcSink.factStream(
        StreamPipeline.routeDeltas(
          new Connectors.QueueMessageSource(qdir).messages(spark)),
        url, "orderbook_deltas", JdbcSink.deltaColumnTypes, props, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    }

    // producer epoch 1 → consume → producer epoch 2 (consumer down) →
    // consume again from the checkpoint
    QueueLog.append(qdir, first)
    runOnce()
    QueueLog.append(qdir, second)
    runOnce()

    val back = spark.read.jdbc(url, "orderbook_deltas", props)
    assert(back.count() === nDeltas, "loss or duplication across epochs")
    assert(back.select("redis_stream_id").distinct().count() === nDeltas)
  }
}
