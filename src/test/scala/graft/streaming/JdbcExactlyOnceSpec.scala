package graft.streaming

import java.nio.file.Files
import java.sql.DriverManager
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Par, TestSpark}
import graft.orderbook.{Fixtures, Normalize}

/** The transactional upgrade of A14/A15: the reference's
  * insert-then-XDEL commit (consumer.py:98-107) duplicates rows when a
  * crash lands between the insert and the XDEL; [[JdbcSink.appendExactlyOnce]]
  * makes the JDBC fact sink idempotent per (query_id, batch_id) so a
  * re-delivered micro-batch is a no-op — NO dropDuplicates anywhere in
  * the path. Exercised against embedded Derby: the same single-task
  * JDBC transaction (receipt first, then the rows) Postgres would get.
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

  private def longQuery(url: String, props: Properties, sql: String): Long = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  private def rowCount(url: String, props: Properties, table: String): Long =
    longQuery(url, props, s"SELECT COUNT(*) FROM $table")

  private def receipts(url: String, props: Properties, qid: String,
      batchId: Long): Long =
    longQuery(url, props, s"""SELECT COUNT(*) FROM ${JdbcSink.commitLogTable}
      | WHERE "query_id" = '$qid' AND "batch_id" = $batchId""".stripMargin)

  private def tableNames(url: String, props: Properties): Seq[String] = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      try Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toList
      finally rs.close()
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
    // rows go straight into the fact table: no staging table exists
    val tables = tableNames(url, props)
    assert(tables.contains("ORDERBOOK_DELTAS"))
    assert(!tables.exists(_.endsWith("_STAGE")), tables)
  }

  test("junk from a crashed half-staged attempt never reaches the facts") {
    val (url, props) = derby()
    val df = facts()
    val n = df.count()
    // batch 1's last row overflows `ticker VARCHAR(50)`: the insert
    // fails mid-batch, and with batchSize 1 the rows sent before it are
    // already inside the transaction that fails
    val bad = df.union(df.limit(1).withColumn("ticker", lit("X" * 60)))
    intercept[Exception](JdbcSink.appendExactlyOnce(bad, url,
      "orderbook_deltas", JdbcSink.deltaColumnTypes, props, "q1", 1L,
      batchSize = 1))
    // the failed attempt rolled back whole: no fact row, no receipt
    assert(rowCount(url, props, "orderbook_deltas") === 0L)
    assert(receipts(url, props, "q1", 1L) === 0L)
    // the clean retry of batch 1 lands it exactly once
    assert(JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 1L))
    assert(!JdbcSink.appendExactlyOnce(df, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 1L))
    assert(rowCount(url, props, "orderbook_deltas") === n)
    assert(receipts(url, props, "q1", 1L) === 1L)
  }

  test("an empty batch commits its receipt alone; its replay is a no-op") {
    val (url, props) = derby()
    val df = facts()
    // folded to an empty relation at planning time, and empty only once
    // it runs: both must leave exactly one receipt and no row
    val empties = Seq(df.where(lit(false)),
      df.where(col("ticker") === "NO-SUCH-TICKER"))
    empties.zipWithIndex.foreach { case (e, b) =>
      assert(JdbcSink.appendExactlyOnce(e, url, "orderbook_deltas",
        JdbcSink.deltaColumnTypes, props, "q1", b.toLong))
      assert(!JdbcSink.appendExactlyOnce(e, url, "orderbook_deltas",
        JdbcSink.deltaColumnTypes, props, "q1", b.toLong))
      assert(receipts(url, props, "q1", b.toLong) === 1L)
    }
    assert(rowCount(url, props, "orderbook_deltas") === 0L)
  }

  test("NULL in every nullable fact column round-trips as SQL NULL") {
    val (url, props) = derby()
    val cols = facts().columns.toSeq
    // row i is NULL in column i only
    val withNulls = cols.indices.map { i =>
      facts().limit(1).withColumn(cols(i), lit(null).cast(
        facts().schema(cols(i)).dataType))
    }.reduce(_ union _)
    assert(JdbcSink.appendExactlyOnce(withNulls, url, "orderbook_deltas",
      JdbcSink.deltaColumnTypes, props, "q1", 0L))
    assert(rowCount(url, props, "orderbook_deltas") === cols.size.toLong)
    cols.foreach { c =>
      assert(longQuery(url, props, "SELECT COUNT(*) FROM orderbook_deltas " +
        s"""WHERE "$c" IS NULL""") === 1L, c)
    }
  }

  test("two sinks starting together on a fresh database both land") {
    val df = facts()
    val n = df.count()
    val tables = Seq("orderbook_deltas", "orderbook_deltas_b")
    // the CREATE race is timing-dependent: several fresh databases,
    // two sinks released together on each, with their fact tables made
    // beforehand so the shared commit log is the only table they race on
    (1 to 4).foreach { _ =>
      val (url, props) = derby()
      tables.foreach(t => JdbcSink.append(df.limit(0), url, t,
        JdbcSink.deltaColumnTypes, props))
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = tables.map { t =>
        Par.async {
          start.await()
          JdbcSink.appendExactlyOnce(df, url, t, JdbcSink.deltaColumnTypes,
            props, s"q-$t", 0L)
        }
      }
      start.countDown()
      // both raced to create the shared commit log; neither may fail
      assert(results.map(Par.await(_)) === Seq(true, true))
      tables.foreach(t => assert(rowCount(url, props, t) === n))
    }
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
