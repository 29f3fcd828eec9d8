package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.orderbook.Fixtures

/** The live-book state operator against a plain-Scala reference model
  * of the same snapshot-reset/delta-apply semantics. */
class LiveBookSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  /** Reference model: replay one ticker's messages in seq order. */
  private def model(t: String): (Map[(String, Int), Int], Long) = {
    var levels = Map.empty[(String, Int), Int]
    var lastSeq = 0L
    Fixtures.messages.collect {
      case Left(s) if s.ticker == t => Left(s)
      case Right(d) if d.ticker == t => Right(d)
    }.sortBy(_.fold(_.seq, _.seq)).foreach {
      case Left(s) =>
        levels = (s.yes.map { case (p, c) =>
            ("yes", math.round(p * 100).toInt) -> c } ++
          s.no.map { case (p, c) =>
            ("no", math.round(p * 100).toInt) -> c }).toMap
        lastSeq = s.seq
      case Right(d) =>
        val k = (d.side, d.priceCents)
        val q = levels.getOrElse(k, 0) + d.delta
        levels = if (q == 0) levels.removed(k) else levels.updated(k, q)
        lastSeq = d.seq
    }
    (levels, lastSeq)
  }

  private def expectedTop(t: String): (Int, Int, Int, Int, Int) = {
    val (levels, _) = model(t)
    def best(side: String) = levels.collect {
      case ((s, p), q) if s == side => (p, q)
    }.maxByOption(_._1).getOrElse((-1, 0))
    val (yp, yq) = best("yes"); val (np, nq) = best("no")
    (yp, yq, np, nq, levels.size)
  }

  test("batch replay: final top-of-book matches the reference model") {
    val msgs = StreamPipeline.parseMessages(spark, Fixtures.ndjsonLines)
    val out = LiveBook.topOfBook(spark, msgs).collect()
      .map(r => r.ticker -> r).toMap
    Fixtures.tickers.foreach { t =>
      val (yp, yq, np, nq, n) = expectedTop(t)
      val r = out(t)
      assert((r.best_yes_cents, r.best_yes_qty, r.best_no_cents,
        r.best_no_qty, r.n_levels) === ((yp, yq, np, nq, n)), t)
    }
  }

  test("streaming replay: state carries across micro-batches") {
    val in = Files.createTempDirectory("graft-lb-in")
    val ck = Files.createTempDirectory("graft-lb-ck")
    // 6 files of 10 messages; maxFilesPerTrigger=1 → 6 micro-batches,
    // so every ticker's book is built incrementally across batches
    Fixtures.ndjsonLines.grouped(10).zipWithIndex.foreach { case (g, i) =>
      Files.write(in.resolve(f"part-$i%02d.ndjson"), g.asJava)
    }
    val q = LiveBook.topOfBook(spark,
        StreamPipeline.readMessages(spark, in.toString, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("live_book")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("live_book").collect()
    // multiple emissions per ticker (one per batch that touched it)
    assert(rows.length > Fixtures.tickers.size, "state never re-emitted")
    Fixtures.tickers.foreach { t =>
      val last = rows.filter(_.getAs[String]("ticker") == t)
        .maxBy(_.getAs[Long]("last_seq"))
      val (yp, yq, np, nq, n) = expectedTop(t)
      assert((last.getAs[Int]("best_yes_cents"),
        last.getAs[Int]("best_yes_qty"),
        last.getAs[Int]("best_no_cents"),
        last.getAs[Int]("best_no_qty"),
        last.getAs[Int]("n_levels")) === ((yp, yq, np, nq, n)), t)
    }
  }

  test("live book state runs identically on the RocksDB state store") {
    // the provider a production cluster runs: state off-heap in RocksDB
    // (bounded executor memory at any key count) instead of the
    // HDFS-backed in-memory default
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = Files.createTempDirectory("graft-rdb-in")
      val ck = Files.createTempDirectory("graft-rdb-ck")
      Fixtures.ndjsonLines.grouped(10).zipWithIndex.foreach { case (g, i) =>
        Files.write(in.resolve(f"part-$i%02d.ndjson"), g.asJava)
      }
      val q = LiveBook.topOfBook(spark,
          StreamPipeline.readMessages(spark, in.toString, maxFilesPerTrigger = 1))
        .writeStream.format("memory").queryName("live_book_rocks")
        .outputMode("append")
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table("live_book_rocks").collect()
      Fixtures.tickers.foreach { t =>
        val last = rows.filter(_.getAs[String]("ticker") == t)
          .maxBy(_.getAs[Long]("last_seq"))
        val (yp, yq, np, nq, n) = expectedTop(t)
        assert((last.getAs[Int]("best_yes_cents"),
          last.getAs[Int]("best_yes_qty"),
          last.getAs[Int]("best_no_cents"),
          last.getAs[Int]("best_no_qty"),
          last.getAs[Int]("n_levels")) === ((yp, yq, np, nq, n)), t)
      }
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("watermarked per-minute message rate matches the batch rollup") {
    val in = Files.createTempDirectory("graft-wm-in")
    val ck = Files.createTempDirectory("graft-wm-ck")
    // two files → two batches, so the watermark (advanced after batch 1)
    // can close batch-1 windows during batch 2; zero lateness because
    // the fixture spans only a minute of event time
    Fixtures.ndjsonLines.grouped(30).zipWithIndex.foreach { case (g, i) =>
      Files.write(in.resolve(f"part-$i%02d.ndjson"), g.asJava)
    }
    val q = LiveBook.messageRatePerMinute(
        StreamPipeline.readMessages(spark, in.toString, maxFilesPerTrigger = 1),
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("msg_rate")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("msg_rate")
      .select("window_start", "ticker", "n_msgs").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    val batch = LiveBook.messageRatePerMinute(
        StreamPipeline.parseMessages(spark, Fixtures.ndjsonLines))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    // Append-mode windows flush only when the watermark passes them; on
    // a finite replay the last open window stays buffered, so streaming
    // output is a prefix-subset of the batch rollup.
    assert(streamed.subsetOf(batch))
    assert(streamed.nonEmpty && batch.nonEmpty)
  }
}
