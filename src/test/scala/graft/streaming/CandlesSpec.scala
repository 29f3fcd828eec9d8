package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.orderbook.Fixtures

/** Streaming OHLC: candles assembled across micro-batch boundaries must
  * equal the batch rollup of the same deltas, and append mode must emit
  * each candle exactly once (only after the watermark closes its
  * window). A far-future flush message advances the watermark past
  * every fixture window so all candles emit. */
class CandlesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  test("streamed candles equal the batch OHLC of the same deltas, " +
    "one emission per window") {
    val in = Files.createTempDirectory("graft-candle-in")
    val out = Files.createTempDirectory("graft-candle-out")
    in.toFile.deleteOnExit(); out.toFile.deleteOnExit()
    // two fixture files → the second batch's deltas must amend candles
    // whose state opened in the first; then a flush line far in the
    // future closes every fixture window
    val (a, b) = Fixtures.ndjsonLines.splitAt(Fixtures.ndjsonLines.size / 2)
    val flushTs = Fixtures.deltas.map(_.ingestionTs).max + 40 * 60 * 1000L
    val flush =
      s"""{"type":"orderbook_delta","sid":99,"seq":1,""" +
      s""""msg":{"market_ticker":"TFLUSH","market_id":"m-99",""" +
      s""""price":1,"price_dollars":0.01,"delta":1,"side":"yes",""" +
      s""""ts":$flushTs}}"""
    Files.write(in.resolve("a.ndjson"), a.asJava)
    Files.write(in.resolve("b.ndjson"), b.asJava)
    Files.write(in.resolve("c.ndjson"), Seq(flush).asJava)
    in.resolve("a.ndjson").toFile.setLastModified(
      System.currentTimeMillis() - 120000)
    in.resolve("b.ndjson").toFile.setLastModified(
      System.currentTimeMillis() - 60000)
    val q = StreamPipeline.candles(
        StreamPipeline.readMessages(spark, in.toString, maxFilesPerTrigger = 1))
      .writeStream
      .format("memory").queryName("candles").outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("candles")
      .collect()
      .map(r => (r.getAs[String]("ticker"), r.getAs[Long]("bucket_start")) ->
        (r.getAs[Int]("open"), r.getAs[Int]("high"), r.getAs[Int]("low"),
          r.getAs[Int]("close"), r.getAs[Long]("n_ticks")))
    // exactly-once per window
    assert(got.map(_._1).distinct.length === got.length,
      "a candle emitted more than once")
    // batch twin over the same fixture deltas
    val expected = Fixtures.deltas.groupBy(d =>
        (d.ticker, d.ingestionTs / 60000L * 60000L))
      .map { case (k, ds) =>
        val bySeq = ds.sortBy(_.seq)
        k -> (bySeq.head.priceCents, ds.map(_.priceCents).max,
          ds.map(_.priceCents).min, bySeq.last.priceCents, ds.size.toLong)
      }
    assert(got.toMap === expected, "streamed candles diverge from batch")
    assert(got.nonEmpty)
  }

  test("chained 1m→5m resample inside one streaming query equals the " +
    "batch 5-minute rollup, one emission per window") {
    val in = Files.createTempDirectory("graft-resample-in")
    val out = Files.createTempDirectory("graft-resample-out")
    in.toFile.deleteOnExit(); out.toFile.deleteOnExit()
    val (a, b) = Fixtures.ndjsonLines.splitAt(Fixtures.ndjsonLines.size / 2)
    val flushTs = Fixtures.deltas.map(_.ingestionTs).max + 40 * 60 * 1000L
    val flush =
      s"""{"type":"orderbook_delta","sid":99,"seq":1,""" +
      s""""msg":{"market_ticker":"TFLUSH","market_id":"m-99",""" +
      s""""price":1,"price_dollars":0.01,"delta":1,"side":"yes",""" +
      s""""ts":$flushTs}}"""
    Files.write(in.resolve("a.ndjson"), a.asJava)
    Files.write(in.resolve("b.ndjson"), b.asJava)
    Files.write(in.resolve("c.ndjson"), Seq(flush).asJava)
    in.resolve("a.ndjson").toFile.setLastModified(
      System.currentTimeMillis() - 120000)
    in.resolve("b.ndjson").toFile.setLastModified(
      System.currentTimeMillis() - 60000)
    val q = StreamPipeline.candlesResampled(
        StreamPipeline.readMessages(spark, in.toString, maxFilesPerTrigger = 1))
      .writeStream
      .format("memory").queryName("candles5m").outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("candles5m")
      .collect()
      .map(r => (r.getAs[String]("ticker"), r.getAs[Long]("bucket_start")) ->
        (r.getAs[Int]("open"), r.getAs[Int]("high"), r.getAs[Int]("low"),
          r.getAs[Int]("close"), r.getAs[Long]("n_ticks")))
    assert(got.map(_._1).distinct.length === got.length,
      "a 5m candle emitted more than once")
    // batch twin: the SAME fixture deltas rolled straight to 5 minutes
    val expected = Fixtures.deltas.groupBy(d =>
        (d.ticker, d.ingestionTs / 300000L * 300000L))
      .map { case (k, ds) =>
        val bySeq = ds.sortBy(_.seq)
        k -> (bySeq.head.priceCents, ds.map(_.priceCents).max,
          ds.map(_.priceCents).min, bySeq.last.priceCents, ds.size.toLong)
      }
    assert(got.toMap === expected,
      "chained-resample candles diverge from the direct 5m batch rollup")
    assert(got.nonEmpty)
  }
}
