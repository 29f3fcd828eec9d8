package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.orderbook.Fixtures

/** Fixture-replay e2e (SURVEY.md §5.4): NDJSON wire messages through the
  * streaming path, asserting fact-table contents against values computed
  * from the fixture definition. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def writeLines(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.asJava)

  test("streaming replay produces the exact snapshot fact rows") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    writeLines(in, "messages.ndjson", Fixtures.ndjsonLines)
    StreamPipeline.runUnified(spark, in.toString, out.toString)
      .awaitTermination()

    val snaps = spark.read.parquet(s"$out/orderbook_snapshots")
    // 6 snapshots (2 per ticker) × 2 sides × 3 levels
    assert(snaps.count() === 36)
    val expectedContracts =
      Fixtures.snaps.flatMap(s => (s.yes ++ s.no).map(_._2)).sum
    assert(snaps.agg(sum("contracts")).head.getLong(0) === expectedContracts)
    assert(snaps.select("ticker").distinct().count() === 3)
    // one concrete level spot-checked end-to-end (ticker A, seq 1, best yes)
    val lvl = snaps.where(col("redis_stream_id") === "1-1" &&
        col("side") === "yes" && col("price_dollars") === 0.40).head
    assert(lvl.getAs[Int]("contracts") === Fixtures.snaps.head.yes.head._2)
  }

  test("streaming replay produces the exact delta fact rows") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    writeLines(in, "messages.ndjson", Fixtures.ndjsonLines)
    StreamPipeline.runUnified(spark, in.toString, out.toString)
      .awaitTermination()

    val deltas = spark.read.parquet(s"$out/orderbook_deltas")
    assert(deltas.count() === Fixtures.deltas.size)
    val expectedDelta = Fixtures.deltas.map(_.delta.toLong).sum
    assert(deltas.agg(sum("delta")).head.getLong(0) === expectedDelta)
  }

  test("unified single-pass pipeline writes the same fact rows") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    writeLines(in, "messages.ndjson", Fixtures.ndjsonLines)
    StreamPipeline.runUnified(spark, in.toString, out.toString)
      .awaitTermination()
    val snaps = spark.read.parquet(s"$out/orderbook_snapshots")
    val deltas = spark.read.parquet(s"$out/orderbook_deltas")
    assert(snaps.count() === 36)
    assert(deltas.count() === Fixtures.deltas.size)
    assert(deltas.agg(sum("delta")).head.getLong(0) ===
      Fixtures.deltas.map(_.delta.toLong).sum)
  }

  test("restart with the same checkpoint appends nothing (exactly-once)") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    writeLines(in, "messages.ndjson", Fixtures.ndjsonLines)
    StreamPipeline.runUnified(spark, in.toString, out.toString)
      .awaitTermination()
    val n1 = spark.read.parquet(s"$out/orderbook_deltas").count()
    // same input, same checkpoint → the WAL marks every file processed
    StreamPipeline.runUnified(spark, in.toString, out.toString)
      .awaitTermination()
    val n2 = spark.read.parquet(s"$out/orderbook_deltas").count()
    assert(n1 === n2)
  }

  test("stateful seq validation flags exactly the dropped seqs (streaming)") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    // drop seq 5 for every ticker → one gap per subscription
    writeLines(in, "messages.ndjson",
      Fixtures.messages.filterNot {
        case Left(s) => s.seq == 5L
        case Right(d) => d.seq == 5L
      }.map(Fixtures.envelopeJson))
    val msgs = StreamPipeline.readMessages(spark, in.toString)
      .withColumn("ticker", col("msg.market_ticker"))
    val q = SeqValidator.gaps(spark, msgs).writeStream
      .format("memory").queryName("seq_gaps").outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt_gaps")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val gaps = spark.table("seq_gaps").collect()
    assert(gaps.length === 3)
    assert(gaps.forall(r => r.getAs[Long]("expected_seq") === 5L &&
      r.getAs[Long]("seq") === 6L))
  }

  test("cross-batch replay dedup keeps exactly one copy per lineage id") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    // the same wire traffic delivered twice, in different micro-batches
    // (maxFilesPerTrigger=1 forces one file per batch) — the socket
    // reconnect / Redis re-delivery scenario in-batch dedup can't
    // catch. Each file also carries a DISTINCT malformed line (null
    // lineage id): keyless rows must pass through, not collapse.
    writeLines(in, "a.ndjson", Fixtures.ndjsonLines :+ "not json at all")
    writeLines(in, "b.ndjson", Fixtures.ndjsonLines :+ "{\"type\":\"ack\"}")
    val msgs = StreamPipeline.readMessages(spark, in.toString,
      maxFilesPerTrigger = 1)
    val q = StreamPipeline.dedupAcrossBatches(msgs)
      .select("redis_stream_id", "type").writeStream
      .format("memory").queryName("dedup_xbatch").outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt_dx")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dedup_xbatch")
    assert(got.where(col("redis_stream_id").isNotNull).count() ===
      Fixtures.ndjsonLines.size)
    assert(got.select("redis_stream_id").where(col("redis_stream_id")
      .isNotNull).distinct().count() === Fixtures.ndjsonLines.size)
    // both keyless rows survive — they are not duplicates of each other
    assert(got.where(col("redis_stream_id").isNull).count() === 2)
  }

  test("streaming sessionization splits a silence gap into two sessions") {
    val in = tmp("graft-in"); val out = tmp("graft-out")
    // deltas only (snapshot envelopes carry no wire ts → no event time);
    // drop seq 6..15 per ticker → messages 2-5 and 16-20 sit 11 s apart
    // (fixture ts ticks 1 s per message), so a 5 s gap closes a session
    writeLines(in, "messages.ndjson",
      Fixtures.messages.collect {
        case Right(d) if d.seq <= 5 || d.seq >= 16 => Fixtures.envelopeJson(Right(d))
      })
    val q = StreamPipeline.messageSessions(
        StreamPipeline.readMessages(spark, in.toString), gap = "5 seconds")
      .writeStream
      .format("memory").queryName("msg_sessions").outputMode("complete")
      .option("checkpointLocation", s"$out/_ckpt_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("msg_sessions").collect()
    assert(rows.length === Fixtures.tickers.size * 2)
    // first burst = deltas seq 2..5 (4 msgs over 3 s), second = 16..20
    // minus the seq-11-pattern… seq 16..20 are all deltas (5 msgs, 4 s)
    val bySpan = rows.groupBy(r =>
      r.getAs[Long]("session_end") - r.getAs[Long]("session_start"))
    assert(bySpan.keySet === Set(3000L + 5000L, 4000L + 5000L))
    assert(rows.map(_.getAs[Long]("n_msgs")).sorted.toSeq ===
      Seq(4L, 4L, 4L, 5L, 5L, 5L))
  }

  test("seq validation also runs in batch mode with identical semantics") {
    val batch = SeqValidator.gaps(spark,
      graft.orderbook.Derive.deltasWithGaps(spark, "/root/testdata/sf0.001")
        .withColumn("sid", expr("cast(substring(ticker, 2) as long)")))
      .collect()
    // every dropped event_id%13==0 inside a ticker's seq run produces one gap
    assert(batch.nonEmpty)
    assert(batch.forall(g => g.seq > g.expected_seq))
  }
}
