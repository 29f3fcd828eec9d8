package graft.orderbook

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.{SeqValidator, StreamPipeline}

/** Degenerate-input robustness: the pipeline must be total — empty
  * batches (idle poll), single messages, and all-duplicate batches
  * (worst-case at-least-once replay) all flow through without error. */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  test("empty message batch yields empty fact tables, not errors") {
    val msgs = StreamPipeline.parseMessages(spark, Seq.empty)
    assert(StreamPipeline.routeSnapshots(msgs).count() === 0)
    assert(StreamPipeline.routeDeltas(msgs).count() === 0)
    assert(StreamPipeline.deadLetters(msgs).count() === 0)
  }

  test("a single message round-trips alone") {
    val one = StreamPipeline.parseMessages(spark,
      Seq(Fixtures.envelopeJson(Fixtures.messages.head)))
    assert(StreamPipeline.routeSnapshots(one).count() === 6) // 2 sides × 3
    assert(SeqValidator.gaps(spark,
      one.withColumn("ticker", col("msg.market_ticker"))).count() === 0)
  }

  test("an all-duplicates batch dedups to one logical message") {
    val line = Fixtures.envelopeJson(Fixtures.messages.last)
    val dup = StreamPipeline.parseMessages(spark, Seq.fill(50)(line))
    val deduped = Normalize.dedupReplays(
      StreamPipeline.routeDeltas(dup), Seq("redis_stream_id"))
    assert(deduped.count() === 1)
  }

  test("empty text produces empty shingle sets, not crashes") {
    val r = spark.sql(
      "SELECT graft_shingle_hashes('') AS a, graft_shingle_hashes('ab') AS b, graft_minhash32(array()) AS m")
      .head
    assert(r.getAs[scala.collection.Seq[Long]]("a").isEmpty)
    assert(r.getAs[scala.collection.Seq[Long]]("b").isEmpty)
    // minhash of the empty set: all permutation minima degenerate
    assert(r.getAs[scala.collection.Seq[Long]]("m").length === 32)
  }
}
