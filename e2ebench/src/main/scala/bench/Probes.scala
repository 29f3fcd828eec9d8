package bench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, File}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.orderbook.Normalize
import graft.streaming.{JdbcSink, QueueLog, StreamPipeline, WsWire}

/** Timed calls into each ingest layer's public functions, one layer at
  * a time, outside the pipeline. `small` is a paced-size batch (what
  * one paced micro-batch carries), `large` a drain-size batch (the
  * producer's `maxLinesPerTrigger`). Each probe returns raw samples. */
final class Probes(spark: SparkSession, work: File, feed: Feed) {
  private val small = 100
  private val large = 10000

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** `WsWire.readFrame` over pre-encoded server frames held in memory:
    * ns per frame, one sample per repetition. */
  def wire(reps: Int = 7): Seq[Double] = {
    val bos = new ByteArrayOutputStream()
    feed.lines.foreach(l =>
      WsWire.writeFrame(bos, WsWire.Opcode.Text, l.getBytes(UTF_8), None))
    val bytes = bos.toByteArray
    val n = feed.lines.size
    (0 until reps).map { _ =>
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      time { var i = 0; while (i < n) { WsWire.readFrame(in, false); i += 1 } } *
        1e6 / n
    }.drop(2)
  }

  /** `QueueLog.append` (fsync included) of small segments, in ms each;
    * then large segments, as MB/s; then `QueueLog.readLines` over the
    * large segments, as lines/s. */
  def queue(smallReps: Int = 30, largeReps: Int = 5): Map[String, Any] = {
    val dir = new File(work, "probe-queue").toString
    val s = feed.lines.take(small)
    val appendMs = (0 until smallReps).map(_ => time(QueueLog.append(dir, s)))
    val l = feed.lines.take(large)
    val mb = l.map(_.length + 1L).sum / 1e6
    val largeMs = (0 until largeReps).map(_ => time(QueueLog.append(dir, l)))
    val segs = QueueLog.segments(dir).takeRight(largeReps)
    val readMs = segs.map { case (_, p) => time(QueueLog.readLines(p)) }
    Map("append_ms" -> appendMs,
      "append_mb_per_s" -> largeMs.map(ms => mb / (ms / 1e3)),
      "read_lines_per_s" -> readMs.map(ms => l.size / (ms / 1e3)))
  }

  /** The consumer's normalize path on a static frame: `parseMessages`,
    * `routeSnapshots`/`routeDeltas`, `dedupReplays`, into `noop`.
    * msgs/s per repetition. */
  def normalize(reps: Int = 3): Seq[Double] = {
    def once(lines: Seq[String]): Double = time {
      val msgs = StreamPipeline.parseMessages(spark, lines)
      Normalize.dedupReplays(StreamPipeline.routeSnapshots(msgs),
        Seq("redis_stream_id", "side", "price_dollars"))
        .write.format("noop").mode("overwrite").save()
      Normalize.dedupReplays(StreamPipeline.routeDeltas(msgs),
        Seq("redis_stream_id")).write.format("noop").mode("overwrite").save()
    }
    once(feed.lines.take(small))
    (0 until reps).map(_ => feed.lines.size / (once(feed.lines) / 1e3))
  }

  /** `JdbcSink.appendExactlyOnce` into its own Derby database: small
    * batches in ms each, then large batches as rows/s. */
  def sink(smallReps: Int = 10, largeReps: Int = 3): Map[String, Any] = {
    val url = s"jdbc:derby:${new File(work, "probe-derby")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def deltas(lines: Seq[String]) = {
      val df = Normalize.dedupReplays(
        StreamPipeline.routeDeltas(StreamPipeline.parseMessages(spark, lines)),
        Seq("redis_stream_id")).cache()
      (df, df.count())
    }
    var batch = 0L
    def commit(df: org.apache.spark.sql.DataFrame): Double = time {
      JdbcSink.appendExactlyOnce(df, url, "probe_deltas",
        JdbcSink.deltaColumnTypes, props, "e2ebench-probe", batch)
      batch += 1
    }
    val (s, _) = deltas(feed.lines.take(small))
    commit(s) // creates the tables
    val smallMs = (0 until smallReps).map(_ => commit(s))
    val (l, lRows) = deltas(feed.lines.take(large))
    val largeRate = (0 until largeReps).map(_ => lRows / (commit(l) / 1e3))
    s.unpersist(); l.unpersist()
    Map("commit_ms_small" -> smallMs, "rows_per_s_large" -> largeRate,
      "large_rows" -> lRows)
  }
}
