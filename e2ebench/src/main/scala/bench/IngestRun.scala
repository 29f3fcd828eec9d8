package bench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.Ingest

/** One `StreamingQueryProgress`, reduced to what the metrics use. */
final case class Progress(runId: String, batchId: Long, startMs: Long,
    batchMs: Long, inputRows: Long, endOffset: String,
    durationMs: Map[String, Long], stateRows: Long, stateBytes: Long) {
  /** The raw record of this batch, with the queue lines it carried. */
  def toJson(lines: Long): Map[String, Any] = Map("batch" -> batchId,
    "start_ms" -> startMs, "batch_ms" -> batchMs, "lines" -> lines,
    "duration_ms" -> durationMs,
    "state_rows" -> stateRows, "state_bytes" -> stateBytes)

  /** The consumer's end offset: the graft-queue segment it reads up to
    * (exclusive). */
  def endSegment: Long =
    Option(endOffset).map(graft.streaming.QueueOffset.parse(_).seg).getOrElse(0L)
}

/** The public progress events of every streaming query in the session.
  *
  * Lines are matched to consumer batches by queue offsets, not by the
  * consumer's `numInputRows`: `dedupAcrossBatches` reads the queue in
  * two branches (keyed and keyless rows), so that count is twice the
  * lines read. The producer appends exactly one segment per non-empty
  * batch, so its k-th non-empty batch's row count is segment k's line
  * count, and a consumer batch whose end offset is segment E has
  * committed every line of segments below E. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val state = p.stateOperators
    events.add(Progress(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration,
      p.numInputRows, p.sources.headOption.map(_.endOffset).orNull,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum))
  }

  def of(runId: java.util.UUID): Seq[Progress] =
    events.iterator().asScala.filter(_.runId == runId.toString).toSeq
      .sortBy(_.batchId)

  /** The consumer's batches in order, each with the lines it committed:
    * those of the segments below its end offset that no earlier batch
    * committed. */
  def consumerLines(producer: java.util.UUID,
      consumer: java.util.UUID): Seq[(Progress, Long)] = {
    val below = of(producer).filter(_.inputRows > 0)
      .scanLeft(0L)(_ + _.inputRows).toIndexedSeq
    var done = 0L
    of(consumer).map { b =>
      val upTo = below(math.min(b.endSegment, below.size - 1L).toInt)
      val lines = math.max(0L, upTo - done)
      done = math.max(done, upTo)
      b -> lines
    }
  }

  /** Lines the consumer has committed so far. */
  def committed(producer: java.util.UUID, consumer: java.util.UUID): Long =
    consumerLines(producer, consumer).map(_._2).sum
}

/** Drives the composed pipeline (`Ingest.run`, role both) from a
  * [[FeedServer]] into embedded Derby, and checks what it committed.
  * Every pipeline of one process shares one database; each uses its own
  * `sid`, so lineage ids stay unique across them. */
final class IngestRun(spark: SparkSession, work: File, log: ProgressLog) {
  private val derbyUrl = s"jdbc:derby:${new File(work, "derby")};create=true"
  private val derbyProps = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
  private val deadLetters = new File(work, "dead-letters").toString
  private val consumerIds = Seq.newBuilder[(String, Int)]
  private var sent = (0L, 0L) // (snapshots, deltas) over every run

  /** Start the pipeline on a [[FeedServer]] playing `feed` cut into
    * `phases`. Each phase starts once every line of the previous one is
    * committed and, where `idleAfter(k)` holds for that previous phase k,
    * the pipeline has idled `quietMs`; `beforePhase(k)` runs just before
    * phase k. Returns the raw record; `complete` is false when a phase was
    * not committed within two minutes. */
  def run(tag: String, feed: Feed, phases: Seq[Phase], quietMs: Long,
      beforePhase: Int => Unit = _ => (),
      idleAfter: Int => Boolean = _ => true): Map[String, Any] = {
    val server = new FeedServer(feed, phases)
    val cfg = Ingest.Config(
      role = "both",
      queueDir = new File(work, s"queue-$tag").toString,
      checkpointDir = new File(work, s"ckpt-$tag").toString,
      jdbcUrl = derbyUrl,
      jdbcProps = derbyProps,
      deadLetterDir = Some(deadLetters),
      socketOptions = Map(
        "host" -> "localhost", "port" -> server.port.toString,
        "tickers" -> feed.tickers.mkString(","),
        "channels" -> "orderbook_snapshot,orderbook_delta",
        "transport" -> "ws", "maxLinesPerTrigger" -> "10000"))
    val queries = Ingest.run(spark, cfg)
    val Seq(producer, consumer) = queries
    def committed = log.committed(producer.runId, consumer.runId)
    var complete = true
    try {
      var want = 0L
      for ((phase, k) <- phases.zipWithIndex if complete) {
        beforePhase(k)
        server.startPhase()
        want += phase.count
        val deadline = System.nanoTime() + 120000000000L
        while (committed < want && queries.forall(_.isActive) &&
            System.nanoTime() < deadline)
          Thread.sleep(5)
        complete = committed >= want
        // the next phase (or stop) waits for the batches this one left
        // behind, such as the no-data batch that advances the watermark;
        // a stop that interrupts a batch inside its JDBC commit fails the
        // query even though the batch is durable
        if (idleAfter(k) || !complete) awaitIdle(queries, quietMs)
      }
    } finally {
      queries.foreach(_.stop())
      server.close()
    }
    val failure = queries.flatMap(_.exception).map(_.getMessage).headOption
      .orElse(Option(server.error).map(_.toString))
    consumerIds += s"${cfg.checkpointDir}/consumer" -> log.of(consumer.runId).size
    sent = (sent._1 + feed.snapshots, sent._2 + feed.deltas)
    Map("tag" -> tag, "messages" -> feed.lines.size,
      "phases" -> phases.zip(server.phaseStartMs).map { case (p, t) =>
        Map("count" -> p.count, "rate" -> p.rate, "start_ms" -> t) },
      "sent" -> server.sent, "lag_ms_max" -> server.lagNsMax / 1e6,
      "complete" -> complete, "error" -> failure,
      "producer" -> log.of(producer.runId).map(p => p.toJson(p.inputRows)),
      "consumer" -> log.consumerLines(producer.runId, consumer.runId).map {
        case (p, lines) => p.toJson(lines) })
  }

  /** Wait (at most 30 s) until no query has a trigger running and none
    * has ended a batch for `quietMs`. */
  private def awaitIdle(queries: Seq[StreamingQuery], quietMs: Long): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    def lastEnd = queries.flatMap(q => log.of(q.runId))
      .map(p => p.startMs + p.batchMs).maxOption.getOrElse(0L)
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      val idle = !queries.exists(_.status.isTriggerActive) &&
        System.currentTimeMillis() - lastEnd >= quietMs
      quiet = if (idle) quiet + 1 else 0
      Thread.sleep(50)
    }
  }

  /** Shut the Derby database down (a clean shutdown reports itself as
    * SQLState 08006). */
  def close(): Unit =
    try java.sql.DriverManager.getConnection(
      s"jdbc:derby:${new File(work, "derby")};shutdown=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  /** The exactly-once checks over everything committed so far. Each
    * entry counts the messages (or batches) that broke the check. */
  def checks(): Map[String, Long] = {
    val p = new java.util.Properties()
    derbyProps.foreach { case (k, v) => p.setProperty(k, v) }
    val c = java.sql.DriverManager.getConnection(derbyUrl, p)
    def longs(sql: String): Seq[Long] = {
      val rs = c.createStatement().executeQuery(sql)
      try {
        rs.next()
        (1 to rs.getMetaData.getColumnCount).map(rs.getLong)
      } finally rs.close()
    }
    try {
      val (snaps, deltas) = sent
      val Seq(dRows, dIds) = longs("SELECT COUNT(*), COUNT(DISTINCT " +
        "\"redis_stream_id\") FROM orderbook_deltas")
      val Seq(sRows, sIds) = longs("SELECT COUNT(*), COUNT(DISTINCT " +
        "\"redis_stream_id\") FROM orderbook_snapshots")
      // one commit-log row per (table, batch): ids 0..n-1 for both
      // tables, n covering every batch that reported progress (a batch
      // cut short by stop() may commit without reporting)
      val badBatches = consumerIds.result().map { case (qid, reported) =>
        val per = Seq("snapshots", "deltas").map { t =>
          val Seq(n, lo, hi) = longs("SELECT COUNT(*), " +
            "COALESCE(MIN(\"batch_id\"), 0), COALESCE(MAX(\"batch_id\"), -1) " +
            s"FROM graft_sink_commits WHERE \"query_id\" = '$qid#$t'")
          if (lo == 0 && hi == n - 1 && n >= reported) n
          else -1L
        }
        if (per.contains(-1L) || per.distinct.size != 1) 1L else 0L
      }.sum
      val dead =
        if (new File(deadLetters).isDirectory)
          spark.read.parquet(deadLetters).count()
        else 0L
      Map("delta_rows_off" -> math.abs(dRows - deltas),
        "delta_ids_repeated" -> (dRows - dIds),
        "snapshot_rows_off" -> math.abs(sRows - 6 * snaps),
        "snapshot_ids_off" -> math.abs(sIds - snaps),
        "commit_log_bad_queries" -> badBatches,
        "dead_letters" -> dead)
    } finally c.close()
  }
}
