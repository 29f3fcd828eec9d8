package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{Connectors, JdbcSink, QueueLog, Signing, StreamPipeline}

/** The deployable composed pipeline — the reference's `__main__.py:7-13`
  * (`asyncio.gather(Producer.run(), Consumer.run())`, deployed by
  * `railway.toml:5`) re-expressed as two concurrent Structured Streaming
  * queries on one session, blocked under `awaitAnyTermination`:
  *
  *  - PRODUCER: signed market discovery (A1, `kalshi_rest_client.py`) →
  *    `graft-socket` live WS source (A2, N shards) → durable append to
  *    the `graft-queue` segment log (A7, the XADD twin). At-least-once
  *    into the buffer, exactly like the reference's XADD.
  *  - CONSUMER: `graft-queue` micro-batch source (A8, the XRANGE twin) →
  *    decode/route/normalize (A4/A9–A12) → exactly-once JDBC append into
  *    `orderbook_snapshots` / `orderbook_deltas` (A13/A14, upgraded from
  *    the reference's insert-before-XDEL at-least-once window,
  *    `consumer.py:98-107`) + dead letters to parquet (A4 else-branch).
  *
  * The two stages meet ONLY at the queue directory — separate crash
  * domains, either side restarts without loss (producer: the socket
  * re-subscribes; consumer: resumes from its checkpointed queue offset).
  * `--role producer|consumer|both` splits them into separate processes
  * for real deployments; `both` is the reference's single-process shape.
  *
  * Run it:
  * {{{
  * spark-submit --class graft.Ingest graft.jar \
  *   --queue /data/graft-queue --checkpoint /data/graft-ckpt \
  *   --jdbc-url jdbc:postgresql://db/orderbook --jdbc-user etl \
  *   --host api.exchange.example --port 443 \
  *   --channels orderbook_snapshot,orderbook_delta \
  *   --access-key KEYID --private-key-file /secrets/key.pem \
  *   --api-base https://api.exchange.example --series-ticker KXHIGHNY
  * }}}
  * With `--tickers A,B,C` the signed discovery is skipped (static
  * subscription); with `--drain` the stages run `AvailableNow` and the
  * main returns once the backlog is flushed — the bounded-backfill mode
  * for `--role consumer` (a LIVE producer should not drain: AvailableNow
  * freezes the socket's end offset at start, see
  * [[StreamPipeline.runUnifiedFrom]]'s note — live runs use the default
  * continuous trigger and stop by signal).
  */
object Ingest {

  final case class Config(
      role: String = "both",
      queueDir: String = null,
      checkpointDir: String = null,
      jdbcUrl: String = null,
      jdbcProps: Map[String, String] = Map.empty,
      deadLetterDir: Option[String] = None,
      socketOptions: Map[String, String] = Map.empty,
      apiBase: Option[String] = None,
      seriesTicker: Option[String] = None,
      accessKey: Option[String] = None,
      privateKeyFile: Option[String] = None,
      dedupDelay: String = "10 minutes",
      drain: Boolean = false) {
    def trigger: Trigger =
      if (drain) Trigger.AvailableNow() else Trigger.ProcessingTime(0L)
  }

  /** Producer stage: live socket → durable queue. The foreachBatch body
    * runs ON THE DRIVER and appends with a single writer — required:
    * [[QueueLog.append]]'s segment-id allocation is single-writer per
    * directory (exactly one producer process per stream, like the
    * reference's one asyncio Producer per Redis stream). The collect
    * moves no data the source didn't already hold: a socket feed is
    * driver-buffered by construction (QueueLog.scala scale notes) — the
    * queue is precisely the hop that makes everything DOWNSTREAM
    * executor-parallel. Scale-out is one producer per shard directory. */
  def producer(spark: SparkSession, cfg: Config): StreamingQuery = {
    val raw = spark.readStream.format("graft-socket")
      .options(cfg.socketOptions).load()
    raw.writeStream
      .queryName("graft-ingest-producer")
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointDir}/producer")
      .trigger(cfg.trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val lines = batch.select("value").collect().map(_.getString(0))
        if (lines.nonEmpty) { QueueLog.append(cfg.queueDir, lines.toSeq); () }
      }
      .start()
  }

  /** Consumer stage: durable queue → normalize → exactly-once JDBC.
    * Cross-batch redeliveries (a restarted producer may re-append lines
    * already queued — the reference's XADD replay window) are dropped by
    * the watermark-bounded lineage-id dedup BEFORE routing; in-batch
    * duplicates by the per-table key dedup; batch replays by the
    * (queryId, batchId) commit log inside [[JdbcSink.appendExactlyOnce]],
    * one receipt per table (`<qid>#snapshots`, `<qid>#deltas`). Each
    * table's share of a batch is one database transaction that writes
    * its receipt and its rows together, from one task, so a crash
    * leaves a table with all of a batch or none of it; a batch with no
    * rows for a table still gets that table's receipt. Dead letters append to parquet at-least-once — diagnostics, not
    * facts, so a rare batch-replay duplicate there is acceptable and
    * documented. */
  def consumer(spark: SparkSession, cfg: Config): StreamingQuery = {
    val props = new java.util.Properties()
    cfg.jdbcProps.foreach { case (k, v) => props.setProperty(k, v) }
    val msgs = StreamPipeline.dedupAcrossBatches(
      new Connectors.QueueMessageSource(cfg.queueDir).messages(spark),
      cfg.dedupDelay)
    val qid = s"${cfg.checkpointDir}/consumer"
    msgs.writeStream
      .queryName("graft-ingest-consumer")
      .outputMode("append")
      .option("checkpointLocation", qid)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val (snapshots, deltas) = StreamPipeline.facts(batch)
          JdbcSink.appendExactlyOnce(snapshots,
            cfg.jdbcUrl, "orderbook_snapshots",
            JdbcSink.snapshotColumnTypes, props, s"$qid#snapshots", batchId)
          JdbcSink.appendExactlyOnce(deltas,
            cfg.jdbcUrl, "orderbook_deltas",
            JdbcSink.deltaColumnTypes, props, s"$qid#deltas", batchId)
          cfg.deadLetterDir.foreach { d =>
            val dead = StreamPipeline.deadLetters(batch)
            if (!dead.isEmpty) dead.write.mode("append").parquet(d)
          }
          // retention (the reference's XDEL-after-insert,
          // consumer.py:164-171, moved to the SAFE side of the commit):
          // drop whole segments below the last COMMITTED batch's start
          // offset — never this batch's, which isn't durable until this
          // function returns. Retention, not correctness (QueueLog.trim
          // keeps the newest segment as the id high-water mark); single
          // consumer owns the queue directory, like the reference.
          committedQueueOffset(qid)
            .foreach(off => QueueLog.trim(cfg.queueDir, off))
        } finally { batch.unpersist(); () }
      }
      .start()
  }

  /** The queue offset of the latest COMMITTED micro-batch, read from
    * the query's own checkpoint (commits/N marks batch N durable;
    * offsets/N holds its end offset — one line per source, the
    * graft-queue one is `{"seg":…,"line":…}`). Absent until the first
    * batch commits, or when the checkpoint layout is unrecognized —
    * trimming then just waits; it can never run ahead of the commit. */
  private[graft] def committedQueueOffset(
      checkpoint: String): Option[graft.streaming.QueueOffset] =
    try {
      val commits = new java.io.File(s"$checkpoint/commits").listFiles()
      val last = Option(commits).getOrElse(Array.empty)
        .flatMap(f => f.getName.toLongOption).sorted.lastOption
      last.flatMap { id =>
        scala.jdk.CollectionConverters.CollectionHasAsScala(
          java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(s"$checkpoint/offsets/$id")))
          .asScala
          .find(_.contains("\"seg\""))
          .map(graft.streaming.QueueOffset.parse)
      }
    } catch { case NonFatal(_) => None }

  /** Resolve the subscription: static `--tickers` wins; otherwise signed
    * discovery against `--api-base` (A1's live half) — a driver-side,
    * once-per-run call, exactly like the reference's startup fetch. */
  private[graft] def resolveTickers(cfg: Config): Config =
    if (cfg.socketOptions.contains("tickers")) cfg
    else {
      val discovered = (for {
        base <- cfg.apiBase; series <- cfg.seriesTicker
        key <- cfg.accessKey; pem <- cfg.privateKeyFile
      } yield new Signing.SignedTickerDiscovery(base, series,
        Signing.signerFromKeyFile(pem, key)).tickers())
        .getOrElse(throw new IllegalArgumentException(
          "no subscription: pass --tickers, or all of --api-base " +
            "--series-ticker --access-key --private-key-file for " +
            "signed discovery"))
      require(discovered.nonEmpty, "discovery returned no open markets")
      cfg.copy(socketOptions =
        cfg.socketOptions + ("tickers" -> discovered.mkString(",")))
    }

  /** Start the configured stages; returns them for test control. */
  def run(spark: SparkSession, cfg0: Config): Seq[StreamingQuery] = {
    val cfg = if (cfg0.role == "consumer") cfg0 else resolveTickers(cfg0)
    cfg.role match {
      case "producer" => Seq(producer(spark, cfg))
      case "consumer" => Seq(consumer(spark, cfg))
      case "both" => Seq(producer(spark, cfg), consumer(spark, cfg))
      case r => throw new IllegalArgumentException(
        s"--role must be producer|consumer|both, got $r")
    }
  }

  private[graft] def parseArgs(args0: Array[String]): Config = {
    val drain = args0.contains("--drain")
    val args = args0.filterNot(_ == "--drain")
    // Strict pairing: positional sliding(2,2) would let a flag whose
    // value was forgotten silently swallow the NEXT flag token as its
    // value (`--jdbc-user --jdbc-pass secret` ⇒ user="--jdbc-pass",
    // "secret" dropped) — misconfigured credentials with no error.
    require(args.length % 2 == 0,
      s"unpaired option token: ${args.lastOption.getOrElse("")}")
    val kv = args.sliding(2, 2).map {
      case Array(k, v) =>
        require(k.startsWith("--"), s"expected an --option, got: $k")
        require(!v.startsWith("--"),
          s"option $k is missing its value (next token is $v)")
        k.drop(2) -> v
    }.toMap
    val unknown = kv.keySet -- Set("role", "queue", "checkpoint",
      "jdbc-url", "jdbc-driver", "jdbc-user", "jdbc-pass", "dead-letters",
      "host", "port", "shards", "tickers", "channels", "access-key",
      "private-key-file", "api-base", "series-ticker", "dedup-delay",
      "drain", "max-reconnects", "max-lines-per-trigger")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    def req(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    val role = kv.getOrElse("role", "both")
    val sock = Seq("host", "port", "shards", "tickers", "channels",
      "max-reconnects", "max-lines-per-trigger").flatMap {
        case "max-reconnects" =>
          kv.get("max-reconnects").map("maxReconnects" -> _)
        case "max-lines-per-trigger" =>
          kv.get("max-lines-per-trigger").map("maxLinesPerTrigger" -> _)
        case k => kv.get(k).map(k -> _)
      }.toMap ++
      (for (k <- kv.get("access-key"); p <- kv.get("private-key-file"))
        yield Map("accessKey" -> k, "privateKeyFile" -> p))
        .getOrElse(Map.empty)
    Config(
      role = role,
      queueDir = req("queue"),
      checkpointDir = req("checkpoint"),
      jdbcUrl = if (role == "producer") kv.getOrElse("jdbc-url", "")
        else req("jdbc-url"),
      jdbcProps = Seq("driver" -> kv.get("jdbc-driver"),
        "user" -> kv.get("jdbc-user"), "password" -> kv.get("jdbc-pass"))
        .collect { case (k, Some(v)) => k -> v }.toMap,
      deadLetterDir = kv.get("dead-letters"),
      socketOptions = sock,
      apiBase = kv.get("api-base"),
      seriesTicker = kv.get("series-ticker"),
      accessKey = kv.get("access-key"),
      privateKeyFile = kv.get("private-key-file"),
      dedupDelay = kv.getOrElse("dedup-delay", "10 minutes"),
      drain = drain)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    // getOrCreate: under spark-submit the master/deploy config comes
    // from the submit command; standalone (sbt runMain) falls back to
    // the local session the harness mains use.
    val spark = GraftSession.local()
    val queries = run(spark, cfg)
    if (cfg.drain) queries.foreach(_.awaitTermination())
    else spark.streams.awaitAnyTermination()
  }
}
