package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.orderbook.{Normalize, Schemas}

/** Structured Streaming twin of the reference's producer/consumer loop
  * (SURVEY.md §3): file-source replay of wire NDJSON → `from_json` →
  * type-dispatch router → the SAME batch normalize transforms → parquet
  * append via `foreachBatch` with checkpointed offsets.
  *
  * Reference mapping:
  *  - A2 source (kalshi_ws_client.py:108-148) → [[readMessages]]: a
  *    replayable file stream; `maxFilesPerTrigger` plays the role of the
  *    XRANGE `count=100` micro-batch bound (consumer.py:9).
  *  - A4 router (producer.py:31-50) → [[routeSnapshots]]/[[routeDeltas]]:
  *    two filtered branches of one input stream.
  *  - A5 stamp (redis_client.py:46, :84) → ingestion_ts column.
  *  - A7/A8/A14 buffer+sink (redis XADD/XRANGE → ADBC append) → one
  *    Structured Streaming hop: the checkpoint WAL replaces the manual
  *    exclusive-start cursor (consumer.py:84), `foreachBatch` parquet
  *    append replaces the ADBC bulk insert.
  *  - A15 at-least-once commit (insert-before-XDEL, consumer.py:98-107)
  *    → per-batch `dropDuplicates` on the lineage id before append.
  *
  * Every transform is narrow, so each micro-batch is a single fused map
  * stage; on a cluster the stream scales by input-file parallelism with
  * zero shuffles on the ingest path.
  */
object StreamPipeline {

  /** Merged wire-message schema: the union of snapshot and delta body
    * fields (FIXTURES.md §1). One stream carries both message types; the
    * router filters on `type`, and Catalyst prunes the unused half of
    * the struct per branch. */
  val wireMsg: StructType = StructType(Seq(
    StructField("market_ticker", StringType),
    StructField("market_id", StringType),
    StructField("yes_dollars", Schemas.ladderWire),
    StructField("no_dollars", Schemas.ladderWire),
    StructField("yes", Schemas.ladderWire),
    StructField("no", Schemas.ladderWire),
    StructField("price", IntegerType),
    StructField("price_dollars", DoubleType),
    StructField("delta", IntegerType),
    StructField("side", StringType),
    StructField("ts", LongType)))

  val wireEnvelope: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("sid", LongType),
    StructField("seq", LongType),
    StructField("msg", wireMsg)))

  /** A2: streaming scan of wire NDJSON. `ingestion_ts` is wall-clock
    * epoch millis exactly like the reference (A5); the synthetic
    * `redis_stream_id` = "sid-seq" is the lineage/dedup key the Redis
    * entry-ID provided (unique per logical message, stable across
    * replays — which is what makes A15 dedup work). */
  def readMessages(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 100): DataFrame =
    decode(spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(dir))

  /** Batch twin of [[readMessages]] — same decode over already-loaded
    * NDJSON lines (tests, backfills). */
  def parseMessages(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    decode(lines.toDF("value"))
  }

  private[graft] def decode(raw: DataFrame): DataFrame =
    raw.select(col("value").as("raw"),
        from_json(col("value"), wireEnvelope).as("m"))
      .select(col("raw"), col("m.type").as("type"), col("m.sid").as("sid"),
        col("m.seq").as("seq"), col("m.msg").as("msg"))
      .withColumn("ingestion_ts", unix_millis(current_timestamp()))
      .withColumn("redis_stream_id",
        concat(col("sid"), lit("-"), col("seq")))

  /** A4's `else` branch as data instead of a log line: malformed JSON
    * (from_json PERMISSIVE → null struct/type) and unknown message
    * types, with the raw line preserved for replay. The reference
    * prints and drops these (producer.py:48-50); a pipeline at scale
    * needs them queryable. */
  def deadLetters(messages: DataFrame): DataFrame =
    messages.where(col("type").isNull ||
        !col("type").isin("orderbook_snapshot", "orderbook_delta"))
      .select(col("raw"), col("type").as("msg_type"), col("ingestion_ts"))

  /** A4 snapshot branch → A10 explode (shared with batch) →
    * snapshotsTable shape. */
  def routeSnapshots(messages: DataFrame): DataFrame =
    Normalize.explodeSnapshots(
      messages.where(col("type") === "orderbook_snapshot")
        .select(col("redis_stream_id"), col("ingestion_ts"),
          col("msg.market_ticker").as("market_ticker"),
          col("sid"), col("seq"),
          col("msg.yes_dollars").as("yes_dollars"),
          col("msg.no_dollars").as("no_dollars")))

  /** A4 delta branch → A11 flatten (shared with batch) → deltasTable
    * shape. */
  def routeDeltas(messages: DataFrame): DataFrame =
    Normalize.flattenDeltas(
      messages.where(col("type") === "orderbook_delta")
        .select(col("redis_stream_id"), col("ingestion_ts"),
          col("msg.market_ticker").as("market_ticker"),
          col("sid"), col("seq"),
          col("msg.side").as("side"),
          col("msg.price_dollars").cast(Schemas.price).as("price_dollars"),
          col("msg.delta").as("delta")))

  /** The two fact tables of one decoded batch, (snapshots, deltas):
    * A4 routing, then the A15 in-batch replay dedup on each table's key.
    * [[runUnifiedFrom]] and `Ingest.consumer` both sink these. */
  def facts(batch: DataFrame): (DataFrame, DataFrame) =
    (Normalize.dedupReplays(routeSnapshots(batch),
        Seq("redis_stream_id", "side", "price_dollars")),
      Normalize.dedupReplays(routeDeltas(batch), Seq("redis_stream_id")))

  /** A15 across micro-batches: the in-batch dedup in [[runUnified]]
    * covers the file source's exactly-once offsets, but an
    * at-least-once transport (socket reconnect, Redis re-delivery)
    * can resend a message in a LATER micro-batch. This keys streaming
    * state by the lineage id and bounds it with a watermark on
    * ingestion time, so state only remembers ids younger than `delay`
    * — the reference's insert-before-XDEL vulnerability window
    * (consumer.py:98-107), made explicit and bounded. */
  def dedupAcrossBatches(messages: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    val stamped = messages
      .withColumn("ingest_time", timestamp_millis(col("ingestion_ts")))
    // keyless rows (acks, malformed lines: sid/seq null → null lineage
    // id) BYPASS the dedup: dropDuplicates* treats NULL keys as equal,
    // which would collapse every distinct dead-letter into one row —
    // the opposite of this function's remove-only-redeliveries contract
    stamped.where(col("redis_stream_id").isNotNull)
      .withWatermark("ingest_time", delay)
      .dropDuplicatesWithinWatermark("redis_stream_id")
      .unionByName(stamped.where(col("redis_stream_id").isNull))
  }

  /** B7 as a STREAMING session metric: per-ticker activity sessions
    * over the DELTA event-time stream — bursts of messages separated
    * by `gap` of silence collapse into one session row (start, end,
    * count). Only deltas carry the exchange wire timestamp (snapshot
    * and ack envelopes have no `ts`, redis_client.py:83), so the
    * session clock is explicitly the delta stream's; rows without an
    * event time are excluded rather than silently dropped by the
    * window. `session_window` keeps one merging window per
    * (ticker, session) in the state store and the watermark bounds how
    * long a quiet session lingers before it is emitted and evicted —
    * the streaming twin of the batch q16 sessionization. */
  def messageSessions(messages: DataFrame, gap: String = "30 seconds",
      watermark: String = "10 minutes"): DataFrame =
    messages
      .where(col("type") === "orderbook_delta" && col("msg.ts").isNotNull)
      .withColumn("event_ts", timestamp_millis(col("msg.ts")))
      .withWatermark("event_ts", watermark)
      .groupBy(col("msg.market_ticker").as("ticker"),
        session_window(col("event_ts"), gap))
      .agg(count(lit(1)).as("n_msgs"))
      .select(col("ticker"),
        unix_millis(col("session_window.start")).as("session_start"),
        unix_millis(col("session_window.end")).as("session_end"),
        col("n_msgs"))

  /** STREAMING OHLC — ob08's time-bucketed candle rollup (B6) as a
    * watermarked tumbling-window aggregate: per (ticker, window),
    * open/close by `min_by`/`max_by` on the sequence number (both are
    * declarative aggregates with streaming partial merge — no sort,
    * no per-window buffering beyond the running extremes), high/low by
    * plain min/max. Append mode: a candle emits exactly once, when the
    * watermark proves its window closed — late deltas inside the
    * watermark still amend state before emission; beyond it they are
    * dropped by the window operator (the same trade every candle feed
    * makes). State is O(open windows × tickers). */
  def candles(messages: DataFrame, window_ : String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    messages
      .where(col("type") === "orderbook_delta" && col("msg.ts").isNotNull)
      .withColumn("event_ts", timestamp_millis(col("msg.ts")))
      .withWatermark("event_ts", watermark)
      .groupBy(col("msg.market_ticker").as("ticker"),
        window(col("event_ts"), window_))
      .agg(expr("min_by(msg.price, seq)").as("open"),
        max(col("msg.price")).as("high"),
        min(col("msg.price")).as("low"),
        expr("max_by(msg.price, seq)").as("close"),
        count(lit(1)).as("n_ticks"))
      .select(col("ticker"),
        unix_millis(col("window.start")).as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))

  /** ob26's streaming twin — CHAINED windowed aggregation: 5-minute
    * candles derived from the 1-minute candle aggregate inside ONE
    * streaming query (two stateful operators; Spark ≥3.5 chains
    * event-time window aggs via `window(window_time(w), …)`). The
    * coarser grain never sees raw ticks: the second aggregate consumes
    * one row per (ticker, minute), so its state and input are 3-4
    * orders smaller than the stream. The merge carries each minute's
    * boundary seqs so open/close resolve by min_by/max_by exactly as
    * the batch ob26 — emission is append-mode exactly-once when the
    * watermark closes the 5-minute window. */
  def candlesResampled(messages: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val m1 = messages
      .where(col("type") === "orderbook_delta" && col("msg.ts").isNotNull)
      .withColumn("event_ts", timestamp_millis(col("msg.ts")))
      .withWatermark("event_ts", watermark)
      .groupBy(col("msg.market_ticker").as("ticker"),
        window(col("event_ts"), "1 minute"))
      .agg(min(col("seq")).as("first_seq"),
        max(col("seq")).as("last_seq"),
        expr("min_by(msg.price, seq)").as("o"),
        max(col("msg.price")).as("h"),
        min(col("msg.price")).as("l"),
        expr("max_by(msg.price, seq)").as("c"),
        count(lit(1)).as("n"))
    m1.groupBy(col("ticker"),
        window(window_time(col("window")), "5 minutes"))
      .agg(expr("min_by(o, first_seq)").as("open"),
        max(col("h")).as("high"),
        min(col("l")).as("low"),
        expr("max_by(c, last_seq)").as("close"),
        sum(col("n")).as("n_ticks"))
      .select(col("ticker"),
        unix_millis(col("window.start")).as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"))
  }

  /** Streaming per-window LEADERBOARD — top-k tickers by message count
    * per event-time window, with the bounded-heap `graft_topk`
    * TypedImperativeAggregate as the SECOND chained stateful operator:
    * stage 1 is the watermarked (ticker, window) count (state = one
    * counter per open pair), stage 2 consumes exactly ONE row per
    * closed (ticker, window) and heap-folds it into k payloads per
    * window — so the leaderboard state is O(open windows × k), never
    * O(tickers), and no window sort of the counted set exists anywhere
    * (the same no-ranking-window argument as the batch topKPerQuery).
    * Emission is append-mode exactly-once per closed window.
    *
    * Tiebreak: equal counts order by the ticker's NUMERIC id
    * (tickers are "T<n>"), which the oracle mirrors as
    * `CAST(substr(ticker, 2) AS BIGINT)` — deterministic and total. */
  def windowTopTickers(messages: DataFrame, window_ : String = "1 hour",
      k: Int = 3, watermark: String = "10 minutes"): DataFrame = {
    val counts = messages
      .where(col("type") === "orderbook_delta" && col("msg.ts").isNotNull)
      .withColumn("event_ts", timestamp_millis(col("msg.ts")))
      .withWatermark("event_ts", watermark)
      .groupBy(col("msg.market_ticker").as("ticker"),
        window(col("event_ts"), window_))
      .agg(count(lit(1)).as("n_msgs"))
    counts
      .groupBy(window(window_time(col("window")), window_))
      .agg(call_function("graft_topk",
        col("n_msgs").cast("double"),
        expr("cast(substring(ticker, 2) as bigint)"),
        struct(col("ticker"), col("n_msgs")), lit(k)).as("topk"))
      .select(unix_millis(col("window.start")).as("bucket_start"),
        posexplode(col("topk")))
      .select(col("bucket_start"), col("col.ticker").as("ticker"),
        col("col.n_msgs").as("n_msgs"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** __main__ equivalent (SURVEY.md §3.1) and the A14/A15 sink: ONE
    * checkpointed streaming query parses each micro-batch once,
    * persists it, and appends both fact tables inside `foreachBatch`
    * with replay-dedup inside each batch. Cross-batch duplicates are
    * impossible for the file source (exactly-once offsets); the
    * in-batch dedup guards the at-least-once buffer semantics the
    * reference has. The two sinks share one checkpoint and failure
    * domain — the right trade for throughput-bound ingest. */
  def runUnified(spark: SparkSession, inDir: String, outDir: String)
      : StreamingQuery =
    runUnifiedFrom(readMessages(spark, inDir), outDir)

  /** [[runUnified]] over any decoded [[Connectors.MessageSource]]
    * frame — the file-replay, socket, and durable-queue paths all fan
    * into the identical sink topology. Bounded replays drain with the
    * default `AvailableNow`; a LIVE source (the graft-socket wire,
    * whose lines arrive while the query runs) passes a processing-time
    * trigger instead — AvailableNow's wrapper would freeze the end
    * offset at start and miss everything after it. */
  def runUnifiedFrom(messages: DataFrame, outDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    messages.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt_unified")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          val (snapshots, deltas) = facts(batch)
          snapshots.write.mode("append").parquet(s"$outDir/orderbook_snapshots")
          deltas.write.mode("append").parquet(s"$outDir/orderbook_deltas")
        } finally batch.unpersist()
      }
      .start()
}
