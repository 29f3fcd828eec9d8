package graft.orderbook

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The reference's normalize path (SURVEY.md §2A) as pure
  * `DataFrame => DataFrame` transforms — batch and streaming share them
  * unchanged (Structured Streaming accepts the same expressions).
  *
  * Input convention: a "stream entry" DataFrame mirrors one Redis XRANGE
  * record (redis_client.py:126-133) — string-typed fields
  * (redis stringifies everything) plus `redis_stream_id` and
  * `ingestion_ts`, with ladder arrays still JSON text. Every transform is
  * narrow (no shuffle): at 100 TB the whole normalize path is a single
  * map stage fused by whole-stage codegen.
  */
object Normalize {

  import Schemas.price

  /** A9: re-hydrate JSON ladder text (redis_client.py:130-131) and type
    * the scalar fields (the "ingest as string / cast with schema"
    * pattern, consumer.py:87-96). */
  def parseSnapshotEntries(raw: DataFrame): DataFrame =
    raw.select(
      col("redis_stream_id"),
      col("ingestion_ts").cast(LongType).as("ingestion_ts"),
      col("market_ticker"),
      col("sid").cast(LongType).as("sid"),
      col("seq").cast(LongType).as("seq"),
      from_json(col("yes_dollars"), Schemas.ladderWire).as("yes_dollars"),
      from_json(col("no_dollars"), Schemas.ladderWire).as("no_dollars"))

  /** A9/A12 for delta entries (consumer.py:131-162). */
  def parseDeltaEntries(raw: DataFrame): DataFrame =
    raw.select(
      col("redis_stream_id"),
      col("ingestion_ts").cast(LongType).as("ingestion_ts"),
      col("market_ticker"),
      col("sid").cast(LongType).as("sid"),
      col("seq").cast(LongType).as("seq"),
      col("side"),
      col("price_dollars").cast(price).as("price_dollars"),
      col("delta").cast(IntegerType).as("delta"))

  private def ladderSide(parsed: DataFrame, ladder: String, tag: String) =
    parsed.select(
      col("ingestion_ts").as("timestamp"),
      col("market_ticker").as("ticker"),
      lit(tag).as("side"),
      explode(col(ladder)).as("lvl"),
      col("redis_stream_id"))
      .select(
        col("timestamp"), col("ticker"), col("side"),
        element_at(col("lvl"), 1).cast(price).as("price_dollars"),
        element_at(col("lvl"), 2).cast(IntegerType).as("contracts"),
        col("redis_stream_id"))

  /** A10: snapshot → one row per (side, price level), side-tagged —
    * explode both ladders and union (consumer.py:51-84). Output schema =
    * Schemas.snapshotsTable. */
  def explodeSnapshots(parsed: DataFrame): DataFrame =
    ladderSide(parsed, "yes_dollars", "yes")
      .unionByName(ladderSide(parsed, "no_dollars", "no"))

  /** A11/A12: delta message → flat typed record (consumer.py:131-147).
    * Output schema = Schemas.deltasTable. */
  def flattenDeltas(parsed: DataFrame): DataFrame =
    parsed.select(
      col("ingestion_ts").as("timestamp"),
      col("market_ticker").as("ticker"),
      col("side"),
      col("price_dollars"),
      col("delta"),
      col("redis_stream_id"))

  /** A6: the inverse hop — ladder arrays back to JSON text for a
    * string-valued buffer (redis_client.py:42-45). `to_json ∘ from_json`
    * is identity on the ladder domain (see NormalizeSpec roundtrip). */
  def serializeSnapshotEntries(parsed: DataFrame): DataFrame =
    parsed.select(
      col("redis_stream_id"),
      col("ingestion_ts").cast("string").as("ingestion_ts"),
      col("market_ticker"),
      col("sid").cast("string").as("sid"),
      col("seq").cast("string").as("seq"),
      to_json(col("yes_dollars")).as("yes_dollars"),
      to_json(col("no_dollars")).as("no_dollars"))

  /** A15 replay-dedup: at-least-once delivery (insert-before-XDEL,
    * consumer.py:98-107) means crash-replay duplicates; the
    * redis_stream_id lineage column exists precisely to drop them. */
  def dedupReplays(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** A3 (batch twin): flag messages violating per-subscription seq
    * continuity (kalshi_ws_client.py:129-146 fail-stops instead; here the
    * gaps are surfaced as data so the B7 monitoring query can count
    * them). */
  def seqGapFlags(envelopes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sid")).orderBy(col("seq"))
    envelopes
      .withColumn("prev_seq", lag(col("seq"), 1).over(w))
      .withColumn("seq_gap",
        col("prev_seq").isNotNull && col("seq") =!= col("prev_seq") + 1)
  }
}
