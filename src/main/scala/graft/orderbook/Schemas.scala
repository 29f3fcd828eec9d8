package graft.orderbook

import org.apache.spark.sql.types._

/** The order-book value types and fact-table schemas.
  *
  * The reference declares each table schema twice — SQL DDL
  * (postgres_client.py:29-48) and a Polars cast map (consumer.py:87-96,
  * :153-162) — with the wire shape a third, implicit schema-on-read
  * (redis_client.py:36-47). Here one StructType per table serves the
  * transforms and the sinks; the wire shape is
  * [[graft.streaming.StreamPipeline.wireEnvelope]], the merged
  * snapshot/delta envelope the decoder parses.
  */
object Schemas {

  /** Money type: DECIMAL(5,4) — exact dollars in [0,1] at 4 dp
    * (postgres_client.py:33; consumer.py:92). Never DoubleType. */
  val price: DecimalType = DecimalType(5, 4)

  /** Wire ladders are JSON arrays of [price, contracts] pairs
    * (redis_client.py:42-45), i.e. array<array<number>> — heterogeneous
    * pairs, so they parse as doubles and are cast per-element after
    * explode (the reference's Polars cast plays the same role). */
  val ladderWire: ArrayType = ArrayType(ArrayType(DoubleType))

  /** orderbook_snapshots fact table (postgres_client.py:29-37). */
  val snapshotsTable: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("ticker", StringType),
    StructField("side", StringType),
    StructField("price_dollars", price),
    StructField("contracts", IntegerType),
    StructField("redis_stream_id", StringType)))

  /** orderbook_deltas fact table (postgres_client.py:41-48). */
  val deltasTable: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("ticker", StringType),
    StructField("side", StringType),
    StructField("price_dollars", price),
    StructField("delta", IntegerType),
    StructField("redis_stream_id", StringType)))
}
