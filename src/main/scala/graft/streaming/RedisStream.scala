package graft.streaming

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `format("graft-redis")` — the reference's ACTUAL queue seam, spoken
  * at the wire level: a Redis-Streams micro-batch source over a raw
  * RESP socket ([[RespClient]]), where [[QueueLog]] is the same
  * contract on shared storage. XADD is the producer half
  * (redis_client.py:50), XRANGE the consumer half (:111), XDEL the
  * retention half (:193). Pointing this source at the reference's live
  * `orderbook:snapshot` / `orderbook:delta` streams replaces its
  * consumer loop (consumer.py) wholesale.
  *
  * Options: `host`, `port`, `key` (stream key), `fields`
  * (comma-separated field names to project — a Redis entry is a flat
  * string field map, redis_client.py:36-47), `maxEntriesPerTrigger`.
  * Output schema: `redis_stream_id` STRING + one STRING column per
  * requested field (missing fields → NULL) — exactly the "stream
  * entry" convention [[graft.orderbook.Normalize]] parses, so the
  * whole normalize → validate → sink pipeline runs unchanged on top.
  *
  * Consume-commit discipline (the [[QueueLog]] offset contract):
  * offsets are stream ids — totally ordered, stable across restarts
  * because entries are immutable once XADD'd. A batch is the id range
  * (start, end]; a restarted query re-reads exactly its checkpointed
  * range. Retention ([[RedisQueue.trim]]) deletes only ids ≤ a
  * COMMITTED offset, so the uncommitted tail is never touched; a
  * foreign over-trim is detected via `max-deleted-entry-id` and fails
  * the query loudly (lost-data restart — same tripwire as
  * QueueLog.planInputPartitions' segment-hole check) instead of
  * silently serving what's left.
  *
  * Scale notes: one Redis stream is one ordered key, so a batch is ONE
  * input partition by construction — the parallelism unit is the
  * stream, not the batch (shard across stream keys for fan-in; the
  * reference itself runs one stream per message type). The driver
  * holds only ids; entry payloads flow executor-side over the task's
  * own RESP connection. The capped-batch path (`maxEntriesPerTrigger`)
  * must materialize the cap window driver-side to learn the end id
  * (Redis has no "id at offset n" query), so caps trade driver
  * bandwidth for bounded batches — leave uncapped unless triggers
  * must be bounded.
  */
object RedisStreams {

  def schemaFor(fields: Seq[String]): StructType =
    StructType(StructField("redis_stream_id", StringType) +:
      fields.map(StructField(_, StringType)))

  /** Read-side XRANGE page size: bounds client memory per round-trip
    * whatever the producer's burst size was. */
  val PageSize = 512
}

/** Producer/retention twin of [[QueueLog.append]]/[[QueueLog.trim]],
  * over the wire. */
object RedisQueue {

  /** XADD one entry; returns its id. */
  def append(host: String, port: Int, key: String,
      fields: Seq[(String, String)]): StreamId = {
    val c = new RespClient(host, port)
    try c.xadd(key, fields) finally c.close()
  }

  /** The A7 stream-append sink at the wire level
    * (redis_client.py:18-53 save_orderbook_*): XADD every row of `df`,
    * executor-side — each partition drives its own RESP connection, so
    * write bandwidth scales with the cluster like the read path.
    *
    * Delivery semantics are the caller's choice, matching the two
    * shapes the repo ships for JDBC:
    *  - `idCol = None` (the reference's shape): server-assigned ids,
    *    AT-LEAST-ONCE — a retried task re-appends its rows under fresh
    *    ids, exactly like the reference's fire-and-forget producer
    *    (producer.py's crash window), and the downstream replay-dedup
    *    operators (A15) exist precisely to absorb it.
    *  - `idCol = Some(c)`: rows carry their own monotone `ms-seq` ids
    *    and replay becomes IDEMPOTENT — Redis rejects an XADD at or
    *    below the stream head ("equal or smaller"), which the sink
    *    treats as already-delivered and skips. With ids derived from a
    *    deterministic row key, a retried partition is a no-op — the
    *    stream-side analogue of [[JdbcSink.appendExactlyOnce]]'s
    *    commit-log skip. Rows must arrive id-ascending per partition
    *    and partitions must not interleave ranges (one producer per
    *    stream owns id allocation, the [[QueueLog.append]] contract).
    */
  def appendBatch(df: org.apache.spark.sql.DataFrame, host: String,
      port: Int, key: String, fields: Seq[String],
      idCol: Option[String] = None): Unit = {
    val cols = (idCol.toSeq ++ fields).map(org.apache.spark.sql.functions.col)
    df.select(cols: _*).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          val c = new RespClient(host, port)
          try rows.foreach { r =>
            val off = idCol.size
            val fvs = fields.zipWithIndex.collect {
              case (f, i) if !r.isNullAt(off + i) => f -> r.get(off + i).toString
            }
            val id = idCol.map(_ => r.get(0).toString).getOrElse("*")
            try c.xadd(key, fvs, id)
            catch {
              case e: java.io.IOException
                  if idCol.isDefined &&
                    e.getMessage.contains("equal or smaller") => () // replayed
            }
          } finally c.close()
        }
    }
  }

  /** Retention, not correctness: XDEL every id ≤ `upTo` (the
    * reference's delete_messages, redis_client.py:180-193). Call it
    * only with a COMMITTED offset — the source fail-stops on a resume
    * point below `max-deleted-entry-id`. Returns ids deleted. */
  def trim(host: String, port: Int, key: String, upTo: StreamId): Long = {
    val c = new RespClient(host, port)
    try {
      var deleted = 0L
      var go = true
      while (go) {
        val page = c.xrange(key, "-", upTo.toString,
          Some(RedisStreams.PageSize))
        if (page.isEmpty) go = false
        else deleted += c.xdel(key, page.map(_._1))
      }
      deleted
    } finally c.close()
  }
}

/** Offset = last-delivered stream id (exclusive start of the next
  * batch). */
final case class RedisStreamOffset(id: StreamId) extends Offset {
  override def json(): String = s"""{"id":"$id"}"""
}

object RedisStreamOffset {
  private val P = """\{"id":"(\d+-\d+)"\}""".r
  def parse(json: String): RedisStreamOffset = json match {
    case P(id) => RedisStreamOffset(StreamId.parse(id))
    case other => throw new IllegalArgumentException(
      s"not a redis stream offset: $other")
  }
}

class RedisStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-redis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RedisStreams.schemaFor(RedisStreamTable.fieldsOf(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisStreamTable(new CaseInsensitiveStringMap(properties))
}

private[streaming] object RedisStreamTable {
  def fieldsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = options.get("fields")
    require(raw != null && raw.nonEmpty,
      "graft-redis requires `fields` (comma-separated entry field names)")
    raw.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  }
}

private[streaming] class RedisStreamTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val fields = RedisStreamTable.fieldsOf(options)
  override def name(): String =
    s"graft-redis(${options.get("host")}:${options.get("port")}/${options.get("key")})"
  override def schema(): StructType = RedisStreams.schemaFor(fields)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = RedisStreams.schemaFor(fields)
        override def toMicroBatchStream(ckpt: String): MicroBatchStream =
          new RedisStreamSource(
            options.get("host"),
            options.getInt("port", 6379),
            options.get("key"),
            fields,
            options.getLong("maxEntriesPerTrigger", Long.MaxValue))
      }
    }
}

private[streaming] class RedisStreamSource(host: String, port: Int,
    key: String, fields: Seq[String], maxEntries: Long)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(host != null && key != null,
    "graft-redis requires `host` and `key` options")

  /** Under Trigger.AvailableNow, Spark drains [start, here] in
    * ReadLimit-sized batches then stops — without this the engine
    * falls back to a single Trigger.Once batch that IGNORES the limit
    * (or, with our own cap applied, silently drops the tail). */
  private var availableNowEnd: Option[StreamId] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val c = new RespClient(host, port)
    try availableNowEnd = c.latestId(key)
    finally c.close()
  }

  /** A fresh consumer reads everything currently retained: Redis ids
    * start above 0-0, so (0-0, latest] is XRANGE-from-`-` semantics
    * (redis_client.py:94 start_id="-"). */
  override def initialOffset(): Offset = RedisStreamOffset(StreamId.Zero)
  override def deserializeOffset(json: String): Offset =
    RedisStreamOffset.parse(json)

  private val maxEntriesInt: Int =
    math.min(maxEntries, Int.MaxValue.toLong).toInt

  override def getDefaultReadLimit: ReadLimit =
    if (maxEntriesInt == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxEntriesInt)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[RedisStreamOffset]
    val cap = limit match {
      case mr: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(maxEntriesInt.toLong, mr.maxRows()).toInt
      case _ => maxEntriesInt
    }
    val c = new RespClient(host, port)
    try {
      // AvailableNow pins the drain target; bounds beyond it are clamped
      val hiBound = availableNowEnd.map(_.toString).getOrElse("+")
      val end =
        if (cap == Int.MaxValue) c.latestId(key) match {
          case Some(l) =>
            Some(availableNowEnd.filter(_ < l).getOrElse(l))
          case None => None
        }
        else c.xrange(key, s"(${s.id}", hiBound, Some(cap))
          .lastOption.map(_._1)
      end.filter(_ > s.id).map(RedisStreamOffset(_)).getOrElse(s)
    } finally c.close()
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-redis uses SupportsAdmissionControl.latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[RedisStreamOffset]
    val e = end.asInstanceOf[RedisStreamOffset]
    if (e.id <= s.id) Array.empty
    else Array(RedisRangePartition(host, port, key, fields,
      s.id.toString, e.id.toString))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RedisRangeReaderFactory

  override def commit(end: Offset): Unit = () // retention is explicit trim()
  override def stop(): Unit = ()
}

private[streaming] case class RedisRangePartition(host: String, port: Int,
    key: String, fields: Seq[String], startExclusive: String,
    endInclusive: String) extends InputPartition

/** Pages through XRANGE (start, end] with a cursor — O(PageSize) client
  * memory regardless of batch size; fail-stops if retention ever ran
  * past the resume point. */
private[streaming] object RedisRangeReaderFactory
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RedisRangePartition]
    val start = StreamId.parse(p.startExclusive)
    val end = StreamId.parse(p.endInclusive)
    val client = new RespClient(p.host, p.port)
    val maxDeleted = client.maxDeletedId(p.key)
    if (maxDeleted > start)
      throw new IllegalStateException(
        s"redis stream ${p.key} trimmed through $maxDeleted but this " +
          s"batch resumes after $start — retention ran past the " +
          "checkpoint (lost-data restart)")
    new PartitionReader[InternalRow] {
      private var cursor = start
      private var page: Iterator[(StreamId, Seq[(String, String)])] = Iterator.empty
      private var current: (StreamId, Seq[(String, String)]) = _
      private var drained = false
      override def next(): Boolean = {
        if (!page.hasNext && !drained) {
          val batch = client.xrange(p.key, s"($cursor", end.toString,
            Some(RedisStreams.PageSize))
          if (batch.isEmpty || batch.size < RedisStreams.PageSize) drained = true
          if (batch.nonEmpty) cursor = batch.last._1
          page = batch.iterator
        }
        if (page.hasNext) { current = page.next(); true } else false
      }
      override def get(): InternalRow = {
        val (id, fvs) = current
        val m = fvs.toMap
        InternalRow.fromSeq(
          UTF8String.fromString(id.toString) +:
            p.fields.map(f => m.get(f).map(UTF8String.fromString).orNull))
      }
      override def close(): Unit = client.close()
    }
  }
}
