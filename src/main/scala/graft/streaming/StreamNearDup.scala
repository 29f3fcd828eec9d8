package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** STREAMING NEAR-DUP ADMISSION — the streaming half of the dedup
  * family (dd03/dd05 are its batch verify): as documents ARRIVE, each
  * claims its 4 banded-MinHash keys; a document any of whose bands is
  * already owned by an earlier document is flagged against that owner.
  * This is the admission prefilter a streaming ingest runs BEFORE the
  * expensive batch verify — a J≥0.8 near-dup shares a band with ≈52%+
  * probability per dd05's r=8 analysis (→ ~1.0 for true copies), while
  * a false flag needs a 10⁻⁹-rate bkey collision; over-flagging costs
  * a batch-side verify, never data loss.
  *
  * Banding is dd05's EXACT pipeline as pure per-row expressions —
  * stream-safe, and the DuckDB mirror already exists
  * ([[graft.dedup.Dedup]]'s shingle→minhash→band CTEs): 3-gram shingle
  * poly-hashes → 32-perm MinHash → 4 bands × 8 rows folded to one
  * BIGINT key, namespaced by band index.
  *
  * State: ONE long per live band key (the owning doc_id) — the
  * smallest state an admission filter can carry; keys grow with the
  * DISTINCT band population, not the corpus (near-dups share keys by
  * construction), and a production deployment ages them with a state
  * TTL exactly like [[TickerStats]]' config. Arrival order is the
  * production contract (the ingest feed is ordered; replayOrdered
  * replays it that way), so "earlier" = smaller doc_id and the
  * streaming verdicts equal the batch oracle's min-per-band — the
  * cross-batch state fold is what the st17 gate pins. Per-batch group
  * folds sort by doc_id (a shuffled iterator's order is not a
  * contract; the feed order is), bounded by the batch's band
  * population.
  */
object StreamNearDup {

  final case class BandRow(band_key: Long, doc_id: Long)
  final case class BandVerdict(doc_id: Long, band_key: Long,
      claimed_by: Long)

  /** dd05's banding: 4 bands × 8 of the 32 minhash slots. */
  val Bands = 4

  /** Per-band-key fold: the state is the owning (first-arrived ⇒
    * smallest, under the ordered-feed contract) doc_id; every input
    * row emits its claim verdict. */
  private def claim(key: Long, rows: Iterator[BandRow],
      state: GroupState[Long]): Iterator[BandVerdict] = {
    var owner = if (state.exists) state.get else Long.MaxValue
    val out = rows.toArray.sortBy(_.doc_id).map { r =>
      if (r.doc_id < owner) owner = r.doc_id
      BandVerdict(r.doc_id, key, owner)
    }
    state.update(owner)
    out.iterator
  }

  /** The streaming topology: (doc_id, text) → shingle hashes → 32-perm
    * MinHash → 4 folded band keys → band-keyed claim fold. Emits one
    * verdict row per (doc, band). Band keys namespace by band index
    * (bkey < 10⁹+7, so `band · (10⁹+7) + bkey` keeps bands disjoint in
    * one BIGINT). */
  def admit(docs: DataFrame): DataFrame = {
    implicit val bandEnc = Encoders.product[BandRow]
    implicit val verdictEnc = Encoders.product[BandVerdict]
    implicit val longEnc = Encoders.scalaLong
    docs
      .withColumn("hsh", call_function("graft_shingle_hashes", col("text")))
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))
      .select(explode(bandKeys).as("band_key"), col("doc_id"))
      .as[BandRow]
      .groupByKey(_.band_key)
      .flatMapGroupsWithState[Long, BandVerdict](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(claim)
      .toDF()
  }

  private def bandKeys = expr(
    s"""transform(sequence(0, ${Bands - 1}), b ->
       |  cast(b as bigint) * 1000000007L
       |    + aggregate(slice(sig, 8 * b + 1, 8), 0L,
       |        (acc, h) -> (acc * 31 + h) % 1000000007))"""
      .stripMargin)

  final case class BandRowT(band_key: Long, doc_id: Long, ts: Timestamp)

  /** TTL fold: a band claim whose owner has seen no traffic for
    * `ttlMs` of EVENT time is evicted when the watermark passes its
    * deadline — the next arrival on that band is re-admitted as the
    * new owner. Event-time (not processing-time) aging keeps the
    * replay deterministic: the stream's own progress drives eviction,
    * so a checkpoint recovery or an audit re-run ages identically.
    * This is the production profile at 100 TB — the distinct-band
    * population IS the state bound, and without aging it grows with
    * corpus lifetime; with it, state is O(bands live inside one TTL
    * window). Pinned (eviction AND re-admission) in
    * StreamNearDupSpec. */
  private def claimTtl(ttlMs: Long)(key: Long, rows: Iterator[BandRowT],
      state: GroupState[Long]): Iterator[BandVerdict] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      var owner = if (state.exists) state.get else Long.MaxValue
      val arr = rows.toArray.sortBy(_.doc_id)
      val out = arr.map { r =>
        if (r.doc_id < owner) owner = r.doc_id
        BandVerdict(r.doc_id, key, owner)
      }
      state.update(owner)
      state.setTimeoutTimestamp(arr.map(_.ts.getTime).max + ttlMs)
      out.iterator
    }
  }

  /** [[admit]] with event-time TTL on the band-claim state. `docs`
    * must carry an event-time column `ts`; `delay` is the watermark
    * delay, `ttlMs` the claim's time-to-live past its last arrival. */
  def admitTtl(docs: DataFrame, delay: String,
      ttlMs: Long): DataFrame = {
    // A non-positive TTL would put the claim's deadline at/before the
    // group's own max event time, and setTimeoutTimestamp throws when
    // the deadline doesn't exceed the watermark — failing the whole
    // query at runtime. Reject it at plan-build time instead.
    require(ttlMs > 0, s"ttlMs must be positive (got $ttlMs)")
    implicit val bandEnc = Encoders.product[BandRowT]
    implicit val verdictEnc = Encoders.product[BandVerdict]
    implicit val longEnc = Encoders.scalaLong
    docs
      .withWatermark("ts", delay)
      .withColumn("hsh", call_function("graft_shingle_hashes", col("text")))
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))
      .select(explode(bandKeys).as("band_key"), col("doc_id"), col("ts"))
      .as[BandRowT]
      .groupByKey(_.band_key)
      .flatMapGroupsWithState[Long, BandVerdict](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
        claimTtl(ttlMs))
      .toDF()
  }
}
