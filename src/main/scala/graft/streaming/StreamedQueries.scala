package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Row,
  SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.Op
import graft.orderbook.Derive

/** Registry entries whose Spark side RUNS THROUGH THE STREAMING CODE
  * PATH (round-9 verdict item 7): each query replays the sf corpus
  * through a real Structured Streaming topology — file source in
  * multiple micro-batches → `transformWithState` → memory sink under
  * `Trigger.AvailableNow` — and returns the final state verdicts,
  * which a plain DuckDB batch oracle can still express. The oracle
  * gate thus pins STREAMING semantics (state folds across micro-batch
  * boundaries), not just the batch twins: any order-sensitivity or
  * cross-batch state bug shifts the final emissions and hash-fails.
  *
  * Both pipelines are bounded-state by construction (KMV sketch /
  * per-cell sums), so the replay's cost is the corpus scan + one state
  * shuffle — the same shape a production ingest pays per batch.
  *
  * The driver-side pieces are all codebook/metadata-scale and
  * documented: the IVF centroid prefix (⌈√n⌉ rows — the broadcast
  * codebook, same size class as dd10's Bloom sketch pickup) and the
  * st01/st02 chunk spill that forces ≥3 micro-batches. */
object StreamedQueries {

  private val qid = new AtomicInteger(0)

  /** session_window / window-agg / (flat)mapGroupsWithState state is
    * fine on the in-memory HDFS-backed provider; only
    * transformWithState requires RocksDB. Measured perf-neutral at
    * fixture scale (the micro-batch plan/commit lifecycle dominates,
    * not store opens). */
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Config key, read from the caller's session: OVERRIDE the
    * state-store provider every [[replay]] stream runs with (r15
    * verdict #4 — the RocksDB equality arm). Normally unset: each
    * replay names its own provider — RocksDB for the
    * transformWithState folds (which require it) and st10/st11, the
    * in-memory HDFS-backed provider for the rest. RocksDbStateSpec
    * sets this to the RocksDB provider and re-runs the whole st family
    * against the default outputs — at 100 TB state scale RocksDB IS
    * the production provider, and session_window / windowed-agg /
    * (flat)mapGroupsWithState are exactly where provider semantics
    * could diverge; the spec makes any divergence a cheap red test
    * instead of a cluster incident. */
  val ProviderOverrideKey = "spark.graft.stateStoreProvider"

  /** Recursive delete for the replay input/checkpoint dirs —
    * `deleteOnExit` cannot remove non-empty directories, so without
    * this every gated run would leak parquet replay dirs and RocksDB
    * checkpoints in /tmp (the memory-sink table retains the results;
    * nothing reads the dirs after termination). */
  private def rmTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { Files.deleteIfExists(q); () })
    }

  /** Stage one replay chunk as ONE parquet part file at a scheduled
    * mtime (`base + i` minutes — the file source orders batches by
    * mtime). A degenerate (near-empty) corpus can leave a chunk with
    * no part file at all — skip it; the remaining chunks still replay
    * in order. The [[Ordered]] staging's writer. */
  private def stageChunkFile(in: java.nio.file.Path, base: Long,
      rows: DataFrame, i: Int): Unit = {
    val stage = Files.createTempDirectory("graft-replay-stage")
    try {
      rows.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst
      if (part.isPresent) {
        val dst = in.resolve(f"chunk-$i%02d.parquet")
        Files.move(part.get, dst)
        dst.toFile.setLastModified(base + i * 60000L)
      }
    } finally rmTree(stage)
  }

  /** `msgs` with a `__chunk` column (1..`chunks`) carrying EXACTLY the
    * membership `ntile(chunks) OVER (ORDER BY order)` would assign —
    * without the single-partition global sort that window needs (the
    * `WindowExec: No Partition Defined` 100-TB scale killer the r19
    * verdict flagged): the feed is range-partitioned and sorted in
    * PARALLEL (`orderBy` = range exchange + per-partition sort), each
    * row's global rank is its partition's cumulative row offset plus
    * its position within the partition (both read off
    * `monotonically_increasing_id`: partition id in the upper 31 bits,
    * per-partition position in the lower 33), and the ntile bucket
    * boundaries are computed from the total count on the driver. The
    * only driver traffic is one row-count per shuffle partition —
    * split-bounds-class metadata, same size as the range sampler's own
    * driver state.
    *
    * The sorted frame is PERSISTED (second tuple element — caller
    * unpersists after staging): the offset/bound computation and every
    * chunk write must read ONE materialization, so rows whose order
    * key ties at a bucket boundary cannot migrate between the count
    * pass and the writes (ntile over a lazy frame had the same
    * single-execution requirement). Within a chunk the cached
    * partitions stay in range order, so a `coalesce(1)` write emits
    * rows in full sorted order — byte-identical staging to the window
    * spelling. ChunkManifestSpec pins the membership equality against
    * ntile per caller shape. */
  private[streaming] def chunkByRank(s: SparkSession, msgs: DataFrame,
      order: Column, chunks: Int = 3)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    // the range sampler executes the feed subtree once before the
    // shuffle does — cache it so staging pays the feed's own plan
    // (st06 aggregates snapshot ladders) once, not twice
    val feed = msgs.persist()
    val sorted = feed.orderBy(order)
      .withColumn("__mid", monotonically_increasing_id())
      .persist()
    val counts = sorted
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    feed.unpersist(blocking = false)
    val n = counts.map(_._2).sum
    val q = n / chunks
    val r = n % chunks
    // ntile semantics: bucket i (1-based) holds q + (i <= r ? 1 : 0)
    // rows; bounds(i) = cumulative rank boundary after bucket i+1
    val bounds = (1 to chunks).map(i => q * i + math.min(i.toLong, r))
    val offs = counts.map(_._2).scanLeft(0L)(_ + _)
    val offDf = counts.map(_._1).zip(offs).toSeq.toDF("__pid", "__off")
    val rank = col("__off") +
      col("__mid").bitwiseAND(lit((1L << 33) - 1))
    val chunkCol = (0 until chunks - 1)
      .foldRight(lit(chunks): Column) { (i, e) =>
        when(rank < bounds(i), lit(i + 1)).otherwise(e)
      }
    val chunked = sorted
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn("__chunk", chunkCol)
      .select(msgs.columns.map(col) :+ col("__chunk"): _*)
    (chunked, sorted)
  }

  /** How [[replay]] stages the feed as parquet files; the file source
    * reads them one per micro-batch, oldest mtime first. */
  private sealed trait Staging

  /** `chunks` part files of a `repartition`: rows scatter, so only
    * order-insensitive folds use it. An optional `flush` file gets the
    * newest mtime, so it is the LAST batch: its far-future event time
    * advances the watermark past every real window, and each one
    * closes exactly once. The callers' corpus-spanning watermark makes
    * the arbitrary chunk order a non-event. */
  private final case class Scattered(chunks: Int = 3,
      flush: Option[DataFrame] = None) extends Staging

  /** ORDER-PRESERVING staging for order-sensitive state machines
    * (st06's book: a stale snapshot arriving after newer deltas would
    * wrongly reset the level map — the production feed is seq-ordered
    * per connection and A3's validator fail-stops on violations, so an
    * ordered replay IS the contract under test, not a simplification).
    * 3 files by rank over `order` (per key, every row of chunk i
    * precedes chunk i+1) at strictly increasing mtimes, ranked by
    * [[chunkByRank]]'s parallel range sort, never a single-partition
    * window. */
  private final case class Ordered(order: Column) extends Staging

  /** Where [[replay]] sends the topology's output. */
  private sealed trait Sink

  /** The memory sink: every emission, returned as a table. */
  private case object MemoryTable extends Sink

  /** A `foreachBatch` writer, for sinks whose whole point is their side
    * effect (st20's exactly-once parquet emitter). `runs` > 1
    * re-streams the SAME staged files with a fresh checkpoint per run:
    * a full redelivery, every batch re-arriving with the same id and
    * content — the at-least-once duplication an idempotent sink must
    * absorb. The feed is staged once, so the files are identical by
    * construction. */
  private final case class Writer(write: (DataFrame, Long) => Unit,
      runs: Int) extends Sink

  /** State-store partitions = shuffle partitions at query start, one
    * store instance each per micro-batch. Replay state is
    * cells/tickers-sized, so 8 keeps the fold parallel at a quarter of
    * a 32-wide session's store lifecycles. The stream-stream joins
    * (st08/st09) open four stores per partition per batch; there this
    * took the gates 19-20 s → 15-16 s at sf0.1, and 4 partitions ran
    * slower (23-25 s) by starving the join of parallelism (round 12). */
  private val StoreParts = 8

  /** The one replay harness: stage `msgs` per `staging`, then run
    * `topology` over a file stream of the staged files (one file per
    * micro-batch, `AvailableNow`) into `sink`, so state folds across
    * real batch boundaries — the thing the st gates put under the
    * oracle. Returns the memory table bound to the CALLER's session
    * (callers post-process it with `s` frames under `s`'s conf), or an
    * empty frame for a [[Writer]].
    *
    * Staging runs on `s`; the stream runs on a scoped `s.newSession()`
    * that carries the two stream confs: the state-store `provider`
    * (unless [[ProviderOverrideKey]] is set on `s`) and [[StoreParts]]
    * shuffle partitions. `s`'s conf never changes, so replays can
    * overlap under [[graft.Par]]. The topology gets the stream frame
    * and keeps using `s` for implicits and seams. */
  private def replay(s: SparkSession, msgs: DataFrame, staging: Staging,
      provider: String = HdfsProvider, outputMode: String = "update",
      sink: Sink = MemoryTable)(topology: DataFrame => DataFrame)
      : DataFrame = {
    val rs = s.newSession()
    rs.conf.set("spark.sql.streaming.stateStore.providerClass",
      s.conf.getOption(ProviderOverrideKey).getOrElse(provider))
    rs.conf.set("spark.sql.shuffle.partitions", StoreParts.toString)
    val in = Files.createTempDirectory("graft-replay-in")
    val ckpt = Files.createTempDirectory("graft-replay-ckpt")
    def run(i: Int)(to: DataStreamWriter[Row] => DataStreamWriter[Row])
        : Unit =
      to(topology(rs.readStream.schema(msgs.schema)
          .option("maxFilesPerTrigger", 1).parquet(in.toString))
        .writeStream.outputMode(outputMode)
        .option("checkpointLocation", ckpt.resolve(s"run$i").toString)
        .trigger(Trigger.AvailableNow()))
        .start().awaitTermination()
    try {
      stage(s, msgs, staging, in)
      sink match {
        case MemoryTable =>
          val name = s"graft_replay_${qid.incrementAndGet()}"
          run(1)(_.format("memory").queryName(name))
          // the memory sink registers its view in the stream's session
          GraftPlanBridge.rebind(rs.table(name), s)
        case Writer(write, runs) =>
          (1 to runs).foreach(i => run(i)(_.foreachBatch(write)))
          s.emptyDataFrame
      }
    } finally { rmTree(in); rmTree(ckpt) }
  }

  private def stage(s: SparkSession, msgs: DataFrame, staging: Staging,
      in: Path): Unit = staging match {
    case Scattered(chunks, flush) =>
      msgs.repartition(chunks).write.mode("overwrite").parquet(in.toString)
      flush.foreach { f =>
        val old = System.currentTimeMillis() - 120000
        Files.list(in).forEach(p => { p.toFile.setLastModified(old); () })
        f.coalesce(1).write.mode("append").parquet(in.toString)
      }
    case Ordered(order) =>
      val base = System.currentTimeMillis() - 600000
      val (chunked, cached) = chunkByRank(s, msgs, order)
      try {
        (1 to 3).foreach { i =>
          stageChunkFile(in, base,
            chunked.where(col("__chunk") === i).drop("__chunk"), i)
        }
      } finally cached.unpersist(blocking = false)
  }

  // ----------------------------------------------------------------- st01
  /** st01 — STREAMING IVF centroid stats ([[StreamIvf]]): embeddings
    * replayed as an ingest stream, each vector assigned to its nearest
    * centroid stream-side and folded into per-cell exact-micros sums in
    * `transformWithState`; the FINAL per-cell emission (n is strictly
    * monotone per cell, so max-n is the last) exploded to (cell, dim,
    * n_members, mean_c). The oracle is sim10's batch aggregate minus
    * the old-centroid join — one truth for the batch Lloyd step and
    * the streaming ingest twin. Assignment + quantization semantics
    * documented at [[StreamIvf.assign]]/[[StreamIvf.micros6]]. */
  def streamIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the sim10 `normed` frame, verbatim (Similarity.scala:28-38)
    val n = graft.Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    // codebook pickup: the deterministic first-⌈√n⌉ prefix, collected
    // to the driver — cells ≈ √n rows, the same broadcast size class
    // every batch consumer of this codebook uses
    val c = n.agg(ceil(sqrt(count(lit(1)))).cast("long")).head.getLong(0)
    // one broadcast handle per executor, not ⌈√n⌉ centroid rows
    // re-serialized into every task closure — at 10⁹ vectors the
    // codebook is ~32k×64 doubles ≈ 16 MB, broadcast-class not
    // closure-class (round-10 verdict item 4)
    val cents = s.sparkContext.broadcast(
      n.where(col("vec_id") < c)
        .select(col("vec_id"), col("e"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1))
    val emissions = replay(s, n.select(col("vec_id"), col("e"), col("nrm")),
        Scattered(), RocksProvider) { stream =>
        StreamIvf.runOn(s,
          stream.as[(Long, Array[Double], Double)].map { case (_, e, nrm) =>
            StreamIvf.CellVec(StreamIvf.assign(e, nrm, cents.value),
              e.map(StreamIvf.micros6))
          }).toDF()
    }
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("n_members").desc)
    emissions
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("cell"), col("n_members"), posexplode(col("means")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("dim"),
        col("n_members"), col("col").as("mean_c"))
      .orderBy(col("cell"), col("dim"))
  }

  /** sim10's member aggregate, without the old-centroid columns. */
  val streamIvfSql: String =
    graft.similarity.Similarity.normedCte + "," +
    graft.similarity.Similarity.centCte + "," +
    graft.similarity.Similarity.assignedCte + "," +
    """
      |mem AS (
      |  SELECT a.cell, CAST(t.i AS INT) AS dim,
      |    a.e[CAST(t.i AS INT)] AS v
      |  FROM assigned a, unnest(range(1, len(a.e) + 1)) AS t(i))
      |SELECT cell, dim, COUNT(*) AS n_members,
      |  CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_c
      |FROM mem GROUP BY cell, dim
      |ORDER BY cell, dim""".stripMargin

  // ----------------------------------------------------------------- st02
  /** st02 — STREAMING KMV book breadth ([[StreamDistinct]]): the
    * delta feed replayed as a stream, per-ticker distinct price levels
    * sketched in bounded O(K) state; final verdict per ticker selected
    * by (k_used DESC, est DESC) — both monotone under sketch growth,
    * so the pick is the last emission (the StreamDistinctSpec
    * tie-break, promoted into the gated query). Oracle: txt15's KMV
    * estimator spelled over the delta stream — k-th smallest distinct
    * hash in plain SQL, no streaming required to SAY it; the streaming
    * side must FOLD to it across batches. */
  def streamKmv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val deltas = Derive.deltas(s, d).select(col("ticker"), col("price"))
    val emissions = replay(s, deltas, Scattered(), RocksProvider) { stream =>
      StreamDistinct.runOn(s,
        stream.select(col("ticker"),
          ((col("price").cast("long") * 2654435761L + 678L)
            % StreamDistinct.M).as("h"))
          .as[StreamDistinct.Elem]).toDF()
    }
    val w = Window.partitionBy(col("ticker"))
      .orderBy(col("k_used").desc, col("est").desc)
    emissions
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("ticker"), col("k_used"), col("est"))
      .orderBy(col("ticker"))
  }

  val streamKmvSql: String = Derive.cte +
    s""", th AS (
       |  SELECT DISTINCT ticker,
       |    (CAST(price AS BIGINT) * 2654435761 + 678) % ${StreamDistinct.M}
       |      AS h
       |  FROM ob_deltas),
       |topk AS (
       |  SELECT ticker, h, ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY h)
       |    AS rn
       |  FROM th),
       |sk AS (
       |  SELECT ticker, CAST(MAX(h) AS BIGINT) AS h_k, COUNT(*) AS k_used
       |  FROM topk WHERE rn <= ${StreamDistinct.K} GROUP BY ticker)
       |SELECT ticker, CAST(k_used AS INT) AS k_used,
       |  CASE WHEN k_used < ${StreamDistinct.K} THEN CAST(k_used AS DOUBLE)
       |       ELSE CAST(k_used - 1 AS DOUBLE) * ${StreamDistinct.M} / h_k
       |  END AS est
       |FROM sk ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- st03

  private val WmDays = 36500L

  /** Max event ts of the delta feed; 0 for an EMPTY (degenerate)
    * corpus — the flush still runs, it just closes nothing. */
  private def corpusMaxTs(s: SparkSession, d: String): Long = {
    val r = Derive.deltas(s, d).agg(max(col("ts_ms"))).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def flushTsFor(s: SparkSession, d: String,
      slackMs: Long): Long =
    corpusMaxTs(s, d) +
      slackMs + WmDays * 24 * 3600 * 1000 + 3600 * 1000

  /** st03 — the PRODUCTION streaming sessionizer
    * ([[StreamPipeline.messageSessions]]: `session_window` + watermark
    * over the wire-message frame) under the driver's oracle: the delta
    * feed replayed as wire-shaped rows in ≥4 micro-batches, sessions
    * emitted in APPEND mode (exactly once, when the watermark proves
    * them closed), against the batch gaps-and-islands spelling in
    * DuckDB.
    *
    * Two replay mechanics make the equality exact:
    *  - the chunk files are NOT time-ordered (repartition scatters
    *    rows), so the watermark is set far beyond the corpus span —
    *    no intra-replay late-drop can occur and the equality tests
    *    the session MERGE logic, not the feed's ordering luck;
    *  - a single far-future FLUSH row (its own file, newest mtime, so
    *    the file source schedules it LAST) advances the watermark past
    *    every real session's close at end of replay; the flush
    *    ticker's own session never closes and thus never emits.
    *
    * Boundary parity: `session_window` opens a NEW session at
    * diff ≥ gap (window ends are exclusive), so the oracle spells
    * `>=` — q16's batch convention is strictly-greater, which would
    * diverge on an exact-boundary event. */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    val gapMs = 30L * 60 * 1000
    val msgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"),
        struct(col("ticker").as("market_ticker"),
          col("ts_ms").as("ts")).as("msg"))
    val flush = s.range(1).select(lit("orderbook_delta").as("type"),
      struct(lit("ZFLUSH").as("market_ticker"),
        lit(flushTsFor(s, d, gapMs)).as("ts")).as("msg"))
    replay(s, msgs, Scattered(flush = Some(flush)), outputMode = "append")(
        StreamPipeline.messageSessions(_, gap = "30 minutes",
          watermark = s"$WmDays days"))
      .where(col("ticker") =!= "ZFLUSH") // its session never closes
      .select(col("ticker"), col("session_start"), col("session_end"),
        col("n_msgs"))
      .orderBy(col("ticker"), col("session_start"))
  }

  val streamSessionsSql: String = Derive.cte +
    """, ss_f AS (
      |  SELECT ticker, ts_ms, event_id,
      |    CASE WHEN LAG(ts_ms) OVER w IS NULL
      |         OR ts_ms - LAG(ts_ms) OVER w >= 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM ob_deltas
      |  WINDOW w AS (PARTITION BY ticker ORDER BY ts_ms, event_id)),
      |ss_g AS (
      |  SELECT ticker, ts_ms,
      |    SUM(is_new) OVER (PARTITION BY ticker ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM ss_f)
      |SELECT ticker, MIN(ts_ms) AS session_start,
      |  MAX(ts_ms) + 1800000 AS session_end, COUNT(*) AS n_msgs
      |FROM ss_g GROUP BY ticker, sess
      |ORDER BY ticker, session_start""".stripMargin

  // ----------------------------------------------------------------- st04
  /** st04 — the PRODUCTION streaming OHLC aggregate
    * ([[StreamPipeline.candles]]: watermarked 1-minute tumbling
    * windows, open/close by `min_by`/`max_by` on the per-ticker seq)
    * under the driver's oracle via the same closed-window replay as
    * st03; the flush ticker's own candle never closes, so it never
    * emits. Oracle = the batch floor-to-minute GROUP BY with
    * `arg_min`/`arg_max` — deterministic because seq is unique per
    * ticker. */
  def streamCandles(s: SparkSession, d: String): DataFrame = {
    val msgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"), col("seq"),
        struct(col("ticker").as("market_ticker"),
          col("ts_ms").as("ts"), col("price")).as("msg"))
    val flush = s.range(1).select(lit("orderbook_delta").as("type"),
      lit(1L).as("seq"),
      struct(lit("ZFLUSH").as("market_ticker"),
        lit(flushTsFor(s, d, 60L * 1000)).as("ts"),
        lit(1).as("price")).as("msg"))
    replay(s, msgs, Scattered(flush = Some(flush)), outputMode = "append")(
        StreamPipeline.candles(_, "1 minute", s"$WmDays days"))
      .where(col("ticker") =!= "ZFLUSH") // its candle never closes
      .select(col("ticker"), col("bucket_start"), col("open"),
        col("high"), col("low"), col("close"), col("n_ticks"))
      .orderBy(col("ticker"), col("bucket_start"))
  }

  val streamCandlesSql: String = Derive.cte +
    """SELECT ticker, (ts_ms // 60000) * 60000 AS bucket_start,
      |  arg_min(price, seq) AS open, MAX(price) AS high,
      |  MIN(price) AS low, arg_max(price, seq) AS close,
      |  COUNT(*) AS n_ticks
      |FROM ob_deltas
      |GROUP BY ticker, (ts_ms // 60000) * 60000
      |ORDER BY ticker, bucket_start""".stripMargin

  // ----------------------------------------------------------------- st05
  /** st05 — the PRODUCTION streaming as-of join ([[AsOfStream.enrich]]:
    * custom `flatMapGroupsWithState`, trades held until the watermark
    * proves no earlier quote can still arrive) under the driver's
    * oracle: the delta feed replayed as wire-shaped rows through the
    * closed-window harness, every no-side print enriched with the
    * latest yes-side quote at-or-before it in (ts, seq) order. The
    * flush row is a far-future QUOTE on an unused ticker — quotes
    * advance the watermark but never emit, so no output filter is
    * needed; every real trade finalizes exactly once. Oracle = ob14's
    * window-as-of shape spelled over the (ts, seq)-ordered stream (a
    * quote at the same millisecond counts only when its seq precedes
    * the trade's — [[AsOfStream.asOf]]'s lexicographic rule). */
  def streamAsOf(s: SparkSession, d: String): DataFrame = {
    val msgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"), col("seq"),
        struct(col("ticker").as("market_ticker"), col("side"),
          col("ts_ms").as("ts"), col("price")).as("msg"))
    val flush = s.range(1).select(lit("orderbook_delta").as("type"),
      lit(1L).as("seq"),
      struct(lit("ZFLUSH").as("market_ticker"), lit("yes").as("side"),
        lit(flushTsFor(s, d, 0L)).as("ts"), lit(1).as("price")).as("msg"))
    replay(s, msgs, Scattered(flush = Some(flush)), outputMode = "append")(
        AsOfStream.enrich(s, _, watermark = s"$WmDays days").toDF())
      .select(col("ticker"), col("trade_seq"), col("trade_ts"),
        col("trade_price"), col("quote_seq"), col("quote_ts"),
        col("quote_price"), col("staleness_ms"))
      .orderBy(col("ticker"), col("trade_seq"))
  }

  val streamAsOfSql: String = Derive.cte +
    """, enr AS (
      |  SELECT ticker, side, ts_ms, seq, price,
      |    LAST_VALUE(CASE WHEN side = 'yes' THEN seq END IGNORE NULLS)
      |      OVER w AS quote_seq,
      |    LAST_VALUE(CASE WHEN side = 'yes' THEN ts_ms END IGNORE NULLS)
      |      OVER w AS quote_ts,
      |    LAST_VALUE(CASE WHEN side = 'yes' THEN price END IGNORE NULLS)
      |      OVER w AS quote_price
      |  FROM ob_deltas
      |  WINDOW w AS (PARTITION BY ticker ORDER BY ts_ms, seq
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT ticker, seq AS trade_seq, ts_ms AS trade_ts,
      |  price AS trade_price,
      |  COALESCE(quote_seq, -1) AS quote_seq,
      |  COALESCE(quote_ts, -1) AS quote_ts,
      |  CAST(COALESCE(quote_price, -1) AS INTEGER) AS quote_price,
      |  COALESCE(ts_ms - quote_ts, -1) AS staleness_ms
      |FROM enr WHERE side = 'no'
      |ORDER BY ticker, trade_seq""".stripMargin

  // ----------------------------------------------------------------- st06
  /** st06 — the PRODUCTION live book ([[LiveBook.topOfBook]]: snapshot
    * RESET + signed delta-apply per ticker in `flatMapGroupsWithState`,
    * top-of-book emitted per updated ticker per batch — the closest
    * operator to the reference's actual purpose, consumer.py:24-27)
    * under the driver's oracle.
    *
    * Replay mechanics differ from st03-05: book application is
    * ORDER-SENSITIVE (a stale snapshot arriving after newer deltas
    * would wrongly reset), and the production contract is a seq-ordered
    * feed per connection (A3's validator fail-stops on violations) —
    * its [[replay]] uses [[Ordered]] staging, chunking the corpus BY
    * the application order (mtime-ordered files, one per chunk)
    * instead of scattering rows.
    * Messages interleave real snapshots (rebuilt as wire-shaped dollar
    * ladders from the same anchors as ob_snapshots) with the delta
    * stream on a shared per-event order: snapshot at 2·event_id, the
    * same event's delta at 2·event_id+1 — deterministic on both sides
    * of the gate. Final verdict per ticker = the emission at max
    * last_seq (monotone under ordered replay). Oracle = last snapshot's
    * ladder plus all deltas at-or-after it, summed per level, levels
    * that net to zero dropped ([[LiveBook.apply]]'s removal rule),
    * best = max price per side. */
  def streamBook(s: SparkSession, d: String): DataFrame = {
    val nullArr = lit(null).cast("array<array<double>>")
    val deltaMsgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"),
        (col("event_id") * 2 + 1).cast("long").as("seq"),
        struct(col("ticker").as("market_ticker"), col("side"),
          col("price"), col("delta"),
          nullArr.as("yes_dollars"), nullArr.as("no_dollars")).as("msg"))
    def ladder(side: String) = collect_list(when(col("side") === side,
      array(col("price").cast("double") / 100.0,
        col("contracts").cast("double"))))
    val snapMsgs = Derive.snapshots(s, d)
      .groupBy(col("ticker"), col("event_id"))
      .agg(ladder("yes").as("yes_dollars"), ladder("no").as("no_dollars"))
      .select(lit("orderbook_snapshot").as("type"),
        (col("event_id") * 2).cast("long").as("seq"),
        struct(col("ticker").as("market_ticker"),
          lit(null).cast("string").as("side"),
          lit(null).cast("int").as("price"),
          lit(null).cast("int").as("delta"),
          col("yes_dollars"), col("no_dollars")).as("msg"))
    val emissions = replay(s, deltaMsgs.unionByName(snapMsgs),
        Ordered(col("seq")), outputMode = "append")(
        LiveBook.topOfBook(s, _).toDF())
    val w = Window.partitionBy(col("ticker"))
      .orderBy(col("last_seq").desc)
    emissions
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("ticker"), col("last_seq"), col("best_yes_cents"),
        col("best_yes_qty"), col("best_no_cents"), col("best_no_qty"),
        col("n_levels"))
      .orderBy(col("ticker"))
  }

  val streamBookSql: String = Derive.cte +
    """, snapm AS (
      |  SELECT ticker, MAX(event_id) AS snap_eid
      |  FROM ob_snapshots GROUP BY ticker),
      |contrib AS (
      |  SELECT os.ticker, os.side, os.price AS pc,
      |    CAST(os.contracts AS BIGINT) AS q
      |  FROM ob_snapshots os
      |  JOIN snapm sm ON os.ticker = sm.ticker AND os.event_id = sm.snap_eid
      |  UNION ALL
      |  SELECT d.ticker, d.side, d.price AS pc, CAST(d.delta AS BIGINT) AS q
      |  FROM ob_deltas d LEFT JOIN snapm sm ON d.ticker = sm.ticker
      |  WHERE sm.snap_eid IS NULL OR d.event_id >= sm.snap_eid),
      |book AS (
      |  SELECT ticker, side, pc, SUM(q) AS q
      |  FROM contrib GROUP BY ticker, side, pc HAVING SUM(q) <> 0)
      |SELECT t.ticker, t.last_seq,
      |  CAST(COALESCE(y.pc, -1) AS INTEGER) AS best_yes_cents,
      |  CAST(COALESCE(y.q, 0) AS INTEGER) AS best_yes_qty,
      |  CAST(COALESCE(n.pc, -1) AS INTEGER) AS best_no_cents,
      |  CAST(COALESCE(n.q, 0) AS INTEGER) AS best_no_qty,
      |  CAST(COALESCE(nl.n, 0) AS INTEGER) AS n_levels
      |FROM (SELECT ticker, 2 * MAX(event_id) + 1 AS last_seq
      |      FROM ob_deltas GROUP BY ticker) t
      |LEFT JOIN (SELECT ticker, MAX(pc) AS pc, arg_max(q, pc) AS q
      |           FROM book WHERE side = 'yes' GROUP BY ticker) y
      |  USING (ticker)
      |LEFT JOIN (SELECT ticker, MAX(pc) AS pc, arg_max(q, pc) AS q
      |           FROM book WHERE side = 'no' GROUP BY ticker) n
      |  USING (ticker)
      |LEFT JOIN (SELECT ticker, COUNT(*) AS n FROM book GROUP BY ticker) nl
      |  USING (ticker)
      |ORDER BY t.ticker""".stripMargin

  // ----------------------------------------------------------------- st07
  /** st07 — the PRODUCTION per-minute message-rate monitor
    * ([[LiveBook.messageRatePerMinute]]: watermarked 1-minute tumbling
    * count over the wire frame — B7's streaming twin) under the
    * driver's oracle via the st03/st04 closed-window replay; with it,
    * every streaming topology in the production surface
    * (StreamPipeline + AsOfStream + LiveBook) is oracle-gated. Oracle
    * = the batch floor-to-minute GROUP BY count. */
  def streamRate(s: SparkSession, d: String): DataFrame = {
    val msgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"),
        struct(col("ticker").as("market_ticker"),
          col("ts_ms").as("ts")).as("msg"))
    val flush = s.range(1).select(lit("orderbook_delta").as("type"),
      struct(lit("ZFLUSH").as("market_ticker"),
        lit(flushTsFor(s, d, 60L * 1000)).as("ts")).as("msg"))
    replay(s, msgs, Scattered(flush = Some(flush)), outputMode = "append")(
        LiveBook.messageRatePerMinute(_, lateness = s"$WmDays days"))
      .where(col("ticker") =!= "ZFLUSH") // its window never closes
      .select(col("ticker"), unix_millis(col("window_start")).as("minute_start"),
        col("n_msgs"))
      .orderBy(col("ticker"), col("minute_start"))
  }

  val streamRateSql: String = Derive.cte +
    """SELECT ticker, (ts_ms // 60000) * 60000 AS minute_start,
      |  COUNT(*) AS n_msgs
      |FROM ob_deltas
      |GROUP BY ticker, (ts_ms // 60000) * 60000
      |ORDER BY ticker, minute_start""".stripMargin

  // ----------------------------------------------------------------- st08
  /** Wire frame both interval-join entries replay: the delta feed with
    * side/price/delta in the message struct and the exchange seq on the
    * frame (st05's shape plus delta). */
  private def pairMsgs(s: SparkSession, d: String): DataFrame =
    Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"), col("seq"),
        struct(col("ticker").as("market_ticker"), col("side"),
          col("ts_ms").as("ts"), col("price"), col("delta")).as("msg"))

  private val PairBandSec = 60

  /** st08 — the stream-stream INTERVAL join ([[StreamJoins.yesNoPairs]]:
    * both sides watermarked, join state evicted once the ±band window
    * passes — bounded memory on an unbounded two-sided flow) under the
    * driver's oracle. Inner matches emit the moment the second side
    * arrives, in ANY arrival order (each row probes the other side's
    * buffered state), so the unordered closed-window replay is exact:
    * the corpus-spanning watermark keeps state from evicting mid-replay
    * and every cross-chunk pair still forms. The flush row is a
    * far-future yes-side delta on an unused ticker — it matches
    * nothing, and an inner join emits only matches, so it needs no
    * output filter (kept anyway for symmetry with st09). Band widened
    * from the suite's ±5 s to ±60 s so the gate has real cross-side
    * density at sf0.01 (108 pairs; 6.9k at sf0.1). Oracle = the batch
    * self-join band spelling. */
  def streamPairs(s: SparkSession, d: String): DataFrame = {
    val flush = s.range(1).select(lit("orderbook_delta").as("type"),
      lit(1L).as("seq"),
      struct(lit("ZFLUSH").as("market_ticker"), lit("yes").as("side"),
        lit(flushTsFor(s, d, PairBandSec * 1000L)).as("ts"),
        lit(1).as("price"), lit(0).as("delta")).as("msg"))
    replay(s, pairMsgs(s, d), Scattered(2, Some(flush)),
        outputMode = "append")(
        StreamJoins.yesNoPairs(_, watermark = s"$WmDays days",
          bandSec = PairBandSec))
      .where(col("ticker") =!= "ZFLUSH")
      .select(col("ticker"), col("yes_seq"), col("no_seq"),
        col("yes_price"), col("no_price"),
        col("yes_delta"), col("no_delta"))
      .orderBy(col("ticker"), col("yes_seq"), col("no_seq"))
  }

  val streamPairsSql: String = Derive.cte +
    s"""SELECT y.ticker, y.seq AS yes_seq, n.seq AS no_seq,
       |  y.price AS yes_price, n.price AS no_price,
       |  y.delta AS yes_delta, n.delta AS no_delta
       |FROM ob_deltas y JOIN ob_deltas n
       |  ON y.ticker = n.ticker AND n.side = 'no'
       |  AND n.ts_ms >= y.ts_ms - ${PairBandSec * 1000}
       |  AND n.ts_ms <= y.ts_ms + ${PairBandSec * 1000}
       |WHERE y.side = 'yes'
       |ORDER BY y.ticker, yes_seq, no_seq""".stripMargin

  // ----------------------------------------------------------------- st09
  /** st09 — the LEFT-OUTER interval join's eviction-driven NEGATIVES
    * ([[StreamJoins.yesNoPairsOuter]]): yes-side probes that provably
    * got no no-side answer within the band, emitted-with-nulls only
    * once the watermark passes their join window — the semantics an
    * inner join can't give (proving a negative on an unbounded
    * stream). The replay's flush must advance BOTH inputs' watermarks
    * (the global watermark is their min), so it is TWO far-future
    * rows, one per side, 10× the band apart so they don't pair with
    * each other; the yes-side flush row's own null emission is the one
    * output-filtered row. Oracle = the batch left-join band spelling
    * restricted to unmatched probes. */
  def streamUnmatched(s: SparkSession, d: String): DataFrame = {
    val base = flushTsFor(s, d, PairBandSec * 1000L)
    val flush = s.createDataFrame(Seq(
        ("yes", base), ("no", base + 10L * PairBandSec * 1000)))
      .toDF("fside", "fts")
      .select(lit("orderbook_delta").as("type"), lit(1L).as("seq"),
        struct(lit("ZFLUSH").as("market_ticker"),
          col("fside").as("side"), col("fts").as("ts"),
          lit(1).as("price"), lit(0).as("delta")).as("msg"))
    replay(s, pairMsgs(s, d), Scattered(2, Some(flush)),
        outputMode = "append")(
        StreamJoins.yesNoPairsOuter(_, watermark = s"$WmDays days",
          bandSec = PairBandSec))
      .where(col("no_seq").isNull && col("ticker") =!= "ZFLUSH")
      .select(col("ticker"), col("yes_seq"),
        col("yes_price"), col("yes_delta"))
      .orderBy(col("ticker"), col("yes_seq"))
  }

  val streamUnmatchedSql: String = Derive.cte +
    s"""SELECT y.ticker, y.seq AS yes_seq,
       |  y.price AS yes_price, y.delta AS yes_delta
       |FROM ob_deltas y LEFT JOIN ob_deltas n
       |  ON y.ticker = n.ticker AND n.side = 'no'
       |  AND n.ts_ms >= y.ts_ms - ${PairBandSec * 1000}
       |  AND n.ts_ms <= y.ts_ms + ${PairBandSec * 1000}
       |WHERE y.side = 'yes' AND n.seq IS NULL
       |ORDER BY y.ticker, yes_seq""".stripMargin

  // ----------------------------------------------------------------- st10
  /** st10 — stream-STATIC broadcast enrichment
    * ([[StreamJoins.enrichDeltas]]: the slow-changing ticker→series
    * dimension A1's discovery produces, re-resolved and explicitly
    * broadcast per micro-batch — stateless, no watermark, one
    * broadcast-hash probe per row) under the driver's oracle. The dim
    * deliberately omits one ticker so the LEFT join's
    * never-drop-a-fact contract is what the hash gate checks (an inner
    * join would silently pass on a fully-covered dim). Dim series =
    * 'S' + (ticker number mod 4), engine-identical arithmetic. */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = Derive.deltas(s, d).select(col("ticker")).distinct()
      .where(col("ticker") =!= "T7")
      .withColumn("series", concat(lit("S"),
        (substring(col("ticker"), 2, 10).cast("int") % 4).cast("string")))
    replay(s, pairMsgs(s, d), Scattered(), RocksProvider)(
        StreamJoins.enrichDeltas(_, dim))
      .select(col("ticker"), col("seq"), col("side"),
        col("price"), col("delta"),
        coalesce(col("series"), lit("NONE")).as("series"))
      .orderBy(col("ticker"), col("seq"))
  }

  val streamEnrichSql: String = Derive.cte +
    """, dim AS (
      |  SELECT DISTINCT ticker,
      |    'S' || CAST(CAST(SUBSTR(ticker, 2, 10) AS INTEGER) % 4 AS VARCHAR)
      |      AS series
      |  FROM ob_deltas WHERE ticker <> 'T7')
      |SELECT d.ticker, d.seq, d.side, d.price, d.delta,
      |  COALESCE(m.series, 'NONE') AS series
      |FROM ob_deltas d LEFT JOIN dim m USING (ticker)
      |ORDER BY d.ticker, d.seq""".stripMargin

  // ----------------------------------------------------------------- st11
  /** st11 — the production at-least-once REPLAY DEDUP
    * ([[StreamPipeline.dedupAcrossBatches]]:
    * `dropDuplicatesWithinWatermark` on the "sid-seq" lineage id — the
    * reference's insert-before-XDEL redelivery window,
    * consumer.py:98-107, made explicit and bounded) under the driver's
    * oracle. The feed is [[Derive.deltasWithDups]] — every 100th
    * message delivered twice — scattered across 3 unordered
    * micro-batches, so a redelivery routinely lands in a DIFFERENT
    * batch than its original: exactly the cross-batch state the
    * operator exists for. The oracle aggregates the CLEAN feed — any
    * surviving duplicate (or over-eager drop) shifts the per-ticker
    * counts and hash-fails. Dedup-state watermark delay spans the
    * corpus (no mid-replay eviction), the same replay convention as
    * st03's. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val feed = Derive.deltasWithDups(s, d)
      .select(col("ticker"), col("side"), col("price"), col("delta"),
        col("seq"), col("ts_ms").as("ingestion_ts"),
        concat(col("ticker"), lit("-"), col("seq")).as("redis_stream_id"))
    replay(s, feed, Scattered(), RocksProvider)(
        StreamPipeline.dedupAcrossBatches(_, delay = s"$WmDays days"))
      .groupBy(col("ticker"))
      .agg(count(lit(1)).as("n_msgs"),
        sum(col("delta").cast("long")).as("sum_delta"),
        max(col("seq")).as("max_seq"))
      .orderBy(col("ticker"))
  }

  val streamDedupSql: String = Derive.cte +
    """SELECT ticker, COUNT(*) AS n_msgs,
      |  CAST(SUM(CAST(delta AS BIGINT)) AS BIGINT) AS sum_delta,
      |  MAX(seq) AS max_seq
      |FROM ob_deltas
      |GROUP BY ticker
      |ORDER BY ticker""".stripMargin

  // ----------------------------------------------------------------- st12
  /** st12 — per-ticker running tick stats on the MODERN
    * `transformWithState` API ([[TickerStats]]: named ValueState
    * handle, TTL config, processor lifecycle — the successor API to
    * st05/st06's flatMapGroupsWithState) under the driver's oracle.
    * last_seq/last_price are arrival-order state (the fold keeps the
    * LAST applied tick), so the replay is [[Ordered]] on
    * event_id — the same production seq-ordered-feed contract as st06
    * — and the state store is the RocksDB provider transformWithState
    * requires. Final verdict per ticker = the emission at max n_msgs
    * (strictly monotone per ticker). Oracle = batch per-ticker
    * count/min/max plus the price at max seq. */
  def streamTickerStats(s: SparkSession, d: String): DataFrame = {
    val msgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"), col("seq"),
        col("event_id"),
        struct(col("ticker").as("market_ticker"),
          col("price")).as("msg"))
    val emissions = replay(s, msgs, Ordered(col("event_id")), RocksProvider)(
      TickerStats.run(s, _).toDF())
    val w = Window.partitionBy(col("ticker"))
      .orderBy(col("n_msgs").desc)
    emissions
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("ticker"), col("n_msgs"), col("last_seq"),
        col("last_price"), col("min_price"), col("max_price"))
      .orderBy(col("ticker"))
  }

  val streamTickerStatsSql: String = Derive.cte +
    """, lastp AS (
      |  SELECT ticker, price FROM (
      |    SELECT ticker, price,
      |      ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY seq DESC) AS rn
      |    FROM ob_deltas) WHERE rn = 1)
      |SELECT d.ticker, COUNT(*) AS n_msgs, MAX(d.seq) AS last_seq,
      |  MAX(l.price) AS last_price,
      |  MIN(d.price) AS min_price, MAX(d.price) AS max_price
      |FROM ob_deltas d JOIN lastp l USING (ticker)
      |GROUP BY d.ticker
      |ORDER BY d.ticker""".stripMargin

  // ----------------------------------------------------------------- st13
  /** st13 — the LIVE WIRE PATH end-to-end under the driver's oracle
    * (round-11 verdict item 2: the one production path whose output
    * was bench-measured but never hash-checked). The delta feed is
    * served as real RFC 6455 WebSocket frames by [[WsReplay]] (the
    * server role of the same WsWire codec), consumed by the actual
    * `graft-socket` source over 2 sharded connections — HTTP Upgrade,
    * MASKED subscribe frame, per-connection monotone seq with the A3
    * fail-stop validator hot on every line — then decoded, routed,
    * normalized and replay-deduped by the PRODUCTION unified pipeline
    * ([[StreamPipeline.runUnifiedFrom]]: decode → route → flatten →
    * dedup → checkpointed parquet append), and finally aggregated per
    * (ticker, side). Oracle = the same aggregate over the batch
    * ob_deltas CTE: any frame loss, mis-route, double-delivery, or
    * decimal mis-cast on the wire path shifts the counts/sums and
    * hash-fails.
    *
    * Harness mechanics, all driver-side by nature (the replay server
    * PLAYS THE EXCHANGE, which production never materializes):
    *  - feed lines are collected to the driver to script the two
    *    server connections — corpus-sized at gate SFs, never a
    *    production shape;
    *  - each connection gets its own sid and a renumbered 1..m seq in
    *    deterministic (ticker, seq) order, because the live validator
    *    checks ONE monotone per-CONNECTION seq
    *    (kalshi_ws_client.py:129-146) while the fixture numbers per
    *    ticker;
    *  - tickers are assigned to shards round-robin over the sorted
    *    distinct list — the same assignment the source itself makes —
    *    so each server feeds exactly the tickers its connection
    *    subscribes to;
    *  - the final aggregate (tickers × 2 rows) is collected and
    *    re-created as a local DataFrame so the parquet out-dir can be
    *    deleted before returning. */
  private val wireOutSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("ticker",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("side",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_msgs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sum_delta",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sum_price",
      org.apache.spark.sql.types.DoubleType)))

  /** The delta feed in deterministic (ticker, seq) order — the rows
    * the wire-gate harnesses (st13/st14/st15) script their servers /
    * segment logs from. Driver-side by nature: the replay server
    * plays the EXCHANGE, which production never materializes. */
  private def wireFeed(s: SparkSession, d: String)
      : Array[org.apache.spark.sql.Row] =
    Derive.deltas(s, d)
      .select(col("ticker"), col("side"), col("price"), col("delta"),
        col("ts_ms"), col("seq"))
      .orderBy(col("ticker"), col("seq"))
      .collect()

  /** One wire envelope line; `seq` must be the CONNECTION's monotone
    * counter and `sid` unique per connection/epoch (the "sid-seq"
    * lineage id must never collide across feeds). */
  private def wireLine(r: org.apache.spark.sql.Row, sid: Int,
      seq: Long): String = {
    val pd = java.math.BigDecimal.valueOf(r.getInt(2).toLong, 2)
      .toPlainString
    s"""{"type":"orderbook_delta","sid":$sid,"seq":$seq,"msg":{""" +
      s""""market_ticker":${WireSocket.jsonString(r.getString(0))},""" +
      s""""side":"${r.getString(1)}","price_dollars":$pd,""" +
      s""""delta":${r.getInt(3)},"ts":${r.getLong(4)}}}"""
  }

  /** The (ticker, side) aggregate over the pipeline's delta output,
    * collected and re-created locally so the parquet out-dir can be
    * deleted before returning (tickers × 2 rows). */
  private def wireAgg(s: SparkSession, out: java.nio.file.Path): DataFrame = {
    import scala.jdk.CollectionConverters._
    val agg = s.read.parquet(s"$out/orderbook_deltas")
      .groupBy(col("ticker"), col("side"))
      .agg(count(lit(1)).as("n_msgs"),
        sum(col("delta").cast("long")).as("sum_delta"),
        sum(col("price_dollars")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
      .orderBy(col("ticker"), col("side"))
      .collect().toSeq
    s.createDataFrame(agg.asJava, wireOutSchema)
      .orderBy(col("ticker"), col("side"))
  }

  private def emptyWireResult(s: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(Seq.empty[org.apache.spark.sql.Row].asJava,
      wireOutSchema)
  }

  /** Phase timer for the wire e2e gates (st13/st14/st15): one stderr
    * line per phase so the bench's per-query seconds are ATTRIBUTABLE —
    * fixed harness cost (feed build, server lifecycle, query/checkpoint
    * start, teardown) vs the pipeline cost that actually scales with
    * the feed. The round-14 verdict's item 3: without this split, any
    * st-family bench drift is unreadable. Costs nanoseconds when
    * nobody reads stderr; the gates are multi-second queries. */
  private def phase[T](tag: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(
      f"[stgate] $tag $name%-14s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  /** Poll the live-socket pipeline until all `want` rows are durable,
    * then stop it (a socket source has no natural end-of-feed, unlike
    * the AvailableNow-capable durable-log source st15 reads). */
  private def drainWire(s: SparkSession, q: org.apache.spark.sql
      .streaming.StreamingQuery, out: java.nio.file.Path, want: Long,
      tag: String): Unit = {
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    var n = 0L
    while (n < want && System.nanoTime() < deadline) {
      q.processAllAvailable()
      n = try s.read.parquet(s"$out/orderbook_deltas").count()
        catch { case _: Throwable => 0L }
      if (n < want) Thread.sleep(50)
    }
    q.stop()
    require(n >= want, s"$tag wire replay timed out: $n/$want rows")
  }

  def streamWire(s: SparkSession, d: String): DataFrame = {
    val feed = phase("st13", "feed_build")(wireFeed(s, d))
    if (feed.isEmpty) return emptyWireResult(s)
    val tickers = feed.map(_.getString(0)).distinct.sorted.toSeq
    val nShards = math.min(2, tickers.size)
    val shardLines = (0 until nShards).map { sh =>
      val mine = tickers.zipWithIndex
        .filter(_._2 % nShards == sh).map(_._1).toSet
      feed.iterator.filter(r => mine(r.getString(0))).zipWithIndex
        .map { case (r, i) => wireLine(r, 9000 + sh, i + 1L) }.toSeq
    }
    val servers = phase("st13", "server_start")(shardLines.map(WsReplay.server))
    val out = Files.createTempDirectory("graft-st13-out")
    try {
      val q = phase("st13", "query_start") {
        val df = s.readStream.format("graft-socket")
          .option("shards",
            servers.map(sv => s"localhost:${sv.getLocalPort}").mkString(","))
          .option("tickers", tickers.mkString(","))
          .option("channels", "orderbook_delta")
          .option("transport", "ws")
          .load()
        StreamPipeline.runUnifiedFrom(StreamPipeline.decode(df),
          out.toString, Trigger.ProcessingTime(0L))
      }
      phase("st13", "drain_stop")(
        drainWire(s, q, out, feed.length.toLong, "st13"))
      phase("st13", "agg_readback")(wireAgg(s, out))
    } finally {
      phase("st13", "teardown") { servers.foreach(_.close()); rmTree(out) }
    }
  }

  /** The cents→dollars quantization is exact on both sides: every
    * price/100 value has an exact DECIMAL(_,4) representation and the
    * doubles in play round-trip at scale 4 uniquely, so the decimal
    * sums agree term-by-term. */
  val streamWireSql: String = Derive.cte +
    """SELECT ticker, side, COUNT(*) AS n_msgs,
      |  CAST(SUM(CAST(delta AS BIGINT)) AS BIGINT) AS sum_delta,
      |  CAST(SUM(CAST(price / 100.0 AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_price
      |FROM ob_deltas
      |GROUP BY ticker, side
      |ORDER BY ticker, side""".stripMargin

  // ----------------------------------------------------------------- st14
  /** st14 — the RECONNECT fold under the driver's oracle: the feed is
    * served in TWO connection epochs by [[WsReplay.epochServer]] (the
    * server cleanly closes mid-corpus; the `graft-socket` client's
    * `maxReconnects=1` budget folds the reference's restart —
    * re-connect, re-subscribe, fresh per-connection seq
    * (kalshi_ws_client.py:141-146) — INTO the stream, emitting a
    * `graft_resubscribed` marker the router dead-letters), then the
    * production unified pipeline as in st13. The oracle is the SAME
    * batch aggregate as st13: a row dropped across the epoch seam, a
    * marker mis-routed into the fact lane, or a lineage collision
    * between epochs all hash-fail.
    *
    * Epoch mechanics: each epoch renumbers seq 1..m (the validator
    * checks per-CONNECTION monotonicity and resets with the epoch,
    * like the reference client's restart) and carries its OWN sid —
    * a re-subscription is a new session, and reusing the sid would
    * collide the "sid-seq" lineage ids of DIFFERENT logical messages
    * across epochs, so the replay-dedup would silently drop half of
    * epoch 2 (the exact bug class st11 guards in the buffer). */
  def streamReconnect(s: SparkSession, d: String): DataFrame = {
    val feed = phase("st14", "feed_build")(wireFeed(s, d))
    if (feed.isEmpty) return emptyWireResult(s)
    val tickers = feed.map(_.getString(0)).distinct.sorted.toSeq
    val epochs = Seq(feed.take(feed.length / 2), feed.drop(feed.length / 2))
      .zipWithIndex.map { case (rows, ep) =>
        rows.zipWithIndex
          .map { case (r, i) => wireLine(r, 9100 + ep, i + 1L) }.toSeq
      }
    val server = phase("st14", "server_start")(WsReplay.epochServer(epochs))
    val out = Files.createTempDirectory("graft-st14-out")
    try {
      val q = phase("st14", "query_start") {
        val df = s.readStream.format("graft-socket")
          .option("host", "localhost")
          .option("port", server.getLocalPort.toString)
          .option("tickers", tickers.mkString(","))
          .option("channels", "orderbook_delta")
          .option("transport", "ws")
          .option("maxReconnects", "1")
          .option("reconnectBackoffMs", "50")
          .load()
        StreamPipeline.runUnifiedFrom(StreamPipeline.decode(df),
          out.toString, Trigger.ProcessingTime(0L))
      }
      phase("st14", "drain_stop")(
        drainWire(s, q, out, feed.length.toLong, "st14"))
      phase("st14", "agg_readback")(wireAgg(s, out))
    } finally {
      phase("st14", "teardown") { server.close(); rmTree(out) }
    }
  }

  // ----------------------------------------------------------------- st15
  /** st15 — the DURABLE-LOG source end-to-end under the driver's
    * oracle: the same wire envelopes appended to a graft-queue segment
    * log ([[QueueLog]] — the reference's Redis buffer role: A7 append /
    * A8 batched offset scan), consumed by the `graft-queue` DataSource
    * V2 micro-batch source (`maxSegmentsPerTrigger=1`, so the replay
    * crosses real micro-batch boundaries segment by segment) through
    * the SAME production pipeline and aggregate as st13. Unlike the
    * socket gates, a durable log has a provable end-of-feed, so this
    * runs under `Trigger.AvailableNow` with no polling. With
    * st13/st14/st15 every production INGRESS (live socket, reconnect
    * fold, buffered log) is oracle-gated end-to-end, not just
    * suite-pinned. */
  def streamQueue(s: SparkSession, d: String): DataFrame = {
    val feed = phase("st15", "feed_build")(wireFeed(s, d))
    if (feed.isEmpty) return emptyWireResult(s)
    val lines = feed.zipWithIndex
      .map { case (r, i) => wireLine(r, 9200, i + 1L) }.toSeq
    val qdir = Files.createTempDirectory("graft-st15-queue")
    val out = Files.createTempDirectory("graft-st15-out")
    try {
      // ≥3 segments → ≥3 micro-batches at maxSegmentsPerTrigger=1
      phase("st15", "queue_append") {
        val per = math.max(1, lines.size / 3)
        lines.grouped(per).foreach(g => QueueLog.append(qdir.toString, g))
      }
      phase("st15", "run_drain")(
        StreamPipeline.runUnifiedFrom(
            new Connectors.QueueMessageSource(qdir.toString,
              maxSegmentsPerTrigger = 1L).messages(s),
            out.toString)
          .awaitTermination())
      phase("st15", "agg_readback")(wireAgg(s, out))
    } finally {
      phase("st15", "teardown") { rmTree(qdir); rmTree(out) }
    }
  }

  // ----------------------------------------------------------------- st16
  /** st16 — streaming WINDOWED LEADERBOARD
    * ([[StreamPipeline.windowTopTickers]]): top-3 tickers by message
    * count per 1-hour event-time window, with the custom bounded-heap
    * `graft_topk` aggregate running as the SECOND chained stateful
    * operator — the gate that pins the TypedImperativeAggregate's
    * serialize/merge path under the streaming state store (every other
    * graft_topk consumer is batch-only). Same closed-window replay as
    * st03/st04; the flush ticker's own window never closes, so no
    * ZFLUSH row can reach the leaderboard. Oracle = the batch hourly
    * count + ROW_NUMBER ranking with the numeric-ticker tiebreak. */
  def streamTopTickers(s: SparkSession, d: String): DataFrame = {
    val msgs = Derive.deltas(s, d)
      .select(lit("orderbook_delta").as("type"),
        struct(col("ticker").as("market_ticker"),
          col("ts_ms").as("ts")).as("msg"))
    val flush = s.range(1).select(lit("orderbook_delta").as("type"),
      struct(lit("ZFLUSH").as("market_ticker"),
        lit(flushTsFor(s, d, 3600L * 1000)).as("ts")).as("msg"))
    // chunks=2 (3 micro-batches incl. the flush): two stateful
    // operators mean double the store lifecycles per batch, same
    // trade as st08/st09 — cross-batch heap merging is still
    // exercised (rows scatter over 2 unordered chunks).
    replay(s, msgs, Scattered(2, Some(flush)), outputMode = "append")(
        StreamPipeline.windowTopTickers(_, "1 hour", 3, s"$WmDays days"))
      .orderBy(col("bucket_start"), col("rnk"))
  }

  val streamTopTickersSql: String = Derive.cte +
    """SELECT bucket_start, ticker, n_msgs, rnk FROM (
      |  SELECT bucket_start, ticker, n_msgs,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY bucket_start
      |      ORDER BY n_msgs DESC, CAST(substr(ticker, 2) AS BIGINT))
      |      AS INTEGER) AS rnk
      |  FROM (
      |    SELECT (ts_ms // 3600000) * 3600000 AS bucket_start, ticker,
      |      COUNT(*) AS n_msgs
      |    FROM ob_deltas GROUP BY 1, 2) c) t
      |WHERE rnk <= 3
      |ORDER BY bucket_start, rnk""".stripMargin

  // ----------------------------------------------------------------- st17
  /** st17 — STREAMING NEAR-DUP ADMISSION ([[StreamNearDup.admit]]): as
    * documents arrive, each claims its 4 banded-MinHash keys (dd05's
    * exact shingle→minhash→band pipeline as stream-safe expressions)
    * through a band-keyed flatMapGroupsWithState fold; a doc any of
    * whose bands is owned by an EARLIER doc is flagged against that
    * owner — the admission prefilter a streaming ingest runs before
    * the batch verify (dd03/dd05 are the batch side of this family).
    * The feed is the dedup family's augmented corpus (exact copies at
    * +1M ids, suffix near-copies at +2M — both arrive AFTER their
    * originals under the ordered-feed contract, so the original owns
    * the bands), replayed ordered on doc_id in 3 micro-batches: a
    * near-dup routinely lands in a DIFFERENT batch than the band
    * owner it must be flagged against — the cross-batch band-state
    * fold is exactly what this gate pins. Oracle = the batch
    * min-per-band spelling over the same minhash mirror (equal
    * because the feed is ordered: the owner at any arrival is the
    * global min doc_id for that band). First-band-wins is a 10-bit
    * narrower claim than dd05's 26/32+Jaccard verify — deliberately:
    * admission flags candidates, the batch verify adjudicates. */
  def streamNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = graft.dedup.Dedup.docsAug(s, d)
      .select(col("doc_id"), col("text"))
    val verdicts = replay(s, docs, Ordered(col("doc_id")))(
      StreamNearDup.admit)
    verdicts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("claimed_by") < col("doc_id"), 1L).otherwise(0L))
          .as("n_claimed"),
        coalesce(min(when(col("claimed_by") < col("doc_id"),
          col("claimed_by"))), lit(-1L)).as("dropped_by"))
      .withColumn("admitted",
        (col("n_claimed") === 0).cast(org.apache.spark.sql.types
          .IntegerType))
      .orderBy(col("doc_id"))
  }

  val streamNearDupSql: String = graft.dedup.Dedup.docsAugCte + "," +
    graft.dedup.Dedup.sigBandCtes +
    """,
      |own AS (SELECT band, bkey, MIN(doc_id) AS owner
      |  FROM bands GROUP BY band, bkey)
      |SELECT b.doc_id, COUNT(*) AS n_bands,
      |  CAST(SUM(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_claimed,
      |  CAST(COALESCE(MIN(CASE WHEN o.owner < b.doc_id THEN o.owner END),
      |    -1) AS BIGINT) AS dropped_by,
      |  CAST(CASE WHEN SUM(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END)
      |    = 0 THEN 1 ELSE 0 END AS INTEGER) AS admitted
      |FROM bands b JOIN own o ON o.band = b.band AND o.bkey = b.bkey
      |GROUP BY b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ----------------------------------------------------------------- st19
  /** st19 — STREAMING CURATION ADMISSION: the ingest front door of the
    * dd24/dd25 curation pipeline as ONE live verdict per arriving doc,
    * composing st17's band-claim near-dup fold (stateful,
    * cross-batch) with dd24's quality gates (stateless, codegen'd) —
    * dup_reject if ANY of the doc's 4 band keys is owned by an
    * earlier doc (the wire-side prefilter; the batch verify
    * adjudicates survivors), else quality_reject on the
    * MinTokens/MinUniqueRatio gates, else admitted. Output is the
    * per-(lang, verdict) census with token mass — what an ingest
    * dashboard actually watches. Same ordered-feed contract and
    * oracle reasoning as st17 (owner at any arrival = global band
    * min); the quality arm is per-doc arithmetic, so the batch oracle
    * composes both with no order sensitivity. Scale: the stateful arm
    * is st17's O(live bands) state; the quality arm adds zero state;
    * the census is a |langs|×3-group aggregate. */
  def streamCuration(s: SparkSession, d: String): DataFrame = {
    val docs = graft.dedup.Dedup.docsAug(s, d)
    val verdicts = replay(s, docs.select(col("doc_id"), col("text")),
      Ordered(col("doc_id")))(StreamNearDup.admit)
    val dup = verdicts.groupBy(col("doc_id"))
      .agg(sum(when(col("claimed_by") < col("doc_id"), 1L).otherwise(0L))
        .as("n_claimed"))
    val toks = split(col("text"), " ")
    docs.select(col("doc_id"), col("lang"),
        size(toks).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"),
        (size(array_distinct(toks))
          .cast(org.apache.spark.sql.types.LongType).cast("double")
          / size(toks)).as("uniq"))
      .join(dup, Seq("doc_id"))
      .withColumn("verdict",
        when(col("n_claimed") > 0, "dup_reject")
          .when(col("n_tokens") < graft.text.TextAnalysis.MinTokens ||
            col("uniq") < graft.text.TextAnalysis.MinUniqueRatio,
            "quality_reject")
          .otherwise("admitted"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"))
      .orderBy(col("lang"), col("verdict"))
  }

  val streamCurationSql: String = graft.dedup.Dedup.docsAugCte + "," +
    graft.dedup.Dedup.sigBandCtes + s""",
      |own AS (SELECT band, bkey, MIN(doc_id) AS owner
      |  FROM bands GROUP BY band, bkey),
      |dup AS (
      |  SELECT b.doc_id,
      |    SUM(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END)
      |      AS n_claimed
      |  FROM bands b JOIN own o ON o.band = b.band AND o.bkey = b.bkey
      |  GROUP BY b.doc_id),
      |attrs AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS uniq
      |  FROM docs_aug),
      |v AS (
      |  SELECT a.lang, a.n_tokens,
      |    CASE WHEN d.n_claimed > 0 THEN 'dup_reject'
      |      WHEN a.n_tokens < ${graft.text.TextAnalysis.MinTokens}
      |        OR a.uniq < ${graft.text.TextAnalysis.MinUniqueRatio}
      |        THEN 'quality_reject'
      |      ELSE 'admitted' END AS verdict
      |  FROM attrs a JOIN dup d USING (doc_id))
      |SELECT lang, verdict, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |FROM v GROUP BY lang, verdict
      |ORDER BY lang, verdict""".stripMargin

  // ----------------------------------------------------------------- st20
  /** st20 — STREAMING CURATION EMISSION: the missing back half of st19
    * (r18 verdict #4). st19 renders the per-doc admission verdict;
    * this query SHIPS the admitted documents — each micro-batch's
    * admitted set (band-claim dup filter + quality gates, st19's
    * exact composition) lands in the dd24 curation layout
    * (`partitionBy(split, shard)`, the same doc-hash split/shard
    * formulas) through [[ParquetEmit.emitExactlyOnce]]: staged write,
    * idempotent deterministic-name promote, commit-marker-last — the
    * file-system form of JdbcSink's per-batch receipt.
    *
    * The gate IS the replay proof: the feed runs TWICE against the
    * same emission dir — the second pass (fresh checkpoint, identical
    * deterministic chunking) redelivers every batch, and the
    * committed markers no-op them all — then the census is computed
    * over the EMITTED FILES. The oracle recomputes the admitted set
    * in batch SQL, so any duplicate or lost file moves n_docs /
    * id_checksum and reds the row. Budget thinning is deliberately
    * absent: per-lang rates are corpus-global (dd24's batch budgeter
    * owns them); the streaming emitter ships what admission passes.
    *
    * Scale: the stateful arm is st17's O(live bands); the per-batch
    * emission work is one partial aggregate + broadcast-size joins on
    * the batch; the census reads metadata columns of the emitted
    * parquet. At 100 TB the emission dir is the curated corpus
    * itself, written incrementally with no rewrite of prior batches'
    * files. */
  def streamEmitCensus(s: SparkSession, d: String): DataFrame = {
    val M = 1000003L
    val mulRed = 2654435761L % M
    val docs = graft.dedup.Dedup.docsAug(s, d)
    val toks = split(col("text"), " ")
    // persist: every micro-batch of BOTH replays joins this frame, and
    // lazily it re-ran the corpus text scan (two split()s +
    // array_distinct per row) once per batch — 6 recomputations per
    // gate run. The cache fills on first use; dropped after the
    // second replay, before the census plan is built.
    val attrs = docs.select(col("doc_id"), col("lang"),
      size(toks).cast(org.apache.spark.sql.types.LongType)
        .as("n_tokens"),
      (size(array_distinct(toks))
        .cast(org.apache.spark.sql.types.LongType).cast("double")
        / size(toks)).as("uniq")).persist()
    val outDir = Files.createTempDirectory("graft-st20-emit")
    outDir.toFile.deleteOnExit()
    def writer(batch: DataFrame, batchId: Long): Unit = {
      // Spark's state-store commit validation requires foreachBatch to
      // materialize EVERY partition of the batch exactly once: persist
      // + count commits all state partitions up front, and the derived
      // emission work below reads the cache instead of re-executing
      // the stateful stage (which would double-commit)
      batch.persist()
      try {
        batch.count()
        emitBatch(batch, batchId)
      } finally batch.unpersist()
    }
    def emitBatch(batch: DataFrame, batchId: Long): Unit = {
      val admitted = batch.groupBy(col("doc_id"))
        .agg(sum(when(col("claimed_by") < col("doc_id"), 1L)
          .otherwise(0L)).as("n_claimed"))
        .where(col("n_claimed") === 0)
        .join(attrs, Seq("doc_id"))
        .where(col("n_tokens") >= graft.text.TextAnalysis.MinTokens &&
          col("uniq") >= graft.text.TextAnalysis.MinUniqueRatio)
        .withColumn("split_h", expr(
          s"(doc_id % $M * $mulRed + 99991) % $M % 100"))
        .withColumn("split",
          when(col("split_h") < 80, "train")
            .when(col("split_h") < 90, "val").otherwise("test"))
        .withColumn("shard", expr(s"(doc_id % $M * $mulRed + " +
          s"${graft.operators.Sampling.ShardSeed}) % $M % " +
          s"${graft.operators.Sampling.ShardN}"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("split"), col("shard"))
      ParquetEmit.emitExactlyOnce(admitted, outDir.toString, "st20",
        batchId)
      ()
    }
    val feed = docs.select(col("doc_id"), col("text"))
    try {
      // runs=2: full redelivery — the same staged chunks re-stream
      // against the same emission dir with a fresh checkpoint; every
      // batch re-arrives and must no-op on its commit marker
      replay(s, feed, Ordered(col("doc_id")), sink = Writer(writer, runs = 2))(
        StreamNearDup.admit)
    } finally attrs.unpersist(blocking = false)
    s.read.parquet(outDir.toString)
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"),
        sum((col("doc_id") % M * mulRed + 99991L) % M)
          .cast(org.apache.spark.sql.types.LongType).as("id_checksum"))
      .select(col("split"),
        col("shard").cast(org.apache.spark.sql.types.IntegerType)
          .as("shard"),
        col("n_docs"), col("n_tokens"), col("id_checksum"))
      .orderBy(col("split"), col("shard"))
  }

  val streamEmitCensusSql: String = graft.dedup.Dedup.docsAugCte + "," +
    graft.dedup.Dedup.sigBandCtes + s""",
      |own AS (SELECT band, bkey, MIN(doc_id) AS owner
      |  FROM bands GROUP BY band, bkey),
      |dup AS (
      |  SELECT b.doc_id,
      |    SUM(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END)
      |      AS n_claimed
      |  FROM bands b JOIN own o ON o.band = b.band AND o.bkey = b.bkey
      |  GROUP BY b.doc_id),
      |attrs AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS uniq
      |  FROM docs_aug),
      |adm AS (
      |  SELECT a.doc_id, a.lang, a.n_tokens
      |  FROM attrs a JOIN dup d USING (doc_id)
      |  WHERE d.n_claimed = 0
      |    AND a.n_tokens >= ${graft.text.TextAnalysis.MinTokens}
      |    AND a.uniq >= ${graft.text.TextAnalysis.MinUniqueRatio}),
      |sl AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN (doc_id % 1000003 * (2654435761 % 1000003) + 99991)
      |        % 1000003 % 100 < 80 THEN 'train'
      |      WHEN (doc_id % 1000003 * (2654435761 % 1000003) + 99991)
      |        % 1000003 % 100 < 90 THEN 'val'
      |      ELSE 'test' END AS split,
      |    CAST((doc_id % 1000003 * (2654435761 % 1000003) +
      |      ${graft.operators.Sampling.ShardSeed}) % 1000003 %
      |      ${graft.operators.Sampling.ShardN} AS INTEGER) AS shard
      |  FROM adm)
      |SELECT split, shard, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM((doc_id % 1000003 * (2654435761 % 1000003) + 99991)
      |    % 1000003) AS BIGINT) AS id_checksum
      |FROM sl GROUP BY split, shard
      |ORDER BY split, shard""".stripMargin

  // ----------------------------------------------------------------- st18
  /** st18 — STREAMING HEAVY HITTERS ([[StreamHeavyHitters]]): the
    * corpus token stream replayed through the bucket-sharded
    * Misra–Gries `transformWithState` fold (O(buckets·k) state,
    * independent of vocabulary and stream length — the bound that
    * makes "top tokens, live" possible where an exact streaming
    * count-by-token cannot be watermarked). Same sketch-is-routing
    * contract as the batch twin txt18: the streaming summaries are
    * CANDIDATES (per-cell MG guarantee: any token with global count >
    * cell_seen/k survives its cell's final summary, and cell_seen ≤
    * n_total ⇒ every φ=1/200-heavy token survives at k=400), and the
    * gate output is the EXACT recount over the broadcast candidate
    * set with the φ threshold — deterministic under ANY replay
    * order/chunking, which is what lets a plain GROUP BY/HAVING
    * oracle hash-pin a sketch whose internal counters are
    * order-dependent. Final state per cell is selected by max
    * cell_seen (strictly monotone per touched cell — st01's last-
    * emission idiom), so the gate pins the fold's FINAL summaries
    * across micro-batch boundaries, not the union of snapshots. */
  def streamHeavy(s: SparkSession, d: String): DataFrame = {
    val k = 400 // 2x the 1/phi=200 bound, same margin as txt18
    val buckets = 8 // state shards; summary memory = buckets*k cells
    val toks = graft.Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val emissions = replay(s, toks, Scattered(), RocksProvider)(
      StreamHeavyHitters.run(s, _, buckets, k).toDF())
    // final snapshot per cell via a per-bucket max window — the frame
    // is STATE-sized (≤ buckets·k·batches emission rows), never
    // corpus-sized, so the window is bounded by construction
    val candidates = emissions
      .withColumn("mx",
        max(col("cell_seen")).over(Window.partitionBy(col("bucket"))))
      .where(col("cell_seen") === col("mx"))
      .select(col("token")).distinct()
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(candidates), "token") // map-side candidate filter
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .where(col("cnt") * 200 > col("n_total"))
      .select(col("token"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("token"))
  }

  val streamHeavySql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |nz AS (SELECT token FROM toks WHERE token <> ''),
      |tot AS (SELECT COUNT(*) AS n_total FROM nz)
      |SELECT token, COUNT(*) AS cnt, (SELECT n_total FROM tot) AS n_total
      |FROM nz
      |GROUP BY token
      |HAVING COUNT(*) * 200 > (SELECT n_total FROM tot)
      |ORDER BY cnt DESC, token""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("st01_stream_ivf", streamIvf, streamIvfSql, Set(Op.Stream)),
    Op("st02_stream_kmv", streamKmv, streamKmvSql, Set(Op.Stream)),
    Op("st03_stream_sessions", streamSessions, streamSessionsSql,
      Set(Op.Stream)),
    Op("st04_stream_candles", streamCandles, streamCandlesSql, Set(Op.Stream)),
    Op("st05_stream_asof", streamAsOf, streamAsOfSql, Set(Op.Stream)),
    Op("st06_stream_book", streamBook, streamBookSql, Set(Op.Stream)),
    Op("st07_stream_rate", streamRate, streamRateSql, Set(Op.Stream)),
    Op("st08_stream_pairs", streamPairs, streamPairsSql, Set(Op.Stream)),
    Op("st09_stream_unmatched", streamUnmatched, streamUnmatchedSql,
      Set(Op.Stream)),
    Op("st10_stream_enrich", streamEnrich, streamEnrichSql, Set(Op.Stream)),
    Op("st11_stream_dedup", streamDedup, streamDedupSql, Set(Op.Stream)),
    Op("st12_stream_tickerstats", streamTickerStats, streamTickerStatsSql,
      Set(Op.Stream)),
    Op("st13_stream_wire", streamWire, streamWireSql, Set(Op.Stream)),
    Op("st14_stream_reconnect", streamReconnect, streamWireSql, Set(Op.Stream)),
    Op("st15_stream_queue", streamQueue, streamWireSql, Set(Op.Stream)),
    Op("st16_stream_topk", streamTopTickers, streamTopTickersSql,
      Set(Op.Stream)),
    Op("st17_stream_neardup", streamNearDup, streamNearDupSql, Set(Op.Stream)),
    Op("st18_stream_heavy", streamHeavy, streamHeavySql, Set(Op.Stream)),
    Op("st19_stream_curation", streamCuration, streamCurationSql,
      Set(Op.Stream)),
    Op("st20_stream_emit", streamEmitCensus, streamEmitCensusSql,
      Set(Op.Stream)))
}
