package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType}

import graft.{Op, Tables}

/** Multimodal-column plumbing for a training-data pipeline: media as
  * opaque `binary` payloads with a typed metadata struct, plus the
  * decode / feature-extract / resize / frame-sample operators.
  *
  * The media table is derived deterministically from `documents`
  * (payload = the UTF-8 text bytes, upgraded to real PNG/BMP/GIF
  * encodings where an operator needs pixels) — image decode is REAL
  * `javax.imageio` (see [[ImageDecode.decode]] and the mm03/mm10 codec
  * traversals); only the audio/video codec step remains a
  * deterministic fake, since the container ships no such codecs.
  * Everything Spark-side is real: the binary+struct schema, column
  * pruning to the blob only when needed, the typed mapPartitions
  * batch shape, and the explode-based frame sampler.
  *
  * Scale design: payload bytes never enter a shuffle — every operator
  * is a narrow map/explode over the scan, so 100 TB of blobs stream
  * through executors partition-by-partition (parquet splits bound the
  * per-task working set). Aggregates happen AFTER feature extraction,
  * on the small numeric outputs, never on blobs.
  */
object Multimodal {

  /** Synthetic media fact table: media_id, kind ∈ {image,audio,video},
    * payload BINARY, meta STRUCT<width,height,sample_rate,n_frames,mime>.
    * All fields are index arithmetic on the documents row — identical in
    * the oracle CTE below. */
  def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        (col("doc_id") % 64 + 16).cast(IntegerType).as("width"),
        (col("doc_id") % 48 + 12).cast(IntegerType).as("height"),
        (col("doc_id") % 3 * 8000 + 8000).cast(IntegerType).as("sample_rate"),
        (col("doc_id") % 8 + 2).cast(IntegerType).as("n_frames"),
        concat(lit("application/x-graft-"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast(IntegerType))).as("mime")).as("meta"))

  val mediaCte: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    encode(text) AS payload,
      |    CAST(doc_id % 64 + 16 AS INTEGER) AS width,
      |    CAST(doc_id % 48 + 12 AS INTEGER) AS height,
      |    CAST(doc_id % 3 * 8000 + 8000 AS INTEGER) AS sample_rate,
      |    CAST(doc_id % 8 + 2 AS INTEGER) AS n_frames,
      |    text
      |  FROM documents)
      |""".stripMargin

  // ---------------------------------------------------------------- mm01
  /** Blob + metadata stats per kind: pure built-ins over the binary
    * column (the "can your engine even hold 100 TB of blobs" smoke:
    * count/bytes/digest without ever decoding). */
  def blobStats(s: SparkSession, d: String): DataFrame =
    media(s, d).select(col("media_id"), col("kind"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .orderBy(col("media_id"))

  val blobStatsSql: String = mediaCte +
    """SELECT media_id, kind,
      |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
      |  md5(text) AS payload_md5, width, height
      |FROM media
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- mm02
  /** Frame sampling: every 2nd frame index of each video, with its byte
    * range inside the payload — `explode(sequence(...))`, so sampling is
    * a narrow rowcount-multiplying op, never a decode. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    media(s, d).where(col("kind") === "video")
      .select(col("media_id"), col("meta.n_frames").as("n_frames"),
        length(col("payload")).as("n_bytes"),
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(2)))
          .as("frame_idx"))
      .withColumn("frame_offset",
        (col("frame_idx") * expr("n_bytes div n_frames")).cast("long"))
      .select(col("media_id"), col("frame_idx"), col("frame_offset"))
      .orderBy(col("media_id"), col("frame_idx"))

  val frameSampleSql: String = mediaCte +
    """SELECT media_id, CAST(f.frame_idx AS INTEGER) AS frame_idx,
      |  CAST(f.frame_idx * (octet_length(payload) // n_frames) AS BIGINT) AS frame_offset
      |FROM media, unnest(range(0, n_frames, 2)) AS f(frame_idx)
      |WHERE kind = 'video'
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- mm03
  /** Decode + feature-extract through the typed batch path
    * ([[ImageDecode]] via mapPartitions — the Scala analog of a
    * mapInPandas decode stage): per-partition imperative loop over raw
    * bytes, emitting small numeric features.
    *
    * The decode is REAL for image payloads: `javax.imageio` (PNG / JPEG
    * / GIF / BMP readers ship inside the JDK — zero new dependencies)
    * parses the container and rasterizes pixels; features then come
    * from the DECODED raster (width / height / channels / mean sample /
    * sample checksum; ImageDecodeSpec drives an in-memory PNG through
    * this exact pipeline). Payloads no reader claims — this synthetic
    * corpus's UTF-8 text bytes, or a codec the JDK lacks — fall back to
    * [[DecodeStub]]'s byte-stream features with width/height/channels
    * = −1 and decoded = 0, keeping the operator total over mixed
    * corpora (and the oracle a pure-SQL mirror on this corpus, where
    * nothing parses as an image). */
  def decodeFeatures(s: SparkSession, d: String): DataFrame = {
    decodeFrames(s, media(s, d))
      .toDF()
      .orderBy(col("media_id"))
  }

  /** The decode stage alone, over any (media_id, kind, payload) frame —
    * shared by mm03 and the PNG-fixture spec. */
  private[graft] def decodeFrames(s: SparkSession, m: DataFrame)
      : org.apache.spark.sql.Dataset[ImageDecode.MediaFeatures] = {
    import s.implicits._
    m.select(col("media_id"), col("kind"), col("payload"))
      .as[DecodeStub.MediaRow]
      .mapPartitions(rows => rows.map(ImageDecode.decode))
  }

  val decodeFeaturesSql: String = mediaCte +
    """SELECT media_id, kind,
      |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
      |  CAST(list_sum(list_transform(range(1, LENGTH(text) + 1),
      |    i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
      |    / octet_length(payload) AS mean_byte,
      |  list_reduce(list_transform(range(1, LENGTH(text) + 1),
      |    i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS checksum,
      |  CAST(-1 AS INTEGER) AS width,
      |  CAST(-1 AS INTEGER) AS height,
      |  CAST(-1 AS INTEGER) AS channels,
      |  CAST(0 AS INTEGER) AS decoded
      |FROM media
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- mm04
  /** Resize: the metadata half of a real image resize — target dims =
    * halved (min 1), aspect preserved, payload untouched. The codec
    * half EXISTS ([[ImageDecode.resize]]: rasterize → bilinear scale →
    * PNG re-encode, exercised over real PNGs in ImageDecodeSpec) and
    * plugs into the same mapPartitions slot as mm03's decode; the
    * REGISTERED query keeps the metadata path because this corpus's
    * payloads are text bytes no reader claims (the md5 column proves
    * the blob passed through unmodified). */
  def resizeMeta(s: SparkSession, d: String): DataFrame =
    media(s, d).where(col("kind") === "image")
      .select(col("media_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        greatest(lit(1), (col("meta.width") / 2).cast(IntegerType))
          .as("out_width"),
        greatest(lit(1), (col("meta.height") / 2).cast(IntegerType))
          .as("out_height"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("media_id"))

  val resizeMetaSql: String = mediaCte +
    """SELECT media_id, width, height,
      |  CAST(GREATEST(1, width // 2) AS INTEGER) AS out_width,
      |  CAST(GREATEST(1, height // 2) AS INTEGER) AS out_height,
      |  md5(text) AS payload_md5
      |FROM media
      |WHERE kind = 'image'
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- mm10
  /** mm10 — the RESIZE CODEC gate ([[ImageDecode.rasterRoundtrip]]):
    * mm04's metadata half stays registered above; THIS query drives the
    * real rasterize → PNG encode → decode → exact-integer bilinear
    * halve → PNG re-encode → decode path per media row and emits
    * integer pixel checksums the oracle reproduces with pure SQL
    * arithmetic (byte→pixel indexing + the (a+b+c+d+2)//4 closed form
    * of the 2× kernel). Same mapPartitions decode slot as mm03 —
    * payload bytes never shuffle, |rows| × 6 small columns do. */
  def resizeChecksum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).select(col("media_id"), col("kind"), col("payload"))
      .as[DecodeStub.MediaRow]
      .mapPartitions(_.map(m =>
        ImageDecode.rasterRoundtrip(m.media_id, m.payload)))
      .toDF()
      .orderBy(col("media_id"))
  }

  val resizeChecksumSql: String = mediaCte +
    """,
      |pix AS (
      |  SELECT media_id, list_transform(range(0, 256), i ->
      |    CAST(unicode(substr(text,
      |      CAST(i % LENGTH(text) AS INT) + 1, 1)) AS BIGINT)) AS p
      |  FROM media),
      |outp AS (
      |  SELECT media_id, p, list_transform(range(0, 64), j ->
      |    (p[CAST((j // 8) * 32 + (j % 8) * 2 + 1 AS INT)]
      |     + p[CAST((j // 8) * 32 + (j % 8) * 2 + 2 AS INT)]
      |     + p[CAST((j // 8) * 32 + (j % 8) * 2 + 17 AS INT)]
      |     + p[CAST((j // 8) * 32 + (j % 8) * 2 + 18 AS INT)] + 2) // 4)
      |    AS q
      |  FROM pix)
      |SELECT media_id,
      |  CAST(list_reduce(p, (a, b) -> (a * 31 + b) % 1000000007)
      |    AS BIGINT) AS in_checksum,
      |  CAST(list_reduce(q, (a, b) -> (a * 31 + b) % 1000000007)
      |    AS BIGINT) AS out_checksum,
      |  CAST(8 AS INTEGER) AS out_width,
      |  CAST(8 AS INTEGER) AS out_height,
      |  CAST(1 AS INTEGER) AS decoded
      |FROM outp
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- mm05
  /** Perceptual-hash near-dup over blobs — the REAL DCT pHash
    * ([[PHash]]: 32×32 grayscale → integer DCT-II → 63 AC coefficients
    * → median threshold) in the typed decode slot: payloads a JDK
    * reader claims hash their decoded raster; everything else (this
    * corpus's text bytes) hashes the byte stream resampled to the same
    * grid — one total function, the ImageDecode/DecodeStub convention.
    * Banded Hamming candidate generation: 7 × 9-bit bands over the
    * 63-bit signature; pairs that agree on ANY band verify with
    * bit_count(xor) ≤ 6 — pigeonhole-COMPLETE (≤ 6 differing bits
    * cannot dirty all 7 bands, so every qualifying pair is a candidate;
    * the old 4×8-over-32 banding had the same guarantee at its ≤ 4).
    *
    * Fixture (measured on this corpus): exact copies (+1M wave) sit at
    * Hamming 0; appended-suffix copies (+2M wave) land at 16–42 —
    * byte-stream content is high-frequency, so ANY raster hash scatters
    * under a length change; they are the planted NEGATIVES — and random
    * pairs bottom out at 14 (p1 = 22), so the ≤ 6 gate separates
    * cleanly. What the DCT buys over the old block-mean stand-in is on
    * the REAL-image path: brightness shifts move only the excluded DC
    * coefficient (MultimodalSpec pins the collision; re-encoded bytes
    * under block-mean share no bits at all).
    *
    * Scale: signatures are 16-byte rows; the blob never leaves its
    * scan partition; the (band, bkey) equi-join keys have ~7×512
    * values per corpus shard with candidate volume ≈ 7·n²/512 for
    * random signatures — the dd06 banding argument verbatim. */
  def phashNearDup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the phash pass (a typed mapPartitions over every payload, opaque
    // to Catalyst) feeds four plan branches — materialize it once, the
    // dd05/dd06 seam pattern; the verified pair set (≪ corpus) is a
    // durable seam shared by mm05 AND mm06's cluster walk (round-8
    // verdict: stop rebuilding it per query under the cache-reset
    // harness)
    val sigs = phashSigs(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    // seam renamed with the hash algorithm (block-mean → DCT): the
    // artifact key fingerprints the CORPUS, not the code, so an
    // algorithm change must rename or a stale artifact would serve the
    // old pairs
    try graft.Seams.durable(s, d, "mm05-dct-pairs")(phashNearDupOn(sigs))
    finally sigs.unpersist()
  }

  private def phashSigs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = media(s, d).select(col("media_id"), col("payload"))
    val aug = m
      .unionByName(m.where(col("media_id") % 7 === 0)
        .select((col("media_id") + 1000000).as("media_id"), col("payload")))
      .unionByName(m.where(col("media_id") % 11 === 0)
        .select((col("media_id") + 2000000).as("media_id"),
          concat(col("payload").cast("string"), lit(" the end"))
            .cast(BinaryType).as("payload")))
    aug.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, PHash.payloadHash(p)) })
      .toDF("media_id", "sig")
  }

  private def phashNearDupOn(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("media_id"), col("sig"),
        explode(sequence(lit(0), lit(6))).as("band"))
      .withColumn("bkey",
        expr("shiftright(sig, cast(9 * band as int)) & 511"))
    val cand = bands.select(col("media_id").as("id_a"), col("band"),
        col("bkey"))
      .join(bands.select(col("media_id").as("id_b"), col("band"),
        col("bkey")), Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sigs.select(col("media_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sigs.select(col("media_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .withColumn("hamming",
        expr("cast(bit_count(sig_a ^ sig_b) as int)"))
      .where(col("hamming") <= 6)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared CTE chain through the verified pair set — mm05 presents
    * the pairs, mm06 walks them into clusters. Mirrors
    * [[PHash.hashBytes]] exactly: byte resample to 32×32 (per-cell
    * floor-mean, nearest on empty), separable integer DCT with the
    * SAME quantized cosine table ([[PHash.coefSqlLiteral]] — one cos()
    * call site in the system), strict-median threshold over the 63 AC
    * coefficients, then 7×9-bit banding and the Hamming ≤ 6 verify. */
  private val phashPairCtes: String =
    """aug AS (
      |  SELECT media_id, text FROM media
      |  UNION ALL
      |  SELECT media_id + 1000000, text FROM media WHERE media_id % 7 = 0
      |  UNION ALL
      |  SELECT media_id + 2000000, text || ' the end' FROM media
      |  WHERE media_id % 11 = 0),
      |codes AS (
      |  SELECT media_id, LENGTH(text) AS n,
      |    list_transform(range(1, LENGTH(text) + 1),
      |      i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
      |  FROM aug),
      |cc AS (SELECT """.stripMargin + PHash.coefSqlLiteral + """ AS t),
      |pix AS (
      |  SELECT media_id,
      |    list_transform(range(0, 1024), i ->
      |      CASE WHEN (i + 1) * n // 1024 > i * n // 1024
      |           THEN CAST(list_sum(cs[CAST(i * n // 1024 + 1 AS INT)
      |                                  :CAST((i + 1) * n // 1024 AS INT)])
      |                  AS BIGINT)
      |                // ((i + 1) * n // 1024 - i * n // 1024)
      |           WHEN n > 0 THEN cs[CAST(i * n // 1024 + 1 AS INT)]
      |           ELSE CAST(0 AS BIGINT) END) AS px
      |  FROM codes),
      |tp AS (
      |  SELECT media_id, u.u AS u,
      |    list_transform(range(0, 32), y ->
      |      CAST(list_sum(list_transform(range(0, 32), x ->
      |        px[CAST(y * 32 + x AS INT) + 1]
      |        * cc.t[CAST(u.u AS INT) + 1][CAST(x AS INT) + 1]))
      |        AS BIGINT)) AS trow
      |  FROM pix, cc, (SELECT unnest(range(0, 8)) AS u) u),
      |dctc AS (
      |  SELECT t.media_id, CAST(v.v * 8 + t.u - 1 AS INT) AS bit,
      |    CAST(list_sum(list_transform(range(0, 32), y ->
      |      t.trow[CAST(y AS INT) + 1]
      |      * cc.t[CAST(v.v AS INT) + 1][CAST(y AS INT) + 1]))
      |      AS BIGINT) AS d
      |  FROM tp t, cc, (SELECT unnest(range(0, 8)) AS v) v
      |  WHERE v.v * 8 + t.u <> 0),
      |med AS (
      |  SELECT media_id, d AS m FROM (
      |    SELECT media_id, d,
      |      ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY d) AS rn
      |    FROM dctc) z
      |  WHERE rn = 32),
      |sig AS (
      |  SELECT c.media_id,
      |    CAST(SUM(CASE WHEN c.d > med.m
      |      THEN (CAST(1 AS BIGINT) << c.bit)
      |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
      |  FROM dctc c JOIN med USING (media_id)
      |  GROUP BY c.media_id),
      |bands AS (
      |  SELECT media_id, sig, b.band,
      |    (sig >> CAST(9 * b.band AS INT)) & 511 AS bkey
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 7)) AS band) b),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b
      |  FROM bands a JOIN bands c
      |    ON a.band = c.band AND a.bkey = c.bkey AND a.media_id < c.media_id),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
      |  FROM cand
      |  JOIN sig sa ON sa.media_id = id_a
      |  JOIN sig sb ON sb.media_id = id_b
      |  WHERE bit_count(xor(sa.sig, sb.sig)) <= 6)""".stripMargin

  val phashNearDupSql: String = mediaCte + "," + phashPairCtes + """
      |SELECT id_a, id_b, hamming FROM pairs
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- mm06
  /** pHash near-dup CLUSTERS — the keep/drop decision mm05's pairs
    * exist to feed (sim09's composition, for media): verified Hamming
    * pairs become edges, cluster assembly runs on the dedup family's
    * ONE CC engine (star contraction), and each cluster reports its
    * keep (= min id, the cluster label), drop count, and max id. An
    * exact-copy wave (+1M ids) must collapse onto its sources. */
  def phashClusters(s: SparkSession, d: String): DataFrame =
    // cluster labels are the pipeline's durable keep/drop artifact —
    // every downstream job (dedup apply, audit, re-shard) reads the
    // SAME assignment, so the CC fixpoint is a seam, not ephemera;
    // the iteration-bound contraction walk then runs once per corpus
    graft.Seams.durable(s, d, "mm06-dct-cc")(
        graft.dedup.Dedup.connectedComponentsStar(
          phashNearDup(s, d)
            .select(col("id_a").as("src"), col("id_b").as("dst"))))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_items"),
        (count(lit(1)) - 1).as("n_dropped"),
        max(col("id")).as("max_id"))
      .orderBy(col("cluster_id"))

  val phashClustersSql: String =
    mediaCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      phashPairCtes + """,
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs),
      |walk(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
      |comp AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
      |SELECT cluster_id, COUNT(*) AS n_items, COUNT(*) - 1 AS n_dropped,
      |  MAX(id) AS max_id
      |FROM comp GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- mm07
  /** mm07 — CHUNK-LEVEL blob dedup (the storage-layer dedup a media
    * lake runs UNDER content dedup), with REAL content-defined
    * chunking: a Rabin-style windowed polynomial hash over the last
    * [[ChunkWindow]] bytes cuts a boundary wherever
    * `hash(window) % ChunkDivisor == 0`, so boundaries depend only on
    * LOCAL content — insert a byte and only the chunks around the edit
    * re-digest, while a fixed grid re-digests everything downstream
    * (the defining CDC property; pinned in MultimodalSpec's
    * shift-resistance test). A chunk digest shared by ≥ 2 blobs marks
    * shareable storage, and each blob reports its unique-chunk
    * fraction.
    *
    * The rolling-update trick (Rabin/Gear's O(1) slide) is an
    * IMPLEMENTATION of this definition, not part of it — both engines
    * evaluate the window hash declaratively from the precomputed
    * byte-value array, which keeps the Spark plan and the DuckDB
    * oracle byte-for-byte comparable. Chunking runs over the HEX
    * encoding so the chunk substring is byte-exact in both engines
    * (character substring over multi-byte UTF-8 text would split
    * codepoints differently from a byte splitter).
    *
    * Scale: payload bytes never shuffle — chunks leave the scan as
    * 32-char digests (a 2× hex blowup plus an int-per-byte array exist
    * only inside the row's projection, O(window) work per byte); the
    * shared-verdict set grows with the corpus so it attaches by a
    * digest-keyed join, never a broadcast (txt26's regime, at the
    * storage layer). */
  val ChunkWindow = 8   // rolling-hash window, bytes
  val ChunkDivisor = 32 // P(cut) per position ⇒ ~32-byte average chunks

  /** The CDC cutter as a reusable transform: (media_id, payload) →
    * one row per (media_id, chunk digest). Shared by [[chunkDedup]]
    * and MultimodalSpec's shift-resistance probe so the property test
    * exercises the registered query's exact expression. */
  def cdcChunkDigests(blobs: DataFrame): DataFrame = {
    // cut positions via the native codegen'd expression — the
    // declarative HOF spelling of the same windowed hash is the oracle
    // and costs ~18 s/query at sf0.1 because Catalyst runs lambda HOFs
    // interpreted per element (functions/GraftFunctions.scala CdcCuts)
    blobs
      .select(col("media_id"), hex(col("payload")).as("hx"),
        call_function("graft_cdc_cuts", col("payload")).as("cuts"))
      .select(col("media_id"),
        explode(expr(
          """transform(sequence(0, size(cuts) - 2),
               k -> md5(substring(hx, element_at(cuts, k + 1) * 2 + 1,
                 (element_at(cuts, k + 2) - element_at(cuts, k + 1)) * 2)))"""))
          .as("dg"))
  }

  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = cdcChunkDigests(media(s, d))
    val shared = chunks.groupBy(col("dg"))
      .agg(countDistinct(col("media_id")).as("nb"))
      .where(col("nb") >= 2)
      .select(col("dg"), lit(1L).as("is_shared"))
    chunks.join(shared, Seq("dg"), "left")
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("is_shared"), lit(0L))).as("n_shared"))
      .select(col("media_id"), col("n_chunks"), col("n_shared"),
        ((col("n_chunks") - col("n_shared")).cast(DoubleType) /
          col("n_chunks").cast(DoubleType)).as("unique_frac"))
      .orderBy(col("media_id"))
  }

  val chunkDedupSql: String = mediaCte + """,
      |cd_hex AS (SELECT media_id, hex(payload) AS hx FROM media),
      |cd_bs AS (SELECT media_id, hx,
      |  list_transform(range(1, length(hx)//2 + 1),
      |    j -> (strpos('0123456789ABCDEF',
      |            substring(hx, CAST(2*j-1 AS INT), 1)) - 1) * 16
      |       + strpos('0123456789ABCDEF',
      |            substring(hx, CAST(2*j AS INT), 1)) - 1) AS bs
      |  FROM cd_hex),
      |cd_cuts AS (SELECT media_id, hx,
      |  list_concat(list_concat([CAST(0 AS BIGINT)],
      |    CASE WHEN len(bs) > 8 THEN
      |      list_filter(range(8, len(bs)),
      |        i -> list_reduce(
      |               list_prepend(CAST(0 AS BIGINT),
      |                 bs[CAST(i-7 AS INT):CAST(i AS INT)]),
      |               (a, b) -> (a * 31 + b) % 1000000007) % 32 = 0)
      |    ELSE CAST([] AS BIGINT[]) END),
      |    [CAST(len(bs) AS BIGINT)]) AS cuts
      |  FROM cd_bs),
      |cd_ch AS (SELECT media_id,
      |  md5(substring(hx, CAST(cuts[CAST(k AS INT)]*2 + 1 AS BIGINT),
      |    CAST((cuts[CAST(k+1 AS INT)] - cuts[CAST(k AS INT)])*2 AS BIGINT)))
      |    AS dg
      |  FROM cd_cuts, unnest(range(1, len(cuts))) AS u(k)),
      |cd_sh AS (
      |  SELECT dg FROM cd_ch GROUP BY dg
      |  HAVING COUNT(DISTINCT media_id) >= 2)
      |SELECT c.media_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN s.dg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared,
      |  CAST(COUNT(*) - SUM(CASE WHEN s.dg IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS unique_frac
      |FROM cd_ch c LEFT JOIN cd_sh s ON c.dg = s.dg
      |GROUP BY c.media_id
      |ORDER BY c.media_id""".stripMargin

  // ---------------------------------------------------------------- mm08
  /** mm08 — chunk-store SAVINGS report per media kind: the number a
    * content-addressed blob store actually bills by — total chunk
    * instances/bytes per kind vs. what the store keeps after global
    * dedup (each distinct chunk stored once, charged to its FIRST
    * owner — min media_id; owner kind is a pure function of the id, so
    * the attribution needs no join back to the media table). Composes
    * mm07's content-defined chunker: same native `graft_cdc_cuts`
    * boundaries, chunks now carrying their byte length; two hash
    * aggregates (per-kind totals; per-digest owners → per-kind stored)
    * and one 3-row join. Payload bytes still never shuffle — digests
    * and lengths do. */
  def chunkSavings(s: SparkSession, d: String): DataFrame = {
    def kindOf(id: org.apache.spark.sql.Column) =
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (id % 3 + 1).cast(IntegerType))
    // chunk extraction through the engine's UDTF surface: the custom
    // graft_cdc_chunks GENERATOR emits (dg, blen) rows directly —
    // byte-identical digests to the declarative hex/substring/md5
    // spelling the oracle keeps (CdcChunksGen scaladoc), one MD5 per
    // chunk instead of an interpreted lambda pipeline
    val ch = media(s, d)
      .select(col("media_id"),
        expr("graft_cdc_chunks(payload)").as(Seq("dg", "blen")))
      .select(col("media_id"), col("dg"), col("blen").cast("long"))
    val tot = ch.groupBy(kindOf(col("media_id")).as("kind"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("blen")).cast("long").as("n_bytes"))
    val own = ch.groupBy(col("dg"))
      .agg(min(col("media_id")).as("owner"), min(col("blen")).as("blen"))
    val st = own.groupBy(kindOf(col("owner")).as("kind"))
      .agg(count(lit(1)).as("n_stored_chunks"),
        sum(col("blen")).cast("long").as("stored_bytes"))
    tot.join(st, Seq("kind"), "left")
      .select(col("kind"), col("n_chunks"), col("n_bytes"),
        coalesce(col("n_stored_chunks"), lit(0L)).as("n_stored_chunks"),
        coalesce(col("stored_bytes"), lit(0L)).as("stored_bytes"),
        when(col("n_bytes") > 0,
          lit(1.0d) - coalesce(col("stored_bytes"), lit(0L))
            .cast(DoubleType) / col("n_bytes").cast(DoubleType))
          .as("savings_frac"))
      .orderBy(col("kind"))
  }

  val chunkSavingsSql: String = mediaCte + """,
      |cd_hex AS (SELECT media_id, hex(payload) AS hx FROM media),
      |cd_bs AS (SELECT media_id, hx,
      |  list_transform(range(1, length(hx)//2 + 1),
      |    j -> (strpos('0123456789ABCDEF',
      |            substring(hx, CAST(2*j-1 AS INT), 1)) - 1) * 16
      |       + strpos('0123456789ABCDEF',
      |            substring(hx, CAST(2*j AS INT), 1)) - 1) AS bs
      |  FROM cd_hex),
      |cd_cuts AS (SELECT media_id, hx,
      |  list_concat(list_concat([CAST(0 AS BIGINT)],
      |    CASE WHEN len(bs) > 8 THEN
      |      list_filter(range(8, len(bs)),
      |        i -> list_reduce(
      |               list_prepend(CAST(0 AS BIGINT),
      |                 bs[CAST(i-7 AS INT):CAST(i AS INT)]),
      |               (a, b) -> (a * 31 + b) % 1000000007) % 32 = 0)
      |    ELSE CAST([] AS BIGINT[]) END),
      |    [CAST(len(bs) AS BIGINT)]) AS cuts
      |  FROM cd_bs),
      |cd_ch AS (SELECT media_id,
      |  md5(substring(hx, CAST(cuts[CAST(k AS INT)]*2 + 1 AS BIGINT),
      |    CAST((cuts[CAST(k+1 AS INT)] - cuts[CAST(k AS INT)])*2 AS BIGINT)))
      |    AS dg,
      |  cuts[CAST(k+1 AS INT)] - cuts[CAST(k AS INT)] AS blen
      |  FROM cd_cuts, unnest(range(1, len(cuts))) AS u(k)),
      |cs_tot AS (
      |  SELECT ['image','audio','video'][CAST(media_id % 3 + 1 AS INT)]
      |      AS kind,
      |    COUNT(*) AS n_chunks, CAST(SUM(blen) AS BIGINT) AS n_bytes
      |  FROM cd_ch GROUP BY 1),
      |cs_own AS (
      |  SELECT dg, MIN(media_id) AS owner, MIN(blen) AS blen
      |  FROM cd_ch GROUP BY dg),
      |cs_st AS (
      |  SELECT ['image','audio','video'][CAST(owner % 3 + 1 AS INT)]
      |      AS kind,
      |    COUNT(*) AS n_stored_chunks,
      |    CAST(SUM(blen) AS BIGINT) AS stored_bytes
      |  FROM cs_own GROUP BY 1)
      |SELECT t.kind, t.n_chunks, t.n_bytes,
      |  COALESCE(s.n_stored_chunks, 0) AS n_stored_chunks,
      |  COALESCE(s.stored_bytes, 0) AS stored_bytes,
      |  CASE WHEN t.n_bytes > 0 THEN
      |    1.0 - CAST(COALESCE(s.stored_bytes, 0) AS DOUBLE)
      |        / CAST(t.n_bytes AS DOUBLE)
      |  END AS savings_frac
      |FROM cs_tot t LEFT JOIN cs_st s ON s.kind = t.kind
      |ORDER BY t.kind""".stripMargin

  // ---------------------------------------------------------------- mm09
  /** mm09 — SHARED-FRAME detection across videos: which video pairs
    * share frame CONTENT (a re-encoded or clipped copy keeps frames
    * whole-file hashing can't see — the frame-level analog of mm05's
    * whole-payload pHash). Frames are FIXED 32-byte windows (a codec's
    * GOP grid, not per-video metadata — per-video frame sizes would
    * misalign identical content); each video reduces to its DISTINCT
    * frame-digest set; digests shared by more than MaxFrameDf videos
    * drop as boilerplate (dd13's df-cap move — a ubiquitous intro
    * frame would otherwise pair everything with everything); pair
    * counts come from a digest-keyed self-join bounded per digest by
    * the cap. Payload bytes never shuffle — only 32-char digests.
    *
    * Like dd06/sim09/sim19, the fixture PLANTS the condition it
    * detects: every video with media_id % 11 = 2 gets a clipped
    * re-upload (id + 100000, first frame cut — the grid stays
    * aligned), so the gate checks recall, not an empty corpus. */
  val MaxFrameDf = 20L
  val FrameBytes = 32

  def sharedFrames(s: SparkSession, d: String): DataFrame = {
    val base = media(s, d).where(col("kind") === "video")
      .select(col("media_id"), col("payload").cast("string").as("txt"))
    val planted = base.where(col("media_id") % 11 === 2)
      .select((col("media_id") + 100000L).as("media_id"),
        substring(col("txt"), FrameBytes + 1, Int.MaxValue).as("txt"))
    val fr = base.unionByName(planted)
      .where(length(col("txt")) >= FrameBytes)
      .select(col("media_id"), explode(expr(
        s"""transform(sequence(0, length(txt) div $FrameBytes - 1),
             i -> md5(substring(txt, i * $FrameBytes + 1, $FrameBytes)))"""))
        .as("dg"))
      .distinct()
    val keep = fr.groupBy(col("dg"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxFrameDf)
      .select(col("dg"))
    val fr2 = fr.join(keep, "dg")
    fr2.select(col("dg"), col("media_id").as("video_a"))
      .join(fr2.select(col("dg"), col("media_id").as("video_b")), "dg")
      .where(col("video_a") < col("video_b"))
      .groupBy(col("video_a"), col("video_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("video_a"), col("video_b"))
  }

  val sharedFramesSql: String = mediaCte + s""",
      |sf_b AS (
      |  SELECT media_id, text AS txt FROM media WHERE kind = 'video'),
      |sf_aug AS (
      |  SELECT * FROM sf_b
      |  UNION ALL
      |  SELECT media_id + 100000, substring(txt, ${FrameBytes + 1})
      |  FROM sf_b WHERE media_id % 11 = 2),
      |sf_fr AS (
      |  SELECT DISTINCT media_id,
      |    md5(substring(txt, CAST(i * $FrameBytes + 1 AS INT),
      |      $FrameBytes)) AS dg
      |  FROM sf_aug, unnest(range(0, LENGTH(txt) // $FrameBytes)) AS u(i)
      |  WHERE LENGTH(txt) >= $FrameBytes),
      |sf_keep AS (
      |  SELECT dg FROM sf_fr GROUP BY dg
      |  HAVING COUNT(*) <= $MaxFrameDf),
      |sf_fr2 AS (SELECT f.* FROM sf_fr f JOIN sf_keep USING (dg))
      |SELECT a.media_id AS video_a, b.media_id AS video_b,
      |  COUNT(*) AS n_shared
      |FROM sf_fr2 a JOIN sf_fr2 b
      |  ON a.dg = b.dg AND a.media_id < b.media_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------- registry
  val ops: Seq[Op] = Seq(
    Op("mm01_blob_stats", blobStats, blobStatsSql),
    Op("mm02_frame_sample", frameSample, frameSampleSql),
    Op("mm03_decode_features", decodeFeatures, decodeFeaturesSql),
    Op("mm04_resize", resizeMeta, resizeMetaSql),
    Op("mm05_phash_neardup", phashNearDup, phashNearDupSql),
    Op("mm06_phash_clusters", phashClusters, phashClustersSql),
    Op("mm07_chunk_dedup", chunkDedup, chunkDedupSql),
    Op("mm08_chunk_savings", chunkSavings, chunkSavingsSql),
    Op("mm09_shared_frames", sharedFrames, sharedFramesSql),
    Op("mm10_resize_checksum", resizeChecksum, resizeChecksumSql))
}

/** Real image decode via the JDK's own `javax.imageio` (PNG / JPEG /
  * GIF / BMP readers are part of every JRE — no new dependency). The
  * typed mapPartitions slot is shared with the byte-stream fallback:
  * a payload some installed reader recognizes yields RASTER features
  * (dimensions, channel count, mean sample, sample checksum); anything
  * else flows through [[DecodeStub]] untouched. */
object ImageDecode {
  // decode entirely in memory: the default ImageIO disk cache would
  // write a temp file per payload inside the executor hot loop
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaFeatures(media_id: Long, kind: String,
      n_bytes: Int, mean_byte: Double, checksum: Long,
      width: Int, height: Int, channels: Int, decoded: Int)

  /** Exact FIXED-POINT bilinear resample of one channel (8-bit
    * fraction, half-pixel-center source mapping, edge clamp) — the
    * deterministic kernel behind [[resize]], [[PHash.hashImage]] and
    * the mm10 checksum gate. Java2D's `drawImage` + rendering hints
    * are NOT bit-stable across JVM versions/platforms (the r15 advice:
    * hashes flow into durable seam artifacts, so platform drift would
    * silently stale them); this kernel is pure integer arithmetic —
    * every weight is an exact 0..256 integer, the accumulator fits a
    * Long (255·256·256 per term), one rounding add, one shift. At an
    * exact 2× downscale it reduces per output pixel to
    * (p00+p10+p01+p11+2)/4 — the closed form the mm10 oracle mirrors
    * in SQL. */
  def bilinearChannel(src: Array[Int], sw: Int, sh: Int,
      dw: Int, dh: Int): Array[Int] = {
    require(src.length == sw * sh, s"raster ${src.length} != $sw x $sh")
    require(dw > 0 && dh > 0, s"target ${dw}x$dh")
    // axis map: source position of output index i with half-pixel
    // centers, as pos·256; (lo, hi, frac) with ends clamped
    def axis(i: Int, s: Int, d: Int): (Int, Int, Int) = {
      val pos = (2L * i + 1) * s * 128 / d - 128
      if (pos <= 0) (0, 0, 0)
      else {
        val i0 = (pos >> 8).toInt
        if (i0 >= s - 1) (s - 1, s - 1, 0)
        else (i0, i0 + 1, (pos & 255).toInt)
      }
    }
    val out = new Array[Int](dw * dh)
    var y = 0
    while (y < dh) {
      val (y0, y1, fy) = axis(y, sh, dh)
      var x = 0
      while (x < dw) {
        val (x0, x1, fx) = axis(x, sw, dw)
        val p00 = src(y0 * sw + x0).toLong
        val p10 = src(y0 * sw + x1).toLong
        val p01 = src(y1 * sw + x0).toLong
        val p11 = src(y1 * sw + x1).toLong
        out(y * dw + x) = ((p00 * (256 - fx) * (256 - fy)
          + p10 * fx * (256 - fy)
          + p01 * (256 - fx) * fy
          + p11 * fx * fy + 32768L) >> 16).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  /** Deterministic GRAYSCALE extraction from a decoded image: a 1-band
    * 8-bit gray raster reads its samples directly (routing it through
    * `getRGB` would invoke the gray→sRGB color-management transform —
    * CMM-dependent); everything else goes through `getRGB`'s
    * arithmetic sRGB packing + an integer BT.601 luma
    * ((77r+150g+29b+128)>>8 — weights sum to 256, so an r=g=b pixel
    * maps to exactly its own value). */
  def grayRaster(img: java.awt.image.BufferedImage)
      : (Array[Int], Int, Int) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](w * h)
    if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = r.getSample(x, y, 0); x += 1 }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          out(y * w + x) = (77 * r + 150 * g + 29 * b + 128) >> 8
          x += 1
        }
        y += 1
      }
    }
    (out, w, h)
  }

  /** Real raster RESIZE in the same slot (the mm04 operator's codec
    * half): rasterize via imageio, scale each channel with the exact
    * integer [[bilinearChannel]] kernel (r15 advice: one deterministic
    * raster path — no Graphics2D, no rendering hints), re-encode PNG.
    * None when no reader claims the payload — callers keep the
    * metadata-only fallback, so the stage stays total. PNG out
    * regardless of input container: the resize slot is also the
    * normalize-format slot in a real pipeline. Gray inputs scale their
    * single band and replicate (r=g=b — bit-identical to scaling the
    * replicated channels). */
  def resize(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val (sw, sh) = (img.getWidth, img.getHeight)
      val (ri, gi, bi) =
        if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
          val (g0, _, _) = grayRaster(img)
          (g0, g0, g0)
        } else {
          val rr = new Array[Int](sw * sh)
          val gg = new Array[Int](sw * sh)
          val bb = new Array[Int](sw * sh)
          var y = 0
          while (y < sh) {
            var x = 0
            while (x < sw) {
              val rgb = img.getRGB(x, y)
              rr(y * sw + x) = (rgb >> 16) & 0xff
              gg(y * sw + x) = (rgb >> 8) & 0xff
              bb(y * sw + x) = rgb & 0xff
              x += 1
            }
            y += 1
          }
          (rr, gg, bb)
        }
      val ro = bilinearChannel(ri, sw, sh, w, h)
      val go = bilinearChannel(gi, sw, sh, w, h)
      val bo = bilinearChannel(bi, sw, sh, w, h)
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y,
            (ro(y * w + x) << 16) | (go(y * w + x) << 8) | bo(y * w + x))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    }
  }

  final case class RasterChecksum(media_id: Long, in_checksum: Long,
      out_checksum: Long, out_width: Int, out_height: Int, decoded: Int)

  /** The mm10 gate's per-row pipeline — the CODEC half of mm04,
    * end-to-end through real imageio encode/decode (r15 verdict #3:
    * the rasterize → scale → re-encode path was suite-only; this
    * makes it oracle-gated). Stages, all REAL:
    *
    *  1. rasterize the payload bytes into a deterministic 16×16 gray
    *     raster (pixel i = byte i mod |payload|);
    *  2. ENCODE it as PNG (imageio write #1) and DECODE it back
    *     (imageio read #1) — `in_checksum` folds over the DECODED
    *     samples, so it equals the pure-arithmetic oracle value iff
    *     the codec roundtrip is lossless;
    *  3. run [[resize]] — the actual registered operator: imageio
    *     read #2, exact-integer bilinear halve to 8×8, PNG write #2;
    *  4. DECODE the resized PNG (imageio read #3, RGB with r=g=b for a
    *     gray source — [[grayRaster]]'s 256-weight luma returns the
    *     channel value exactly) — `out_checksum` folds over those
    *     samples.
    *
    * The oracle never sees a codec: it computes both checksums from
    * the same byte→pixel arithmetic and the 2×-downscale closed form
    * (a+b+c+d+2)//4 that [[bilinearChannel]] reduces to. Four codec
    * traversals stand between the Spark numbers and the oracle's —
    * any lossy or nondeterministic stage is a hash-mismatch red row.
    * `decoded`=1 only when every imageio stage returned a raster of
    * the expected shape; the oracle pins it to 1. Checksum fold is
    * mm03's: c ← (c·31 + v) mod 1e9+7 from c = 0 (≡ DuckDB's
    * list_reduce seeded with the first element). */
  def rasterRoundtrip(id: Long, payload: Array[Byte]): RasterChecksum = {
    def fold(a: Array[Int]): Long = {
      var c = 0L
      var i = 0
      while (i < a.length) { c = (c * 31 + a(i)) % 1000000007L; i += 1 }
      c
    }
    val n = payload.length
    val pix = Array.tabulate(256)(i =>
      if (n == 0) 0 else payload(i % n) & 0xff)
    val src = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    while (i < 256) {
      src.getRaster.setSample(i % 16, i / 16, 0, pix(i))
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", bos)
    val png = bos.toByteArray
    val back =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      catch { case _: Exception => null }
    val resized = resize(png, 8, 8)
    val outImg = resized.map { b =>
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: Exception => null }
    }.orNull
    if (back != null && back.getWidth == 16 && back.getHeight == 16 &&
        outImg != null && outImg.getWidth == 8 && outImg.getHeight == 8) {
      val (inG, _, _) = grayRaster(back)
      val (outG, _, _) = grayRaster(outImg)
      RasterChecksum(id, fold(inG), fold(outG), 8, 8, decoded = 1)
    } else // codec failed: pure-raster fallback, flagged (red vs oracle)
      RasterChecksum(id, fold(pix),
        fold(bilinearChannel(pix, 16, 16, 8, 8)), 8, 8, decoded = 0)
  }

  /** Decode features: for a real image, mean_byte/checksum run over the
    * decoded samples in row-major, channel-minor order (the same
    * fold shape as the byte fallback, so downstream consumers treat
    * both identically); otherwise [[DecodeStub.decode]]'s byte-stream
    * features with sentinel dimensions. ImageIO.read returning null
    * (no reader claims the bytes) and a reader throwing on a truncated
    * container both take the fallback — the stage is total. */
  def decode(m: DecodeStub.MediaRow): MediaFeatures = {
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(m.payload))
      catch { case _: Exception => null }
    if (img == null) {
      val f = DecodeStub.decode(m)
      MediaFeatures(f.media_id, f.kind, f.n_bytes, f.mean_byte, f.checksum,
        width = -1, height = -1, channels = -1, decoded = 0)
    } else {
      val raster = img.getRaster
      val (w, h, ch) = (img.getWidth, img.getHeight, raster.getNumBands)
      var sum = 0L
      var hash = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < ch) {
            val v = raster.getSample(x, y, c)
            sum += v
            hash = (hash * 31 + v) % 1000000007L
            c += 1
          }
          x += 1
        }
        y += 1
      }
      val nSamples = w.toLong * h * ch
      MediaFeatures(m.media_id, m.kind, m.payload.length,
        sum.toDouble / nSamples, hash, w, h, ch, decoded = 1)
    }
  }
}

/** BYTE-STREAM FALLBACK — the pre-round-6 stub, now the total-function
  * safety net behind [[ImageDecode]] for payloads no JDK reader claims
  * (this corpus's UTF-8 text bytes; in production, codecs the JDK
  * lacks — video/audio would plug a real library into the same slot).
  * The "decode" just reads the raw bytes as the sample stream. */
object DecodeStub {
  final case class MediaRow(media_id: Long, kind: String,
      payload: Array[Byte])
  final case class MediaFeatures(media_id: Long, kind: String,
      n_bytes: Int, mean_byte: Double, checksum: Long)

  /** Deterministic fallback decode: mean "sample" value and a
    * polynomial rolling checksum over the byte stream (mirrors
    * graft.functions.PolyHash for ASCII payloads, which the oracle
    * exploits — bytes ≡ codepoints there). */
  def decode(m: MediaRow): MediaFeatures = {
    var sum = 0L
    var h = 0L
    var i = 0
    while (i < m.payload.length) {
      val b = m.payload(i) & 0xff
      sum += b
      h = (h * 31 + b) % 1000000007L
      i += 1
    }
    MediaFeatures(m.media_id, m.kind, m.payload.length,
      sum.toDouble / m.payload.length, h)
  }
}

/** REAL perceptual hash — the standard DCT pHash (32×32 grayscale →
  * 2-D DCT-II → top-left 8×8 coefficient block → median threshold),
  * replacing the round-≤14 block-mean stand-in. Two entry points share
  * one raster hash:
  *
  *  - [[hashImage]]: payloads a JDK `imageio` reader claims decode to a
  *    real raster, bilinear-scaled to 32×32 grayscale — the production
  *    slot. The hash uses the 63 AC coefficients (DC excluded), so a
  *    uniform brightness shift — which only moves DC — leaves the hash
  *    IDENTICAL (pinned in MultimodalSpec; the block-mean-over-encoded-
  *    bytes stand-in fails that transform trivially, since re-encoding
  *    scrambles every byte).
  *  - [[hashBytes]]: the total-function fallback for payloads no reader
  *    claims (this corpus's text bytes — the DecodeStub convention):
  *    the byte stream is resampled to the same 32×32 grid by per-cell
  *    floor-mean (nearest byte when the cell is empty), then hashed by
  *    the identical DCT. The oracle reproduces THIS path bit-for-bit.
  *
  * Determinism: the DCT runs in EXACT integer arithmetic — the cosine
  * basis is quantized ONCE here (`coef`, round(cos·2^14): |terms| ≤
  * 255·2^14; a full coefficient ≤ 32²·255·2^28 < 2^47) and the oracle
  * SQL embeds the SAME integer table as literals, so there is exactly
  * one libm cos() call site in the system and no cross-engine float
  * comparison anywhere. Median = the strict 32nd-smallest of the 63 AC
  * values; bit i (= v·8+u−1) set iff its coefficient exceeds it. */
object PHash {
  private val Scale = 1 << 14

  /** coef(u)(x) = round(cos(π/32 · (x+0.5) · u) · 2^14), u∈0..7. */
  val coef: Array[Array[Long]] = Array.tabulate(8, 32)((u, x) =>
    math.round(math.cos(math.Pi / 32 * (x + 0.5) * u) * Scale))

  /** 63-bit AC pHash of a row-major 32×32 raster (values 0–255). */
  def hashRaster(pix: Array[Int]): Long = {
    require(pix.length == 1024, s"raster must be 32x32, got ${pix.length}")
    // separable DCT: t(u)(y) = Σ_x pix(y,x)·C(u)(x), then
    // d(v)(u) = Σ_y t(u)(y)·C(v)(y)
    val t = Array.ofDim[Long](8, 32)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 32) {
        var s = 0L
        var x = 0
        while (x < 32) { s += pix(y * 32 + x) * coef(u)(x); x += 1 }
        t(u)(y) = s
        y += 1
      }
      u += 1
    }
    val ac = new Array[Long](63)
    var v = 0
    while (v < 8) {
      var uu = 0
      while (uu < 8) {
        if (v * 8 + uu != 0) {
          var s = 0L
          var y = 0
          while (y < 32) { s += t(uu)(y) * coef(v)(y); y += 1 }
          ac(v * 8 + uu - 1) = s
        }
        uu += 1
      }
      v += 1
    }
    val med = ac.sorted.apply(31)
    var h = 0L
    var i = 0
    while (i < 63) { if (ac(i) > med) h |= 1L << i; i += 1 }
    h
  }

  /** Byte-stream fallback: resample to 32×32 by per-cell floor-mean
    * (nearest byte for empty cells, 0s for an empty payload), DCT-hash. */
  def hashBytes(p: Array[Byte]): Long = {
    val n = p.length
    val pix = new Array[Int](1024)
    if (n > 0) {
      var i = 0
      while (i < 1024) {
        val lo = (i.toLong * n / 1024).toInt
        val hi = ((i + 1).toLong * n / 1024).toInt
        if (hi > lo) {
          var s = 0L
          var j = lo
          while (j < hi) { s += (p(j) & 0xff); j += 1 }
          pix(i) = (s / (hi - lo)).toInt
        } else pix(i) = p(lo) & 0xff
        i += 1
      }
    }
    hashRaster(pix)
  }

  /** Decode-slot hash for real images: imageio decode →
    * [[ImageDecode.grayRaster]] (deterministic sample/luma extraction)
    * → exact integer [[ImageDecode.bilinearChannel]] 32×32 resample →
    * [[hashRaster]]. The ONLY non-integer stage left is the container
    * decode itself (the r15 advice: Java2D's scaler + gray CMM
    * conversion were not bit-stable across JVMs, and these hashes land
    * in durable seam artifacts). None when no reader claims the bytes
    * (callers fall back to [[hashBytes]] — the stage stays total). */
  def hashImage(payload: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val (g0, w, h) = ImageDecode.grayRaster(img)
      Some(hashRaster(ImageDecode.bilinearChannel(g0, w, h, 32, 32)))
    }
  }

  /** The total decode-slot function [[Multimodal.phashSigs]] maps:
    * real raster when decodable, byte resample otherwise. */
  def payloadHash(p: Array[Byte]): Long =
    hashImage(p).getOrElse(hashBytes(p))

  /** The oracle-side coefficient table as a DuckDB list literal —
    * generated from [[coef]] so both engines share ONE quantization. */
  def coefSqlLiteral: String =
    coef.map(_.mkString("[", ", ", "]")).mkString("[", ",\n      ", "]")
}
