package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}

import graft.{Op, Tables}

/** Deduplication operators for an LLM training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash
  * bucketing, embedding-cosine near-dup.
  *
  * The corpus has no natural duplicates, so each variant runs over
  * `docs_aug`: documents ∪ exact copies (doc_id%7) ∪ near copies with a
  * suffix (doc_id%11) — injected identically in Spark and the oracle CTE.
  *
  * Scale design: nothing here is O(n²) on the full corpus — or within
  * any fixed key block. Exact/simhash dedup are single hash-shuffles on
  * a fingerprint. ALL near-dup pair candidates (dd03's exact-Jaccard
  * verify, dd05's score, dd07's cluster edges) come from one shared
  * banded-minhash equi-join (the standard shingle→minhash→band→bucket
  * pipeline): the shuffle key is the band hash, whose cardinality grows
  * WITH the corpus, so bucket population — and pairs per bucket — stays
  * ~constant for a fixed dup rate. The signature stage itself is
  * computed once per (session, dir) and shared across all three.
  */
object Dedup {

  /** documents + injected exact/near duplicates. */
  def docsAug(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    docs
      .unionByName(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang")))
      .unionByName(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" the end")).as("text"), col("lang")))
  }

  val docsAugCte: String =
    """WITH docs_aug AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' the end', lang FROM documents WHERE doc_id % 11 = 0)
      |""".stripMargin

  /** Distinct SORTED poly-hashed 3-gram set, built by the native
    * [[graft.functions.ShingleHashes]] pass. PolyHash is injective on
    * BMP 3-char grams (stepwise mod never wraps below the prime), so
    * set intersections/unions over the long array are EXACTLY the
    * string-shingle ones; sorting once per doc lets every pairwise
    * intersection run as an allocation-free merge
    * (graft_sorted_intersect_count) instead of a per-pair hash set. */
  private def withHashedShingles(df: DataFrame): DataFrame = {
    df.withColumn("hsh", call_function("graft_shingle_hashes", col("text")))
  }

  private val shinglesCte: String =
    """sh AS (
      |  SELECT doc_id, lang, LENGTH(text) AS n_len,
      |    list_distinct(list_transform(range(1, LENGTH(text) - 1),
      |                  i -> substr(text, CAST(i AS INT), 3))) AS shingles
      |  FROM docs_aug)
      |""".stripMargin

  // ---------------------------------------------------------------- dd01
  /** Exact duplicate groups by content hash (md5 — same digest function
    * both engines). One hash-shuffle; never compares texts pairwise. */
  def exactGroups(s: SparkSession, d: String): DataFrame =
    docsAug(s, d)
      .groupBy(md5(col("text").cast(BinaryType)).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keep_id"), max(col("doc_id")).as("dup_id"))
      .where(col("n_copies") > 1)
      .orderBy(col("keep_id"))

  val exactGroupsSql: String = docsAugCte +
    """SELECT md5(text) AS text_md5, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keep_id, MAX(doc_id) AS dup_id
      |FROM docs_aug GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- dd02
  /** Exact dedup outcome: keep lowest doc_id per content group, count
    * survivors per lang. */
  def exactDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text").cast(BinaryType)))
      .orderBy(col("doc_id"))
    docsAug(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  val exactDedupSql: String = docsAugCte +
    """SELECT lang, COUNT(*) AS n_docs FROM (
      |  SELECT lang, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM docs_aug) t
      |WHERE rn = 1 GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- dd03
  /** Near-dup pairs by EXACT 3-gram Jaccard ≥ 0.8 over banded-minhash
    * candidates: the standard shingle→minhash→band→bucket-join pipeline
    * (shared with dd05) proposes pairs, and the allocation-free sorted
    * intersect verifies them with exact set counts. dd05 reports the
    * score; dd03 reports the full verification detail (n_common,
    * n_union) a curation pipeline thresholds on.
    *
    * Candidate generation was previously a (lang, length÷20) block
    * self-join — block COUNT is a fixed key space, so pairs-per-block
    * grow O(n²) with the corpus. The banded-signature equi-join's key
    * cardinality grows WITH the data (bucket population stays ~constant
    * for a fixed dup rate), which is the shape that survives 100 TB. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramPairs(s, d)
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_union"),
        col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** dd03's pair stage without the presentation sort — also the pair
    * source for dd05 and the edge generator for connected-components
    * clustering (dd07). Signatures come from the session-scoped seam
    * ([[minhashSigCached]]) and the (tiny) surviving pair set is
    * localCheckpoint'ed ONCE per (session, dir) — the three consumers
    * differ only in projection/presentation, so the candidate join and
    * exact verify are never paid twice in one run. */
  private def ngramPairs(s: SparkSession, d: String): DataFrame =
    graft.Seams.memo(s, d, "dd-pairs")(
      verifiedPairsOn(minhashSigCached(s, d)).localCheckpoint())

  /** One (doc_id, sig, band, bkey) row per (doc, band): the 4×8 band
    * fold of the 32-slot signature to ONE long join key. Shared by the
    * same-side candidate join and dd16's cross-side variant. */
  private def withBandKeys(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig"), explode(expr(
      """transform(sequence(0, 3), b -> struct(b as band,
        |  aggregate(slice(sig, 8 * b + 1, 8), 0L,
        |    (acc, h) -> (acc * 31 + h) % 1000000007) as bkey))""".stripMargin))
      .as("bd")).select(col("doc_id"), col("sig"),
        col("bd.band").as("band"), col("bd.bkey").as("bkey"))

  /** Banded candidates + exact-Jaccard verify: (id_a, id_b, n_common,
    * n_union, jaccard) for every candidate pair with jaccard ≥ 0.8.
    * Shared by dd03 (full detail), dd05 (score only) and dd07 (edges). */
  private def verifiedPairsOn(sig: DataFrame): DataFrame =
    attachVerify(sig, bandedCandidatesOn(sig))

  /** Exact-Jaccard verification over an arbitrary candidate pair set —
    * shared by the standard banded route and dd19's capped route. */
  private[graft] def attachVerify(sig: DataFrame, cand: DataFrame): DataFrame = {
    val sa = sig.select(col("doc_id").as("id_a"), col("hsh").as("sh_a"))
    val sb = sig.select(col("doc_id").as("id_b"), col("hsh").as("sh_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("n_common",
        call_function("graft_sorted_intersect_count", col("sh_a"), col("sh_b")))
      // |A ∪ B| = |A| + |B| − |A ∩ B| for the distinct sets — skips a
      // second per-pair array pass.
      .withColumn("n_union",
        size(col("sh_a")).cast(LongType) + size(col("sh_b")) - col("n_common"))
      // two empty-shingle docs band-collide trivially (identical
      // sentinel signatures) and give n_union = 0; ANSI mode turns that
      // division into a job-killing error, and similarity over empty
      // sets is undefined anyway → NULL, which the threshold then
      // excludes (DuckDB's 0-division yields NULL too, so the oracle
      // agrees)
      .withColumn("jaccard",
        when(col("n_union") > 0,
          col("n_common").cast(DoubleType) / col("n_union")))
      .where(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_union"),
        col("jaccard"))
  }

  /** The shared candidate/verify CTE chain: shingles → hashed sets →
    * 32-perm minhash → 4×8 banding → prefiltered candidate pairs →
    * exact-Jaccard verification. Mirrors [[verifiedPairsOn]] exactly. */
  /** Oracle mirror of the shingle→minhash→band stage alone (sh/hs/sig/
    * bands CTEs over `docs_aug`) — shared by [[verifiedPairsCtes]] and
    * st17's streaming-admission oracle, which consumes the band keys
    * without the pair verify. */
  val sigBandCtes: String = shinglesCte + "," +
    """hs AS (
      |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(s) + 1),
      |      i -> CAST(unicode(substr(s, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007))) AS hsh
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, hsh, list_transform(range(0, 32), j ->
      |    list_min(list_transform(hsh, h ->
      |      (((2654435761 * (CAST(j AS BIGINT) + 1)) % 1000000007) * h
      |       + (CAST(j AS BIGINT) * 12345 + 678)) % 1000000007))) AS sig
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, sig, b.band,
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      sig[CAST(8 * b.band + 1 AS INT):CAST(8 * b.band + 8 AS INT)],
      |      (acc, h) -> (acc * 31 + h) % 1000000007) AS bkey
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)"""
      .stripMargin

  private val verifiedPairsCtes: String = sigBandCtes + "," +
    """pre AS (
      |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM bands a JOIN bands c
      |    ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id
      |  WHERE list_sum(list_transform(range(1, 33), i ->
      |    CASE WHEN a.sig[CAST(i AS INT)] = c.sig[CAST(i AS INT)]
      |         THEN 1 ELSE 0 END)) >= 26),
      |ver AS (
      |  SELECT id_a, id_b,
      |    len(list_intersect(sa.hsh, sb.hsh)) AS n_common,
      |    len(list_distinct(sa.hsh || sb.hsh)) AS n_union,
      |    CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
      |      / len(list_distinct(sa.hsh || sb.hsh)) AS jaccard
      |  FROM pre JOIN hs sa ON sa.doc_id = id_a JOIN hs sb ON sb.doc_id = id_b)
      |""".stripMargin

  val ngramJaccardSql: String = docsAugCte + "," + verifiedPairsCtes +
    """SELECT id_a, id_b, n_common, n_union, jaccard FROM ver
      |WHERE jaccard >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- dd04
  /** SimHash bucketing: identical 30-bit signatures → dup bucket.
    * Single hash-shuffle on the signature (native SimHash expression). */
  def simhashBuckets(s: SparkSession, d: String): DataFrame = {
    docsAug(s, d)
      .withColumn("sig", call_function("graft_simhash", split(col("text"), " ")))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .where(col("n_docs") > 1)
      .orderBy(col("sig"))
  }

  val simhashBucketsSql: String = docsAugCte + "," +
    """sigs AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(0, 30), bb ->
      |      CASE WHEN 2 * len(list_filter(
      |             list_transform(string_split(text, ' '), t ->
      |               list_reduce([CAST(0 AS BIGINT)] ||
      |                 list_transform(range(1, LENGTH(t) + 1),
      |                 i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS BIGINT)),
      |                 (a, b) -> (a * 31 + b) % 1000000007)),
      |             h -> (h >> CAST(bb AS INT)) & 1 = 1)) >= len(string_split(text, ' '))
      |      THEN (CAST(1 AS BIGINT) << CAST(bb AS INT)) ELSE CAST(0 AS BIGINT) END),
      |      (a, c) -> a + c) AS sig
      |  FROM docs_aug)
      |SELECT sig, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM sigs GROUP BY sig HAVING COUNT(*) > 1
      |ORDER BY sig""".stripMargin

  // ---------------------------------------------------------------- dd05
  /** MinHash + LSH banding: 32 min-wise permutations (native
    * [[graft.functions.MinHashSig]] — large mixing multipliers; see its
    * scaladoc for why small ones collapse the banding), 4 bands × 8
    * rows folded to ONE long join key, a 26/32 signature-agreement
    * prefilter, then exact Jaccard ≥ 0.8 over the sorted hash arrays.
    *
    * Why 8 rows per band: this corpus's same-lang pairs have median
    * trigram Jaccard ≈ 0.45 (measured), so with 2-row bands ~60% of ALL
    * pairs band-collide — LSH degenerates into a cross join. At r=8 a
    * J=0.45 pair collides with prob 1−(1−0.45⁸)⁴ ≈ 0.7%, while a J=0.95
    * near-dup still surfaces with ≈ 99% recall. The band fold keeps the
    * shuffle key a single BIGINT (identical formula in the oracle, so
    * even fold collisions — ~1e-9/pair — are mirrored exactly). */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    ngramPairs(s, d)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  private[graft] def minhashSig(s: SparkSession, d: String): DataFrame =
    withHashedShingles(docsAug(s, d))
      .select(col("doc_id"), col("hsh"))
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))

  /** Session-scoped materialization of the shingle→minhash signature
    * stage, keyed by (session, data dir). The stage is the expensive
    * CPU pass and feeds FOUR plan branches per query (two band sides,
    * two verify attaches) across THREE queries (dd03/dd05/dd07) —
    * uncached, Spark recomputes it per branch per query (12+ scans in
    * one bench run). With a seam cache dir the signatures go to the
    * durable `minhash-sig` artifact (survives session restarts and
    * executor loss, where persisted blocks die and must be
    * recomputed); without one a persisted frame is the same thing
    * without the filesystem round-trip. */
  private def minhashSigCached(s: SparkSession, d: String): DataFrame =
    graft.Seams.memo(s, d, "minhash-sig") {
      if (s.conf.getOption(graft.Seams.CacheDirKey).isDefined)
        graft.Seams.durable(s, d, "minhash-sig")(minhashSig(s, d))
      else
        minhashSig(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // alias of Seams.CacheDirKey: the e2ebench harness compiles against it
  val SigCacheDirKey = graft.Seams.CacheDirKey

  /** Candidate pairs (id_a < id_b) from the banded-signature equi-join.
    * Candidate generation never touches the shingle arrays: bands carry
    * (doc_id, band, bkey) — 24 bytes a row through the shuffle
    * regardless of document size. Band rows CARRY their 256-byte
    * signature, so the candidate join yields (sig_a, sig_b) directly —
    * the ≥26/32 signature-agreement prefilter (estimated J ≈ 0.81) runs
    * inline on the join output and the expensive distinct shrinks from
    * ~1.5M band collisions (this corpus's same-lang pairs sit at median
    * J ≈ 0.45) to the few thousand plausible pairs. The ~2 KB shingle
    * arrays only ever ship for prefilter survivors. The oracle applies
    * the identical banding + prefilter, so the (approximate) candidate
    * set is bit-reproducible. */
  private[graft] def bandedCandidatesOn(sig: DataFrame): DataFrame = {
    val bands = withBandKeys(sig)
    val ba = bands.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
      col("band"), col("bkey"))
    val bb = bands.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
      col("band"), col("bkey"))
    ba.join(bb, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b") &&
        call_function("graft_positional_eq_count",
          col("sig_a"), col("sig_b")) >= 26)
      .select(col("id_a"), col("id_b")).distinct()
  }

  val minhashLshSql: String = docsAugCte + "," + verifiedPairsCtes +
    """SELECT id_a, id_b, jaccard FROM ver
      |WHERE jaccard >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- dd06
  /** Embedding-cosine near-dup: pairs ≥ 0.9 over embeddings ∪ injected
    * scaled copies (scaling preserves cosine), with candidates generated
    * by banded hyperplane LSH — NEVER an all-pairs join.
    *
    * Scheme: 32 sign-of-dot bits (planes = the first 32 data vectors,
    * deterministic — no RNG, same trick as sim02), folded into 4 bands
    * × 8 bits. A pair is a candidate iff some band's full 8-bit key
    * matches, so the shuffle key is (band, bkey) with 4×256 values per
    * band family and ~n/256 vectors per bucket — candidate volume
    * ≈ 4·n²/256 for near-orthogonal corpora (bit-agreement prob ≈ 0.5
    * for random pairs → 0.5⁸ per band), while an exact-direction dup
    * agrees on every bit and always collides. Exact-cosine verify runs
    * only on candidates; arrays attach after the slim pair join.
    * Dots are sequential left-folds in both engines → identical
    * doubles, and the oracle mirrors the banding exactly, so the
    * (approximate) candidate set is bit-reproducible. */
  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the normed+augmented frame feeds FOUR plan branches (two band
    // sides, two verify attaches) — same seam as dd05's signatures, so
    // materialize it once instead of recomputing per branch
    val n = embedNormed(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    val out = embedNearDupOn(s, d, n).localCheckpoint() // pairs ≪ corpus
    n.unpersist()
    out
  }

  private def embedNormed(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("e"))
    v.unionByName(v.where(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("label"),
          expr("transform(e, x -> x * 1.1d)").as("e")))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      // a zero vector has no direction: cosine against it is undefined
      // and its nrm divisor is a fatal ANSI 0-division — exclude it
      .where(col("nrm") > 0)
  }

  private def embedNearDupOn(s: SparkSession, d: String,
      n: DataFrame): DataFrame = {
    val planes = Tables.embeddings(s, d)
      .where(col("vec_id") < 32)
      .select(col("vec_id").as("pid"),
        expr("transform(embedding, x -> cast(x as double))").as("pe"))
    // Bit contributions are computed map-side under the broadcast join
    // and projected to (vec_id, band, bit) before the groupBy, so the
    // signature shuffle moves 32 narrow rows per vector — the 512-byte
    // embedding arrays never enter it.
    val bands = n.select(col("vec_id"), col("e"))
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), expr("cast(pid div 8 as int)").as("band"),
        when(call_function("graft_vec_dot", col("e"), col("pe")) >= 0,
          expr("shiftleft(1L, cast(pid % 8 as int))")).otherwise(0L).as("bit"))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(col("bit")).as("bkey"))
    val cand = bands.select(col("vec_id").as("id_a"), col("band"), col("bkey"))
      .join(bands.select(col("vec_id").as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val na = n.select(col("vec_id").as("id_a"), col("e").as("ea"),
      col("nrm").as("nrm_a"))
    val nb = n.select(col("vec_id").as("id_b"), col("e").as("eb"),
      col("nrm").as("nrm_b"))
    cand.join(na, "id_a").join(nb, "id_b")
      .withColumn("cosine",
        call_function("graft_vec_dot", col("ea"), col("eb"))
          / (col("nrm_a") * col("nrm_b")))
      .where(col("cosine") >= 0.9)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val embedNearDupSql: String =
    """WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |aug AS (
      |  SELECT * FROM v
      |  UNION ALL
      |  SELECT vec_id + 100000, label, list_transform(e, x -> x * 1.1) FROM v
      |  WHERE vec_id % 9 = 0),
      |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM aug),
      |planes AS (SELECT vec_id AS pid, e AS pe FROM v WHERE vec_id < 32),
      |bands AS (
      |  SELECT a.vec_id, CAST(p.pid // 8 AS INT) AS band,
      |    CAST(SUM(CASE WHEN list_dot_product(a.e, p.pe) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(p.pid % 8 AS INT))
      |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bkey
      |  FROM n a CROSS JOIN planes p
      |  GROUP BY a.vec_id, p.pid // 8),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b,
      |  list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm) AS cosine
      |FROM cand
      |JOIN n na ON na.vec_id = id_a
      |JOIN n nb ON nb.vec_id = id_b
      |WHERE list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- dd07
  /** Duplicate-CLUSTER assembly: pair detection (dd03/dd05) emits edges,
    * but dedup has to act on whole components — A≈B and B≈C must shed
    * into ONE cluster even when A≉C directly (the injected %77 docs have
    * exactly that triangle-free shape: exact copy +1M, near copy +2M).
    *
    * One CC core serves dd07 and dd09: alternating star contraction
    * ([[connectedComponentsStar]]). Earlier rounds kept a second engine
    * here — iterative min-label propagation, O(diameter) rounds — which
    * is fine on near-star dup graphs but loses to the star core's
    * O(log n) everywhere else and duplicated the iterative machinery
    * (persist discipline, decimal convergence probe, lineage cuts) for
    * no semantic difference. dd07/dd09 now differ only as registry
    * names pinned to the same oracle (DedupClusterSpec additionally
    * checks the clusters against an in-memory union-find).
    *
    * Output: one row per non-singleton cluster — cluster_id = min
    * doc_id (the survivor dd02-style keep rule would retain), n_docs,
    * max_id. Reference has no graph stage; this generalizes
    * consumer.py:98-107's per-row dedup to transitive near-dup groups. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    starClusters(s, d)

  /** DuckDB mirror: same banded-candidate + exact-verify edge CTEs as
    * dd03, components via a recursive walk (every node collects the
    * labels of everything reachable; MIN per node = component id). */
  val dupClustersSql: String =
    docsAugCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      verifiedPairsCtes + "," +
      """pairs AS (
        |  SELECT id_a, id_b FROM ver WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
        |comp AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
        |SELECT cluster_id, COUNT(*) AS n_docs, MAX(id) AS max_id
        |FROM comp GROUP BY cluster_id
        |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- dd17
  /** dd17 — CLUSTER-COHESION audit: per duplicate cluster, the verified
    * edge count, min/mean pair Jaccard, and EDGE DENSITY
    * 2E/(n·(n−1)) — the false-merge detector for transitive
    * clustering: a true duplicate set is near-clique (density ≈ 1,
    * min jaccard well above threshold), while a template CHAIN
    * (page₁≈page₂≈…≈pageₙ with unrelated ends — exactly the graphs
    * dd09's star contraction exists for) shows density ≈ 2/n and min
    * jaccard hugging the 0.8 threshold: the signal that keep-one-per-
    * cluster would delete non-duplicates. Rides the shared pair seam
    * and the ONE CC engine; per-edge jaccards are exact small-int
    * ratios, so the DECIMAL(18,9)-quantized sum is order-independent
    * AND engine-identical (no libm anywhere), one double division per
    * cluster at the end. */
  def clusterCohesion(s: SparkSession, d: String): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val pairs = ngramPairs(s, d)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val labels = connectedComponentsStar(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    val edges = pairs
      .join(labels.select(col("id").as("id_a"),
        col("label").as("cluster_id")), "id_a")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("min_jaccard"),
        sum(col("jaccard").cast(dec9)).as("jsum"))
    sizes.join(edges, "cluster_id")
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        col("min_jaccard"),
        (col("jsum").cast("double") / col("n_edges").cast("double"))
          .as("mean_jaccard"),
        ((col("n_edges") * 2L).cast("double") /
          (col("n_docs") * (col("n_docs") - 1L)).cast("double"))
          .as("density"))
      .orderBy(col("cluster_id"))
  }

  val clusterCohesionSql: String =
    docsAugCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      verifiedPairsCtes + "," +
      """cc_pairs AS (
        |  SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM cc_pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM cc_pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
        |comp AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
        |sz AS (SELECT cluster_id, COUNT(*) AS n_docs FROM comp
        |       GROUP BY cluster_id),
        |es AS (
        |  SELECT c.cluster_id, COUNT(*) AS n_edges,
        |    MIN(p.jaccard) AS min_jaccard,
        |    CAST(SUM(CAST(p.jaccard AS DECIMAL(18,9))) AS DOUBLE)
        |      / COUNT(*) AS mean_jaccard
        |  FROM cc_pairs p JOIN comp c ON c.id = p.id_a
        |  GROUP BY c.cluster_id)
        |SELECT s.cluster_id, s.n_docs, e.n_edges, e.min_jaccard,
        |  e.mean_jaccard,
        |  CAST(e.n_edges * 2 AS DOUBLE)
        |    / CAST(s.n_docs * (s.n_docs - 1) AS DOUBLE) AS density
        |FROM sz s JOIN es e ON e.cluster_id = s.cluster_id
        |ORDER BY s.cluster_id""".stripMargin

  // ---------------------------------------------------------------- dd09
  /** dd07's cluster assembly by ALTERNATING STAR CONTRACTION (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * algorithm dd07's scaladoc names for graphs where min-label
    * propagation's rounds-∝-diameter bound bites. Near-dup graphs are
    * near-stars on THIS corpus, but at 100 TB the duplicate graph of a
    * crawl contains long template chains (page₁≈page₂≈…≈pageₙ, each
    * adjacent pair over threshold, the ends unrelated): propagation
    * needs n rounds, star contraction O(log n) — each large-star hop
    * halves the distance-to-root, so a 10⁶-long chain closes in ~20
    * rounds instead of 10⁶.
    *
    * Per round, two grouped min-joins over the current edge set (same
    * shuffle shape as one propagation round); the edge set only
    * shrinks-or-stars, never grows beyond 2|E|. Convergence probe =
    * (edge count, DECIMAL(38,0) sum of targets) — scalar, never a row
    * collect; the target sum is non-increasing (every rewrite points a
    * node at a smaller-or-equal label), so a stable probe is a stable
    * edge set. Output and oracle are IDENTICAL to dd07, which delegates
    * here — one CC engine, two registry pins on the same answer. */
  def starClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramPairs(s, d).select(col("id_a"), col("id_b"))
    connectedComponentsStar(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
      .orderBy(col("cluster_id"))
  }

  /** (src, dst) undirected edge list → (id, label) with label = the
    * component's minimum node id, for every node that has an edge.
    * Returned frame is localCheckpoint'ed (small: one row per
    * non-singleton node) so every iteration cache can drop. */
  private[graft] def connectedComponentsStar(edges0: DataFrame): DataFrame = {
    // Each round references the previous edge set several times (sym
    // twice, the min-join again) — under persist alone the LINEAGE
    // still multiplies ~4× per round and the plan outgrows the heap
    // after ~10 rounds (exactly the long-chain regime this algorithm
    // exists for). localCheckpoint materializes AND truncates lineage —
    // but LAZILY (eager = false): the convergence probe right after is
    // the round's one action, computing the round AND pinning its
    // partitions as the checkpoint in the same job (eager checkpoints
    // would pay a second job per round just to re-scan what the probe
    // already materialized).
    var e = edges0.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges0.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(eager = false)
    def probe(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("v").cast(
          org.apache.spark.sql.types.DecimalType(38, 0)))).head
      (r.getLong(0), Option(r.get(1))
        .map(_.asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO))
    }
    var state = probe(e)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 30) {
      // LARGE-STAR: over the symmetric neighborhood of u, every
      // strictly-larger neighbor links to m = min(N(u) ∪ {u}) — the
      // distance-halving hop. No distinct here: duplicate (v, m) rows
      // (several u's nominating the same rewrite) can't change mins2's
      // min below and die in small's distinct — skipping the dedup
      // saves a full (u, v) shuffle per round, and |large| stays
      // ≤ |sym| regardless because each sym row emits at most one row.
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // SMALL-STAR: large's output points strictly downward, so for
      // each u every down-neighbor (and u itself) links to the local
      // minimum — flattening multi-parent nodes into stars
      val mins2 = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(mins2, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(eager = false)
      val next = probe(small)
      e.unpersist()
      e = small
      converged = next._1 == state._1 && next._2.compareTo(state._2) == 0
      state = next
      rounds += 1
    }
    require(converged, s"star contraction did not converge in $rounds rounds")
    // fixpoint edge set is a star forest: every non-root points at its
    // component root; roots appear only as targets
    val leaves = e.select(col("u").as("id"), col("v").as("label"))
    val roots = e.select(col("v").as("id")).distinct()
      .join(e.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val out = leaves.unionByName(roots).localCheckpoint()
    e.unpersist()
    out
  }

  // ---------------------------------------------------------------- dd08
  /** Benchmark decontamination: flag training documents that share
    * word-5-gram overlap with a held-out eval set (the GPT-3/PaLM-style
    * n-gram leak check). Eval set = doc_id % 17 == 0; the train side
    * additionally gets injected "leaks" — eval-text prefixes re-keyed
    * as doc_id + 3000000 — modelling benchmark text embedded in a
    * crawl, so the gate provably fires.
    *
    * Scale design: each side explodes to DISTINCT (doc_id, gram) rows
    * (positions exploded in codegen, grams sliced per row — no
    * materialized per-doc gram arrays). The eval side — benchmark
    * suites, tiny by construction — is broadcast; the per-doc overlap
    * count is one hash-agg keyed by doc_id. Nothing is pairwise: cost
    * is O(|corpus grams|), the 100 TB shape. Grams join as raw strings
    * (exact, collision-free); a production run would fingerprint them
    * to 128-bit hashes to slim the broadcast, same plan shape. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val (eval_, train) = decontSides(s, d)
    val evalGrams = wordGrams(eval_).select(col("gram")).distinct()
    val trainGrams = trainGramsSeam(s, d, train)
    val hits = trainGrams.join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_hits"))
    decontReport(trainGrams, hits)
  }

  /** The decontamination audits' corpus-sized seam: distinct train-side
    * (doc_id, 5-gram) postings. Both dd08 consumers (the overlap join
    * and the per-doc denominator) and both dd10 consumers (the bloom
    * probe and the same denominator) reference it — lazily each
    * reference re-ran the explode+distinct over the whole train corpus
    * (guide §1.2: remove re-executed passes). Durable for the same
    * reason as dd13's gram postings: at 100 TB the postings table is
    * the artifact every decontamination audit reads, built once per
    * frozen corpus. No seam dir (unit tests) → localCheckpoint. */
  private def trainGramsSeam(s: SparkSession, d: String,
      train: DataFrame): DataFrame =
    graft.Seams.durable(s, d, "decont-traingrams")(wordGrams(train))

  /** Eval side (doc_id % 17 == 0) and train side incl. injected leaks. */
  private def decontSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val eval_ = docs.where(col("doc_id") % 17 === 0)
    val train = docs.where(col("doc_id") % 17 =!= 0)
      .unionByName(eval_.select((col("doc_id") + 3000000).as("doc_id"),
        substring(col("text"), 1, 200).as("text")))
    (eval_, train)
  }

  /** Distinct (doc_id, word-5-gram) rows — positions exploded in
    * codegen, grams sliced per row, no per-doc gram arrays. Shared
    * with [[graft.text.TextAnalysis.noveltyScore]] (txt20), whose
    * oracle SQL mirrors this exact tokenization. */
  private[graft] def wordGrams(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
    .where(size(col("tk")) >= 5) // sequence(1, n-4) descends for n<5
    .select(col("doc_id"),
      explode(sequence(lit(1), size(col("tk")) - 4)).as("i"), col("tk"))
    .select(col("doc_id"),
      array_join(slice(col("tk"), col("i"), lit(5)), " ").as("gram"))
    .distinct()

  private def decontReport(trainGrams: DataFrame, hits: DataFrame)
      : DataFrame = {
    val perDoc = trainGrams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_grams"))
    perDoc.join(hits, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        when(col("n_hits") >= 3, 1).otherwise(0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- dd10
  /** dd08 for the regime where even the eval GRAM SET is too big to
    * broadcast raw: a benchmark-suite union at web scale is 10⁸-10⁹
    * distinct 5-grams — tens of GB as strings, megabytes as a Bloom
    * filter at 1% fpp. The filter (built with Spark's distributed
    * sketch aggregate, `stat.bloomFilter`) is broadcast and applied
    * MAP-SIDE to the train grams, so ≥99% of the corpus never reaches
    * a join; only the ~1% false positives plus true hits flow into an
    * exact shuffle equi-join that removes the false positives. The
    * report is therefore EXACT — same output, same oracle as dd08; the
    * bloom is pure routing, invisible in the answer (the same
    * prefilter-then-verify contract as the banded-LSH pipelines).
    * The verify join is hinted shuffle_hash to pin the
    * no-broadcast-of-grams shape the operator exists for. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val (eval_, train) = decontSides(s, d)
    val evalGrams = wordGrams(eval_).select(col("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (small) report while the gram cache and the bloom
    // broadcast are alive, then release
    try bloomDecontOn(evalGrams, trainGramsSeam(s, d, train))
      .localCheckpoint()
    finally evalGrams.unpersist()
  }

  private def bloomDecontOn(evalGrams: DataFrame,
      trainGrams: DataFrame): DataFrame = {
    val n = evalGrams.count()
    // zero eval grams → zero hits, and the sketch aggregate over an
    // empty frame yields a NULL binary — skip the probabilistic stage
    // entirely (the exact join is empty anyway)
    val prefiltered =
      if (n == 0L) trainGrams.where(lit(false))
      else {
        // Distributed sketch build: Spark's own BloomFilterAggregate
        // (graft_bloom_agg) over xxhash64(gram) — per-partition partial
        // sketches OR-merge on the executors; one ~MB binary returns.
        val numBits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(n, 0.01)
        val sketch = evalGrams
          .agg(call_function("graft_bloom_agg",
            xxhash64(col("gram")), lit(n), lit(numBits)).as("bf"))
          .head.getAs[Array[Byte]](0)
        // Probe with the codegen'd BloomFilterMightContain expression —
        // the hottest map-side filter of the operator stays inside
        // whole-stage codegen instead of breaking on a Scala-UDF
        // closure. The sketch rides the plan as a binary literal (same
        // driver round-trip stat.bloomFilter made; at the 10⁹-gram
        // regime a scalar-subquery sketch — InjectRuntimeFilter's
        // spelling — replaces the literal, identical probe plan).
        // xxhash64 on both sides matches the sketch's long-probe API;
        // hash collisions only admit extra candidates, which the exact
        // join below kills like any other false positive.
        trainGrams.where(call_function("graft_might_contain",
          lit(sketch), xxhash64(col("gram")))) // map-side: ≥99% dropped
      }
    val hits = prefiltered
      .join(evalGrams.hint("shuffle_hash"), "gram") // exact: kills FPs
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_hits"))
    decontReport(trainGrams, hits)
  }

  val decontaminateSql: String =
    """WITH eval_docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
      |train_docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, substr(text, 1, 200) FROM eval_docs),
      |eg AS (
      |  SELECT DISTINCT gram FROM (
      |    SELECT unnest(list_transform(
      |        range(1, len(string_split_regex(trim(text), '\s+')) - 3),
      |        i -> array_to_string(string_split_regex(trim(text), '\s+')
      |               [CAST(i AS INT):CAST(i AS INT) + 4], ' '))) AS gram
      |    FROM eval_docs
      |    WHERE len(string_split_regex(trim(text), '\s+')) >= 5) t),
      |tg AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id, unnest(list_transform(
      |        range(1, len(string_split_regex(trim(text), '\s+')) - 3),
      |        i -> array_to_string(string_split_regex(trim(text), '\s+')
      |               [CAST(i AS INT):CAST(i AS INT) + 4], ' '))) AS gram
      |    FROM train_docs
      |    WHERE len(string_split_regex(trim(text), '\s+')) >= 5) t),
      |per_doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      |  FROM tg GROUP BY doc_id),
      |hits AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM tg JOIN eg USING (gram) GROUP BY doc_id)
      |SELECT p.doc_id, p.n_grams, h.n_hits,
      |  CASE WHEN h.n_hits >= 3 THEN 1 ELSE 0 END AS contaminated
      |FROM per_doc p JOIN hits h ON p.doc_id = h.doc_id
      |ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- dd12
  /** Prefix-fingerprint clusters: documents grouped by the md5 of their
    * first 8 whitespace tokens — the boilerplate-head dedup pass a
    * crawl pipeline runs against templated pages (same headline /
    * nav-bar prefix, different tails). Exact-hash groupBy like dd01,
    * but on a PROJECTION of the text, so it catches duplicates dd01's
    * whole-text hash misses; `n_texts` says how many distinct full
    * bodies share the prefix (n_texts > 1 ⇒ genuinely templated, not
    * byte-identical). One hash shuffle on the fingerprint — key
    * cardinality grows with the corpus, nothing pairwise; the distinct
    * counts bodies by their md5, so the shuffle carries 32-char
    * digests, never full documents. */
  def prefixClusters(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("body_fp"),
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
          .as("prefix_fp"))
      .groupBy(col("prefix_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("body_fp")).as("n_texts"),
        min(col("doc_id")).as("canon_doc"))
      .where(col("n_docs") > 1)
      .orderBy(col("prefix_fp"))

  val prefixClustersSql: String =
    """SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_fp,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS n_texts,
      |  MIN(doc_id) AS canon_doc
      |FROM documents
      |GROUP BY 1
      |HAVING COUNT(*) > 1
      |ORDER BY prefix_fp""".stripMargin

  // ---------------------------------------------------------------- dd13
  /** Asymmetric CONTAINMENT (quote/excerpt) detection: pairs where ≥90%
    * of the small doc's word-3-grams appear in a doc at least twice its
    * gram size — the relation Jaccard dedup is structurally blind to
    * (an excerpt of a 10× longer source has Jaccard ≤ 0.1, so no
    * minhash band ever collides; dd03/dd05 CANNOT find these pairs).
    * The corpus has no natural excerpts, so the input is documents ∪
    * injected mid-slices (doc_id%13, tokens [4, 3+n/2]) — same
    * convention as docs_aug, mirrored in the oracle CTE.
    *
    * Scale shape: a DF-PRUNED INVERTED INDEX, not minhash — containment
    * candidates must share the SMALL side's grams, so the equi-join key
    * is the gram itself (cardinality grows with the corpus). Per-gram
    * fan-out is bounded by the document-frequency cap (df ≤ 50):
    * boilerplate grams that would quadratically explode the pair count
    * are dropped from BOTH the index and the denominator (containment
    * is then exact over the rare-gram universe — the score a curation
    * pipeline wants anyway, since matching only boilerplate is not
    * quoting). Pair counts are a hash-agg on (id_a, id_b); sizes join
    * back per-doc. Σ df² per gram ≤ 50·|postings| keeps the join
    * output linear in the index size. */
  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val MaxDf = 50
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val tk = split(col("text"), " ")
    val corpus = docs.unionByName(
      docs.where(col("doc_id") % 13 === 0 && size(tk) >= 12)
        .select((col("doc_id") + 3000000).as("doc_id"),
          array_join(slice(tk, lit(4), (size(tk) / 2).cast(
            org.apache.spark.sql.types.IntegerType)), " ").as("text"),
          col("lang")))
    // the postings seam is the query's dominant cost (explode+distinct
    // over every 3-gram) and feeds both the df count and the pruned
    // index; durable-materialize it (round-8 verdict) so Verify and
    // both Bench passes build it at most once per corpus
    val grams = graft.Seams.durable(s, d, "dd13-grams")(corpus
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("tk")) - 2)).as("i"), col("tk"))
      .select(col("doc_id"),
        array_join(slice(col("tk"), col("i"), lit(3)), " ").as("gram"))
      .distinct())
    val dfc = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // the df-pruned inverted index is itself a durable artifact in a
    // curation pipeline (the same index serves containment, quote
    // detection, and decontamination audits) — second durable seam,
    // and it feeds three consumers here (sizes, both join sides)
    val rare = graft.Seams.durable(s, d, "dd13-rare")(grams
      .join(dfc.where(col("df") <= MaxDf).select(col("gram")), "gram"))
    // attach each doc's rare-gram count to its postings ONCE (one
    // doc_id-keyed shuffle), so the asymmetric size gate
    // (n_a * 2 <= n_b) applies INSIDE the gram self-join, BEFORE the
    // pair aggregation — symmetric near-size pairs (the bulk of the
    // candidate volume: every pair appears in both orientations and
    // at most one passes) die pre-shuffle instead of being counted
    // and then filtered, and the two post-aggregation size join-backs
    // disappear (guide §2.3 aggregate less / §3 pre-filter the join).
    // Same rows out: the gate and the containment filter commute with
    // the count.
    val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val rareN = rare.join(sizes, "doc_id")
    val a = rareN.select(col("doc_id").as("id_a"), col("gram"),
      col("n").as("n_a"))
    val b = rareN.select(col("doc_id").as("id_b"), col("gram"),
      col("n").as("n_b"))
    a.join(b, a("gram") === b("gram") && col("id_a") =!= col("id_b") &&
        col("n_a") * 2 <= col("n_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment",
        col("n_common").cast(DoubleType) / col("n_a"))
      .where(col("containment") >= 0.9)
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_a"),
        col("n_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val containmentPairsSql: String =
    """WITH docs_exc AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000,
      |    array_to_string(string_split(text,' ')
      |      [4:3 + len(string_split(text,' '))//2], ' '), lang
      |  FROM documents
      |  WHERE doc_id % 13 = 0 AND len(string_split(text,' ')) >= 12),
      |g AS (SELECT DISTINCT doc_id, gram FROM (
      |  SELECT doc_id, unnest(list_transform(
      |      range(1, len(string_split(text,' '))-1),
      |      i -> array_to_string(string_split(text,' ')
      |             [CAST(i AS INT):CAST(i AS INT)+2],' '))) AS gram
      |  FROM docs_exc WHERE len(string_split(text,' ')) >= 3) t),
      |dfq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
      |rare AS (SELECT g.doc_id, g.gram FROM g
      |         JOIN dfq ON g.gram = dfq.gram WHERE dfq.df <= 50),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
      |pc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    COUNT(*) AS n_common
      |  FROM rare a JOIN rare b
      |    ON a.gram = b.gram AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
      |  CAST(n_common AS DOUBLE)/sa.n AS containment
      |FROM pc JOIN sz sa ON sa.doc_id = id_a
      |        JOIN sz sb ON sb.doc_id = id_b
      |WHERE CAST(n_common AS DOUBLE)/sa.n >= 0.9 AND sa.n * 2 <= sb.n
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- dd14
  /** INCREMENTAL dedup — the daily-snapshot production pattern: a new
    * increment is deduplicated against the historical corpus WITHOUT
    * re-deduplicating history against itself. History contributes only
    * its distinct fingerprint set (the precomputed "fingerprint store"
    * a real pipeline persists between snapshots — the same
    * materialize-the-expensive-stage seam as the minhash sig cache);
    * each increment doc gets a three-way verdict: duplicate of
    * history, duplicate within the increment (fingerprint tie broken
    * by min doc_id), or kept. docs_aug's injected copies play the
    * increment (doc_id ≥ 1 000 000): exact copies must die against
    * history, suffixed near-copies must survive an EXACT-hash gate.
    *
    * Scale: one fp-keyed equi-join against the store (the dd10 Bloom
    * route composes in front of it when the store outgrows a
    * shuffle-hash build side) + one fp-partitioned window over the
    * increment only — history is never windowed or rescanned beyond
    * the store projection. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val aug = docsAug(s, d)
      .withColumn("fp", md5(col("text").cast(BinaryType)))
    val store = aug.where(col("doc_id") < 1000000)
      .select(col("fp")).distinct().withColumn("in_hist", lit(1))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    aug.where(col("doc_id") >= 1000000)
      .withColumn("rn", row_number().over(w))
      .join(store, Seq("fp"), "left")
      .withColumn("verdict",
        when(col("in_hist") === 1, "dup_of_history")
          .when(col("rn") > 1, "dup_in_increment")
          .otherwise("kept"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("verdict"))
  }

  val incrementalDedupSql: String = docsAugCte + """,
      |aug AS (SELECT doc_id, lang, md5(text) AS fp FROM docs_aug),
      |hist AS (SELECT DISTINCT fp FROM aug WHERE doc_id < 1000000),
      |incr AS (SELECT doc_id, lang, fp,
      |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM aug WHERE doc_id >= 1000000),
      |m AS (SELECT i.lang,
      |    CASE WHEN h.fp IS NOT NULL THEN 'dup_of_history'
      |         WHEN i.rn > 1 THEN 'dup_in_increment'
      |         ELSE 'kept' END AS verdict
      |  FROM incr i LEFT JOIN hist h ON h.fp = i.fp)
      |SELECT lang, verdict, COUNT(*) AS n FROM m
      |GROUP BY lang, verdict
      |ORDER BY lang, verdict""".stripMargin

  // ---------------------------------------------------------------- dd15
  /** Sketch CALIBRATION audit: MinHash's estimate (matching signature
    * positions / 32) against the exact Jaccard, per verified pair —
    * the drift monitor a production dedup pipeline runs before
    * trusting banding thresholds on a new corpus (estimator variance
    * is √(j(1−j)/32) ≈ 0.07 at j = 0.8; a systematic error beyond
    * that means the shingle distribution broke the permutation
    * assumptions — e.g. tiny shingle sets). Reuses the cached
    * signature stage and the dd03 pair seam; the only new work is a
    * codegen'd positional-equality count per surviving pair. Both
    * scores are exact-integer ratios (k/32, common/union), so the
    * error column is bit-identical across engines. */
  def sketchCalibration(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSigCached(s, d).select(col("doc_id"), col("sig"))
    ngramPairs(s, d)
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .withColumn("est_jaccard",
        call_function("graft_positional_eq_count",
          col("sig_a"), col("sig_b")).cast(DoubleType) / 32)
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        col("jaccard").as("exact_jaccard"),
        (col("est_jaccard") - col("jaccard")).as("err"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val sketchCalibrationSql: String = docsAugCte + "," + verifiedPairsCtes +
    """SELECT v.id_a, v.id_b,
      |  CAST(list_sum(list_transform(range(1, 33), i ->
      |    CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]
      |         THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard,
      |  v.jaccard AS exact_jaccard,
      |  CAST(list_sum(list_transform(range(1, 33), i ->
      |    CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]
      |         THEN 1 ELSE 0 END)) AS DOUBLE) / 32 - v.jaccard AS err
      |FROM ver v
      |JOIN sig sa ON sa.doc_id = v.id_a
      |JOIN sig sb ON sb.doc_id = v.id_b
      |WHERE v.jaccard >= 0.8
      |ORDER BY v.id_a, v.id_b""".stripMargin

  // ---------------------------------------------------------------- dd16
  /** FUZZY decontamination — the near-dup twin of dd08/dd10's exact
    * overlap: an eval document lightly edited before it leaked into
    * train shares almost no intact word-5-gram with its source (one
    * token edit kills 5 grams), so the exact route under-reports
    * exactly the leaks that matter; banded MinHash catches them
    * (J ≈ 0.95 for a one-token append). Cross-SIDE banding: both
    * sides sign once, band keys join train×eval only (no same-side
    * pairs — at 100 TB the train side must never self-join here),
    * 26/32 prefilter, exact-Jaccard verify, best eval match per train
    * doc by the lexicographic argmax. Same candidate physics as dd05:
    * cost is band collisions, never |train|·|eval|. */
  def fuzzyDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val eval_ = docs.where(col("doc_id") % 17 === 0)
    val train = docs.where(col("doc_id") % 17 =!= 0)
      .unionByName(eval_.select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" extra token")).as("text")))
    val all = eval_.withColumn("side", lit("e"))
      .unionByName(train.withColumn("side", lit("t")))
    val sig = withHashedShingles(all)
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))
      .select(col("doc_id"), col("side"), col("hsh"), col("sig"))
    val bands = withBandKeys(sig.select(col("doc_id"), col("sig")))
      .join(sig.select(col("doc_id"), col("side")), "doc_id")
    val bt = bands.where(col("side") === "t")
      .select(col("doc_id").as("id_t"), col("sig").as("sig_t"),
        col("band"), col("bkey"))
    val be = bands.where(col("side") === "e")
      .select(col("doc_id").as("id_e"), col("sig").as("sig_e"),
        col("band"), col("bkey"))
    val cand = bt.join(be, Seq("band", "bkey"))
      .where(call_function("graft_positional_eq_count",
        col("sig_t"), col("sig_e")) >= 26)
      .select(col("id_t"), col("id_e")).distinct()
    val st = sig.where(col("side") === "t")
      .select(col("doc_id").as("id_t"), col("hsh").as("sh_t"))
    val se = sig.where(col("side") === "e")
      .select(col("doc_id").as("id_e"), col("hsh").as("sh_e"))
    cand.join(st, "id_t").join(se, "id_e")
      .withColumn("n_common",
        call_function("graft_sorted_intersect_count",
          col("sh_t"), col("sh_e")))
      .withColumn("n_union",
        size(col("sh_t")).cast(LongType) + size(col("sh_e")) -
          col("n_common"))
      .withColumn("jaccard",
        when(col("n_union") > 0,
          col("n_common").cast(DoubleType) / col("n_union")))
      .where(col("jaccard") >= 0.8)
      .groupBy(col("id_t"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("id_e").as("id_e")))
        .as("w"))
      .select(col("id_t"), col("w.id_e").as("id_e"),
        (-col("w.nj")).as("jaccard"))
      .orderBy(col("id_t"))
  }

  val fuzzyDecontaminateSql: String =
    """WITH eval_docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
      |all_docs AS (
      |  SELECT doc_id, text, 'e' AS side FROM eval_docs
      |  UNION ALL
      |  SELECT doc_id, text, 't' FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' extra token', 't'
      |  FROM eval_docs),
      |sh AS (
      |  SELECT doc_id, side,
      |    list_distinct(list_transform(range(1, LENGTH(text) - 1),
      |                  i -> substr(text, CAST(i AS INT), 3))) AS shingles
      |  FROM all_docs),
      |hs AS (
      |  SELECT doc_id, side, list_distinct(list_transform(shingles, s ->
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(s) + 1),
      |      i -> CAST(unicode(substr(s, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007))) AS hsh
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, side, hsh, list_transform(range(0, 32), j ->
      |    list_min(list_transform(hsh, h ->
      |      (((2654435761 * (CAST(j AS BIGINT) + 1)) % 1000000007) * h
      |       + (CAST(j AS BIGINT) * 12345 + 678)) % 1000000007))) AS sig
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, side, sig,  b.band,
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      sig[CAST(8 * b.band + 1 AS INT):CAST(8 * b.band + 8 AS INT)],
      |      (acc, h) -> (acc * 31 + h) % 1000000007) AS bkey
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
      |pre AS (
      |  SELECT DISTINCT t.doc_id AS id_t, e.doc_id AS id_e
      |  FROM bands t JOIN bands e
      |    ON t.band = e.band AND t.bkey = e.bkey
      |   AND t.side = 't' AND e.side = 'e'
      |  WHERE list_sum(list_transform(range(1, 33), i ->
      |    CASE WHEN t.sig[CAST(i AS INT)] = e.sig[CAST(i AS INT)]
      |         THEN 1 ELSE 0 END)) >= 26),
      |ver AS (
      |  SELECT id_t, id_e,
      |    CAST(len(list_intersect(st.hsh, se.hsh)) AS DOUBLE)
      |      / len(list_distinct(st.hsh || se.hsh)) AS jaccard
      |  FROM pre
      |  JOIN hs st ON st.doc_id = id_t AND st.side = 't'
      |  JOIN hs se ON se.doc_id = id_e AND se.side = 'e'),
      |best AS (
      |  SELECT id_t, id_e, jaccard,
      |    ROW_NUMBER() OVER (PARTITION BY id_t
      |      ORDER BY jaccard DESC, id_e) AS rn
      |  FROM ver WHERE jaccard >= 0.8)
      |SELECT id_t, id_e, jaccard FROM best WHERE rn = 1
      |ORDER BY id_t""".stripMargin

  // ---------------------------------------------------------------- dd18
  /** dd18 — INCREMENTAL NEAR-dup: dd14's snapshot verdicts
    * (dup-of-history / dup-in-increment / kept) upgraded from exact
    * fingerprints to banded-MinHash near-duplicates — the matrix cell
    * the family still missed: dd14 is incremental×exact, dd16 is
    * cross-side×near-dup against a FIXED eval set; a daily crawl
    * append needs incremental×near-dup against the whole history.
    * Shape is dd16's: the increment side band-joins the history's
    * signatures (history never self-joins, never rescans raw text —
    * at production scale the history side is the persisted signature
    * STORE, dd14's argument), plus one in-increment banded pass where
    * only the EARLIER doc can be the keeper. History matches take
    * verdict priority (dd14's convention). The fixture plants edited
    * history copies in the increment (text + ' extra token') so the
    * genuinely-fuzzy path is exercised, not just jaccard-1.0 twins. */
  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val hist = docs.where(col("doc_id") % 5 =!= 0)
    val incBase = docs.where(col("doc_id") % 5 === 0)
    val inc = incBase
      .unionByName(hist.where(col("doc_id") % 13 === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text")))
      // in-increment near-dups too, so all three verdicts are live:
      // an edited copy of an increment doc dups the EARLIER original
      // (unless its text also near-matches history — history wins)
      .unionByName(incBase.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text")))
    val all = hist.withColumn("side", lit("h"))
      .unionByName(inc.withColumn("side", lit("i")))
    val sig = withHashedShingles(all)
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))
      .select(col("doc_id"), col("side"), col("hsh"), col("sig"))
    val bands = withBandKeys(sig.select(col("doc_id"), col("sig")))
      .join(sig.select(col("doc_id"), col("side")), "doc_id")
    val bh = bands.where(col("side") === "h")
      .select(col("doc_id").as("id_h"), col("sig").as("sig_h"),
        col("band"), col("bkey"))
    val bi = bands.where(col("side") === "i")
      .select(col("doc_id").as("id_i"), col("sig").as("sig_i"),
        col("band"), col("bkey"))
    def verified(cand: DataFrame, lId: String, rId: String): DataFrame = {
      val sl = sig.select(col("doc_id").as(lId), col("hsh").as("sh_l"))
      val sr = sig.select(col("doc_id").as(rId), col("hsh").as("sh_r"))
      cand.join(sl.distinct(), lId).join(sr.distinct(), rId)
        .withColumn("n_common",
          call_function("graft_sorted_intersect_count",
            col("sh_l"), col("sh_r")))
        .withColumn("n_union",
          size(col("sh_l")).cast(LongType) + size(col("sh_r")) -
            col("n_common"))
        .withColumn("jaccard",
          when(col("n_union") > 0,
            col("n_common").cast(DoubleType) / col("n_union")))
        .where(col("jaccard") >= 0.8)
        .select(col(lId), col(rId), col("jaccard"))
    }
    val candH = bh.join(bi, Seq("band", "bkey"))
      .where(call_function("graft_positional_eq_count",
        col("sig_h"), col("sig_i")) >= 26)
      .select(col("id_h"), col("id_i")).distinct()
    val bestH = verified(candH, "id_h", "id_i")
      .groupBy(col("id_i"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("id_h").as("m")))
        .as("w"))
      .select(col("id_i"), col("w.m").as("h_match"),
        (-col("w.nj")).as("h_jaccard"))
    val ba = bi.select(col("id_i").as("id_a"), col("sig_i").as("sig_a"),
      col("band"), col("bkey"))
    val candI = ba.join(bi, Seq("band", "bkey"))
      .where(col("id_a") < col("id_i") &&
        call_function("graft_positional_eq_count",
          col("sig_a"), col("sig_i")) >= 26)
      .select(col("id_a"), col("id_i")).distinct()
    val bestI = verified(candI, "id_a", "id_i")
      .groupBy(col("id_i"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("id_a").as("m")))
        .as("w"))
      .select(col("id_i"), col("w.m").as("i_match"),
        (-col("w.nj")).as("i_jaccard"))
    inc.select(col("doc_id").as("id_i"))
      .join(bestH, Seq("id_i"), "left")
      .join(bestI, Seq("id_i"), "left")
      .select(col("id_i"),
        when(col("h_match").isNotNull, "dup_of_history")
          .when(col("i_match").isNotNull, "dup_in_increment")
          .otherwise("kept").as("verdict"),
        coalesce(col("h_match"), col("i_match"), lit(-1L))
          .as("match_id"),
        coalesce(col("h_jaccard"), col("i_jaccard")).as("jaccard"))
      .orderBy(col("id_i"))
  }

  val incrementalNearDupSql: String =
    """WITH hist_docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |inc_docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 5000000, text || ' extra token'
      |  FROM hist_docs WHERE doc_id % 13 = 1
      |  UNION ALL
      |  SELECT doc_id + 6000000, text || ' extra token'
      |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 = 0),
      |all_docs AS (
      |  SELECT doc_id, text, 'h' AS side FROM hist_docs
      |  UNION ALL
      |  SELECT doc_id, text, 'i' FROM inc_docs),
      |sh AS (
      |  SELECT doc_id, side,
      |    list_distinct(list_transform(range(1, LENGTH(text) - 1),
      |                  i -> substr(text, CAST(i AS INT), 3))) AS shingles
      |  FROM all_docs),
      |hs AS (
      |  SELECT doc_id, side, list_distinct(list_transform(shingles, s ->
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(s) + 1),
      |      i -> CAST(unicode(substr(s, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007))) AS hsh
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, side, hsh, list_transform(range(0, 32), j ->
      |    list_min(list_transform(hsh, h ->
      |      (((2654435761 * (CAST(j AS BIGINT) + 1)) % 1000000007) * h
      |       + (CAST(j AS BIGINT) * 12345 + 678)) % 1000000007))) AS sig
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, side, sig,  b.band,
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      sig[CAST(8 * b.band + 1 AS INT):CAST(8 * b.band + 8 AS INT)],
      |      (acc, h) -> (acc * 31 + h) % 1000000007) AS bkey
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
      |pre_h AS (
      |  SELECT DISTINCT h.doc_id AS id_h, i.doc_id AS id_i
      |  FROM bands h JOIN bands i
      |    ON h.band = i.band AND h.bkey = i.bkey
      |   AND h.side = 'h' AND i.side = 'i'
      |  WHERE list_sum(list_transform(range(1, 33), x ->
      |    CASE WHEN h.sig[CAST(x AS INT)] = i.sig[CAST(x AS INT)]
      |         THEN 1 ELSE 0 END)) >= 26),
      |ver_h AS (
      |  SELECT id_h, id_i,
      |    CAST(len(list_intersect(sl.hsh, sr.hsh)) AS DOUBLE)
      |      / len(list_distinct(sl.hsh || sr.hsh)) AS jaccard
      |  FROM pre_h
      |  JOIN hs sl ON sl.doc_id = id_h AND sl.side = 'h'
      |  JOIN hs sr ON sr.doc_id = id_i AND sr.side = 'i'),
      |best_h AS (
      |  SELECT id_i, id_h AS h_match, jaccard AS h_jaccard FROM (
      |    SELECT id_i, id_h, jaccard, ROW_NUMBER() OVER (
      |      PARTITION BY id_i ORDER BY jaccard DESC, id_h) AS rn
      |    FROM ver_h WHERE jaccard >= 0.8) t WHERE rn = 1),
      |pre_i AS (
      |  SELECT DISTINCT a.doc_id AS id_a, i.doc_id AS id_i
      |  FROM bands a JOIN bands i
      |    ON a.band = i.band AND a.bkey = i.bkey
      |   AND a.side = 'i' AND i.side = 'i' AND a.doc_id < i.doc_id
      |  WHERE list_sum(list_transform(range(1, 33), x ->
      |    CASE WHEN a.sig[CAST(x AS INT)] = i.sig[CAST(x AS INT)]
      |         THEN 1 ELSE 0 END)) >= 26),
      |ver_i AS (
      |  SELECT id_a, id_i,
      |    CAST(len(list_intersect(sl.hsh, sr.hsh)) AS DOUBLE)
      |      / len(list_distinct(sl.hsh || sr.hsh)) AS jaccard
      |  FROM pre_i
      |  JOIN hs sl ON sl.doc_id = id_a AND sl.side = 'i'
      |  JOIN hs sr ON sr.doc_id = id_i AND sr.side = 'i'),
      |best_i AS (
      |  SELECT id_i, id_a AS i_match, jaccard AS i_jaccard FROM (
      |    SELECT id_i, id_a, jaccard, ROW_NUMBER() OVER (
      |      PARTITION BY id_i ORDER BY jaccard DESC, id_a) AS rn
      |    FROM ver_i WHERE jaccard >= 0.8) t WHERE rn = 1)
      |SELECT d.doc_id AS id_i,
      |  CASE WHEN h.h_match IS NOT NULL THEN 'dup_of_history'
      |       WHEN i.i_match IS NOT NULL THEN 'dup_in_increment'
      |       ELSE 'kept' END AS verdict,
      |  COALESCE(h.h_match, i.i_match, -1) AS match_id,
      |  COALESCE(h.h_jaccard, i.i_jaccard) AS jaccard
      |FROM inc_docs d
      |LEFT JOIN best_h h ON h.id_i = d.doc_id
      |LEFT JOIN best_i i ON i.id_i = d.doc_id
      |ORDER BY id_i""".stripMargin

  // ----------------------------------------------------------- registry
  // ----------------------------------------------------------- dd19/dd20
  /** Band buckets larger than this are QUARANTINED from the pairwise
    * candidate join. The skew this guards against is structural, not a
    * partitioning accident: a mega-bucket (boilerplate template, empty
    * docs, any heavily-replicated content) produces c·(c−1)/2 pairs
    * from c rows — quadratic OUTPUT from sub-threshold INPUT bytes, so
    * AQE's skew-join split (which triggers on shuffle-partition SIZE)
    * never fires, and one task grinds millions of verifications. The
    * real corpus has exactly this shape: the sf0.1 documents table's
    * largest band bucket holds 1,291 docs — 833k candidate pairs from
    * ONE bucket, growing ~quadratically with corpus scale (132 docs /
    * 8.6k pairs at sf0.01). */
  val LshBucketCap = 64

  /** Default sorted-neighborhood chain window for over-cap buckets:
    * each member links to its previous w sort-neighbors in EACH of the
    * two sort passes (forward / reversed signature). Measured on
    * SkewBench's 493k-doc corpus (BASELINE.md round 12): the round-11
    * single-pass w=1 design lost 14 of 184,918 clustered docs and
    * widening w alone never closed it (8 lost even at w=8 — the
    * missed pairs interleave too deep in one ordering); two passes at
    * w=3 recover ALL of them (0 lost, cost flat at ~3× over
    * all-pairs). Session override: `spark.graft.lshChainWindow`. */
  val LshChainWindow = 3

  /** Band rows tagged with their bucket's population — one extra count
    * aggregate on the band key, the same shuffle the candidate join
    * pays anyway. */
  private def bandsWithCounts(sig: DataFrame): DataFrame = {
    val bands = withBandKeys(sig)
    val counts = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsize"))
    bands.join(counts, Seq("band", "bkey"))
  }

  /** dd19's candidate stage: buckets ≤ cap go through the standard
    * pairwise join; buckets > cap emit SORTED-NEIGHBOR CHAIN edges —
    * members ordered by (signature, doc_id) within the bucket, each
    * linked to its predecessor: O(c) edges instead of O(c²), and
    * near-identical members sort adjacent, so a true duplicate run
    * stays one connected component (for an all-identical boilerplate
    * bucket the chain IS the clique's spanning path). The same
    * ≥26-equal-slots prefilter applies on both routes, so the capped
    * edge set is a strict SUBSET of the all-pairs edge set — capping
    * can only SPLIT components, never merge or invent them; what can
    * be lost is pair recall between non-adjacent near-dups inside a
    * MIXED mega-bucket, which dd20 sizes and SkewBench measures.
    *
    * RECALL KNOB (round-11 verdict item 7): the chain links each
    * member to its previous `window` sort-neighbors (i-1 .. i-w), not
    * just i-1 — O(w·c) edges, still never O(c²). At w=1 SkewBench's
    * 493k-doc corpus lost 14 of 184,918 clustered docs (pairs whose
    * only collision bucket is over-cap and which interleave with
    * foreign members in sort order); the `skew_lsh` family measures
    * the loss-vs-cost curve per w and BASELINE.md records it. Default
    * [[LshChainWindow]] = 3 (zero docs lost at both SkewBench
    * scales), overridable per session via `spark.graft.lshChainWindow`
    * — a SWEEP knob: the dd19 oracle SQL stacks the DEFAULT's w lags,
    * so an overridden session diverges from the registry gate by
    * construction. All lags share one window spec → one per-bucket
    * sort regardless of w. */
  private[graft] def cappedCandidatesOn(sig: DataFrame, cap: Int,
      window: Int = -1): DataFrame = {
    val win =
      if (window > 0) window
      else sig.sparkSession.conf
        .get("spark.graft.lshChainWindow", LshChainWindow.toString).toInt
    val tagged = bandsWithCounts(sig)
    val small = tagged.where(col("bsize") <= cap)
    val sa = small.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
      col("band"), col("bkey"))
    val sb = small.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
      col("band"), col("bkey"))
    val smallPairs = sa.join(sb, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b") &&
        call_function("graft_positional_eq_count",
          col("sig_a"), col("sig_b")) >= 26)
      .select(col("id_a"), col("id_b"))
    // per-bucket window: one task sorts c rows — linear-ish where the
    // pairwise route would hand that task c²/2 verifications; the w
    // lag pairs of one pass all ride the SAME sort. TWO sort passes
    // (multi-pass sorted neighborhood): forward signature order and
    // REVERSED-signature order — a mixed bucket arranges its members
    // differently under the two projections, so a true pair whose
    // members interleave with foreign docs in one order is usually
    // adjacent in the other (measured: forward-only lost 14 clustered
    // docs at 493k however large w got — 8 even at w=8 — while two
    // passes at w=3 recover every one, BASELINE.md round 12).
    // Still O(w·c) edges and two O(c log c) bucket sorts, never c².
    val chainPasses = Seq(col("sig"), reverse(col("sig"))).map { ord =>
      val w = Window.partitionBy(col("band"), col("bkey"))
        .orderBy(ord, col("doc_id"))
      val lagged = tagged.where(col("bsize") > cap)
        .select(col("doc_id") +: col("sig") +: (1 to win).flatMap(k => Seq(
          lag(col("doc_id"), k).over(w).as(s"pid_$k"),
          lag(col("sig"), k).over(w).as(s"psig_$k"))): _*)
      lagged
        .select(col("doc_id"), col("sig"),
          explode(array((1 to win).map(k =>
            struct(col(s"pid_$k").as("pid"),
              col(s"psig_$k").as("psig"))): _*)).as("p"))
        .where(col("p.pid").isNotNull &&
          call_function("graft_positional_eq_count",
            col("sig"), col("p.psig")) >= 26)
        .select(least(col("p.pid"), col("doc_id")).as("id_a"),
          greatest(col("p.pid"), col("doc_id")).as("id_b"))
    }
    (smallPairs +: chainPasses).reduce(_.unionByName(_)).distinct()
  }

  /** dd19 — duplicate clusters via the CAPPED candidate route: dd07's
    * output shape (cluster_id = min doc_id, n_docs, max_id) computed
    * from quarantine-capped candidates + exact verify + the one CC
    * engine. On a clean corpus the answer matches dd07 (mega-buckets
    * there are degenerate-shingle collisions whose pairs fail the
    * Jaccard gate either way); the cost difference is the point — the
    * capped route never materializes a mega-bucket's quadratic pair
    * set. SkewBench's `skew_lsh` scenario measures both routes on a
    * corpus with a genuine boilerplate cluster and asserts cluster
    * equality there too. */
  def cappedClusters(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSigCached(s, d)
    val pairs = attachVerify(sig, cappedCandidatesOn(sig, LshBucketCap))
      .select(col("id_a"), col("id_b"))
    connectedComponentsStar(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
      .orderBy(col("cluster_id"))
  }

  val cappedClustersSql: String =
    docsAugCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      verifiedPairsCtes + "," +
      s"""bcnt AS (
         |  SELECT band, bkey, COUNT(*) AS bsize
         |  FROM bands GROUP BY band, bkey),
         |smallp AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM bands a
         |  JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
         |    AND a.doc_id < c.doc_id
         |  JOIN bcnt n ON n.band = a.band AND n.bkey = a.bkey
         |  WHERE n.bsize <= ${LshBucketCap}
         |    AND list_sum(list_transform(range(1, 33), i ->
         |      CASE WHEN a.sig[CAST(i AS INT)] = c.sig[CAST(i AS INT)]
         |           THEN 1 ELSE 0 END)) >= 26),
         |${Seq("b.sig" -> "fwd", "list_reverse(b.sig)" -> "rev").map {
             case (ord, tag) =>
               s"""chains_$tag AS (
                  |  SELECT b.doc_id, b.sig,
                  |${(1 to LshChainWindow).map(k =>
                      s"    LAG(b.doc_id, $k) OVER w_$tag AS prev_id_$k,\n" +
                      s"    LAG(b.sig, $k) OVER w_$tag AS prev_sig_$k")
                      .mkString(",\n")}
                  |  FROM bands b
                  |  JOIN bcnt n ON n.band = b.band AND n.bkey = b.bkey
                  |  WHERE n.bsize > ${LshBucketCap}
                  |  WINDOW w_$tag AS (PARTITION BY b.band, b.bkey
                  |    ORDER BY $ord, b.doc_id))""".stripMargin
           }.mkString(",\n")},
         |chainl AS (
         |${(for (tag <- Seq("fwd", "rev"); k <- 1 to LshChainWindow) yield
             s"  SELECT doc_id, sig, prev_id_$k AS prev_id, " +
             s"prev_sig_$k AS prev_sig FROM chains_$tag")
             .mkString("\n  UNION ALL\n")}),
         |chainp AS (
         |  SELECT DISTINCT LEAST(prev_id, doc_id) AS id_a,
         |    GREATEST(prev_id, doc_id) AS id_b
         |  FROM chainl
         |  WHERE prev_id IS NOT NULL
         |    AND list_sum(list_transform(range(1, 33), i ->
         |      CASE WHEN sig[CAST(i AS INT)] = prev_sig[CAST(i AS INT)]
         |           THEN 1 ELSE 0 END)) >= 26),
         |candc AS (SELECT * FROM smallp UNION SELECT * FROM chainp),
         |verc AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
         |      / len(list_distinct(sa.hsh || sb.hsh)) AS jaccard
         |  FROM candc JOIN hs sa ON sa.doc_id = id_a
         |  JOIN hs sb ON sb.doc_id = id_b),
         |cpairs AS (SELECT id_a, id_b FROM verc WHERE jaccard >= 0.8),
         |cedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cpairs
         |  UNION ALL SELECT id_b, id_a FROM cpairs),
         |cwalk(id, label) AS (
         |  SELECT src, src FROM cedges
         |  UNION
         |  SELECT e.dst, w.label FROM cwalk w JOIN cedges e ON e.src = w.id),
         |ccomp AS (SELECT id, MIN(label) AS cluster_id FROM cwalk GROUP BY id)
         |SELECT cluster_id, COUNT(*) AS n_docs, MAX(id) AS max_id
         |FROM ccomp GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin

  /** dd20 — the QUARANTINE AUDIT dd19's trade rests on: per band, the
    * bucket population profile and exactly what the cap did — how many
    * buckets/docs were quarantined, how many pairwise candidates the
    * cap AVOIDED (Σ c·(c−1)/2 over big buckets — the quadratic work
    * that would have landed on single tasks) and how many chain edges
    * replaced them (Σ 2·(w·c − w(w+1)/2) at chain window w =
    * [[LshChainWindow]] — the linear substitute, counted as the two
    * sort passes EMIT them; an all-identical bucket's two passes
    * produce the same edges and dedup to half). The monitoring
    * twin of dd17's cohesion audit: dd17 watches false MERGES,
    * dd20 watches what capping might MISS and what it saved. */
  def lshBucketAudit(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSigCached(s, d)
    // the audit's edge arithmetic must describe what cappedCandidatesOn
    // would actually emit in THIS session, so it resolves the same
    // conf override (the registry oracle bakes the default in, like
    // dd19's — an overridden session is a sweep, not a gate)
    val w = s.conf
      .get("spark.graft.lshChainWindow", LshChainWindow.toString).toInt
    val counts = withBandKeys(sig).groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsize"))
    val big = col("bsize") > LshBucketCap
    counts.groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bsize")).as("max_bucket"),
        sum(when(big, 1L).otherwise(0L)).as("n_big"),
        sum(when(big, col("bsize")).otherwise(0L)).as("docs_quarantined"),
        sum(when(big, expr("bsize * (bsize - 1) div 2"))
          .otherwise(0L)).as("pairs_avoided"),
        sum(when(big, (col("bsize") * w - w * (w + 1) / 2) * 2)
          .otherwise(0L)).as("chain_edges"))
      .orderBy(col("band"))
  }

  val lshBucketAuditSql: String = docsAugCte + "," + verifiedPairsCtes + "," +
    s"""bsz AS (
       |  SELECT band, bkey, COUNT(*) AS bsize
       |  FROM bands GROUP BY band, bkey)
       |SELECT CAST(band AS BIGINT) AS band, COUNT(*) AS n_buckets,
       |  MAX(bsize) AS max_bucket,
       |  CAST(SUM(CASE WHEN bsize > ${LshBucketCap} THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_big,
       |  CAST(SUM(CASE WHEN bsize > ${LshBucketCap} THEN bsize ELSE 0 END)
       |    AS BIGINT) AS docs_quarantined,
       |  CAST(SUM(CASE WHEN bsize > ${LshBucketCap}
       |      THEN bsize * (bsize - 1) // 2 ELSE 0 END) AS BIGINT)
       |    AS pairs_avoided,
       |  CAST(SUM(CASE WHEN bsize > ${LshBucketCap}
       |      THEN (bsize * ${LshChainWindow}
       |        - ${LshChainWindow * (LshChainWindow + 1) / 2}) * 2
       |      ELSE 0 END) AS BIGINT) AS chain_edges
       |FROM bsz GROUP BY band
       |ORDER BY band""".stripMargin

  // ---------------------------------------------------------------- dd21
  /** dd21 — CROSS-DOCUMENT repeated-substring detection by WINNOWED
    * fingerprints: the span-level dedup signal of Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better"
    * (ExactSubstr), re-expressed Spark-first. Doc-level Jaccard
    * (dd03/dd05) misses a paragraph copied into an otherwise-unique
    * page, and txt11's repetition ratio is WITHIN-doc only — this is
    * the operator that finds the copied paragraph ACROSS docs.
    *
    * Method (Schleimer et al. winnowing, word granularity): hash each
    * word (31-polyhash mod 1000003 — engine-identical explicit
    * arithmetic, never Spark `hash()`); slide a K=5-word gram hash;
    * take the min gram hash over every W=4 consecutive grams. The
    * winnowing guarantee: any shared word run of ≥ K+W−1 = 8 words
    * yields a shared fingerprint REGARDLESS of its offset in either
    * doc (a strided sampler has no such guarantee), at ~2/(W+1)
    * selection density. Docs shorter than 8 words contribute no
    * fingerprints, by convention. Output per doc: fingerprint count
    * and how many of them appear in ≥2 distinct docs.
    *
    * Scale shape: ROWS + window functions, not per-doc arrays — words
    * posexplode to (doc_id, pos, word_hash) rows, the gram hash is
    * `lead(wh, 1..4)` arithmetic and the fingerprint a 4-row frame
    * minimum over one doc-keyed sort (both windows share the
    * partitioning, so it is ONE shuffle); then one fp-keyed count,
    * one fp-keyed join back, one doc-keyed aggregate — all uniform
    * hash keys, nothing quadratic, fingerprint volume a fixed
    * ~2/(W+1) fraction of word count. The row form matters twice at
    * scale: a multi-MB doc streams through window execs instead of
    * materializing per-doc arrays, and chained array HOFs would
    * collapse into one Project whose later stages re-inline the
    * earlier lambdas multiplicatively (the first draft of this
    * operator did exactly that — ~25-125 re-evaluations of the
    * word-hash pass per row, measured minutes-not-seconds at
    * sf0.01). Hash collisions can only MERGE fingerprints the same
    * way in both engines, so the gate is collision-robust. */
  def winnowSubstrings(s: SparkSession, d: String): DataFrame = {
    val P = 1000003L
    val base = docsAug(s, d)
    val words = base
      .select(col("doc_id"), posexplode(expr(
        "filter(split(text, ' '), w -> length(w) > 0)")).as(Seq("pos", "w")))
      .withColumn("wh", expr(
        s"""aggregate(sequence(1, length(w)), CAST(0 AS BIGINT),
           |  (acc, i) -> (acc * 31 + ascii(substr(w, i, 1))) % $P)"""
          .stripMargin))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // gram hash over (wh_i .. wh_{i+4}): null past the end via lead's
    // default (null poisons the sum), which drops the <5-word tail
    val g = words
      .withColumn("g",
        (col("wh") * 923521L + lag(col("wh"), -1).over(byPos) * 29791L +
          lag(col("wh"), -2).over(byPos) * 961L +
          lag(col("wh"), -3).over(byPos) * 31L +
          lag(col("wh"), -4).over(byPos)) % P)
      .where(col("g").isNotNull)
    // winnow: min gram hash over each 4-gram window; Spark's least()
    // SKIPS nulls, so the 4th-gram existence is checked explicitly
    val f = g
      .withColumn("g1", lag(col("g"), -1).over(byPos))
      .withColumn("g2", lag(col("g"), -2).over(byPos))
      .withColumn("g3", lag(col("g"), -3).over(byPos))
      .where(col("g3").isNotNull)
      .select(col("doc_id"),
        least(col("g"), col("g1"), col("g2"), col("g3")).as("fp"))
      .distinct()
    val shared = f.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs")) // fps are per-doc distinct
    val perDoc = f.join(shared, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val winnowSubstringsSql: String = docsAugCte + s""",
    |ww1 AS (
    |  SELECT doc_id,
    |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
    |  FROM docs_aug),
    |ww2 AS (
    |  SELECT doc_id, list_transform(ws, w ->
    |    list_reduce(
    |      list_prepend(CAST(0 AS BIGINT),
    |        list_transform(range(1, length(w) + 1), i ->
    |          CAST(unicode(substr(w, CAST(i AS INT), 1)) AS BIGINT))),
    |      (acc, c) -> (acc * 31 + c) % 1000003)) AS whs
    |  FROM ww1),
    |wg AS (
    |  SELECT doc_id,
    |    CASE WHEN len(whs) < 5 THEN list_slice(whs, 1, 0)
    |    ELSE list_transform(range(1, len(whs) - 3), i ->
    |      (whs[i] * 923521 + whs[i + 1] * 29791 + whs[i + 2] * 961 +
    |       whs[i + 3] * 31 + whs[i + 4]) % 1000003) END AS gs
    |  FROM ww2),
    |wf AS (
    |  SELECT doc_id,
    |    CASE WHEN len(gs) < 4 THEN list_slice(gs, 1, 0)
    |    ELSE list_distinct(list_transform(range(1, len(gs) - 2), i ->
    |      least(gs[i], gs[i + 1], gs[i + 2], gs[i + 3]))) END AS fps
    |  FROM wg),
    |we AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
    |wsh AS (SELECT fp, COUNT(*) AS n_docs FROM we GROUP BY fp),
    |wpd AS (
    |  SELECT we.doc_id, COUNT(*) AS n_fp,
    |    SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
    |  FROM we JOIN wsh s USING (fp) GROUP BY we.doc_id)
    |SELECT d.doc_id,
    |  CAST(COALESCE(p.n_fp, 0) AS BIGINT) AS n_fp,
    |  CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared
    |FROM docs_aug d LEFT JOIN wpd p USING (doc_id)
    |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- dd22
  /** dd22 — KEEPER ELECTION: for every near-dup cluster, elect the ONE
    * canonical document by quality score and mark the rest `drop` —
    * the step between clustering (dd07/dd09) and the published corpus
    * that every production dedup pipeline runs ("keep the
    * highest-quality representative", Penedo et al. RefinedWeb §3.3;
    * naive keep-min-id keeps whatever crawled first). Quality is
    * txt16's deterministic fixed-weight linear score (no
    * transcendentals — identical double chain in both engines);
    * singletons elect themselves.
    *
    * Scale shape: rides the shared verified-pair seam and the ONE CC
    * engine (labels are one row per non-singleton doc); scoring is a
    * narrow codegen'd projection on the doc scan; the election is ONE
    * cluster-keyed lexicographic-min(struct) aggregate (score DESC,
    * doc_id ASC tiebreak — the assignCells trick) and the verdict one
    * cluster-keyed join back; nothing pairwise, nothing corpus-sorted.
    * The oracle spells the independent window-ranked election over the
    * recursive-CTE components. */
  def keeperElection(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val stopHits =
      size(expr("filter(split(text, ' '), t -> t IN ('the','a','of'))"))
    // score pass ∥ label chain (guide §2.6, the curationSelected
    // pattern): the per-doc quality score shares nothing with the pair
    // seam + star-contraction rounds until the join — build it on a
    // second thread while those sequential actions run. Same rows; the
    // checkpoint is (doc_id, score) only.
    val scoredF = graft.Par.async {
      docsAug(s, d)
        .select(col("doc_id"), size(toks).as("n_tokens"),
          (size(array_distinct(toks)).cast(LongType).cast(DoubleType)
            / size(toks)).as("uniq"),
          (stopHits.cast(DoubleType) / size(toks)).as("stopr"))
        .select(col("doc_id"),
          (col("uniq") * 2.0 + col("stopr") * 4.0 +
            when(col("n_tokens") >= graft.text.TextAnalysis.MinTokens, 0.5)
              .otherwise(-1.0) - 1.5).as("score"))
        .localCheckpoint()
    }
    val labels = connectedComponentsStar(
      ngramPairs(s, d).select(col("id_a").as("src"), col("id_b").as("dst")))
    val clustered = graft.Par.await(scoredF)
      .join(labels.select(col("id").as("doc_id"),
        col("label").as("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    val keepers = clustered.groupBy(col("cluster_id"))
      .agg(min(struct((-col("score")).as("ns"), col("doc_id").as("id")))
        .as("w"))
      .select(col("cluster_id"), col("w").getField("id").as("keeper_id"))
    clustered.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        col("keeper_id"),
        when(col("doc_id") === col("keeper_id"), "keep")
          .otherwise("drop").as("action"))
      .orderBy(col("doc_id"))
  }

  val keeperElectionSql: String =
    docsAugCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      verifiedPairsCtes + "," +
      """pairs AS (
        |  SELECT id_a, id_b FROM ver WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
        |comp AS (SELECT id, MIN(label) AS lbl FROM walk GROUP BY id),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) * 2.0 +
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) * 4.0 +
        |    (CASE WHEN len(string_split(text, ' ')) >= MIN_TOKENS
        |      THEN 0.5 ELSE -1.0 END) - 1.5 AS score
        |  FROM docs_aug),
        |cl AS (
        |  SELECT sc.doc_id, sc.score,
        |    COALESCE(c.lbl, sc.doc_id) AS cluster_id
        |  FROM sc LEFT JOIN comp c ON c.id = sc.doc_id),
        |k AS (
        |  SELECT cluster_id, doc_id AS keeper_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, doc_id) AS rn
        |    FROM cl) t WHERE rn = 1)
        |SELECT cl.doc_id, cl.cluster_id, cl.score, k.keeper_id,
        |  CASE WHEN cl.doc_id = k.keeper_id THEN 'keep' ELSE 'drop' END
        |    AS action
        |FROM cl JOIN k USING (cluster_id)
        |ORDER BY cl.doc_id""".stripMargin
      .replace("MIN_TOKENS", graft.text.TextAnalysis.MinTokens.toString)

  // ---------------------------------------------------------------- dd23
  /** dd23 — LEAKAGE-PROOF SPLIT ASSIGNMENT: train/val/test membership
    * decided per near-dup CLUSTER, not per document — every member of
    * a cluster inherits the split of its cluster id, so a near-dup of
    * a training document can NEVER land in val/test (the
    * train-test-contamination failure mode that doc-keyed hash splits
    * like txt09 cannot prevent and txt24 can only AUDIT; cluster-level
    * splitting is the published fix — e.g. Penedo et al. RefinedWeb
    * §3.3's dedup-before-split discipline). The split hash is op12's
    * engine-neutral multiplicative mix of the CLUSTER id (80/10/10),
    * so membership is reproducible bit-for-bit, append-stable, and
    * independent of partitioning.
    *
    * Scale shape: rides the shared verified-pair seam and the ONE CC
    * engine exactly like dd22 (labels = one row per non-singleton
    * doc, O(log n) star-contraction rounds); the assignment itself is
    * one cluster-label left join + a narrow codegen'd hash projection —
    * no new shuffles beyond the label attach. The zero-leakage
    * property is BY CONSTRUCTION (same cluster ⇒ same hash input ⇒
    * same split); ClusterSplitSpec additionally re-verifies it
    * against the verified-pair set. Oracle = the independent
    * recursive-CTE components + the same hash arithmetic. */
  def clusterSplit(s: SparkSession, d: String): DataFrame = {
    val M = 1000003L
    val mulRed = 2654435761L % M
    val labels = connectedComponentsStar(
      ngramPairs(s, d).select(col("id_a").as("src"), col("id_b").as("dst")))
    docsAug(s, d).select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("label").as("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("h", expr(
        s"(cluster_id % $M * $mulRed + 99991) % $M % 100"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val clusterSplitSql: String =
    docsAugCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      verifiedPairsCtes + "," +
      """cspairs AS (
        |  SELECT id_a, id_b FROM ver WHERE jaccard >= 0.8),
        |csedges AS (
        |  SELECT id_a AS src, id_b AS dst FROM cspairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM cspairs),
        |cswalk(id, label) AS (
        |  SELECT src, src FROM csedges
        |  UNION
        |  SELECT e.dst, w.label FROM cswalk w JOIN csedges e
        |    ON e.src = w.id),
        |cscomp AS (SELECT id, MIN(label) AS lbl FROM cswalk GROUP BY id),
        |csasg AS (
        |  SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS cluster_id
        |  FROM docs_aug d LEFT JOIN cscomp c ON c.id = d.doc_id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN (cluster_id % 1000003 * (2654435761 % 1000003)
        |      + 99991) % 1000003 % 100 < 80 THEN 'train'
        |    WHEN (cluster_id % 1000003 * (2654435761 % 1000003)
        |      + 99991) % 1000003 % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM csasg
        |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- dd24
  /** dd24 — the CURATION PIPELINE composed END-TO-END as one query:
    * dedup keeper election (dd22) → leakage-proof cluster split (dd23)
    * → quality gate (txt03's documented thresholds over the dd22
    * score's components) → repetition gate (txt37's Gopher ppm rules,
    * run over the SAME augmented corpus) → per-language training
    * budget (op12's engine-neutral stratified hash thinning, applied
    * to the train split only — eval sets are never thinned) → seeded
    * shard assignment (op16's permutation key) → the per-(split,
    * shard) emission MANIFEST: doc count, token mass, and an id
    * checksum that pins exact membership. The pieces are all
    * individually gated; THIS entry pins that their seams actually
    * compose (shared verified-pair seam + ONE CC engine + one doc
    * scan feeding score, gates, and hashes) — what a real pipeline
    * ships is the composition, not the parts.
    *
    * Scale shape: nothing new — the pair seam and star-contraction CC
    * are the dd22/dd23 precomputes; the score/gates are narrow
    * codegen'd projections plus txt37's ONE doc-keyed sort; budget
    * rates are a |langs|-row broadcast; every hash is the op12/op16
    * prime-field mix (reduced-mod before multiply — overflow-safe at
    * any doc_id); the manifest is one (split, shard)-keyed aggregate
    * of ≤ 3·[[graft.operators.Sampling.ShardN]] groups. */
  def curationManifest(s: SparkSession, d: String): DataFrame =
    manifestFrom(curationSelected(s, d)).orderBy(col("split"), col("shard"))

  /** The (split, shard) manifest aggregate over a selected-corpus
    * frame: doc count, token mass, and the prime-field id checksum
    * that pins exact membership. Shared by dd24's batch manifest and
    * all three of dd25's manifests (yesterday's, today's, and the
    * from-written-files recompute in the specs). */
  private[graft] def manifestFrom(sel: DataFrame): DataFrame = {
    val M = 1000003L
    val mulRed = 2654435761L % M
    sel.groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("n_tokens"),
        sum((col("doc_id") % M * mulRed + 99991L) % M).cast(LongType)
          .as("id_checksum"))
  }

  /** dd24's selected corpus BEFORE the manifest aggregate — one row
    * per surviving (keeper, gated, budgeted) document with its split
    * and shard. The writer path emits THIS frame
    * (`write.partitionBy("split", "shard")`); CurationEmitSpec pins
    * that a manifest recomputed from the written files equals the
    * gated manifest — the manifest describes the bytes shipped. */
  private[graft] def curationSelected(s: SparkSession, d: String)
      : DataFrame = {
    // The attrs pass (doc scan + token stats + txt37's 5-gram
    // repetition sort) shares nothing with the label chain (pair seam
    // build + star-contraction rounds) until the join — build it on a
    // second thread while the label chain's ~10 sequential round
    // actions run (guide §2.6). Same rows either way; the checkpoint
    // is narrow metadata (no text columns).
    val baseF = graft.Par.async {
      curationAttrsOn(docsAug(s, d)).localCheckpoint()
    }
    val labels = connectedComponentsStar(
      ngramPairs(s, d).select(col("id_a").as("src"), col("id_b").as("dst")))
    val clustered = graft.Par.await(baseF)
      .join(labels.select(col("id").as("doc_id"), col("label").as("lbl")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
    curationSelectFrom(electKeepers(clustered))
  }

  /** Shared dd24/dd25 per-doc curation attributes: token stats, the
    * quality score, and txt37's repetition verdict (docs too short to
    * carry a 5-gram have no verdict row — pass them, txt37's own
    * convention, hence the coalesce). One doc scan feeds score, gates,
    * and hashes; extracting it keeps the batch (dd24) and incremental
    * (dd25) pipelines formula-identical BY CONSTRUCTION, which is what
    * dd25's full-recompute oracle equality rests on. */
  private[graft] def curationAttrsOn(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val stopHits =
      size(expr("filter(split(text, ' '), t -> t IN ('the','a','of'))"))
    val base = docs
      .select(col("doc_id"), col("lang"), size(toks).as("n_tokens"),
        (size(array_distinct(toks)).cast(LongType).cast(DoubleType)
          / size(toks)).as("uniq"),
        (stopHits.cast(DoubleType) / size(toks)).as("stopr"))
      .withColumn("score",
        col("uniq") * 2.0 + col("stopr") * 4.0 +
          when(col("n_tokens") >= graft.text.TextAnalysis.MinTokens, 0.5)
            .otherwise(-1.0) - 1.5)
    val rep = graft.text.TextAnalysis.repetitionOn(docs)
      .select(col("doc_id"), col("verdict"))
    base.join(rep, Seq("doc_id"), "left")
      .withColumn("verdict", coalesce(col("verdict"), lit("ok")))
      .drop("stopr")
  }

  /** Keeper election over a clustered attrs frame (doc_id, lang,
    * n_tokens, uniq, score, verdict, cluster_id): max score, doc_id
    * tiebreak — ONE row per cluster. The (max over per-cluster maxima)
    * composition under this tiebreak is what lets dd25 elect over
    * {history cluster keepers} ∪ {increment docs} and still equal a
    * full-recompute election over all members. */
  private def electKeepers(clustered0: DataFrame): DataFrame = {
    // ONE materialization of the clustered-attrs frame: the election
    // references it twice (max-score aggregate + the member join
    // back), and the selection tail's `kept` references the election
    // twice more — so lazily the caller's attrs/merge subtree (doc
    // scan + token stats + the 5-gram repetition pass, or dd25's full
    // band-join/verify merge) re-ran up to 4× per gate run.
    // localCheckpoint computes it once; the frame is one metadata row
    // per doc — no text columns.
    val clustered = clustered0.localCheckpoint()
    val keepers = clustered.groupBy(col("cluster_id"))
      .agg(min(struct((-col("score")).as("ns"), col("doc_id").as("id")))
        .as("w"))
      .select(col("cluster_id"), col("w").getField("id").as("keeper_id"))
    clustered.join(keepers, Seq("cluster_id"))
      .where(col("doc_id") === col("keeper_id"))
      .select(col("cluster_id"), col("doc_id"), col("lang"),
        col("n_tokens"), col("uniq"), col("score"), col("verdict"))
  }

  /** The dd24 selection tail over elected keeper rows (cluster_id,
    * doc_id, lang, n_tokens, uniq, score, verdict): quality +
    * repetition gates → cluster-hash split → per-lang train budget →
    * seeded shard. Shared by dd24 (batch) and dd25 (yesterday's
    * emission from the store AND today's merged selection) so the
    * three can never drift. */
  private[graft] def curationSelectFrom(keepers: DataFrame): DataFrame = {
    val M = 1000003L
    val mulRed = 2654435761L % M
    // Gates apply to the ELECTED keeper only — a cluster whose
    // max-score member fails a gate drops entirely, with no fallback
    // election. Intended: near-dup members are ~identical text, so a
    // quality/repetition failure on the best-scoring member indicts
    // the whole cluster; electing a lower-scoring sibling would ship
    // a strictly worse copy of content the gate just rejected.
    val kept = keepers
      .where(col("n_tokens") >= graft.text.TextAnalysis.MinTokens &&
        col("uniq") >= graft.text.TextAnalysis.MinUniqueRatio)
      .where(col("verdict") === "ok")
      .withColumn("h_split", expr(
        s"(cluster_id % $M * $mulRed + 99991) % $M % 100"))
      .withColumn("split",
        when(col("h_split") < 80, "train").when(col("h_split") < 90, "val")
          .otherwise("test"))
    val rates = kept.where(col("split") === "train")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .select(col("lang"),
        least(lit(1.0), lit(graft.operators.Sampling.BudgetPerLang)
          / col("n").cast(DoubleType)).as("rate"))
    // Thinning draws with ThinSeed, NOT the split seed: on singleton
    // clusters cluster_id == doc_id, so reusing the split's additive
    // constant would make the thinned sample a deterministic function
    // of the split residue rather than an independent draw.
    val sampled = kept.join(broadcast(rates), Seq("lang"), "left")
      .where(col("split") =!= "train" ||
        (col("doc_id") % M * mulRed + graft.operators.Sampling.ThinSeed)
          % M <
          floor(coalesce(col("rate"), lit(1.0)) * M).cast(LongType))
    sampled
      .withColumn("shard", expr(s"(doc_id % $M * $mulRed + " +
        s"${graft.operators.Sampling.ShardSeed}) % $M % " +
        s"${graft.operators.Sampling.ShardN}"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("split"), col("shard"))
  }

  val curationManifestSql: String = {
    val budget = graft.operators.Sampling.BudgetPerLang
    val seed = graft.operators.Sampling.ShardSeed
    val thin = graft.operators.Sampling.ThinSeed
    val shards = graft.operators.Sampling.ShardN
    docsAugCte.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      verifiedPairsCtes + "," +
      graft.text.TextAnalysis.repetitionCtesFor("docs_aug", "cm") + "," +
      s"""cmpairs AS (
        |  SELECT id_a, id_b FROM ver WHERE jaccard >= 0.8),
        |cmedges AS (
        |  SELECT id_a AS src, id_b AS dst FROM cmpairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM cmpairs),
        |cmwalk(id, label) AS (
        |  SELECT src, src FROM cmedges
        |  UNION
        |  SELECT e.dst, w.label FROM cmwalk w JOIN cmedges e
        |    ON e.src = w.id),
        |cmcomp AS (SELECT id, MIN(label) AS lbl FROM cmwalk GROUP BY id),
        |cmbase AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS uniq,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stopr
        |  FROM docs_aug),
        |cmsc AS (
        |  SELECT doc_id, lang, n_tokens, uniq,
        |    uniq * 2.0 + stopr * 4.0 +
        |    (CASE WHEN n_tokens >= MIN_TOKENS THEN 0.5 ELSE -1.0 END)
        |      - 1.5 AS score
        |  FROM cmbase),
        |cmcl AS (
        |  SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.uniq, sc.score,
        |    COALESCE(c.lbl, sc.doc_id) AS cluster_id
        |  FROM cmsc sc LEFT JOIN cmcomp c ON c.id = sc.doc_id),
        |cmk AS (
        |  SELECT cluster_id, doc_id AS keeper_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, doc_id) AS rn
        |    FROM cmcl) t WHERE rn = 1),
        |cmkept AS (
        |  SELECT cl.doc_id, cl.lang, cl.n_tokens, cl.cluster_id,
        |    CASE WHEN (cl.cluster_id % 1000003 * (2654435761 % 1000003)
        |        + 99991) % 1000003 % 100 < 80 THEN 'train'
        |      WHEN (cl.cluster_id % 1000003 * (2654435761 % 1000003)
        |        + 99991) % 1000003 % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM cmcl cl JOIN cmk k USING (cluster_id)
        |  LEFT JOIN cmrep r ON r.doc_id = cl.doc_id
        |  WHERE cl.doc_id = k.keeper_id
        |    AND cl.n_tokens >= MIN_TOKENS AND cl.uniq >= MIN_UNIQ
        |    AND COALESCE(r.verdict, 'ok') = 'ok'),
        |cmrates AS (
        |  SELECT lang, LEAST(1.0, $budget / COUNT(*)) AS rate
        |  FROM cmkept WHERE split = 'train' GROUP BY lang),
        |cmsam AS (
        |  SELECT s.doc_id, s.lang, s.n_tokens, s.split
        |  FROM cmkept s LEFT JOIN cmrates r USING (lang)
        |  WHERE s.split <> 'train'
        |     OR (s.doc_id % 1000003 * (2654435761 % 1000003) + $thin)
        |        % 1000003
        |        < CAST(FLOOR(COALESCE(r.rate, 1.0) * 1000003) AS BIGINT)),
        |cmsh AS (
        |  SELECT doc_id, n_tokens, split,
        |    (doc_id % 1000003 * (2654435761 % 1000003) + $seed)
        |      % 1000003 % $shards AS shard
        |  FROM cmsam)
        |SELECT split, shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM((doc_id % 1000003 * (2654435761 % 1000003) + 99991)
        |    % 1000003) AS BIGINT) AS id_checksum
        |FROM cmsh GROUP BY 1, 2
        |ORDER BY split, shard""".stripMargin
      .replace("MIN_TOKENS", graft.text.TextAnalysis.MinTokens.toString)
      .replace("MIN_UNIQ", graft.text.TextAnalysis.MinUniqueRatio.toString)
  }

  // ---------------------------------------------------------------- dd25
  /** dd25 corpus: "yesterday's" curated history vs "today's" crawl
    * increment, split deterministically from `documents` (dd18's
    * convention). The planted increment docs exercise every
    * incremental-update path a daily pipeline hits:
    *  - `%13==1` history copies (+" extra token"): JOIN an existing
    *    history cluster;
    *  - `%17==2` history copies (+" the of a the of a"): join with a
    *    stopword-boosted score (stopr carries weight 4), biasing
    *    toward keeper DISPLACEMENT;
    *  - `%35==0` increment copies (+" extra token"): form NEW
    *    multi-doc clusters entirely inside the increment.
    * Which side of a merged cluster wins election is data-dependent
    * (appending two fresh word types can RAISE uniq and with it the
    * score), so CurationIncSpec pins the three cases — join with the
    * history keeper retained, join with it displaced, and in-increment
    * cluster — from the measured merged clustering, not from plant
    * family membership. */
  /** The fixture's node-domain disjointness is an ASSUMPTION on the
    * corpus, not a theorem: planted ids live at base+5e6/6e6/7e6, so
    * base ids ≥ 1,000,000 would make planted ranges overlap each other
    * and ids ≥ 5,000,000 would alias history with plants — silently
    * corrupting the CC contraction (and CurationIncSpec's
    * isHist(node < 5000000) with it). Guarded loudly here: one
    * column-pruned MAX scan, cached per (session, corpus). */
  private def dd25GuardIds(s: SparkSession, d: String): Unit = {
    val mx = graft.Seams.memo(s, d, "dd25-maxid")(
      Tables.documents(s, d).agg(max(col("doc_id"))).first().getLong(0))
    require(mx < 1000000L,
      s"dd25 fixture requires max(doc_id) < 1,000,000 (saw $mx): the " +
        "+5e6/+6e6/+7e6 plant offsets and the <5e6 history test would " +
        "alias — raise the offsets before using a larger corpus")
  }

  private[graft] def dd25Hist(s: SparkSession, d: String): DataFrame = {
    dd25GuardIds(s, d)
    Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .where(col("doc_id") % 5 =!= 0)
  }

  private[graft] def dd25Inc(s: SparkSession, d: String): DataFrame = {
    dd25GuardIds(s, d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val hist = docs.where(col("doc_id") % 5 =!= 0)
    val incBase = docs.where(col("doc_id") % 5 === 0)
    incBase
      .unionByName(hist.where(col("doc_id") % 13 === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"), col("lang")))
      .unionByName(hist.where(col("doc_id") % 17 === 2)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          concat(col("text"), lit(" the of a the of a")).as("text"),
          col("lang")))
      .unionByName(incBase.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"), col("lang")))
  }

  /** Yesterday's persisted curation state — the TWO compact artifacts a
    * daily pipeline carries between runs, built once per (session,
    * corpus) and durable under the seam cache like the minhash sig
    * store:
    *  - the SIGNATURE store (doc_id, cluster_id, hsh, sig): one row
    *    per history doc, what the increment band-joins against;
    *  - the KEEPER store (cluster_id, doc_id, lang, n_tokens, uniq,
    *    score, verdict): ONE row per history cluster — its elected
    *    keeper with the attributes re-election and gating need.
    * History TEXT never leaves yesterday's run: today's update touches
    * only these metadata frames (the keeper store is #clusters rows;
    * the sig store is the same artifact any incremental near-dup
    * scheme persists — dd14/dd18's argument). */
  private[graft] def dd25Stores(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    graft.Seams.memo(s, d, "dd25-stores") {
      val sigStore = graft.Seams.durable(s, d, "dd25-sigstore") {
        val sg = withHashedShingles(dd25Hist(s, d))
          .select(col("doc_id"), col("hsh"))
          .withColumn("sig", call_function("graft_minhash32", col("hsh")))
        val labels = connectedComponentsStar(verifiedPairsOn(sg)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
        sg.join(labels.select(col("id").as("doc_id"),
            col("label").as("lbl")), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
          .select(col("doc_id"), col("cluster_id"), col("hsh"), col("sig"))
      }
      val keepStore = graft.Seams.durable(s, d, "dd25-keepstore") {
        val clustered = curationAttrsOn(dd25Hist(s, d))
          .join(sigStore.select(col("doc_id"), col("cluster_id")),
            Seq("doc_id"))
        electKeepers(clustered)
      }
      (sigStore, keepStore)
    }

  /** dd25 — INCREMENTAL CURATION: today's selected corpus derived from
    * yesterday's stores + the increment, with history text NEVER
    * rescanned (the no-rescan plan shape is pinned in
    * CurationIncSpec against parquet-backed stores). The derivation is
    * EXACT, not approximate — it equals a full dd24-style recompute
    * over the concatenated corpus, which is precisely what the DuckDB
    * oracle does. The exactness rests on three lemmas:
    *  1. banded-MinHash candidacy, the ≥26 prefilter, and exact
    *     Jaccard are all PER-PAIR deterministic and corpus-independent,
    *     so history–history edges today == history–history edges
    *     yesterday == the store's cluster_id;
    *  2. components over (contracted history clusters + new edges) ==
    *     components over all edges (union-find contraction), and with
    *     cluster_id = min member id, min-label CC over contracted
    *     nodes reproduces the full-recompute cluster ids;
    *  3. keeper election (max score, min doc_id tiebreak) composes:
    *     the best of {per-cluster bests ∪ increment docs} is the best
    *     of all members.
    * Gates/split/budget/shard are [[curationSelectFrom]], shared with
    * dd24 — the budget rates legitimately recompute over the MERGED
    * keeper set (they are corpus-global by definition), but from
    * metadata only.
    *
    * Scale shape: the increment (small) is the only text scanned; the
    * history side is two metadata/signature artifacts read from
    * parquet; the band join's shuffle key cardinality grows with the
    * corpus (bounded bucket population); CC runs on the TOUCHED
    * component subgraph only — O(increment), not O(history). */
  private[graft] def incrementalCurationSelectedFrom(s: SparkSession,
      sigStore: DataFrame, keepStore: DataFrame, inc: DataFrame,
      corpusDir: Option[String] = None): DataFrame =
    curationSelectFrom(electKeepers(
      incrementalCurationMergedFrom(s, sigStore, keepStore, inc,
        corpusDir)))

  /** The merged clustering BEFORE election — one row per election
    * candidate (history cluster keepers + increment docs) with its
    * final cluster id. Exposed separately so CurationIncSpec can pin
    * the fixture's case coverage (joined / displaced / in-increment
    * clusters) on the real merged structure. */
  private[graft] def incrementalCurationMergedFrom(s: SparkSession,
      sigStore: DataFrame, keepStore: DataFrame, inc: DataFrame,
      corpusDir: Option[String] = None): DataFrame = {
    // increment attrs ∥ the band/verify/CC chain (guide §2.6): the
    // attrs pass (token stats + repetition over the INCREMENT only)
    // is not needed until the post-CC candidate union — build it on a
    // second thread while the merge chain's sequential actions run.
    val incAttrsF = graft.Par.async {
      curationAttrsOn(inc).localCheckpoint()
    }
    // ONE materialization: this frame feeds the HI band side, BOTH
    // legs of the II candidate self-join, the verify hsh lookup, and
    // the merged sigAll — lazily each reference re-ran the increment's
    // shingle+minhash scan (4-5 recomputes per gate run, measured).
    // With a corpus dir (the dd25 gate) this routes through the
    // durable-seam path (r19 verdict #6): a parquet artifact survives
    // executor loss where a localCheckpoint'd frame dies with its
    // blocks. Fixture callers (CurationIncSpec's synthetic stores)
    // keep the localCheckpoint "computed artifact" idiom; both
    // truncate the lineage this query's ~90 KB analyzed plan pays
    // Catalyst time for.
    val incSigRaw = withHashedShingles(inc)
      .select(col("doc_id"), col("hsh"))
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))
    val incSig = corpusDir match {
      case Some(dir) => graft.Seams.durable(s, dir, "dd25-incsig")(incSigRaw)
      case None => incSigRaw.localCheckpoint()
    }
    val bh = withBandKeys(sigStore.select(col("doc_id"), col("sig")))
      .select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("band"), col("bkey"))
    val bi = withBandKeys(incSig.select(col("doc_id"), col("sig")))
      .select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("band"), col("bkey"))
    val candHI = bh.join(bi, Seq("band", "bkey"))
      .where(call_function("graft_positional_eq_count",
        col("sig_a"), col("sig_b")) >= 26)
      .select(col("id_a"), col("id_b")).distinct()
    val sigAll = sigStore.select(col("doc_id"), col("hsh"))
      .unionByName(incSig.select(col("doc_id"), col("hsh")))
    val verHI = attachVerify(sigAll, candHI).select(col("id_a"), col("id_b"))
    val ba = bi.select(col("id_b").as("id_a"), col("sig_b").as("sig_a"),
      col("band"), col("bkey"))
    val candII = ba.join(bi, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b") &&
        call_function("graft_positional_eq_count",
          col("sig_a"), col("sig_b")) >= 26)
      .select(col("id_a"), col("id_b")).distinct()
    val verII = attachVerify(incSig, candII).select(col("id_a"), col("id_b"))
    // CC nodes: history CLUSTER ids (pre-contracted components) and
    // increment doc ids — disjoint domains (history ids are %5≠0,
    // increment base ids %5=0, planted ids +5e6 and up)
    val edges = verHI
      .join(sigStore.select(col("doc_id").as("id_a"), col("cluster_id")),
        Seq("id_a"))
      .select(col("cluster_id").as("src"), col("id_b").as("dst"))
      .unionByName(verII.select(col("id_a").as("src"),
        col("id_b").as("dst")))
    val labels = connectedComponentsStar(edges)
    val cands = keepStore
      .select(col("cluster_id").as("node"), col("doc_id"), col("lang"),
        col("n_tokens"), col("uniq"), col("score"), col("verdict"))
      .unionByName(graft.Par.await(incAttrsF)
        .select(col("doc_id").as("node"), col("doc_id"), col("lang"),
          col("n_tokens"), col("uniq"), col("score"), col("verdict")))
    cands
      .join(labels.select(col("id").as("node"), col("label")),
        Seq("node"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("node")))
  }

  private[graft] def incrementalCurationSelected(s: SparkSession,
      d: String): DataFrame = {
    val (sigStore, keepStore) = dd25Stores(s, d)
    incrementalCurationSelectedFrom(s, sigStore, keepStore, dd25Inc(s, d),
      corpusDir = Some(d))
  }

  /** The MULTI-DAY handoff: fold one increment into the two stores so
    * tomorrow's increment chains on today's — the API a production
    * daily pipeline actually loops on. Updated signature store = every
    * old row with its cluster id REMAPPED through today's merges plus
    * every increment row under its final cluster (ALL increment docs,
    * keeper or not: a non-keeper member can be the band bridge a
    * later increment joins through); updated keeper store = today's
    * elected keepers. CurationIncSpec pins ASSOCIATIVITY: chaining
    * day-1 and day-2 increments through this handoff equals one-shot
    * incremental over their union (which the dd25 gate in turn proves
    * equal to a full recompute) — the induction step that makes the
    * daily loop exact on every horizon. */
  private[graft] def dd25UpdatedStores(s: SparkSession,
      sigStore: DataFrame, keepStore: DataFrame, inc: DataFrame)
      : (DataFrame, DataFrame) = {
    val merged = incrementalCurationMergedFrom(s, sigStore, keepStore, inc)
    val mapping = merged.select(col("node"), col("cluster_id").as("cl2"))
    val incSig = withHashedShingles(inc)
      .select(col("doc_id"), col("hsh"))
      .withColumn("sig", call_function("graft_minhash32", col("hsh")))
    val sig2 = sigStore
      .join(mapping.withColumnRenamed("node", "cluster_id"),
        Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cl2"), col("cluster_id")).as("cluster_id"),
        col("hsh"), col("sig"))
      .unionByName(incSig
        .join(mapping.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cl2"), col("doc_id")).as("cluster_id"),
          col("hsh"), col("sig")))
    (sig2, electKeepers(merged))
  }

  /** dd25's gated output: the UPDATED per-(split, shard) manifest plus
    * a `changed` flag vs yesterday's manifest — the exact row set an
    * incremental emitter drives its partition rewrites from
    * ([[emitCurationIncrement]]). Cells the increment didn't touch
    * read changed=0 and carry byte-identical manifest entries;
    * cells the update emptied (cluster merges can REMOVE a keeper)
    * surface with n_docs=0. Yesterday's manifest re-derives from the
    * keeper store through the SAME selection tail, so old and new
    * can't drift formula-wise. */
  def incrementalCurationManifest(s: SparkSession, d: String): DataFrame = {
    val (sigStore, keepStore) = dd25Stores(s, d)
    val newMan = manifestFrom(
      incrementalCurationSelectedFrom(s, sigStore, keepStore,
        dd25Inc(s, d), corpusDir = Some(d))).as("nw")
    val oldMan = manifestFrom(curationSelectFrom(keepStore)).as("od")
    newMan.join(oldMan, Seq("split", "shard"), "full_outer")
      .select(col("split"), col("shard"),
        coalesce(col("nw.n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("nw.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("nw.id_checksum"), lit(0L)).as("id_checksum"),
        when(col("nw.n_docs") <=> col("od.n_docs") &&
          col("nw.n_tokens") <=> col("od.n_tokens") &&
          col("nw.id_checksum") <=> col("od.id_checksum"), 0)
          .otherwise(1).as("changed"))
      .orderBy(col("split"), col("shard"))
  }

  /** The incremental EMITTER: bring an existing dd24-layout emission
    * directory (yesterday's `partitionBy(split, shard)` output) up to
    * date with today's corpus by rewriting ONLY the (split, shard)
    * partitions whose manifest entry changed — unchanged partitions'
    * files are never touched (CurationIncSpec pins mtimes), emptied
    * partitions are deleted. Dynamic partition overwrite does the
    * selective rewrite; the ≤3·ShardN-row manifest collect is the
    * driver-side receipt that decides which partitions those are. */
  def emitCurationIncrement(s: SparkSession, d: String, out: String): Unit = {
    val man = incrementalCurationManifest(s, d).collect()
    val changed = man.filter(_.getAs[Int]("changed") == 1)
    val toWrite = changed.filter(_.getAs[Long]("n_docs") > 0)
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("shard"))).toSet
    val toDrop = changed.filter(_.getAs[Long]("n_docs") == 0L)
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("shard")))
    if (toWrite.nonEmpty) {
      val keys = toWrite.map { case (sp, sh) => s"$sp/$sh" }.toSeq
      val sel = incrementalCurationSelected(s, d)
        .where(concat_ws("/", col("split"), col("shard")).isin(keys: _*))
      sel.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("split", "shard").parquet(out)
    }
    // Emptied partitions go through the Hadoop FileSystem API — the
    // same abstraction the write path above uses — so the delete works
    // on ANY filesystem the emission dir lives on (local/HDFS/S3A),
    // not just java.io-visible paths. A false return (delete refused
    // on an existing dir) would leave stale files contradicting the
    // updated manifest, so it fails loudly instead of no-opping.
    if (toDrop.nonEmpty) {
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      toDrop.foreach { case (sp, sh) =>
        val dir = new org.apache.hadoop.fs.Path(outPath,
          s"split=$sp/shard=$sh")
        if (fs.exists(dir) && !fs.delete(dir, true))
          throw new java.io.IOException(
            s"emitCurationIncrement: failed to delete emptied " +
              s"partition $dir — emission dir would contradict the " +
              s"updated manifest")
      }
    }
  }

  /** The full dd24-style curation pipeline as oracle CTEs over a
    * parametric (doc_id, text, lang) source CTE `src`, names prefixed
    * `p`, ending in `${p}man(split, shard, n_docs, n_tokens,
    * id_checksum)`. DuckDB recomputes FROM SCRATCH over whatever
    * corpus `src` holds — dd25 feeds it the concatenated
    * history+increment corpus, so hash equality against the Spark
    * side's store-based derivation IS the incremental-exactness
    * theorem. Formulas mirror [[curationAttrsOn]] /
    * [[curationSelectFrom]] / [[manifestFrom]] exactly (dd24's cm
    * chain, parameterized). */
  private def curationPipeCtes(src: String, p: String): String = {
    val budget = graft.operators.Sampling.BudgetPerLang
    val seed = graft.operators.Sampling.ShardSeed
    val thin = graft.operators.Sampling.ThinSeed
    val shards = graft.operators.Sampling.ShardN
    val mt = graft.text.TextAnalysis.MinTokens
    val mu = graft.text.TextAnalysis.MinUniqueRatio
    s"""${p}sh AS (
      |  SELECT doc_id, LENGTH(text) AS n_len,
      |    list_distinct(list_transform(range(1, LENGTH(text) - 1),
      |      i -> substr(text, CAST(i AS INT), 3))) AS shingles
      |  FROM $src),
      |${p}hs AS (
      |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(s) + 1),
      |      i -> CAST(unicode(substr(s, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007))) AS hsh
      |  FROM ${p}sh),
      |${p}sig AS (
      |  SELECT doc_id, hsh, list_transform(range(0, 32), j ->
      |    list_min(list_transform(hsh, h ->
      |      (((2654435761 * (CAST(j AS BIGINT) + 1)) % 1000000007) * h
      |       + (CAST(j AS BIGINT) * 12345 + 678)) % 1000000007))) AS sig
      |  FROM ${p}hs),
      |${p}bands AS (
      |  SELECT doc_id, sig, b.band,
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      sig[CAST(8 * b.band + 1 AS INT):CAST(8 * b.band + 8 AS INT)],
      |      (acc, h) -> (acc * 31 + h) % 1000000007) AS bkey
      |  FROM ${p}sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
      |${p}pre AS (
      |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM ${p}bands a JOIN ${p}bands c
      |    ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id
      |  WHERE list_sum(list_transform(range(1, 33), i ->
      |    CASE WHEN a.sig[CAST(i AS INT)] = c.sig[CAST(i AS INT)]
      |         THEN 1 ELSE 0 END)) >= 26),
      |${p}vrf AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
      |      / len(list_distinct(sa.hsh || sb.hsh)) AS jaccard
      |  FROM ${p}pre JOIN ${p}hs sa ON sa.doc_id = id_a
      |  JOIN ${p}hs sb ON sb.doc_id = id_b),
      |${p}edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM ${p}vrf WHERE jaccard >= 0.8
      |  UNION ALL
      |  SELECT id_b, id_a FROM ${p}vrf WHERE jaccard >= 0.8),
      |${p}walk(id, label) AS (
      |  SELECT src, src FROM ${p}edges
      |  UNION
      |  SELECT e.dst, w.label FROM ${p}walk w JOIN ${p}edges e
      |    ON e.src = w.id),
      |${p}comp AS (SELECT id, MIN(label) AS lbl FROM ${p}walk GROUP BY id),
      |${p}base AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS uniq,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the','a','of'))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stopr
      |  FROM $src),
      |${p}sc AS (
      |  SELECT doc_id, lang, n_tokens, uniq,
      |    uniq * 2.0 + stopr * 4.0 +
      |    (CASE WHEN n_tokens >= $mt THEN 0.5 ELSE -1.0 END)
      |      - 1.5 AS score
      |  FROM ${p}base),
      |${p}cl AS (
      |  SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.uniq, sc.score,
      |    COALESCE(c.lbl, sc.doc_id) AS cluster_id
      |  FROM ${p}sc sc LEFT JOIN ${p}comp c ON c.id = sc.doc_id),
      |${p}k AS (
      |  SELECT cluster_id, doc_id AS keeper_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY score DESC, doc_id) AS rn
      |    FROM ${p}cl) t WHERE rn = 1),
      |""".stripMargin +
      graft.text.TextAnalysis.repetitionCtesFor(src, p + "r") + "," +
      s"""${p}kept AS (
      |  SELECT cl.doc_id, cl.lang, cl.n_tokens, cl.cluster_id,
      |    CASE WHEN (cl.cluster_id % 1000003 * (2654435761 % 1000003)
      |        + 99991) % 1000003 % 100 < 80 THEN 'train'
      |      WHEN (cl.cluster_id % 1000003 * (2654435761 % 1000003)
      |        + 99991) % 1000003 % 100 < 90 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM ${p}cl cl JOIN ${p}k k USING (cluster_id)
      |  LEFT JOIN ${p}rrep r ON r.doc_id = cl.doc_id
      |  WHERE cl.doc_id = k.keeper_id
      |    AND cl.n_tokens >= $mt AND cl.uniq >= $mu
      |    AND COALESCE(r.verdict, 'ok') = 'ok'),
      |${p}rates AS (
      |  SELECT lang, LEAST(1.0, $budget / COUNT(*)) AS rate
      |  FROM ${p}kept WHERE split = 'train' GROUP BY lang),
      |${p}sam AS (
      |  SELECT s.doc_id, s.lang, s.n_tokens, s.split
      |  FROM ${p}kept s LEFT JOIN ${p}rates r USING (lang)
      |  WHERE s.split <> 'train'
      |     OR (s.doc_id % 1000003 * (2654435761 % 1000003) + $thin)
      |        % 1000003
      |        < CAST(FLOOR(COALESCE(r.rate, 1.0) * 1000003) AS BIGINT)),
      |${p}shd AS (
      |  SELECT doc_id, n_tokens, split,
      |    (doc_id % 1000003 * (2654435761 % 1000003) + $seed)
      |      % 1000003 % $shards AS shard
      |  FROM ${p}sam),
      |${p}man AS (
      |  SELECT split, shard, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(SUM((doc_id % 1000003 * (2654435761 % 1000003) + 99991)
      |      % 1000003) AS BIGINT) AS id_checksum
      |  FROM ${p}shd GROUP BY 1, 2)""".stripMargin
  }

  val incrementalCurationSql: String =
    """WITH RECURSIVE
      |docs0 AS (SELECT doc_id, text, lang FROM documents),
      |hist AS (SELECT doc_id, text, lang FROM docs0 WHERE doc_id % 5 <> 0),
      |incb AS (SELECT doc_id, text, lang FROM docs0 WHERE doc_id % 5 = 0),
      |allc AS (
      |  SELECT doc_id, text, lang FROM hist
      |  UNION ALL SELECT doc_id, text, lang FROM incb
      |  UNION ALL SELECT doc_id + 5000000, text || ' extra token', lang
      |    FROM hist WHERE doc_id % 13 = 1
      |  UNION ALL SELECT doc_id + 7000000,
      |    text || ' the of a the of a', lang
      |    FROM hist WHERE doc_id % 17 = 2
      |  UNION ALL SELECT doc_id + 6000000, text || ' extra token', lang
      |    FROM incb WHERE doc_id % 7 = 0),
      |""".stripMargin +
      curationPipeCtes("allc", "n") + "," +
      curationPipeCtes("hist", "o") + "\n" +
      """SELECT COALESCE(n.split, o.split) AS split,
      |  COALESCE(n.shard, o.shard) AS shard,
      |  COALESCE(n.n_docs, 0) AS n_docs,
      |  COALESCE(n.n_tokens, 0) AS n_tokens,
      |  COALESCE(n.id_checksum, 0) AS id_checksum,
      |  CASE WHEN n.n_docs IS NOT DISTINCT FROM o.n_docs
      |    AND n.n_tokens IS NOT DISTINCT FROM o.n_tokens
      |    AND n.id_checksum IS NOT DISTINCT FROM o.id_checksum
      |    THEN 0 ELSE 1 END AS changed
      |FROM nman n FULL OUTER JOIN oman o
      |  ON n.split = o.split AND n.shard = o.shard
      |ORDER BY split, shard""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("dd25_incremental_curation", incrementalCurationManifest,
      incrementalCurationSql),
    Op("dd24_curation_manifest", curationManifest, curationManifestSql),
    Op("dd22_keeper_election", keeperElection, keeperElectionSql),
    Op("dd23_cluster_split", clusterSplit, clusterSplitSql),
    Op("dd21_winnow_substrings", winnowSubstrings, winnowSubstringsSql),
    Op("dd01_exact_groups", exactGroups, exactGroupsSql),
    Op("dd02_exact_dedup", exactDedup, exactDedupSql),
    Op("dd19_capped_clusters", cappedClusters, cappedClustersSql),
    Op("dd20_lsh_bucket_audit", lshBucketAudit, lshBucketAuditSql),
    Op("dd03_ngram_jaccard", ngramJaccard, ngramJaccardSql),
    Op("dd04_simhash_buckets", simhashBuckets, simhashBucketsSql),
    Op("dd05_minhash_lsh", minhashLsh, minhashLshSql),
    Op("dd06_embed_neardup", embedNearDup, embedNearDupSql),
    Op("dd07_dup_clusters", dupClusters, dupClustersSql),
    Op("dd08_decontaminate", decontaminate, decontaminateSql),
    // dd09 computes the SAME clusters as dd07 by a different algorithm;
    // one oracle pins both to one answer
    Op("dd09_star_clusters", starClusters, dupClustersSql),
    // the bloom is routing only — dd10's answer is exactly dd08's
    Op("dd10_bloom_decontaminate", decontaminateBloom, decontaminateSql),
    Op("dd11_fuzzy_link", FuzzyLink.fuzzyLink, FuzzyLink.fuzzyLinkSql),
    Op("dd12_prefix_clusters", prefixClusters, prefixClustersSql),
    Op("dd13_containment", containmentPairs, containmentPairsSql),
    Op("dd14_incremental", incrementalDedup, incrementalDedupSql),
    Op("dd15_sketch_calibration", sketchCalibration, sketchCalibrationSql),
    Op("dd16_fuzzy_decontaminate", fuzzyDecontaminate, fuzzyDecontaminateSql),
    Op("dd17_cluster_cohesion", clusterCohesion, clusterCohesionSql),
    Op("dd18_incremental_neardup", incrementalNearDup, incrementalNearDupSql))
}
