package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.{Op, Tables}

/** Text-analysis operators for an LLM training-data pipeline, over the
  * `documents` table: token statistics, language-ID scoring, quality
  * scoring, polynomial fingerprinting, n-gram profiles.
  *
  * All narrow ops except the n-gram profile (one hash-agg shuffle on
  * (lang, gram)); the scans prune to (doc_id, text[, lang]) only. At
  * 100 TB each of these runs as a single codegen'd map stage per
  * partition — no driver-side loops, no collects.
  */
object TextAnalysis {

  private def tokens: Column = split(col("text"), " ")
  private val tokensSqlD = "string_split(text, ' ')" // DuckDB spelling

  /** Quality-gate thresholds (t03's keep rule, reused verbatim by the
    * t08 curation pipeline — tune here, both queries and both oracle
    * spellings follow). */
  val MinTokens = 10
  val MinUniqueRatio = 0.3

  /** How many rounds the gated txt46 BPE trajectory trains. Defined
    * here (not at the txt46 section) because txt27's oracle val
    * initializes earlier in the object and reads [[FertilityMerges]]
    * — a forward val reference would silently read 0. */
  val BpeTrainRounds = 5

  /** How many trained merges txt27's fertility encoder applies (the
    * size the round-0 candidate list had before the r18 upgrade, so
    * fertility stays comparable across rounds). */
  val FertilityMerges = 20

  // ---------------------------------------------------------------- t01
  /** Token counting: whitespace tokens, distinct tokens, alpha-run
    * tokens (the BPE-ish regex pass). */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("lang"),
      length(col("text")).as("n_char"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"),
      size(array_distinct(split(trim(col("text")), "\\s+"))).as("n_unique"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_alpha_runs"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id, lang,
      |  CAST(LENGTH(text) AS INTEGER) AS n_char,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INTEGER) AS n_unique,
      |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha_runs
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t02
  /** Language-ID by stopword-set hit counts (n-gram-heuristic shape:
    * score per language profile, argmax with a fixed tie order). */
  def langId(s: SparkSession, d: String): DataFrame = {
    val en = "('the','a','value','row')"
    val es = "('data','query','small')"
    val zh = "('table','join','window')"
    def hits(set: String) =
      size(expr(s"filter(split(text, ' '), t -> t IN $set)"))
    Tables.documents(s, d).select(
        col("doc_id"),
        hits(en).as("en_hits"), hits(es).as("es_hits"), hits(zh).as("zh_hits"))
      .withColumn("predicted",
        when(col("en_hits") >= col("es_hits") &&
             col("en_hits") >= col("zh_hits"), "en")
          .when(col("es_hits") >= col("zh_hits"), "es")
          .otherwise("zh"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter($tokensSqlD, t -> t IN ('the','a','value','row'))) AS INTEGER) AS en_hits,
       |    CAST(len(list_filter($tokensSqlD, t -> t IN ('data','query','small'))) AS INTEGER) AS es_hits,
       |    CAST(len(list_filter($tokensSqlD, t -> t IN ('table','join','window'))) AS INTEGER) AS zh_hits
       |  FROM documents)
       |SELECT doc_id, en_hits, es_hits, zh_hits,
       |  CASE WHEN en_hits >= es_hits AND en_hits >= zh_hits THEN 'en'
       |       WHEN es_hits >= zh_hits THEN 'es' ELSE 'zh' END AS predicted
       |FROM scored
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t03
  /** Quality scoring: length/uniqueness/stopword ratios + a keep flag.
    * Ratios are single double divisions of exact ints — deterministic. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopHits =
      size(expr("filter(split(text, ' '), t -> t IN ('the','a','of'))"))
    Tables.documents(s, d).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        (length(col("text")).cast(DoubleType) / nTok).as("chars_per_token"),
        (stopHits.cast(DoubleType) / nTok).as("stopword_ratio"),
        (size(array_distinct(toks)).cast(DoubleType) / nTok).as("unique_ratio"))
      .withColumn("keep",
        when(col("n_tokens") >= MinTokens &&
             col("unique_ratio") >= MinUniqueRatio, 1)
          .otherwise(0))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len($tokensSqlD) AS INTEGER) AS n_tokens,
       |    CAST(LENGTH(text) AS DOUBLE) / len($tokensSqlD) AS chars_per_token,
       |    CAST(len(list_filter($tokensSqlD, t -> t IN ('the','a','of'))) AS DOUBLE) / len($tokensSqlD) AS stopword_ratio,
       |    CAST(len(list_distinct($tokensSqlD)) AS DOUBLE) / len($tokensSqlD) AS unique_ratio
       |  FROM documents)
       |SELECT doc_id, n_tokens, chars_per_token, stopword_ratio, unique_ratio,
       |  CASE WHEN n_tokens >= $MinTokens AND unique_ratio >= $MinUniqueRatio THEN 1 ELSE 0 END AS keep
       |FROM q
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t04
  /** Document fingerprint via the native PolyHash expression (rolling
    * hash over codepoints — the dedup-key primitive). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).select(
        col("doc_id"),
        call_function("graft_polyhash", col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce([CAST(0 AS BIGINT)] ||
      |    list_transform(range(1, LENGTH(text) + 1),
      |                   i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t05
  /** Character 3-gram profile: top-5 grams per language (the raw
    * material of n-gram language models). */
  def ngramProfile(s: SparkSession, d: String): DataFrame = {
    // explode the POSITIONS (cheap int sequence) and slice per row in
    // codegen, instead of materializing a 300-string array per doc in
    // an interpreted transform() lambda before exploding it
    // length >= 3 guard: sequence(1, n-2) DESCENDS for n < 3 (e.g.
    // sequence(1, 0) = [1, 0]) and would emit bogus sub-3-char grams
    // where DuckDB's range(1, n-1) returns empty
    val grams = Tables.documents(s, d)
      .where(length(col("text")) >= 3)
      .select(col("lang"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .select(col("lang"), expr("substring(text, i, 3)").as("gram"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("gram"))
    grams.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .orderBy(col("lang"), col("rnk"))
  }

  val ngramProfileSql: String =
    """WITH grams AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, LENGTH(text) - 1),
      |                          i -> substr(text, CAST(i AS INT), 3))) AS gram
      |  FROM documents)
      |SELECT lang, gram, cnt, rnk FROM (
      |  SELECT lang, gram, COUNT(*) AS cnt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram) AS INTEGER) AS rnk
      |  FROM grams GROUP BY lang, gram) t
      |WHERE rnk <= 5
      |ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------- t06
  /** Count-Min sketch of the token-frequency distribution: d=4 hash
    * rows × w=64 buckets, each cell = Σ occurrences of tokens hashing
    * there. Construction is one explode + hash-groupBy — exactly how a
    * CMS is built distributively (cells merge by +, so map-side partial
    * aggregation does the heavy lifting and the shuffle carries ≤ d·w
    * rows per partition regardless of corpus size). Point estimates =
    * min over the d cells of a token; here the sketch itself is the
    * output, checkable cell-for-cell because the hash family is the
    * same affine-over-polyhash construction as [[graft.functions.MinHashSig]]. */
  def countMinSketch(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("tok"), explode(expr("sequence(0, 3)")).as("hash_row"))
      .withColumn("bucket",
        (((lit(2654435761L) * (col("hash_row") + 1)) % 1000000007L) *
          call_function("graft_polyhash", col("tok")) +
          (col("hash_row") * 12345L + 678L)) % 1000000007L % 64)
      .groupBy(col("hash_row"), col("bucket"))
      .agg(count(lit(1)).as("cell_count"))
      .orderBy(col("hash_row"), col("bucket"))
  }

  val countMinSketchSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |cells AS (
      |  SELECT CAST(j.hash_row AS BIGINT) AS hash_row,
      |    (((2654435761 * (CAST(j.hash_row AS BIGINT) + 1)) % 1000000007) *
      |      list_reduce(list_transform(range(1, LENGTH(tok) + 1),
      |        i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT)),
      |        (a, b) -> (a * 31 + b) % 1000000007)
      |     + (CAST(j.hash_row AS BIGINT) * 12345 + 678)) % 1000000007 % 64 AS bucket
      |  FROM toks, (SELECT unnest(range(0, 4)) AS hash_row) j
      |  WHERE tok <> '')
      |SELECT CAST(hash_row AS INTEGER) AS hash_row, bucket,
      |  COUNT(*) AS cell_count
      |FROM cells
      |GROUP BY hash_row, bucket
      |ORDER BY hash_row, bucket""".stripMargin

  // ---------------------------------------------------------------- t07
  /** TF-IDF-style term scoring: top-3 terms per language by
    * tf · (N / df) with a RATIONAL idf (no logarithm — ln differs by
    * ulps across engines and would make rank order engine-dependent;
    * the rational score is evaluated in the identical double operation
    * order in both engines). Three shuffles: (lang, tok) term counts,
    * the (doc_id, tok) distinct feeding per-token document frequency —
    * the one unbounded-key exchange here — and the df re-aggregation. */
  def tfidfTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // corpus size as a broadcast one-row aggregate, not a driver action
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok")).where(col("tok") =!= "")
    val tf = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast(DoubleType) * col("n_docs") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("lang"), col("tok"), col("tf"), col("df"), col("score"),
        col("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  val tfidfTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tks AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT lang, tok, COUNT(*) AS tf FROM tks GROUP BY lang, tok),
      |df AS (SELECT tok, COUNT(*) AS df FROM
      |  (SELECT DISTINCT doc_id, tok FROM tks) GROUP BY tok),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT lang, tok, tf, df, score, rnk FROM (
      |  SELECT tf.lang, tf.tok, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.lang
      |      ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.df DESC, tf.tok)
      |      AS INTEGER) AS rnk
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n) t
      |WHERE rnk <= 3
      |ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------- t08
  /** End-to-end curation pipeline: quality gate (t03's keep rule) →
    * exact dedup (keep lowest doc_id per content hash) → per-lang
    * survivor stats. The composite every training-data pipeline runs;
    * each stage is the already-verified operator, chained. */
  def curation(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val kept = Tables.documents(s, d)
      .withColumn("n_tokens", size(toks))
      .withColumn("unique_ratio",
        size(array_distinct(toks)).cast(DoubleType) / col("n_tokens"))
      .where(col("n_tokens") >= MinTokens &&
        col("unique_ratio") >= MinUniqueRatio)
    val w = Window.partitionBy(md5(col("text").cast(org.apache.spark.sql.types.BinaryType)))
      .orderBy(col("doc_id"))
    kept.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1)))
          .as("avg_tokens"))
      .orderBy(col("lang"))
  }

  val curationSql: String =
    s"""WITH q AS (
      |  SELECT doc_id, lang, text,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS unique_ratio
      |  FROM documents),
      |kept AS (SELECT * FROM q WHERE n_tokens >= $MinTokens AND unique_ratio >= $MinUniqueRatio),
      |deduped AS (
      |  SELECT * FROM (
      |    SELECT lang, n_tokens,
      |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM kept) t
      |  WHERE rn = 1)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
      |FROM deduped
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t09
  /** Deterministic train/val/test assignment by CONTENT hash — the same
    * document always lands in the same split no matter which shard,
    * run, or engine processed it (hash-mod beats random sampling for
    * reproducible corpus splits). PolyHash(text) mod 100: <80 train,
    * <90 val, else test. Pure narrow map + one (lang, split) hash-agg —
    * 15 output rows at any corpus size. */
  def splitAssign(s: SparkSession, d: String): DataFrame = {
    val h = pmod(call_function("graft_polyhash", col("text")), lit(100))
    Tables.documents(s, d)
      .select(col("lang"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
          .as("split"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tok"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("n_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  val splitAssignSql: String =
    """WITH h AS (
      |  SELECT lang,
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(text) + 1),
      |                     i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS hmod,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tok
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN hmod < 80 THEN 'train'
      |       WHEN hmod < 90 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM h
      |GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin

  // ---------------------------------------------------------------- t10
  /** Sequence packing: documents concatenated back-to-back in doc_id
    * order per language, cut into fixed 2048-token training sequences;
    * a document belongs to the bin where its first token lands
    * (packing-with-spillover, the standard sample-packing
    * approximation). Reports per-bin doc count and token mass.
    *
    * The per-language running token offset is a prefix scan over the
    * FULL corpus — partitioning the window by `lang` alone (5 keys)
    * would funnel everything through 5 sort tasks. Same cure as the
    * ob09/ob14 scans: two levels — a local cumsum within
    * (lang, doc_id div 1024) whose key count grows with the data, plus
    * a carry-in prefix-sum over the per-bucket totals, a frame ~1024×
    * smaller than the corpus. */
  def seqPack(s: SparkSession, d: String): DataFrame = {
    val B = 1024L
    val BinTokens = 2048L
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tok"))
      .withColumn("bucket", expr(s"doc_id div $B"))
    val wLocal = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrefix = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = t.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_tok")).as("bucket_tok"))
      .withColumn("carry_in",
        coalesce(sum(col("bucket_tok")).over(wPrefix), lit(0L)))
      .select(col("lang"), col("bucket"), col("carry_in"))
    t.withColumn("local_cum", sum(col("n_tok")).over(wLocal))
      .join(carry, Seq("lang", "bucket"))
      .withColumn("start_off",
        col("carry_in") + col("local_cum") - col("n_tok"))
      .withColumn("bin", expr(s"start_off div $BinTokens"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("bin_tokens"))
      .orderBy(col("lang"), col("bin"))
  }

  val seqPackSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
      |FROM c
      |GROUP BY 1, 2
      |ORDER BY lang, bin""".stripMargin

  // ---------------------------------------------------------------- t11
  /** Repetition signals (the Gopher-rule family): fraction of word
    * bigrams occupied by the single most frequent bigram, plus the
    * duplicate-token fraction, with a keep flag. Catches the
    * "page of boilerplate repeated 400×" documents that slip past
    * pure length/stopword gates.
    *
    * Bigrams are exploded as POSITIONS over the token array (same
    * trick as txt05) and counted with one (doc_id, bigram) hash-agg —
    * key cardinality grows with the corpus, so the shuffle stays flat
    * per-partition at any scale. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("tk"))
      .where(size(col("tk")) >= 2) // sequence(1, n-1) descends for n<2
    val bigrams = base
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("i"),
        col("tk"))
      .select(col("doc_id"),
        concat(element_at(col("tk"), col("i")), lit(" "),
          element_at(col("tk"), col("i") + 1)).as("bigram"))
    val perDoc = bigrams.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).cast(LongType).as("top_cnt"),
        sum(col("cnt")).cast(LongType).as("n_bigrams"))
    val tokStats = base.select(col("doc_id"),
      size(col("tk")).cast(LongType).as("n_tokens"),
      size(array_distinct(col("tk"))).cast(LongType).as("n_unique"))
    tokStats.join(perDoc, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        (col("top_cnt").cast(DoubleType) / col("n_bigrams"))
          .as("top_bigram_frac"),
        (lit(1.0) - col("n_unique").cast(DoubleType) / col("n_tokens"))
          .as("dup_token_frac"))
      .withColumn("keep",
        when(col("top_bigram_frac") <= 0.1, 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
      |e AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |           i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1])) AS bigram
      |  FROM toks),
      |c AS (
      |  SELECT doc_id, bigram, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
      |m AS (
      |  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_cnt,
      |    CAST(SUM(cnt) AS BIGINT) AS n_bigrams
      |  FROM c GROUP BY 1),
      |t AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_unique
      |  FROM toks)
      |SELECT t.doc_id, t.n_tokens,
      |  CAST(m.top_cnt AS DOUBLE) / m.n_bigrams AS top_bigram_frac,
      |  1.0 - CAST(t.n_unique AS DOUBLE) / t.n_tokens AS dup_token_frac,
      |  CASE WHEN CAST(m.top_cnt AS DOUBLE) / m.n_bigrams <= 0.1
      |       THEN 1 ELSE 0 END AS keep
      |FROM t JOIN m ON t.doc_id = m.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- t12
  /** Deterministic stratified (mixture) sampling: each language gets a
    * target retention rate — downsample the dominant language, keep
    * the rare ones whole — decided by a salted content hash so the
    * SAME document survives in every run and on every engine. The
    * salt decorrelates the decision from txt09's split hash (same
    * polynomial, different input). Pure narrow map + filter: no
    * shuffle at all before the (bounded-output) ORDER BY. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("lang") === "en", 500)
      .when(col("lang") === "zh", 250).otherwise(800) // per-mille
    val h = pmod(
      call_function("graft_polyhash", concat(lit("s12|"), col("text"))),
      lit(1000))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), h.as("hmod"),
        rate.as("rate_pm"))
      .where(col("hmod") < col("rate_pm"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val stratifiedSampleSql: String =
    """WITH h AS (
      |  SELECT doc_id, lang, source,
      |    list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH('s12|' || text) + 1),
      |                     i -> CAST(unicode(substr('s12|' || text, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 1000 AS hmod,
      |    CASE WHEN lang = 'en' THEN 500
      |         WHEN lang = 'zh' THEN 250 ELSE 800 END AS rate_pm
      |  FROM documents)
      |SELECT doc_id, lang, source
      |FROM h WHERE hmod < rate_pm
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t13
  /** Context-window chunking: each document cut into 32-token chunks
    * with an 8-token overlap (stride 24) — the RAG/pretraining
    * windowing op. Emits (doc_id, chunk_idx, start/end token offsets,
    * n_tok) plus the chunk's first token as a content spot-check.
    * Narrow: one explode over the chunk-count sequence per row, chunk
    * text sliced in the same codegen stage — no shuffle until the
    * bounded ORDER BY, and chunk count scales with the data, not with
    * a partition key. */
  def chunkOverlap(s: SparkSession, d: String): DataFrame = {
    val Chunk = 32
    val Stride = 24
    val t = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
      .withColumn("n", size(col("tk")))
    // number of chunks so every token is covered: 1 + ceil(max(0, n-C)/S)
    t.withColumn("n_chunks",
        lit(1) + ceil(greatest(lit(0), col("n") - Chunk)
          .cast(DoubleType) / Stride).cast(IntegerType))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * Stride).as("start_tok"),
        least(col("n"), col("chunk_idx") * Stride + Chunk).as("end_tok"),
        element_at(col("tk"), col("chunk_idx") * Stride + 1)
          .as("first_token"))
      .withColumn("n_tok", col("end_tok") - col("start_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val chunkOverlapSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
      |    len(string_split_regex(trim(text), '\s+')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tk, n,
      |    unnest(range(0, 1 + CAST(ceil(GREATEST(0, n - 32) / 24.0) AS INT)))
      |      AS chunk_idx
      |  FROM t)
      |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
      |  CAST(chunk_idx * 24 AS INTEGER) AS start_tok,
      |  CAST(LEAST(n, chunk_idx * 24 + 32) AS INTEGER) AS end_tok,
      |  tk[CAST(chunk_idx * 24 + 1 AS INT)] AS first_token,
      |  CAST(LEAST(n, chunk_idx * 24 + 32) - chunk_idx * 24 AS INTEGER)
      |    AS n_tok
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- t14
  /** PII detection + redaction: email and E.164-ish phone patterns
    * counted and masked with regexp_replace. The corpus carries no PII,
    * so the query injects synthetic contact lines into doc_id%13 rows —
    * same CTE in the oracle — and proves (a) the detector counts them,
    * (b) redaction removes every match, (c) clean docs pass through
    * byte-identical (md5 column). Pure narrow codegen'd maps. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val email = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+[0-9]{7,12}"
    val injected = when(col("doc_id") % 13 === 0,
      concat(col("text"), lit(" contact u"), col("doc_id"),
        lit("@example.com or +1555"), format_string("%04d", col("doc_id") % 10000)))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), injected.as("text"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(email), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phone), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          phone, "<PHONE>").cast("binary")).as("redacted_md5"))
      .withColumn("has_pii",
        when(col("n_emails") + col("n_phones") > 0, 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH inj AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0
      |         THEN text || ' contact u' || doc_id ||
      |              '@example.com or +1555' || format('{:04d}', doc_id % 10000)
      |         ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '\+[0-9]{7,12}')) AS INTEGER)
      |    AS n_phones,
      |  md5(regexp_replace(regexp_replace(text,
      |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |    '\+[0-9]{7,12}', '<PHONE>', 'g')) AS redacted_md5,
      |  CASE WHEN len(regexp_extract_all(text,
      |         '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) +
      |       len(regexp_extract_all(text, '\+[0-9]{7,12}')) > 0
      |       THEN 1 ELSE 0 END AS has_pii
      |FROM inj
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t15
  /** KMV (k-minimum-values) distinct-count sketch: estimate the
    * distinct character-trigram cardinality per language from the
    * k=64 smallest shingle hashes — the mergeable cardinality sketch
    * family (HLL's cousin) but fully DETERMINISTIC, so unlike
    * approx_count_distinct it hash-checks against another engine.
    * est = (k-1)·M / h_k with M = the PolyHash modulus; an under-filled
    * sketch returns the exact count. The exact cardinality rides along
    * to show where the estimate lands (trigram vocab is a few hundred
    * per language here, so the estimator branch genuinely runs).
    *
    * Scale: the (lang, hash) distinct is the only full-width shuffle
    * (same budget as txt07's distinct); the shingle pass is the native
    * codegen'd expression dd03/dd05 already use, the top-k window sees
    * one small sorted slice per language ON the distinct hashes, and
    * at production scale the same sketch folds as a map-side
    * min-k-of-union (each partition keeps its k smallest, merge keeps
    * the k smallest of those) — the property that makes KMV mergeable. */
  def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val K = 64
    val M = 1000000007L
    // raw trigram polyhashes occupy only ~[2k, 126k] (3 bounded
    // codepoints never wrap the modulus) — KMV needs hashes uniform on
    // [0, M), so spread them with the same Knuth-multiplier permutation
    // family the minhash signatures use (a bijection mod the prime)
    val tokHash = Tables.documents(s, d)
      .select(col("lang"),
        explode(call_function("graft_shingle_hashes", col("text"))).as("h0"))
      .select(col("lang"), (col("h0") * 2654435761L + 678L) % M as "h")
      .distinct()
    val w = Window.partitionBy(col("lang")).orderBy(col("h"))
    tokHash
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .groupBy(col("lang"))
      .agg(max(col("h")).as("h_k"), count(lit(1)).as("k_used"))
      .join(tokHash.groupBy(col("lang"))
        .agg(count(lit(1)).as("exact_distinct")), "lang")
      .select(col("lang"), col("k_used"), col("h_k"),
        // under-filled sketch (fewer than K distinct values seen) IS
        // the exact count — the estimator only kicks in at saturation
        when(col("k_used") < K, col("k_used").cast(DoubleType))
          .otherwise((col("k_used") - 1).cast(DoubleType) * M / col("h_k"))
          .as("est_distinct"),
        col("exact_distinct"))
      .orderBy(col("lang"))
  }

  val kmvDistinctSql: String =
    """WITH th AS (
      |  SELECT DISTINCT lang,
      |    (list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(g) + 1),
      |                     i -> CAST(unicode(substr(g, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007) * 2654435761 + 678)
      |      % 1000000007 AS h
      |  FROM (SELECT lang, unnest(list_transform(range(1, LENGTH(text) - 1),
      |                i -> substr(text, CAST(i AS INT), 3))) AS g
      |        FROM documents) t),
      |topk AS (
      |  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
      |  FROM th),
      |sk AS (
      |  SELECT lang, CAST(MAX(h) AS BIGINT) AS h_k, COUNT(*) AS k_used
      |  FROM topk WHERE rn <= 64 GROUP BY lang),
      |ex AS (SELECT lang, COUNT(*) AS exact_distinct FROM th GROUP BY lang)
      |SELECT sk.lang, sk.k_used, sk.h_k,
      |  CASE WHEN sk.k_used < 64 THEN CAST(sk.k_used AS DOUBLE)
      |       ELSE CAST(sk.k_used - 1 AS DOUBLE) * 1000000007 / sk.h_k
      |  END AS est_distinct,
      |  ex.exact_distinct
      |FROM sk JOIN ex ON sk.lang = ex.lang
      |ORDER BY sk.lang""".stripMargin

  // ---------------------------------------------------------------- t16
  /** Model-based quality scoring: a fixed-weight linear model over the
    * txt03 feature vector — the plumbing of classifier-based filtering
    * (the fastText/logreg "quality model" stage of production corpus
    * curation) with the inference step deterministic: the score is a
    * fixed-order chain of double ops both engines evaluate identically,
    * and the keep decision thresholds the LINEAR score (monotone in
    * the sigmoid, so the gate is the same — no transcendental whose
    * last-ulp could differ between engines). Swapping in learned
    * weights (broadcast from a model artifact) changes nothing in the
    * plan: still one narrow codegen'd map. */
  def qualityModel(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopHits =
      size(expr("filter(split(text, ' '), t -> t IN ('the','a','of'))"))
    // w·x + b with hand-set weights: reward lexical diversity and
    // stopword presence, penalize very short docs
    Tables.documents(s, d)
      .select(col("doc_id"), nTok.as("n_tokens"),
        (size(array_distinct(toks)).cast(DoubleType) / nTok)
          .as("unique_ratio"),
        (stopHits.cast(DoubleType) / nTok).as("stopword_ratio"))
      .withColumn("score",
        col("unique_ratio") * 2.0 + col("stopword_ratio") * 4.0 +
          when(col("n_tokens") >= MinTokens, 0.5).otherwise(-1.0) - 1.5)
      .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  val qualityModelSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len($tokensSqlD) AS INTEGER) AS n_tokens,
       |    CAST(len(list_distinct($tokensSqlD)) AS DOUBLE) / len($tokensSqlD)
       |      AS unique_ratio,
       |    CAST(len(list_filter($tokensSqlD, t -> t IN ('the','a','of')))
       |      AS DOUBLE) / len($tokensSqlD) AS stopword_ratio
       |  FROM documents)
       |SELECT doc_id, n_tokens, unique_ratio, stopword_ratio,
       |  unique_ratio * 2.0 + stopword_ratio * 4.0 +
       |    (CASE WHEN n_tokens >= $MinTokens THEN 0.5 ELSE -1.0 END) - 1.5
       |    AS score,
       |  CASE WHEN unique_ratio * 2.0 + stopword_ratio * 4.0 +
       |    (CASE WHEN n_tokens >= $MinTokens THEN 0.5 ELSE -1.0 END) - 1.5 > 0
       |    THEN 1 ELSE 0 END AS keep
       |FROM f
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Domain-mixture reweighting: turn TARGET mixture shares per domain
    * (here: lang — e.g. upsample low-resource languages) into a
    * deterministic per-document repetition plan, the way a
    * mixture-tuned pretraining run materializes its epoch schedule.
    * weight = target_share / actual_token_share; every doc repeats
    * ⌊weight⌋ times plus one more iff its content hash lands under the
    * fractional part (an unbiased, reshuffle-free Bernoulli — same
    * hash-gate family as txt09/txt12, salted so decisions decorrelate).
    *
    * Determinism: token counts and hash gates are integers; shares and
    * weights are SINGLE double divisions/multiplications of exact
    * integers (no accumulation), so both engines compute bit-identical
    * doubles and the ⌊frac·1e6⌋ gate threshold rounds identically.
    *
    * Scale: one pass computes per-lang token totals (5-group agg); the
    * 5-row mixture frame broadcasts back onto the corpus; the epoch
    * decision is map-side; the final rollup is a 5-group agg again —
    * two tiny-key shuffles with map-side partials, nothing wide. */
  def mixtureReweight(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // target shares: flatten English, upsample the low-resource tail;
    // a LEFT join + 0 default (not a map lookup) so a domain outside
    // the mixture spec deterministically gets weight 0 in both engines
    val target = Seq("en" -> 0.30, "de" -> 0.20, "es" -> 0.20,
      "fr" -> 0.15, "zh" -> 0.15).toDF("lang", "share")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tok"))
    val byLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("lang_tok"))
    val total = byLang.agg(sum(col("lang_tok")).cast(LongType).as("total_tok"))
    val mix = byLang.join(broadcast(total))
      .join(broadcast(target), Seq("lang"), "left")
      .withColumn("actual_share",
        col("lang_tok").cast(DoubleType) / col("total_tok"))
      .withColumn("weight",
        coalesce(col("share"), lit(0.0)) / col("actual_share"))
    val gated = docs.join(broadcast(
        mix.select(col("lang"), col("weight"))), "lang")
      .withColumn("base_epochs", floor(col("weight")).cast(LongType))
      .withColumn("frac_gate",
        (pmod(call_function("graft_polyhash",
          concat(lit("mix:"), col("text"))), lit(1000000)) <
          floor((col("weight") - floor(col("weight"))) * 1000000))
          .cast(LongType))
      .withColumn("epochs", col("base_epochs") + col("frac_gate"))
    gated.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("n_tok"),
        max(col("weight")).as("weight"),
        sum(col("epochs")).cast(LongType).as("n_doc_epochs"),
        sum(col("epochs") * col("n_tok")).cast(LongType).as("eff_tok"))
      .orderBy(col("lang"))
  }

  val mixtureReweightSql: String =
    """WITH tgt(lang, share) AS (VALUES
      |  ('en', CAST(0.30 AS DOUBLE)), ('de', CAST(0.20 AS DOUBLE)),
      |  ('es', CAST(0.20 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
      |  ('zh', CAST(0.15 AS DOUBLE))),
      |docs AS (
      |  SELECT doc_id, lang, text,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |by_lang AS (
      |  SELECT lang, COUNT(*) AS n_docs, SUM(n_tok) AS lang_tok
      |  FROM docs GROUP BY lang),
      |mix AS (
      |  SELECT b.lang,
      |    CAST(b.lang_tok AS DOUBLE)
      |      / (SELECT CAST(SUM(lang_tok) AS BIGINT) FROM by_lang) AS actual_share,
      |    COALESCE(t.share, CAST(0 AS DOUBLE)) / (CAST(b.lang_tok AS DOUBLE)
      |      / (SELECT CAST(SUM(lang_tok) AS BIGINT) FROM by_lang)) AS weight
      |  FROM by_lang b LEFT JOIN tgt t ON t.lang = b.lang),
      |gated AS (
      |  SELECT d.lang, d.n_tok, m.weight,
      |    CAST(FLOOR(m.weight) AS BIGINT) +
      |    CASE WHEN
      |      list_reduce([CAST(0 AS BIGINT)] ||
      |        list_transform(range(1, LENGTH('mix:' || d.text) + 1),
      |          i -> CAST(unicode(substr('mix:' || d.text, CAST(i AS INT), 1)) AS BIGINT)),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 1000000
      |      < FLOOR((m.weight - FLOOR(m.weight)) * 1000000)
      |      THEN 1 ELSE 0 END AS epochs
      |  FROM docs d JOIN mix m ON m.lang = d.lang)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tok,
      |  MAX(weight) AS weight,
      |  CAST(SUM(epochs) AS BIGINT) AS n_doc_epochs,
      |  CAST(SUM(epochs * n_tok) AS BIGINT) AS eff_tok
      |FROM gated
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- txt18
  /** Exact φ-heavy hitters (tokens with count·200 > corpus tokens) via
    * distributed Misra–Gries: each partition keeps a bounded k=400
    * counter summary (O(k) memory, one pass), and the UNION of the
    * per-partition survivor sets provably contains every token with
    * global count > n/k — a token absent from partition i's summary has
    * local count < nᵢ/k, which sums to < n/k globally. The exact pass
    * then counts ONLY the broadcast candidate set (map-side semi-join
    * filter before the shuffle), so the full-corpus token groupBy —
    * whose key cardinality is the vocabulary, the thing that OOMs at
    * 100 TB — never happens; the only wide aggregation is over ≤
    * k × partitions candidate tokens. Output is EXACT (the sketch is
    * routing only, same contract as dd10's bloom and the LSH banding):
    * any MG partitioning yields the same answer, pinned by the plain
    * GROUP BY/HAVING oracle. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 400 // 2× the 1/φ=200 bound: safety margin costs only memory
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val candidates = toks.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (counts.contains(t)) counts(t) += 1L
        else if (counts.size < k) counts(t) = 1L
        else { // decrement-all: drop zeros, every survivor pays 1
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counts.keysIterator.foreach { key =>
            if (counts(key) == 1L) dead += key else counts(key) -= 1L
          }
          dead.foreach(counts.remove)
        }
      }
      counts.keysIterator
    }.toDF("tok").distinct()
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(candidates), "tok") // map-side candidate filter
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .where(col("cnt") * 200 > col("n_total"))
      .select(col("tok"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  val heavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |nz AS (SELECT tok FROM toks WHERE tok <> ''),
      |tot AS (SELECT COUNT(*) AS n_total FROM nz)
      |SELECT tok, COUNT(*) AS cnt, (SELECT n_total FROM tot) AS n_total
      |FROM nz
      |GROUP BY tok
      |HAVING COUNT(*) * 200 > (SELECT n_total FROM tot)
      |ORDER BY cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------- txt19
  /** Global curriculum ordinal: every document's 1-based rank under the
    * total order (n_chars DESC, doc_id) — the "assign a global training
    * position to each example" step of curriculum learning and
    * deterministic epoch shuffles.
    *
    * The naive spelling, `row_number() OVER (ORDER BY ...)`, funnels
    * the whole corpus through ONE task (Exchange SinglePartition) —
    * the canonical at-scale anti-pattern. This is the two-level
    * spelling instead, on the same deterministic value-bucket idiom as
    * the ob09/ob14/ob18 scans: (1) bucket each row by a VALUE range of
    * the leading sort key (`n_chars div W` — not repartitionByRange,
    * whose SAMPLED boundaries could differ between the two
    * materializations of the frame and misalign the offsets);
    * (2) count rows per bucket — a metadata-sized aggregate — and
    * cumulate counts of strictly-better buckets into per-bucket
    * offsets; (3) rank WITHIN each bucket (windows partitioned by
    * bucket run fully parallel) and add the broadcast offset. No stage
    * touches more than one bucket's rows; the offsets window is
    * single-partition but over bucket-count rows (metadata scale).
    * Oracle = the naive one-partition spelling. */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val W = 64 // chars per bucket; at 100 TB derive from a histogram
    val rows = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("bucket", expr(s"n_chars div $W"))
    val offsets = rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    rows.join(broadcast(offsets), "bucket")
      .withColumn("ord",
        row_number().over(wLocal).cast(LongType) + col("offset"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("ord"))
      .orderBy(col("ord"))
  }

  val curriculumOrderSql: String =
    """SELECT doc_id, lang, n_chars,
      |  ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS ord
      |FROM documents
      |ORDER BY ord""".stripMargin

  // ---------------------------------------------------------------- txt20
  /** Cross-corpus n-gram NOVELTY scoring: for each document, the
    * fraction of its distinct word-5-grams appearing in NO earlier
    * document (doc_id order = ingestion order) — the "how much does
    * this example add" signal dedup-aware curation ranks on (a doc
    * that's 90% old grams is boilerplate even if no single source
    * matches it; dd03/dd05 can't see that because no PAIR crosses
    * their threshold).
    *
    * Scale shape: explode to distinct (doc_id, gram) rows (dd08's
    * spelling), ONE groupBy(gram).min(doc_id) — the shuffle key is the
    * gram, cardinality grows with the corpus — and one gram-keyed
    * equi-join back; per-doc novelty is then a doc_id-keyed hash-agg.
    * Nothing pairwise, nothing broadcast-sized: the canonical
    * big-big-join-on-content-key plan, 3 shuffles total at any corpus
    * size. */
  def noveltyScore(s: SparkSession, d: String): DataFrame = {
    val grams = graft.dedup.Dedup.wordGrams(Tables.documents(s, d))
    val firstSeen = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams"))
      .orderBy(col("doc_id"))
  }

  val noveltyScoreSql: String =
    """WITH tg AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id, unnest(list_transform(
      |        range(1, len(string_split_regex(trim(text), '\s+')) - 3),
      |        i -> array_to_string(string_split_regex(trim(text), '\s+')
      |               [CAST(i AS INT):CAST(i AS INT) + 4], ' '))) AS gram
      |    FROM documents
      |    WHERE len(string_split_regex(trim(text), '\s+')) >= 5) t),
      |fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM tg GROUP BY gram)
      |SELECT tg.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN fs.first_doc = tg.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN fs.first_doc = tg.doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS novelty
      |FROM tg JOIN fs ON fs.gram = tg.gram
      |GROUP BY tg.doc_id
      |ORDER BY tg.doc_id""".stripMargin

  // ---------------------------------------------------------------- txt21
  /** Zipf-law fit over the corpus frequency head: least-squares slope /
    * intercept / R² of ln(freq) vs ln(rank) for the top-100 tokens —
    * the corpus-health diagnostic (natural text ⇒ slope ≈ −1; template
    * spam bends the head, OCR noise fattens the tail) that curation
    * dashboards track per snapshot.
    *
    * Scale + determinism shape: token counts are ONE hash-agg shuffle
    * (exact BIGINT); the head is `orderBy.limit(100)` — a map-side
    * partial top-k (TakeOrderedAndProject), never a vocabulary-wide
    * sort — and the rank window only ever sees those ≤100 rows. The
    * regression is NOT regr_slope: streaming-covariance aggregates are
    * merge-order-dependent in the last double bits, so equal answers
    * across engines (and across Spark runs) aren't guaranteed. Instead
    * the per-row points round to DECIMAL(28,6) (deterministic given
    * the same libm doubles), the moment sums Σx Σy Σxy Σx² Σy² run in
    * EXACT decimal arithmetic (order-independent — also what makes the
    * map-side partials safe), and the closed-form slope/intercept/R²
    * are a fixed-shape double expression over those six exact scalars
    * — bit-identical on any engine that agrees on ln of the same 100
    * integers. */
  def zipfSlope(s: SparkSession, d: String): DataFrame = {
    val d10 = org.apache.spark.sql.types.DecimalType(28, 6)  // 1e-6 ln grid (txt30 lesson)
    val d12 = org.apache.spark.sql.types.DecimalType(28, 12)
    val freq = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val top = freq.orderBy(col("cnt").desc, col("token")).limit(100)
    // rank window is bounded by the LIMIT above — ≤100 rows, one task
    val w = Window.orderBy(col("cnt").desc, col("token"))
    val pts = top.withColumn("r", row_number().over(w))
      .select(log(col("r").cast(DoubleType)).cast(d10).as("x"),
        log(col("cnt").cast(DoubleType)).cast(d10).as("y"))
    val m = pts
      .select(col("x"), col("y"),
        (col("x").cast(DoubleType) * col("y").cast(DoubleType))
          .cast(d12).as("xy"),
        (col("x").cast(DoubleType) * col("x").cast(DoubleType))
          .cast(d12).as("xx"),
        (col("y").cast(DoubleType) * col("y").cast(DoubleType))
          .cast(d12).as("yy"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum(col("xy")).cast(DoubleType).as("sxy"),
        sum(col("xx")).cast(DoubleType).as("sxx"),
        sum(col("yy")).cast(DoubleType).as("syy"))
    m.select(col("n").cast(LongType).as("n_terms"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
      ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
        col("n")).as("intercept"),
      (((col("n") * col("sxy") - col("sx") * col("sy")) *
        (col("n") * col("sxy") - col("sx") * col("sy"))) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
         (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  val zipfSlopeSql: String =
    """WITH freq AS (
      |  SELECT t AS token, COUNT(*) AS cnt FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
      |    FROM documents) u
      |  WHERE t <> '' GROUP BY t),
      |top AS (SELECT token, cnt FROM freq
      |        ORDER BY cnt DESC, token LIMIT 100),
      |ranked AS (SELECT cnt,
      |    ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS r FROM top),
      |pts AS (SELECT CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(28,6)) AS x,
      |               CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(28,6)) AS y
      |        FROM ranked),
      |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS syy
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_terms,
      |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
      |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
      |    AS intercept,
      |  ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |    ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- txt22
  /** Per-document token ENTROPY: Shannon entropy of the token
    * histogram, plus the ln(n_unique)-normalized efficiency — the
    * information-density quality signal that separates natural text
    * (high entropy) from templated/repetitive spam (low) where raw
    * repetition ratios (txt11) only see the single worst token.
    *
    * Map-only: one codegen'd column expression per row, no shuffle at
    * any corpus size. Engine parity: the histogram folds over the
    * SORTED distinct token list (fixed fold order ⇒ deterministic
    * double sums), and every ln() passes through a DECIMAL(28,6)
    * quantization — the txt21 lesson, relearned — and the GRID is 1e-6, not 1e-10, per the txt30 lesson (a finer grid lets 1-ulp libm flips through at vocabulary scale): JVM Math.log and
    * libm CAN disagree by 1 ulp, and a raw ln in the term flunked the
    * exact-equality gate exactly once in 500 docs. Counts and sizes
    * are exact ints; each term is the same expression shape on both
    * sides. */
  def tokenEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_unique"),
        expr("""aggregate(
          |  transform(array_sort(array_distinct(tk)),
          |    t -> size(filter(tk, x -> x = t))),
          |  0D, (acc, c) ->
          |    acc - (cast(c as double) / size(tk))
          |        * cast(cast(ln(cast(c as double) / size(tk))
          |               as decimal(28,6)) as double))""".stripMargin)
          .as("entropy"))
      .withColumn("efficiency",
        when(col("n_unique") > 1,
          col("entropy") /
            log(col("n_unique").cast(DoubleType))
              .cast(org.apache.spark.sql.types.DecimalType(28, 6))
              .cast(DoubleType))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))

  val tokenEntropySql: String =
    s"""SELECT doc_id,
      |  CAST(len($tokensSqlD) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct($tokensSqlD)) AS INTEGER) AS n_unique,
      |  list_reduce([CAST(0 AS DOUBLE)] ||
      |    list_transform(list_sort(list_distinct($tokensSqlD)),
      |      t -> len(list_filter($tokensSqlD, x -> x = t))),
      |    (acc, c) ->
      |      acc - (CAST(c AS DOUBLE) / len($tokensSqlD))
      |          * CAST(CAST(ln(CAST(c AS DOUBLE) / len($tokensSqlD))
      |                 AS DECIMAL(28,6)) AS DOUBLE)) AS entropy,
      |  CASE WHEN len(list_distinct($tokensSqlD)) > 1 THEN
      |    (list_reduce([CAST(0 AS DOUBLE)] ||
      |      list_transform(list_sort(list_distinct($tokensSqlD)),
      |        t -> len(list_filter($tokensSqlD, x -> x = t))),
      |      (acc, c) ->
      |        acc - (CAST(c AS DOUBLE) / len($tokensSqlD))
      |            * CAST(CAST(ln(CAST(c AS DOUBLE) / len($tokensSqlD))
      |                   AS DECIMAL(28,6)) AS DOUBLE)))
      |    / CAST(CAST(ln(CAST(len(list_distinct($tokensSqlD)) AS DOUBLE))
      |           AS DECIMAL(28,6)) AS DOUBLE)
      |  ELSE 0.0 END AS efficiency
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- txt23
  /** Source-mix DIVERSITY audit — the per-provenance report a curation
    * run publishes next to txt17's mixture plan: per source, document
    * and language counts, the dominant language with its share, and
    * total characters. One (source, lang) hash aggregate (content-
    * keyed, grows with the corpus) reduced to per-source rows by the
    * lexicographic `min(struct(-cnt, lang))` argmax; shares are
    * integer ratios divided once, so the doubles are engine-identical
    * without any entropy/ln machinery. */
  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val byLang = Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    byLang.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("n")).as("nc"), col("lang").as("lang"))).as("w"),
        sum(col("chars")).as("total_chars"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("w.lang").as("top_lang"),
        ((-col("w.nc")).cast(DoubleType) / col("n_docs"))
          .as("top_lang_share"),
        col("total_chars"))
      .orderBy(col("source"))
  }

  val sourceMixSql: String =
    """WITH bl AS (
      |  SELECT source, lang, COUNT(*) AS n, SUM(n_chars) AS chars
      |  FROM documents GROUP BY source, lang),
      |top AS (
      |  SELECT source, lang AS top_lang, n AS top_n FROM (
      |    SELECT source, lang, n,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY n DESC, lang) AS rn
      |    FROM bl) t WHERE rn = 1)
      |SELECT b.source, CAST(SUM(b.n) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_langs, MAX(t.top_lang) AS top_lang,
      |  CAST(MAX(t.top_n) AS DOUBLE) / SUM(b.n) AS top_lang_share,
      |  CAST(SUM(b.chars) AS BIGINT) AS total_chars
      |FROM bl b JOIN top t USING (source)
      |GROUP BY b.source
      |ORDER BY b.source""".stripMargin

  // ---------------------------------------------------------------- txt24
  /** Split-LEAKAGE audit — the hygiene report run after txt09's
    * hash-mod split and before anyone trusts a val/test metric: for
    * each held-out split, how much of its word-5-gram mass also
    * appears in train. Content-hash splitting guarantees a DOCUMENT
    * never crosses splits, but says nothing about shared boilerplate
    * or re-posted passages — exactly what this measures (dd08
    * decontaminates against an EXTERNAL eval set; this audits the
    * internal split boundary). Per held-out split: gram-bearing doc
    * count, docs with any leaked gram, total/leaked gram counts, and
    * the aggregate leak fraction (one division — no mean-of-ratios
    * float accumulation). Shape: one gram-keyed semi-join against the
    * distinct train grams (content-key cardinality, grows with the
    * corpus) + doc-keyed aggregates; nothing pairwise. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val h = pmod(call_function("graft_polyhash", col("text")), lit(100))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
          .as("split"))
    val g = graft.dedup.Dedup.wordGrams(docs)
      .join(docs.select(col("doc_id"), col("split")), "doc_id")
    val trainGrams = g.where(col("split") === "train")
      .select(col("gram")).distinct()
    val ev = g.where(col("split") =!= "train")
    val perDoc = ev
      .join(trainGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("leaked"))
    ev.groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("leaked", coalesce(col("leaked"), lit(0L)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("leaked") > 0, 1L).otherwise(0L)).as("n_docs_leaked"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("leaked")).as("n_leaked"))
      .withColumn("leak_frac",
        col("n_leaked").cast(DoubleType) / col("n_grams"))
      .orderBy(col("split"))
  }

  val splitLeakageSql: String =
    """WITH sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN list_reduce([CAST(0 AS BIGINT)] ||
      |        list_transform(range(1, LENGTH(text) + 1),
      |          i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80 THEN 'train'
      |      WHEN list_reduce([CAST(0 AS BIGINT)] ||
      |        list_transform(range(1, LENGTH(text) + 1),
      |          i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 100 < 90 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM documents),
      |tg AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id, unnest(list_transform(
      |        range(1, len(string_split_regex(trim(text), '\s+')) - 3),
      |        i -> array_to_string(string_split_regex(trim(text), '\s+')
      |               [CAST(i AS INT):CAST(i AS INT) + 4], ' '))) AS gram
      |    FROM documents
      |    WHERE len(string_split_regex(trim(text), '\s+')) >= 5) t),
      |g AS (SELECT tg.doc_id, tg.gram, sp.split
      |      FROM tg JOIN sp USING (doc_id)),
      |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
      |pd AS (
      |  SELECT doc_id, split, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN gram IN (SELECT gram FROM tr)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS leaked
      |  FROM g WHERE split <> 'train'
      |  GROUP BY doc_id, split)
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN leaked > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_docs_leaked,
      |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
      |  CAST(SUM(leaked) AS BIGINT) AS n_leaked,
      |  CAST(SUM(leaked) AS DOUBLE) / SUM(n_grams) AS leak_frac
      |FROM pd
      |GROUP BY split
      |ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- txt25
  /** Corpus-unigram NLL — the "LM-lite" quality signal: each
    * document's mean token surprisal −Σ ln p(t) / n under the CORPUS
    * unigram distribution (txt22's entropy is per-doc self-information;
    * this scores against the corpus — boilerplate full of globally
    * common tokens scores low, lexically unusual docs high, the
    * ranking a real LM-perplexity filter approximates at 1/1000th the
    * cost). Shape: one token-keyed count shuffle (vocabulary-sized,
    * grows with the corpus), a scalar total broadcast, one token-keyed
    * join back, one doc-keyed aggregate. Parity: each ln passes
    * through the DECIMAL(28,6) quantization (the txt21/txt22 1-ulp
    * lesson) and the per-doc sum runs IN DECIMAL — exact and
    * order-independent, so map-side partials are safe AND
    * engine-identical; the only double op is the final division. */
  def unigramNll(s: SparkSession, d: String): DataFrame = {
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)  // 1e-6 ln grid (txt30 lesson)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens).as("token"))
      .where(length(col("token")) > 0)
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val lnp = counts.crossJoin(broadcast(total))
      .select(col("token"),
        log(col("cnt").cast(DoubleType) / col("n_total").cast(DoubleType))
          .cast(dec28).as("lnp"))
    toks.join(lnp, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lnp")).as("sum_lnp"))
      .select(col("doc_id"), col("n_tokens"),
        (-col("sum_lnp").cast(DoubleType) / col("n_tokens")).as("nll"))
      .orderBy(col("doc_id"))
  }

  val unigramNllSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, t.token FROM documents,
      |    unnest($tokensSqlD) AS t(token)
      |  WHERE LENGTH(t.token) > 0),
      |cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |tot AS (SELECT SUM(cnt) AS n_total FROM cnts),
      |lnp AS (
      |  SELECT token,
      |    CAST(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE))
      |      AS DECIMAL(28,6)) AS lnp
      |  FROM cnts, tot)
      |SELECT tok.doc_id, COUNT(*) AS n_tokens,
      |  -CAST(SUM(l.lnp) AS DOUBLE) / COUNT(*) AS nll
      |FROM tok JOIN lnp l USING (token)
      |GROUP BY tok.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  // ---------------------------------------------------------------- txt26
  /** BOILERPLATE-PASSAGE STRIP audit — the corpus-level duplicate-line
    * removal of the CCNet/RefinedWeb pipelines, adapted to this
    * corpus's unpunctuated texts: non-overlapping 8-token windows play
    * the role of lines, a window whose digest appears in ≥ 2 DISTINCT
    * documents is boilerplate (template headers/footers whole-document
    * hashing can't see — dd12 catches only the shared HEAD; this scans
    * the whole body), and each document reports how much of it
    * survives. kept_frac is one double division of exact counts.
    *
    * Scale: windows shuffle as 32-char digests, never text; the
    * boilerplate set GROWS with the corpus, so it attaches by a
    * digest-keyed join (left + flag), not a broadcast — the same
    * non-broadcastable-verdict regime as dd10, decided by AQE at
    * runtime rather than pinned small. */
  def boilerplateStrip(s: SparkSession, d: String): DataFrame = {
    val wins = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(
        """transform(
             sequence(0, cast(floor((size(split(text, ' ')) - 1) / 8) as int)),
             i -> md5(cast(array_join(slice(split(text, ' '), i * 8 + 1, 8), ' ')
                           as binary)))""")).as("dg"))
    val bp = wins.groupBy(col("dg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("dg"), lit(1L).as("is_bp"))
    wins.join(bp, Seq("dg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("is_bp"), lit(0L))).as("n_dropped"))
      .select(col("doc_id"), col("n_windows"), col("n_dropped"),
        ((col("n_windows") - col("n_dropped")).cast(DoubleType) /
          col("n_windows").cast(DoubleType)).as("kept_frac"))
      .orderBy(col("doc_id"))
  }

  val boilerplateStripSql: String =
    """WITH bs_toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bs_win AS (
      |  SELECT doc_id,
      |    md5(array_to_string(
      |      list_slice(t, CAST(i * 8 + 1 AS BIGINT), CAST(i * 8 + 8 AS BIGINT)),
      |      ' ')) AS dg
      |  FROM bs_toks,
      |    unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)),
      |bs_bp AS (
      |  SELECT dg FROM bs_win GROUP BY dg
      |  HAVING COUNT(DISTINCT doc_id) >= 2)
      |SELECT w.doc_id, COUNT(*) AS n_windows,
      |  CAST(SUM(CASE WHEN b.dg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(COUNT(*) - SUM(CASE WHEN b.dg IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS kept_frac
      |FROM bs_win w LEFT JOIN bs_bp b ON w.dg = b.dg
      |GROUP BY w.doc_id
      |ORDER BY w.doc_id""".stripMargin

  // ---------------------------------------------------------------- t27
  /** txt27 — TOKENIZER FERTILITY audit per language: subword units per
    * pretoken under a REAL greedy BPE encoder, the number every
    * token-budget plan needs before committing a corpus mix (a language
    * at fertility 2.3 costs 2.3× its word count in context window).
    * The tokenizer is the TRAINED merge table applied for real: txt46's
    * multi-round BPE loop ([[bpeTrain]], [[FertilityMerges]] rounds —
    * the r17 verdict's ask; the round-0 candidate list this consumed
    * before is now disclosed history), applied to every pretoken in
    * round order, each merge rewriting ALL its non-overlapping
    * occurrences leftmost-first — classic BPE encoding-by-replay. The
    * rewrite trick keeps it declarative AND exact: round k's merge
    * replaces its 2-symbol pair with the single out-of-alphabet char
    * chr(127+k) (pretokens are [a-z0-9]; the corpus is pinned ASCII),
    * and since every earlier merge output is itself one placeholder
    * char, EVERY pattern is exactly 2 chars — a fold of codegen'd
    * `replace` calls IS the encoder and the final string length IS the
    * subword count. Unlike the round-0 list, trained patterns DO
    * contain earlier placeholders — that is what lets "the"-like
    * 3-char subwords emerge from two rounds.
    *
    * Scale: the merge table is a training ARTIFACT — [[bpeTrain]]'s
    * vocab-collapsed loop (Heaps-law sublinear, never the corpus) —
    * entering the plan as a LITERAL array; the encode is one codegen'd
    * map stage, one |languages|-cardinality hash aggregate with
    * map-side partials; no explode — the per-doc fold happens inside a
    * single projection. */
  def tokenFertility(s: SparkSession, d: String): DataFrame = {
    val pre = "'[a-z]+|[0-9]+', 0"
    val ms = bpeTrain(s, d, FertilityMerges)
      .map { case (k, pair, _, _, _) => pair + (127 + k).toChar }
    // a pair-dry corpus trains ZERO merges (bpeTrainOn tolerates it);
    // array() of nothing is ArrayType(NullType), which would fail the
    // fold's substring analysis — degrade to the identity encode
    // (subword count = raw token length) instead
    val encTok: Column => Column =
      if (ms.isEmpty) tk => length(tk)
      else {
        val msCol = array(ms.map(lit): _*)
        tk => length(aggregate(msCol, tk,
          (acc, m) => call_function("replace", acc,
            substring(m, 1, 2), substring(m, 3, 1))))
      }
    Tables.documents(s, d)
      .select(col("lang"),
        size(expr(s"regexp_extract_all(text, $pre)")).cast(LongType).as("w"),
        aggregate(expr(s"regexp_extract_all(text, $pre)"), lit(0L),
          (a, tk) => a + encTok(tk)).as("sw"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("sw")).as("n_subwords"))
      // a language whose docs carry NO [a-z0-9] pretokens (degenerate
      // corpora — EdgeDocsSpec) has no defined fertility: NULL, not a
      // 0-division (ANSI) — the oracle spells the same CASE
      .withColumn("fertility",
        when(col("n_words") > 0,
          col("n_subwords").cast(DoubleType) / col("n_words").cast(DoubleType)))
      .orderBy(col("lang"))
  }

  val tokenFertilitySql: String = bpeRoundCtes(FertilityMerges) + s""",
      |merges AS (SELECT [${(1 to FertilityMerges).map(k =>
          s"(SELECT pair || chr(${127 + k}) FROM b$k)").mkString(", ")}]
      |  AS ms),
      |tf AS (
      |  SELECT lang,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS w,
      |    CAST(COALESCE(list_sum(list_transform(
      |      regexp_extract_all(text, '[a-z]+|[0-9]+'),
      |      tk -> length(list_reduce(list_prepend(tk, ms),
      |        (acc, m) -> replace(acc, m[1:2], m[3:3]))))), 0) AS BIGINT) AS sw
      |  FROM documents, merges)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS n_words,
      |  CAST(SUM(sw) AS BIGINT) AS n_subwords,
      |  CASE WHEN SUM(w) > 0
      |    THEN CAST(SUM(sw) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
      |  END AS fertility
      |FROM tf GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- txt28
  /** txt28 — BIGRAM conditional NLL ("LM-lite", order-aware): txt25
    * scores each doc against the corpus UNIGRAM distribution, which is
    * blind to word order — shuffled gibberish scores identically to
    * prose. This upgrades the model one Markov order: per doc, the
    * mean −ln P(w_i | w_{i−1}) under the corpus bigram model
    * (P(b|a) = c(a,b) / Σ_x c(a,x)), the cheapest signal that actually
    * penalizes scrambled or template-stitched text. No smoothing
    * needed: the corpus scores itself, so every doc bigram has
    * positive count by construction.
    *
    * Shape: bigram extraction is ONE codegen'd projection —
    * `transform(sequence(…), i -> struct(t[i-1], t[i]))` + explode —
    * no positional self-join, no per-doc window sort; then a
    * bigram-keyed count shuffle (vocabulary², grows with the corpus),
    * a context-keyed (w1) partial re-aggregate for the denominators,
    * one bigram-keyed join back, one doc-keyed aggregate. Parity: ln
    * through the DECIMAL(28,6) quantization, per-doc sums IN DECIMAL
    * (order-independent ⇒ map-side partials safe and engine-identical),
    * final division the only double op — the txt25 recipe one order
    * up. Single-token docs have no bigram and drop (inner join),
    * mirrored by the oracle. */
  def bigramNll(s: SparkSession, d: String): DataFrame = {
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)  // 1e-6 ln grid (txt30 lesson)
    val bigrams = Tables.documents(s, d)
      // materialize the token array ONCE before the lambda: a
      // `split(text)[i]` inside the transform re-splits the whole text
      // per element — O(len²) per doc, measured 6× the whole query
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // single-token doc guard: Spark's sequence(1, 0) would DESCEND
      // (default step -1) instead of returning empty like DuckDB's
      // generate_series — docs without a bigram must not reach it
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
             i -> struct(t[i - 1] AS w1, t[i] AS w2))""")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val lnp = c2.join(c1, "w1")
      .select(col("w1"), col("w2"),
        log(col("c2").cast(DoubleType) / col("c1").cast(DoubleType))
          .cast(dec28).as("lnp"))
    bigrams.join(lnp, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lnp")).as("sum_lnp"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("sum_lnp").cast(DoubleType) / col("n_bigrams")).as("bigram_nll"))
      .orderBy(col("doc_id"))
  }

  val bigramNllSql: String =
    s"""WITH bt AS (
      |  SELECT doc_id, $tokensSqlD AS t FROM documents),
      |bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM bt, unnest(generate_series(1, len(t) - 1)) AS g(i)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
      |lnp AS (
      |  SELECT c2.w1, c2.w2,
      |    CAST(ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
      |      AS DECIMAL(28,6)) AS lnp
      |  FROM c2 JOIN c1 USING (w1))
      |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      |  -CAST(SUM(l.lnp) AS DOUBLE) / COUNT(*) AS bigram_nll
      |FROM bg JOIN lnp l ON l.w1 = bg.w1 AND l.w2 = bg.w2
      |GROUP BY bg.doc_id
      |ORDER BY bg.doc_id""".stripMargin

  // ---------------------------------------------------------------- txt29
  /** txt29 — BPE-style PRE-TOKENIZATION audit: the GPT-2 lineage of
    * tokenizers first splits text with a regex (letter runs / digit
    * runs / punctuation runs) and only then byte-pair-merges inside
    * each piece — so the regex piece count, not the whitespace word
    * count, is the unit a token-budget plan should price (txt27's
    * fertility measures subwords per word; this measures the split
    * BEFORE subwording). Per language: docs, whitespace words, regex
    * pieces, and pieces-per-word — all from one `regexp_extract_all`
    * evaluated map-side in codegen into a |lang|-cardinality hash
    * aggregate. The pattern stays in the char-class + alternation
    * subset where Java and RE2 regex agree, same contract as q59. */
  def bpePretokens(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("lang"),
        size(expr(
          "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
          .as("n_pieces"),
        size(expr("filter(split(text, ' '), x -> length(x) > 0)"))
          .as("n_words"))
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast(LongType)).as("n_words"),
        sum(col("n_pieces").cast(LongType)).as("n_pieces"))
      .withColumn("pieces_per_word",
        // a language slice of empty/whitespace-only docs has zero
        // words — NULL, not an ANSI divide-by-zero abort
        when(col("n_words") > 0,
          col("n_pieces").cast(DoubleType) / col("n_words").cast(DoubleType)))
      .orderBy(col("lang"))
  }

  val bpePretokensSql: String =
    """WITH t AS (
      |  SELECT lang,
      |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+'))
      |      AS n_pieces,
      |    len(list_filter(string_split(text, ' '), x -> LENGTH(x) > 0))
      |      AS n_words
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS n_words,
      |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
      |  CASE WHEN SUM(n_words) > 0
      |       THEN CAST(SUM(n_pieces) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
      |       END AS pieces_per_word
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- txt30
  /** txt30 — SOURCE-DRIFT audit: KL divergence of each provenance
    * slice's token distribution from the corpus distribution —
    * KL(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * distribution-shift number a curation pipeline tracks per source
    * and per crawl snapshot (a source whose KL jumps changed its
    * content mix; txt23 counts WHAT languages a source has, this
    * measures HOW FAR its usage drifts). p_c > 0 wherever p_s > 0 by
    * construction (the corpus contains the source), so no smoothing.
    *
    * Shape: one (source, token) count shuffle; corpus counts
    * RE-AGGREGATE from it (op09's reuse shape — the vocabulary never
    * shuffles twice); totals broadcast; one token-keyed join back; one
    * per-source decimal sum. Parity: the ln DIFFERENCE is quantized
    * ONCE at DECIMAL(18,6) (quantizing the two lns separately at
    * finer scales re-opens the double-rounding divergence this family
    * exists to avoid), the summed term is the EXACT decimal product
    * c_st · round(ln p_s − ln p_c) — DECIMAL(18,6)×DECIMAL(19,0) =
    * DECIMAL(38,6), exact and order-independent in both engines —
    * and the only double ops are the ln inputs and the final
    * normalization by the source's token count. */
  def sourceDrift(s: SparkSession, d: String): DataFrame = {
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 6)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val st = Tables.documents(s, d)
      .select(col("source"), explode(tokens).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_ct"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val nc = ct.agg(sum(col("c_ct")).as("n_c"))
    st.join(ct, "token")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nc))
      .select(col("source"), col("n_s"),
        // ONE quantization of the ln DIFFERENCE at 1e-6: a 1-ulp libm
        // disagreement flips a 1e-10 grid cell with probability ~2e-6
        // per term — near-certain somewhere in a vocabulary-sized sum
        // (measured: 3e-13 relative drift at sf0.01) — while the 1e-6
        // grid makes a flip ~1e-10 per term and costs the audit nothing
        (col("c_st").cast(dec19) *
          (log(col("c_st").cast(DoubleType) / col("n_s").cast(DoubleType)) -
           log(col("c_ct").cast(DoubleType) / col("n_c").cast(DoubleType)))
            .cast(dec18)).as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term")).as("t_sum"))
      .select(col("source"), col("n_tokens"),
        (col("t_sum").cast(DoubleType) / col("n_tokens")).as("kl"))
      .orderBy(col("source"))
  }

  val sourceDriftSql: String =
    s"""WITH tok AS (
      |  SELECT source, t.token FROM documents,
      |    unnest($tokensSqlD) AS t(token)
      |  WHERE LENGTH(t.token) > 0),
      |st AS (SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
      |ct AS (SELECT token, SUM(c_st) AS c_ct FROM st GROUP BY token),
      |ns AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
      |nc AS (SELECT SUM(c_ct) AS n_c FROM ct),
      |terms AS (
      |  SELECT st.source, ns.n_s,
      |    CAST(st.c_st AS DECIMAL(19,0)) *
      |      CAST(ln(CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE)) -
      |           ln(CAST(ct.c_ct AS DOUBLE) / CAST(nc.n_c AS DOUBLE))
      |        AS DECIMAL(18,6)) AS term
      |  FROM st JOIN ct USING (token) JOIN ns USING (source), nc)
      |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
      |  CAST(SUM(term) AS DOUBLE) / CAST(MAX(n_s) AS BIGINT) AS kl
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- txt31
  /** txt31 — HEAPS'-LAW fit: vocabulary growth V(n) ≈ K·n^β across the
    * accumulating corpus (docs in ingestion order) — the corpus
    * statistic that PREDICTS what txt21's Zipf head only describes:
    * β near the corpus's own fit says how fast new tokens (and OOV
    * rate, and vocabulary-keyed state) keep growing at 100× the data.
    *
    * Scale shape: "cumulative distinct" is NOT computed by scanning
    * prefixes — each token reduces to its FIRST-SEEN doc (one
    * vocabulary-keyed min), first-seens histogram into ~20 doc
    * buckets, and the cumulative sum runs over ≤ 21 metadata-sized
    * rows (txt21's head regime). The ln-ln least squares reuses the
    * txt21 recipe exactly: DECIMAL(28,6)-quantized point coordinates
    * (1e-6 grid per the txt30 lesson), EXACT decimal moment sums,
    * closed-form β / ln K / R² as one fixed-shape double expression. */
  def heapsFit(s: SparkSession, d: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(28, 6)
    val d12 = org.apache.spark.sql.types.DecimalType(28, 12)
    // CHARACTER 3-grams, not whitespace tokens: the growth unit must
    // be fine enough to still be growing on this corpus's tiny
    // synthetic vocabulary; on a real crawl either unit works
    val grams = Tables.documents(s, d)
      .where(length(col("text")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, length(text) - 2),
             i -> substring(text, i, 3))""")).as("gram"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val firstSeen = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    // LOG-spaced prefixes (bucket b covers docs < 2^(b+1)): early
    // growth gets resolution, the point count is ~log2(n_docs) at ANY
    // scale — the cumulative window below never outgrows ~40 rows.
    // floor(log2) is boundary-safe: log2 of a power of two is exact
    // in IEEE, and off-power inputs sit far beyond one ulp from an
    // integer until ~2^50 docs
    val perBucket = firstSeen
      .groupBy(floor(log2(col("first_doc") + 1)).cast(LongType)
        .as("bucket"))
      .agg(count(lit(1)).as("new_vocab"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = perBucket.crossJoin(broadcast(nDocs))
      .withColumn("vocab_cum", sum(col("new_vocab")).over(w))
      .withColumn("docs_cum",
        least(expr("shiftleft(1L, cast(bucket + 1 as int)) - 1"),
          col("n_docs")))
      .select(
        log(col("docs_cum").cast(DoubleType)).cast(d6).as("x"),
        log(col("vocab_cum").cast(DoubleType)).cast(d6).as("y"))
    val m = pts
      .select(col("x"), col("y"),
        (col("x").cast(DoubleType) * col("y").cast(DoubleType))
          .cast(d12).as("xy"),
        (col("x").cast(DoubleType) * col("x").cast(DoubleType))
          .cast(d12).as("xx"),
        (col("y").cast(DoubleType) * col("y").cast(DoubleType))
          .cast(d12).as("yy"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum(col("xy")).cast(DoubleType).as("sxy"),
        sum(col("xx")).cast(DoubleType).as("sxx"),
        sum(col("yy")).cast(DoubleType).as("syy"))
    // a saturated corpus (all vocabulary first-seen in one bucket —
    // this synthetic corpus's 31-token vocab does exactly that) leaves
    // a single point: the fit is undefined, reported as NULLs next to
    // the honest n_points rather than an ANSI divide-by-zero abort
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val den2 = col("n") * col("syy") - col("sy") * col("sy")
    val beta = (col("n") * col("sxy") - col("sx") * col("sy")) / den
    m.select(col("n").cast(LongType).as("n_points"),
      when(den =!= 0d, beta).as("beta"),
      when(den =!= 0d,
        (col("sy") - beta * col("sx")) / col("n")).as("ln_k"),
      when(den =!= 0d && den2 =!= 0d,
        ((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
          (den * den2)).as("r2"))
  }

  val heapsFitSql: String =
    s"""WITH hf_g AS (
      |  SELECT doc_id, substring(text, CAST(i AS INT), 3) AS gram
      |  FROM documents, unnest(range(1, LENGTH(text) - 1)) AS u(i)
      |  WHERE LENGTH(text) >= 3),
      |hf_nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |hf_fs AS (
      |  SELECT gram, MIN(doc_id) AS first_doc FROM hf_g
      |  GROUP BY gram),
      |hf_pb AS (
      |  SELECT CAST(floor(log2(first_doc + 1)) AS BIGINT) AS bucket,
      |    COUNT(*) AS new_vocab
      |  FROM hf_fs GROUP BY 1),
      |hf_pts AS (
      |  SELECT
      |    CAST(ln(CAST(least((CAST(1 AS BIGINT) << CAST(bucket + 1 AS INT)) - 1,
      |      n_docs) AS DOUBLE)) AS DECIMAL(28,6)) AS x,
      |    CAST(ln(CAST(SUM(new_vocab) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE)) AS DECIMAL(28,6)) AS y
      |  FROM hf_pb, hf_nd),
      |hf_m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS syy
      |  FROM hf_pts)
      |SELECT CAST(n AS BIGINT) AS n_points,
      |  CASE WHEN n * sxx - sx * sx <> 0 THEN
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS beta,
      |  CASE WHEN n * sxx - sx * sx <> 0 THEN
      |    (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
      |  END AS ln_k,
      |  CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
      |    ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |      ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
      |FROM hf_m""".stripMargin

  // ---------------------------------------------------------------- txt32
  /** txt32 — KMV SET-OPERATION sketches: estimated vocabulary UNION,
    * INTERSECTION, and Jaccard for every SOURCE PAIR from per-source
    * k-minimum-values sketches — the theta-sketch family's core trick,
    * which Spark's own approx machinery (HLL-based
    * `approx_count_distinct`) cannot do at all (HLL unions but never
    * intersects). The curation question it answers: which sources
    * overlap enough that near-dup work between them will pay off —
    * WITHOUT a corpus-sized pairwise pass.
    *
    * Estimator (deterministic given the hash, so oracle-checkable,
    * like txt15): per pair, the union sketch = k smallest distinct
    * hashes of A ∪ B; θ = its k-th value; est_union = (k−1)·M/θ
    * (under-filled = exact). Membership within the union sketch is
    * EXACT: h ≤ θ_union ≤ θ_A implies any h ∈ A is in KMV_A, so
    * kmv_jaccard = |{h in union sketch : h ∈ KMV_A ∧ h ∈ KMV_B}| / k
    * and est_intersection = kmv_jaccard · est_union. The exact
    * Jaccard rides along (affordable at gate scale) so the artifact
    * shows where the estimates land.
    *
    * Scale: ONE (source, hash) distinct shuffle (txt15's budget) →
    * per-source ≤K-row sketches (map-side min-k mergeable, as txt15
    * notes) → everything pairwise happens on sketch-sized data
    * (sources² × 2K rows — metadata scale; the pair frame broadcasts).
    * The exact ridealong is one vocab-keyed equi-join — at 100 TB you
    * drop that column and keep the sketches; nothing else changes. */
  def kmvOverlap(s: SparkSession, d: String): DataFrame = {
    val K = 64
    val M = 1000000007L
    val sh = Tables.documents(s, d)
      .select(col("source"),
        explode(call_function("graft_shingle_hashes", col("text"))).as("h0"))
      .select(col("source"), (col("h0") * 2654435761L + 678L) % M as "h")
      .distinct()
    val wS = Window.partitionBy(col("source")).orderBy(col("h"))
    val kmv = sh.withColumn("rn", row_number().over(wS))
      .where(col("rn") <= K).select(col("source"), col("h"))
    val srcs = sh.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .join(srcs.select(col("source").as("sb")), col("sa") < col("sb"))
    val pa = broadcast(pairs).join(kmv, col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val pb = broadcast(pairs).join(kmv, col("source") === col("sb"))
      .select(col("sa"), col("sb"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val pu = pa.unionByName(pb)
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val wU = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))
    val sk = pu.withColumn("rn", row_number().over(wU))
      .where(col("rn") <= K)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("k_u"), max(col("h")).as("theta"),
        sum(col("in_a") * col("in_b")).as("inter_k"))
    // exact ridealong: one vocab-keyed equi-join + per-source counts
    val cnts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("source").as("sa"), col("h"))
      .join(sh.select(col("source").as("sb"), col("h")), Seq("h"))
      .where(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_inter"))
    val estU = when(col("k_u") < K, col("k_u").cast(DoubleType))
      .otherwise((col("k_u") - 1).cast(DoubleType) * M / col("theta"))
    sk
      .join(inter, Seq("sa", "sb"), "left")
      .join(broadcast(cnts.select(col("source").as("sa"),
        col("n").as("n_a"))), Seq("sa"))
      .join(broadcast(cnts.select(col("source").as("sb"),
        col("n").as("n_b"))), Seq("sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("k_u").cast(IntegerType).as("k_used"),
        estU.as("est_union"),
        (col("inter_k").cast(DoubleType) / col("k_u")).as("kmv_jaccard"),
        ((col("inter_k").cast(DoubleType) / col("k_u")) * estU)
          .as("est_intersection"),
        (coalesce(col("n_inter"), lit(0L)).cast(DoubleType) /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))))
          .as("exact_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val kmvOverlapSql: String =
    """WITH ko_sh AS (
      |  SELECT DISTINCT source,
      |    (list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(range(1, LENGTH(g) + 1),
      |                     i -> CAST(unicode(substr(g, CAST(i AS INT), 1)) AS BIGINT)),
      |      (a, b) -> (a * 31 + b) % 1000000007) * 2654435761 + 678)
      |      % 1000000007 AS h
      |  FROM (SELECT source, unnest(list_transform(range(1, LENGTH(text) - 1),
      |                i -> substr(text, CAST(i AS INT), 3))) AS g
      |        FROM documents) t),
      |ko_kmv AS (
      |  SELECT source, h FROM (
      |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h)
      |      AS rn FROM ko_sh) r
      |  WHERE rn <= 64),
      |ko_src AS (SELECT DISTINCT source FROM ko_sh),
      |ko_pairs AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM ko_src a JOIN ko_src b ON a.source < b.source),
      |ko_pu AS (
      |  SELECT sa, sb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
      |    SELECT p.sa, p.sb, k.h, 1 AS in_a, 0 AS in_b
      |    FROM ko_pairs p JOIN ko_kmv k ON k.source = p.sa
      |    UNION ALL
      |    SELECT p.sa, p.sb, k.h, 0, 1
      |    FROM ko_pairs p JOIN ko_kmv k ON k.source = p.sb) u
      |  GROUP BY 1, 2, 3),
      |ko_sk AS (
      |  SELECT sa, sb, COUNT(*) AS k_u, CAST(MAX(h) AS BIGINT) AS theta,
      |    SUM(in_a * in_b) AS inter_k
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h)
      |          AS rn FROM ko_pu) r
      |  WHERE rn <= 64 GROUP BY 1, 2),
      |ko_cnt AS (SELECT source, COUNT(*) AS n FROM ko_sh GROUP BY source),
      |ko_inter AS (
      |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
      |  FROM ko_sh a JOIN ko_sh b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.sa AS source_a, s.sb AS source_b,
      |  CAST(s.k_u AS INT) AS k_used,
      |  CASE WHEN s.k_u < 64 THEN CAST(s.k_u AS DOUBLE)
      |       ELSE CAST(s.k_u - 1 AS DOUBLE) * 1000000007 / s.theta
      |  END AS est_union,
      |  CAST(s.inter_k AS DOUBLE) / s.k_u AS kmv_jaccard,
      |  (CAST(s.inter_k AS DOUBLE) / s.k_u) *
      |    (CASE WHEN s.k_u < 64 THEN CAST(s.k_u AS DOUBLE)
      |          ELSE CAST(s.k_u - 1 AS DOUBLE) * 1000000007 / s.theta END)
      |    AS est_intersection,
      |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
      |    (ca.n + cb.n - COALESCE(i.n_inter, 0)) AS exact_jaccard
      |FROM ko_sk s
      |LEFT JOIN ko_inter i ON i.sa = s.sa AND i.sb = s.sb
      |JOIN ko_cnt ca ON ca.source = s.sa
      |JOIN ko_cnt cb ON cb.source = s.sb
      |ORDER BY source_a, source_b""".stripMargin

  // ----------------------------------------------------------- registry
  // ---------------------------------------------------------------- txt33
  /** txt33 — TEMPERATURE-MIXING planner: the per-language sampling
    * shares a training run draws from when upweighting low-resource
    * strata — weight each language by its corpus size raised to a
    * temperature α and normalize (the multilingual-training recipe:
    * α = 1 reproduces natural frequencies, α → 0 approaches uniform).
    * α is fixed at 1/2 DELIBERATELY: w = √chars is an IEEE-exact
    * operation, bit-identical in every engine, where a pow(x, 0.7)
    * would differ across libms in the last ulp and poison the hash
    * gate (the same class of trap as the ln-sum quantization dd/txt
    * already document). Each √ is quantized once to DECIMAL(28,12) so
    * the normalizing SUM is exact-decimal — order-independent and
    * engine-identical — and the final share is one double division of
    * identically-derived values. Output: per-lang corpus mass, weight,
    * mixture share, and the document budget a 10k-doc run would
    * allocate (floor of share × budget). One |langs|-row aggregate —
    * the planner costs a count, the SAMPLE it parameterizes is op12's
    * narrow hash filter. */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val byLang = graft.Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("w", sqrt(col("n_chars").cast("double")).cast(dec))
    val total = byLang.agg(sum(col("w")).as("tw"))
    byLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_chars"),
        col("w").cast("double").as("weight"),
        (col("w").cast("double") / col("tw").cast("double")).as("share"),
        floor(col("w").cast("double") / col("tw").cast("double") * 10000)
          .cast("long").as("docs_at_10k"))
      .orderBy(col("lang"))
  }

  val temperatureMixSql: String =
    """WITH by_lang AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |    CAST(SQRT(CAST(SUM(n_chars) AS DOUBLE)) AS DECIMAL(28,12)) AS w
      |  FROM documents GROUP BY lang),
      |tot AS (SELECT SUM(w) AS tw FROM by_lang)
      |SELECT lang, n_docs, n_chars,
      |  CAST(w AS DOUBLE) AS weight,
      |  CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
      |  CAST(FLOOR(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) * 10000)
      |    AS BIGINT) AS docs_at_10k
      |FROM by_lang CROSS JOIN tot
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t34
  /** Linear-probe TRAINING by batch gradient descent — the learning
    * half of txt16 (which scores with FIXED weights): fit
    * y ≈ a + b·x (x = n_chars/10, y = whitespace token count) for 3
    * full-batch GD steps and report the weight/loss trajectory. This is
    * the distributed-training shape of every quality-classifier probe
    * fit over a corpus: per step, ONE scan computes the gradient as two
    * algebraic SUMs (map-side partials compress each partition to one
    * row — the shuffle is partitions×1 rows regardless of corpus size),
    * the 1-row weight state broadcasts back, and nothing is ever
    * driver-collected.
    *
    * Determinism: all fixed-point integer arithmetic — weights at scale
    * 10^6, learning rate 1/1000 as a floor-division, and every floor
    * division spelled `(v - pmod(v, m)) div m` (Spark) ≡
    * `(v - ((v % m) + m) % m) // m` (DuckDB) so negative gradients
    * floor identically in both engines (`div`/`//` alone disagree on
    * negatives: truncate vs floor). Sums stay ≪ 2^63: |err_s| ≤ ~10^8,
    * Σ err_s·x ≤ corpus·10^10. Loss is the pre-step mean squared error
    * in milli-units (err floored to whole-y units first, so the square
    * can't overflow). lr = 1/1000 < 2/λmax(X'X/n) (λmax ≈ E[x²] ≈ 950
    * on this corpus), so the quadratic loss is non-increasing — pinned
    * in GdProbeSpec. */
  def linearProbeGd(s: SparkSession, d: String): DataFrame = {
    val S = 1000000L // weight fixed-point scale
    def fdiv(a: String, b: String) = s"(($a) - pmod(($a), $b)) div $b"
    val feat = Tables.documents(s, d).selectExpr(
      "cast(n_chars as bigint) div 10 as x", // nonneg: div == floor
      "cast(size(split(text, ' ')) as bigint) as y")
    var w = s.range(1).selectExpr(
      "cast(0 as bigint) as a_s", "cast(0 as bigint) as b_s")
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to 3) {
      steps += feat.crossJoin(broadcast(w))
        .withColumn("err_s",
          col("a_s") + col("b_s") * col("x") - col("y") * lit(S))
        .withColumn("ed", expr(fdiv("err_s", S.toString)))
        .groupBy(col("a_s"), col("b_s"))
        .agg(sum(col("err_s")).as("se"),
          sum(col("err_s") * col("x")).as("sex"),
          sum(col("ed") * col("ed")).as("see"),
          count(lit(1)).as("n"))
        .selectExpr(
          s"cast($it as int) as iter",
          s"a_s - (${fdiv(fdiv("se", "n"), "1000")}) as a_s",
          s"b_s - (${fdiv(fdiv("sex", "n"), "1000")}) as b_s",
          s"${fdiv("see * 1000", "n")} as loss_milli")
      w = steps.last.select(col("a_s"), col("b_s"))
    }
    steps.reduce(_ union _).orderBy(col("iter"))
  }

  /** Oracle mirror of one GD step (CTE it$k reads weights from
    * it${k-1}); fd() is the negative-safe floor division. */
  private def gdStepCte(k: Int): String = {
    def fd(a: String, b: String) = s"(($a) - ((($a) % $b) + $b) % $b) // $b"
    s"""it$k AS (
       |  SELECT $k AS iter,
       |    CAST(a0 - (${fd(fd("SUM(err_s)", "COUNT(*)"), "1000")}) AS BIGINT) AS a_s,
       |    CAST(b0 - (${fd(fd("SUM(err_s * x)", "COUNT(*)"), "1000")}) AS BIGINT) AS b_s,
       |    CAST(${fd("SUM(ed * ed) * 1000", "COUNT(*)")} AS BIGINT) AS loss_milli
       |  FROM (
       |    SELECT w.a_s AS a0, w.b_s AS b0, f.x, f.y,
       |      w.a_s + w.b_s * f.x - f.y * 1000000 AS err_s,
       |      ${fd("w.a_s + w.b_s * f.x - f.y * 1000000", "1000000")} AS ed
       |    FROM feat f CROSS JOIN it${k - 1} w) t
       |  GROUP BY a0, b0)""".stripMargin
  }

  val linearProbeGdSql: String =
    """WITH feat AS (
      |  SELECT CAST(n_chars AS BIGINT) // 10 AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |it0 AS (SELECT CAST(0 AS BIGINT) AS a_s, CAST(0 AS BIGINT) AS b_s),
      |""".stripMargin +
    (1 to 3).map(gdStepCte).mkString(",\n") + "\n" +
    """SELECT iter, a_s, b_s, loss_milli FROM (
      |  SELECT * FROM it1 UNION ALL
      |  SELECT * FROM it2 UNION ALL
      |  SELECT * FROM it3) u
      |ORDER BY iter""".stripMargin

  // ---------------------------------------------------------------- t35
  /** Vocabulary COVERAGE curve — what fraction of the corpus's token
    * mass the top-K vocabulary entries cover, at K ∈ {10, 100, 1000}:
    * the tokenizer-budget tuning table (how big must the vocab be
    * before <unk> mass is tolerable), the operational complement of
    * txt21's Zipf slope and txt31's Heaps fit.
    *
    * Scale: the corpus-sized work is ONE token-keyed count aggregate
    * (map-side partials); the top-1000 slice is the bounded-heap
    * `graft_topk` — each vocab partition reduces to ≤1000 rows before
    * the single-group merge, so NOTHING sorts the vocabulary in one
    * task (at 100 TB the whitespace vocab is billions of rows; the r18
    * verdict flagged the previous global rank window here). The heap's
    * tiebreak is xxhash64(tok), NOT the oracle's lexicographic tok —
    * sound because the output carries only coverage SUMS and every
    * boundary tie shares the same count c, so WHICH tied tokens land
    * inside a budget point can't move any sum (hash collisions
    * likewise only swap equal-c entries). All three budget points fold
    * in a single conditional aggregate over the ≤1000-row slice.
    * Coverage is integer ppm (covered·10^6 div total, all
    * nonnegative), so the gate is exact. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documents(s, d)
      .select(explode(tokens).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("total"))
    val ranked = cnt
      .agg(call_function("graft_topk", col("c").cast(DoubleType),
        xxhash64(col("tok")), struct(col("c")), lit(1000)).as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).as("rn"), col("col.c").as("c"))
    ranked
      .agg(sum(when(col("rn") <= 10, col("c")).otherwise(0L)).as("c10"),
        sum(when(col("rn") <= 100, col("c")).otherwise(0L)).as("c100"),
        sum(col("c")).as("c1000"))
      .select(explode(array(
        struct(lit(10L).as("vocab_k"), col("c10").as("covered")),
        struct(lit(100L).as("vocab_k"), col("c100").as("covered")),
        struct(lit(1000L).as("vocab_k"), col("c1000").as("covered"))))
        .as("p"))
      .crossJoin(broadcast(tot))
      .selectExpr("p.vocab_k as vocab_k", "p.covered as covered", "total",
        "(p.covered * 1000000) div total as coverage_ppm")
      .orderBy(col("vocab_k"))
  }

  val vocabCoverageSql: String =
    s"""WITH cnt AS (
      |  SELECT tok, COUNT(*) AS c FROM (
      |    SELECT unnest($tokensSqlD) AS tok FROM documents) t
      |  GROUP BY tok),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
      |ranked AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn FROM cnt),
      |pts AS (
      |  SELECT CAST(SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) AS c10,
      |    CAST(SUM(CASE WHEN rn <= 100 THEN c ELSE 0 END) AS BIGINT) AS c100,
      |    CAST(SUM(c) AS BIGINT) AS c1000
      |  FROM ranked WHERE rn <= 1000)
      |SELECT vocab_k, covered, total,
      |  CAST((covered * 1000000) // total AS BIGINT) AS coverage_ppm
      |FROM (
      |  SELECT CAST(10 AS BIGINT) AS vocab_k, c10 AS covered FROM pts
      |  UNION ALL SELECT 100, c100 FROM pts
      |  UNION ALL SELECT 1000, c1000 FROM pts) u
      |CROSS JOIN tot
      |ORDER BY vocab_k""".stripMargin

  // -------------------------------------------------------------- txt36
  /** BPE merge statistics — the inner loop of tokenizer training: the
    * frequency of every ADJACENT symbol pair, weighted by pretoken
    * frequency, top-20 merge candidates. The load-bearing scale move
    * is the classic one from the original BPE-training formulation
    * (Sennrich et al. '16): collapse the corpus to its pretoken VOCAB
    * first (Heaps' law — sublinearly many distinct pretokens), then
    * count pairs over vocab entries × their counts. At 100 TB the
    * corpus-sized stage is ONE (pretoken → count) hash-agg whose key
    * cardinality is the vocab, the pair explosion happens on the vocab
    * only, and the top-20 is a TakeOrdered partial heap — a merge
    * round never re-touches the corpus. Starting symbols are single
    * chars (round 0 of the merge loop). */
  def bpeMergeStats(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    vocab.where(length(col("tok")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  val bpeMergeStatsSql: String =
    """WITH vocab AS (
      |  SELECT tok, COUNT(*) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS tok
      |    FROM documents) t
      |  GROUP BY tok),
      |pairs AS (
      |  SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair, cnt
      |  FROM vocab, UNNEST(range(1, length(tok))) AS u(i)
      |  WHERE length(tok) >= 2)
      |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
      |FROM pairs GROUP BY pair
      |ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // -------------------------------------------------------------- txt46
  /** txt46 — the MULTI-ROUND BPE training loop (Sennrich et al. '16,
    * the actual algorithm — txt36 is its round 0): per round, count
    * adjacent symbol pairs over the pretoken VOCAB weighted by
    * pretoken frequency, take the best pair (count DESC, pair ASC),
    * merge it EVERYWHERE, recount. The representation that keeps every
    * round a single codegen'd string op in BOTH engines is PLACEHOLDER
    * SPACE (txt27's trick, now load-bearing for training): round k's
    * merged symbol is the single out-of-alphabet char chr(127+k), so
    * every symbol — original [a-z0-9] char or earlier merge — is
    * exactly ONE character, every pair is a 2-char substring, and
    * applying a merge is one literal `replace` (leftmost
    * non-overlapping = BPE's greedy rewrite). The trained table is
    * emitted with both sides EXPANDED back to original character
    * sequences (round, left_sym, right_sym, n).
    *
    * Scale shape: the corpus-sized stage is ONE pretoken hash-agg
    * (round 0, Heaps-law key cardinality); each round after touches
    * only the vocab, localCheckpointed per round (sim24's loop-seam
    * pattern) so lineage stays flat across rounds. The per-round
    * 1-row collect IS the trained parameter coming back to the driver
    * — txt38's weight-readback shape, disclosed. The oracle unrolls
    * the same N rounds as chained CTEs (pair count → 1-row best →
    * vocab rewrite) and expands placeholders through the same merge
    * chain — a hash match means DuckDB's from-scratch training picked
    * the identical merge at every round.
    *
    * Trained merges: (round, pair-in-placeholder-space (2 chars),
    * left/right sides expanded to original chars, weighted count).
    * Round k's merged symbol is chr(127+k). Trained once per (session,
    * corpus, rounds) in the [[graft.Seams.memo]]. */
  private[graft] def bpeTrain(s: SparkSession, d: String, rounds: Int)
      : Seq[(Int, String, String, String, Long)] =
    graft.Seams.memo(s, d, s"bpe-$rounds")(
      bpeTrainOn(Tables.documents(s, d), rounds))

  /** The training loop over any (text) frame — BpeTrainSpec pins the
    * trajectory against hand-computed BPE on a tiny corpus. */
  private[graft] def bpeTrainOn(docs: DataFrame, rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
      var vocab = docs
        .select(explode(expr(
          "regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .withColumn("seg", col("tok"))
        .localCheckpoint()
      val expansion = scala.collection.mutable.Map.empty[Char, String]
      def expand(c: Char): String = expansion.getOrElse(c, c.toString)
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      var k = 1
      var dry = false
      // `anchor` = the last checkpointed vocab (whose blocks we own);
      // `vocab` may carry up to CkptEvery lazy replace projections on
      // top of it between checkpoints
      var anchor = vocab
      var sinceCkpt = 0
      val CkptEvery = 8
      while (k <= rounds && !dry) {
        val best = vocab.where(length(col("seg")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, length(seg) - 1), i -> substring(seg, i, 2))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1)
          .collect()
        // a corpus can in principle run dry of pairs before N rounds;
        // the shipped corpora never do — stop training (no phantom
        // merge, no re-collecting the unchanged vocab for the
        // remaining rounds)
        if (best.isEmpty) dry = true
        else {
          val pair = best(0).getString(0)
          val ph = (127 + k).toChar
          expansion(ph) = expand(pair(0)) + expand(pair(1))
          out += ((k, pair, expand(pair(0)), expand(pair(1)),
            best(0).getLong(1)))
          // the rewrite stays LAZY: a merge is one narrow `replace`
          // projection over the anchored vocab, so the next round's
          // collect replays ≤ CkptEvery replaces from the last
          // checkpoint instead of paying a materialization job per
          // round (the per-round checkpoint halved nothing but cost a
          // job each — measured, round 19). Checkpoint every CkptEvery
          // rounds to keep the replace chain (and any failure-replay)
          // bounded; round k's anchor materialized ⇒ the previous
          // anchor's blocks are dead weight — release them instead of
          // leaving intermediate block sets to the ContextCleaner.
          vocab = vocab.withColumn("seg",
            call_function("replace", col("seg"), lit(pair),
              lit(ph.toString)))
          sinceCkpt += 1
          if (sinceCkpt >= CkptEvery) {
            vocab = vocab.localCheckpoint()
            anchor.unpersist()
            anchor = vocab
            sinceCkpt = 0
          }
        }
        k += 1
      }
      anchor.unpersist()
      out.result()
  }

  def bpeTrainedMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d, BpeTrainRounds)
      .map { case (k, _, l, r, n) => (k, l, r, n) }
      .toDF("round", "left_sym", "right_sym", "n")
      .orderBy(col("round"))
  }

  // -------------------------------------------------------------- txt47
  /** txt47 — BPE COMPRESSION CURVE: corpus subword count after each of
    * txt46's trained merge rounds (round 0 = the character baseline),
    * the realized per-round saving, and the training-time weighted
    * pair count next to it — the marginal-utility diagnostic a vocab
    * size decision reads (when `saved` flattens, stop growing the
    * vocab; Zipf makes the flattening fast). `saved` is NOT
    * `trained_n` re-derived: training counts every adjacent pair
    * occurrence (overlaps included — "aaa" holds two "aa" pairs),
    * while the greedy leftmost rewrite can apply at most ⌊run/2⌋ of
    * an overlapping run, so saved ≤ trained_n and the GAP is the
    * overlap discount — exposing both is the point of the audit.
    *
    * Scale shape: ONE corpus scan computes every round's length in
    * the same projection (round k's fold replays the first k merges,
    * all literal 2-char replaces in placeholder space), one global
    * 1-row aggregate, then a 6-row stack + window — corpus-sized work
    * is a single map stage regardless of rounds. */
  def bpeCompressionCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pre = "'[a-z]+|[0-9]+', 0"
    val trained = bpeTrain(s, d, BpeTrainRounds)
    val ms = trained.map { case (k, pair, _, _, _) =>
      pair + (127 + k).toChar }
    def encCol(k: Int) =
      if (k == 0)
        aggregate(expr(s"regexp_extract_all(text, $pre)"), lit(0L),
          (a, tk) => a + length(tk))
      else {
        val msK = array(ms.take(k).map(lit): _*)
        aggregate(expr(s"regexp_extract_all(text, $pre)"), lit(0L),
          (a, tk) => a + length(aggregate(msK, tk,
            (acc, m) => call_function("replace", acc,
              substring(m, 1, 2), substring(m, 3, 1)))))
      }
    val r = BpeTrainRounds
    val sums = Tables.documents(s, d)
      .select((0 to r).map(k => encCol(k).as(s"sw$k")): _*)
      .agg(sum(col("sw0")).as("sw0"),
        (1 to r).map(k => sum(col(s"sw$k")).as(s"sw$k")): _*)
    val curve = sums.select(expr(s"stack(${r + 1}, " +
      (0 to r).map(k => s"$k, sw$k").mkString(", ") +
      ") as (round, n_subwords)"))
      .withColumn("saved",
        lag(col("n_subwords"), 1).over(Window.orderBy(col("round")))
          - col("n_subwords"))
    val trainedDf = trained.map { case (k, _, _, _, n) => (k, n) }
      .toDF("round", "trained_n")
    curve.join(trainedDf, Seq("round"), "left")
      .select(col("round"), col("n_subwords"), col("saved"),
        col("trained_n"))
      .orderBy(col("round"))
  }

  val bpeCompressionCurveSql: String = {
    val r = BpeTrainRounds
    def msK(k: Int): String =
      "[" + (1 to k).map(j =>
        s"(SELECT pair || chr(${127 + j}) FROM b$j)").mkString(", ") + "]"
    val eks = (0 to r).map { k =>
      if (k == 0)
        """e0 AS (
          |  SELECT 0 AS round, CAST(SUM(length(tk)) AS BIGINT)
          |    AS n_subwords FROM toks)""".stripMargin
      else
        s"""e$k AS (
           |  SELECT $k AS round,
           |    CAST(SUM(length(list_reduce(list_prepend(tk, ${msK(k)}),
           |      (acc, m) -> replace(acc, m[1:2], m[3:3]))))
           |    AS BIGINT) AS n_subwords
           |  FROM toks)""".stripMargin
    }.mkString(",\n")
    val trainedUnion = (1 to r).map(k =>
      s"SELECT $k AS round, n FROM b$k").mkString("\nUNION ALL\n")
    bpeRoundCtes(r) + s""",
      |toks AS (
      |  SELECT unnest(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS tk
      |  FROM documents),
      |""".stripMargin + eks + s""",
      |curve AS (${(0 to r).map(k => s"SELECT * FROM e$k")
          .mkString(" UNION ALL ")}),
      |tr AS ($trainedUnion)
      |SELECT c.round,
      |  c.n_subwords,
      |  LAG(c.n_subwords) OVER (ORDER BY c.round) - c.n_subwords
      |    AS saved,
      |  tr.n AS trained_n
      |FROM curve c LEFT JOIN tr USING (round)
      |ORDER BY round""".stripMargin
  }

  /** The unrolled training-round CTE chain: `v0` (pretoken vocab with
    * seg = tok) then per round k: `p$k` pair counts over `v${k-1}`,
    * `b$k` the 1-row argmax, `v$k` the rewritten vocab. Shared by the
    * txt46 oracle (N=[[BpeTrainRounds]]) and txt27's trained-encoder
    * oracle (N=[[FertilityMerges]]). */
  private def bpeRoundCtes(rounds: Int): String = {
    // MATERIALIZED is load-bearing: v(k-1) is referenced twice per
    // round (pair count + rewrite), so DuckDB's default CTE inlining
    // would expand the chain 2^rounds times — at the 20-round encoder
    // depth that is literally millions of inlined parquet scans
    // ("too many open files" long before any result). Materializing
    // each round's state bounds every CTE to ONE evaluation — the
    // same role localCheckpoint plays on the Spark side.
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS MATERIALIZED (
        |  SELECT tok, COUNT(*) AS cnt, tok AS seg FROM (
        |    SELECT unnest(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS tok
        |    FROM documents) t
        |  GROUP BY tok)""".stripMargin)
    for (k <- 1 to rounds) sb.append(
      s""",
        |p$k AS (
        |  SELECT substr(seg, CAST(i AS INTEGER), 2) AS pair,
        |    CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM v${k - 1}, UNNEST(range(1, length(seg))) AS u(i)
        |  WHERE length(seg) >= 2
        |  GROUP BY pair),
        |b$k AS MATERIALIZED (
        |  SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
        |v$k AS MATERIALIZED (
        |  SELECT tok, cnt, replace(seg, b$k.pair, chr(${127 + k})) AS seg
        |  FROM v${k - 1}, b$k)""".stripMargin)
    sb.toString
  }

  /** Expansion of a 1-char symbol expression back to original chars:
    * placeholders chr(128)..chr(127+k-1) resolve through the earlier
    * merges' full expansions (`f$j` CTEs); original chars pass. */
  private def bpeExpandCase(cExpr: String, k: Int): String =
    if (k == 1) cExpr
    else "(CASE " + (1 until k).map(j =>
      s"WHEN $cExpr = chr(${127 + j}) THEN (SELECT ex FROM f$j)")
      .mkString(" ") + s" ELSE $cExpr END)"

  val bpeTrainedMergesSql: String = {
    val n = BpeTrainRounds
    val fCtes = (1 to n).map(k =>
      s"""f$k AS (SELECT ${bpeExpandCase("substr(pair, 1, 1)", k)}
         |  || ${bpeExpandCase("substr(pair, 2, 1)", k)} AS ex
         |  FROM b$k)""".stripMargin).mkString(",\n")
    val branches = (1 to n).map(k =>
      s"""SELECT CAST($k AS INTEGER) AS round,
         |  ${bpeExpandCase("substr(pair, 1, 1)", k)} AS left_sym,
         |  ${bpeExpandCase("substr(pair, 2, 1)", k)} AS right_sym,
         |  n FROM b$k""".stripMargin).mkString("\nUNION ALL\n")
    bpeRoundCtes(n) + ",\n" + fCtes + "\n" + branches + "\nORDER BY round"
  }

  // ---------------------------------------------------------------- txt37
  /** txt37 — REPETITION filter (the Gopher/MassiveText "repetitive
    * document" rules, Rae et al. §A1.1, restated for a line-less
    * corpus): per document, the duplicate word-5-gram occurrence
    * fraction and the top-bigram share, each in exact integer ppm, and
    * a repetitive/ok verdict — the degenerate-text gate (loops,
    * keyword-stuffed spam, template churn) every pretraining pipeline
    * runs between language-ID and quality scoring.
    *
    * Scale shape: the dd21 lesson applied — words POSEXPLODE to rows
    * (never chained array HOFs, whose collapsed Project re-inlines
    * earlier lambdas multiplicatively); both n-gram hashes are lead()
    * arithmetic over ONE doc-keyed sort, and every aggregate after it
    * is doc-keyed (subset partitioning — the doc_id exchange is paid
    * once). Word hashes are the dd21 31-polyhash mod 1000003
    * (engine-identical explicit arithmetic; collisions can only merge
    * grams the same way in both engines). All-integer ppm via `div`
    * (operands nonnegative ⇒ floor = truncate in both engines). Docs
    * under 5 words carry no 5-gram and are excluded, by convention.
    * The oracle spells the INDEPENDENT list-comprehension formulation
    * (DuckDB list_transform over word arrays), cross-checking the
    * window algebra. Thresholds (300000 dup-5-gram ppm / 69000
    * top-bigram ppm) sit at the fixture's p90 so the gate pins BOTH
    * verdict classes. */
  def repetitionFilter(s: SparkSession, d: String): DataFrame =
    repetitionOn(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** txt37's algebra over ANY (doc_id, text) frame — dd24's composed
    * curation pipeline runs it on the augmented dedup corpus. */
  private[graft] def repetitionOn(docs: DataFrame): DataFrame = {
    val P = 1000003L
    val words = docs
      .select(col("doc_id"), posexplode(expr(
        "filter(split(text, ' '), w -> length(w) > 0)")).as(Seq("pos", "w")))
      .withColumn("wh", expr(
        s"""aggregate(sequence(1, length(w)), CAST(0 AS BIGINT),
           |  (acc, i) -> (acc * 31 + ascii(substr(w, i, 1))) % $P)"""
          .stripMargin))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val g = words
      .withColumn("l1", lag(col("wh"), -1).over(byPos))
      .withColumn("l2", lag(col("wh"), -2).over(byPos))
      .withColumn("l3", lag(col("wh"), -3).over(byPos))
      .withColumn("l4", lag(col("wh"), -4).over(byPos))
      .withColumn("bg", (col("wh") * 31L + col("l1")) % P)
      .withColumn("g5",
        (col("wh") * 923521L + col("l1") * 29791L + col("l2") * 961L +
          col("l3") * 31L + col("l4")) % P)
    val dup5 = g.where(col("g5").isNotNull)
      .groupBy(col("doc_id"), col("g5")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_occ"))
    val top2 = g.where(col("bg").isNotNull)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_c"))
    dup5.join(top2, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams").cast(LongType).as("n_grams"),
        expr("dup_occ * 1000000 div n_grams").as("dup5_ppm"),
        expr("top_c * 1000000 div n_bigrams").as("top2_ppm"))
      .withColumn("verdict",
        when(col("dup5_ppm") > 300000L || col("top2_ppm") > 69000L,
          "repetitive").otherwise("ok"))
  }

  /** txt37's oracle CTE chain over source CTE `srcCte`, names prefixed
    * `p`, ending in `${p}rep(doc_id, …, verdict)` — embedded by dd24. */
  private[graft] def repetitionCtesFor(srcCte: String, p: String): String =
    s"""${p}w1 AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      |  FROM $srcCte),
      |${p}w2 AS (
      |  SELECT doc_id, list_transform(ws, w ->
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(w) + 1), i ->
      |          CAST(unicode(substr(w, CAST(i AS INT), 1)) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000003)) AS whs
      |  FROM ${p}w1),
      |${p}bg AS (
      |  SELECT doc_id, (whs[i] * 31 + whs[i + 1]) % 1000003 AS b
      |  FROM ${p}w2, unnest(range(1, len(whs))) AS t(i)
      |  WHERE len(whs) >= 2),
      |${p}g5 AS (
      |  SELECT doc_id, (whs[i] * 923521 + whs[i + 1] * 29791 +
      |    whs[i + 2] * 961 + whs[i + 3] * 31 + whs[i + 4]) % 1000003 AS g
      |  FROM ${p}w2, unnest(range(1, len(whs) - 3)) AS t(i)
      |  WHERE len(whs) >= 5),
      |${p}d5 AS (
      |  SELECT doc_id, SUM(c) AS n_grams,
      |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM ${p}g5 GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |${p}t2 AS (
      |  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_c
      |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM ${p}bg GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |${p}rep AS (
      |  SELECT d.doc_id,
      |    CASE WHEN dup_occ * 1000000 // n_grams > 300000
      |      OR top_c * 1000000 // n_bigrams > 69000
      |      THEN 'repetitive' ELSE 'ok' END AS verdict
      |  FROM ${p}d5 d JOIN ${p}t2 USING (doc_id))""".stripMargin

  val repetitionFilterSql: String =
    """WITH w1 AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      |  FROM documents),
      |w2 AS (
      |  SELECT doc_id, list_transform(ws, w ->
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(w) + 1), i ->
      |          CAST(unicode(substr(w, CAST(i AS INT), 1)) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000003)) AS whs
      |  FROM w1),
      |bg AS (
      |  SELECT doc_id, (whs[i] * 31 + whs[i + 1]) % 1000003 AS b
      |  FROM w2, unnest(range(1, len(whs))) AS t(i) WHERE len(whs) >= 2),
      |g5 AS (
      |  SELECT doc_id, (whs[i] * 923521 + whs[i + 1] * 29791 +
      |    whs[i + 2] * 961 + whs[i + 3] * 31 + whs[i + 4]) % 1000003 AS g
      |  FROM w2, unnest(range(1, len(whs) - 3)) AS t(i)
      |  WHERE len(whs) >= 5),
      |d5 AS (
      |  SELECT doc_id, SUM(c) AS n_grams,
      |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |t2 AS (
      |  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_c
      |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |r AS (
      |  SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |    CAST(dup_occ * 1000000 // n_grams AS BIGINT) AS dup5_ppm,
      |    CAST(top_c * 1000000 // n_bigrams AS BIGINT) AS top2_ppm
      |  FROM d5 JOIN t2 USING (doc_id))
      |SELECT doc_id, n_grams, dup5_ppm, top2_ppm,
      |  CASE WHEN dup5_ppm > 300000 OR top2_ppm > 69000
      |    THEN 'repetitive' ELSE 'ok' END AS verdict
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- txt38
  /** txt38 — TRAINED quality CLASSIFIER (logistic probe with a
    * hard-sigmoid link): the model-based-filtering stage beyond
    * txt16's fixed linear weights — a classifier actually FIT to
    * labels, the way production curation distills a rule-based (or
    * LLM-judged) quality gate into a cheap model. Labels here are
    * txt16's own keep-gate restated in exact integers (score > 0 ⟺
    * 4·distinct + 8·stophits − (len-bonus)·tokens > 0 — the
    * multiply-through-by-2n spelling, no doubles), features are
    * CENTERED permille ratios (unique−500, stopword−50), and training
    * is 6 full-batch GD steps of the logistic surrogate with the
    * HardSigmoid link σ̂(z) = clamp(½ + z/4, 0, 1) — the standard
    * quantized-inference substitution, rational so every step is exact
    * fixed-point (weights at 10⁶; the one transcendental a true
    * sigmoid would cost is exactly what cross-engine determinism
    * can't have). Per step the output row carries the weights, the
    * mean squared probability error (ppm), and the training accuracy —
    * measured on this corpus the trajectory is loss 250000→121075 ppm
    * monotone and accuracy 137→441/500 through the 363/500 majority
    * floor, i.e. the probe genuinely learns the boundary, not the
    * prior.
    *
    * Scale shape = txt34's: per step ONE corpus scan reduces to a
    * 1-row gradient via map-side partial SUMs (the shuffle is
    * partitions×1 rows at any corpus size), the 1-row weight state
    * broadcasts back, nothing is driver-collected. All sums ≪ 2^63
    * (|err| ≤ 10⁶, |x| ≤ 500). Floor divisions are the negative-safe
    * `(v − pmod(v, m)) div m` ≡ DuckDB `(v − ((v%m)+m)%m) // m`. */
  def logisticQualityGd(s: SparkSession, d: String): DataFrame = {
    val (steps, _) = lgdTrained(s, d)
    steps.reduce(_ union _).orderBy(col("iter"))
  }

  /** txt38/txt40 shared: centered permille features + the exact-integer
    * restatement of txt16's keep-gate as the label. */
  private def lgdFeat(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).selectExpr(
        "cast(size(split(text, ' ')) as bigint) as nt",
        "cast(size(array_distinct(split(text, ' '))) as bigint) as nd",
        "cast(size(filter(split(text, ' '), t -> t IN ('the','a','of'))) as bigint) as sh")
      .selectExpr(
        "1000 * nd div nt - 500 as x1", // nonneg numerators: div == floor
        "1000 * sh div nt - 50 as x2",
        s"""case when 4 * nd + 8 * sh
              - (case when nt >= $MinTokens then 2 else 5 end) * nt > 0
            then cast(1 as bigint) else cast(0 as bigint) end as y""")

  /** txt38/txt40 shared: the 6 full-batch hard-sigmoid GD steps,
    * trained ONCE per (session, dir) in the [[graft.Seams.memo]]: both
    * consumers run in the same gate/bench session, and the 6 corpus
    * scans are the whole cost, so the 1-row-per-step frames are
    * checkpointed and shared rather than retrained per query. Returns
    * each step's report frame (txt38's rows) and the weights AFTER the
    * last step — the shipped model txt40 calibrates. */
  private def lgdTrained(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame) =
    graft.Seams.memo(s, d, "lgd-model")(lgdTrain(s, lgdFeat(s, d)))

  /** Checkpoints each step AS IT IS BUILT so the next step chains on
    * the materialized frame (6 corpus scans total); a checkpoint pass
    * after the loop would re-run each step's chained lineage — 21
    * scans, measured 3.3×. */
  private def lgdTrain(s: SparkSession, feat: DataFrame)
      : (Seq[DataFrame], DataFrame) = {
    val S = 1000000L
    def fdiv(a: String, b: String) = s"(($a) - pmod(($a), $b)) div $b"
    var w = s.range(1).selectExpr("cast(0 as bigint) as a_s",
      "cast(0 as bigint) as b1_s", "cast(0 as bigint) as b2_s")
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to 6) {
      val step = feat.crossJoin(broadcast(w))
        .withColumn("z",
          col("a_s") + col("b1_s") * col("x1") + col("b2_s") * col("x2"))
        .withColumn("p", expr(
          s"least(greatest(${S / 2} + ${fdiv("z", "4")}, cast(0 as bigint)), ${S})"))
        .withColumn("err", col("p") - col("y") * lit(S))
        .withColumn("ed", expr(fdiv("err", "1000")))
        .groupBy(col("a_s"), col("b1_s"), col("b2_s"))
        .agg(sum(col("err")).as("se"),
          sum(col("err") * col("x1")).as("se1"),
          sum(col("err") * col("x2")).as("se2"),
          sum(col("ed") * col("ed")).as("see"),
          sum(when((col("p") > S / 2) === (col("y") === 1L), 1L)
            .otherwise(0L)).as("ncor"),
          count(lit(1)).as("n"))
        .selectExpr(
          s"cast($it as int) as iter",
          s"a_s - (${fdiv("se", "n")}) as a_s",
          s"b1_s - (${fdiv(fdiv("se1", "n"), "10000")}) as b1_s",
          s"b2_s - (${fdiv(fdiv("se2", "n"), "10000")}) as b2_s",
          s"${fdiv("see", "n")} as loss_ppm",
          "ncor as n_correct")
      steps += step.localCheckpoint()
      w = steps.last.select(col("a_s"), col("b1_s"), col("b2_s"))
    }
    (steps.toSeq, w)
  }

  /** Oracle mirror of one hard-sigmoid GD step. */
  private def lgdStepCte(k: Int): String = {
    def fd(a: String, b: String) = s"(($a) - ((($a) % $b) + $b) % $b) // $b"
    s"""lit$k AS (
       |  SELECT $k AS iter,
       |    CAST(a0 - (${fd("SUM(err)", "COUNT(*)")}) AS BIGINT) AS a_s,
       |    CAST(b10 - (${fd(fd("SUM(err * x1)", "COUNT(*)"), "10000")}) AS BIGINT) AS b1_s,
       |    CAST(b20 - (${fd(fd("SUM(err * x2)", "COUNT(*)"), "10000")}) AS BIGINT) AS b2_s,
       |    CAST(${fd("SUM(ed * ed)", "COUNT(*)")} AS BIGINT) AS loss_ppm,
       |    CAST(SUM(CASE WHEN (p > 500000) = (y = 1) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_correct
       |  FROM (
       |    SELECT w.a_s AS a0, w.b1_s AS b10, w.b2_s AS b20, f.y,
       |      f.x1, f.x2, t.p, t.p - f.y * 1000000 AS err,
       |      ${fd("t.p - f.y * 1000000", "1000")} AS ed
       |    FROM lfeat f
       |    CROSS JOIN lit${k - 1} w,
       |    LATERAL (SELECT LEAST(GREATEST(
       |      500000 + (${fd("w.a_s + w.b1_s * f.x1 + w.b2_s * f.x2", "4")}),
       |      0), 1000000) AS p) t) q
       |  GROUP BY a0, b10, b20)""".stripMargin
  }

  /** txt38/txt40 shared oracle scaffolding: features + the 6-step CTE
    * chain (lit6 = the shipped weights txt40 scores with). */
  private lazy val lgdSqlCtes: String =
    s"""WITH lraw AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN ('the','a','of'))) AS BIGINT) AS sh
       |  FROM documents),
       |lfeat AS (
       |  SELECT 1000 * nd // nt - 500 AS x1,
       |    1000 * sh // nt - 50 AS x2,
       |    CASE WHEN 4 * nd + 8 * sh
       |      - (CASE WHEN nt >= $MinTokens THEN 2 ELSE 5 END) * nt > 0
       |      THEN 1 ELSE 0 END AS y
       |  FROM lraw),
       |lit0 AS (SELECT CAST(0 AS BIGINT) AS a_s, CAST(0 AS BIGINT) AS b1_s,
       |  CAST(0 AS BIGINT) AS b2_s),
       |""".stripMargin +
    (1 to 6).map(lgdStepCte).mkString(",\n") + "\n"

  val logisticQualityGdSql: String = lgdSqlCtes +
    """SELECT iter, a_s, b1_s, b2_s, loss_ppm, n_correct FROM (
      |  SELECT * FROM lit1 UNION ALL SELECT * FROM lit2
      |  UNION ALL SELECT * FROM lit3 UNION ALL SELECT * FROM lit4
      |  UNION ALL SELECT * FROM lit5 UNION ALL SELECT * FROM lit6) u
      |ORDER BY iter""".stripMargin

  // ---------------------------------------------------------------- txt39
  /** Hashed-feature bucket count for txt39 — FIXED, so the per-bucket
    * log-ratio table is ≤ this many rows at ANY corpus size (that fixed
    * cardinality is the whole point of hashed n-gram features: the
    * model broadcasts no matter how big the pool gets). */
  val DsirBuckets = 2048L

  /** Selected-sample size for txt39 — constant, so the top-k heap stays
    * O(k) per partition (op14's TakeOrderedAndProject discipline). */
  val DsirK = 100

  /** txt39 — DSIR DATA SELECTION (Xie et al., NeurIPS '23, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document in the raw pool by the log-likelihood ratio of a
    * TARGET hashed-n-gram bag model (unigrams + bigrams — the paper's
    * feature set; unigrams alone don't separate this corpus's shared
    * vocabulary, bigrams carry the word-order signal) over the RAW
    * pool's own, then draw a fixed-k sample WITHOUT replacement by
    * Gumbel top-k — the importance-resampling step a pretraining
    * pipeline runs to tilt a web-scale pool toward a target domain
    * (here: the `en` slice plays the target, the whole pool plays raw;
    * measured mean log-ratio at sf0.01: en −2.11 vs −5.2..−5.9 for the
    * rest — a ~3.5-nat gap the Gumbel's σ≈1.28 doesn't wash out).
    * Add-one smoothing keeps every bucket's ratio finite; the Gumbel
    * keys make the draw a true sample from the softmax of the weights
    * rather than a greedy top-k, yet fully deterministic (the uniform
    * is op12's engine-neutral multiplicative hash of doc_id —
    * reproducible bit-for-bit, never an RNG whose draw depends on
    * partitioning).
    *
    * Scale shape: txt37's row form (posexplode + ONE doc-keyed sort;
    * the bigram is lag() arithmetic, never chained array HOFs — and
    * both feature classes leave the SAME window pass via one
    * array-explode, not a lineage-doubling union), then features
    * shuffle ONCE as (bucket, lang) counts into a table of AT MOST
    * [[DsirBuckets]] rows — fixed at any corpus size, so the scored
    * model always broadcasts (never a vocabulary-sized join: that is
    * the published reason DSIR hashes its features). The bucket table
    * is localCheckpoint'd (sim21's amortizable-artifact discipline —
    * at cluster scale it'd be a written table): the corpus lineage
    * runs EXACTLY twice end-to-end (once to count, once to score — the
    * unigramNll count-then-rejoin shape), never once per downstream
    * branch. The per-doc weight is a doc-keyed aggregate, and
    * selection is `orderBy(..).limit(k)` = TakeOrderedAndProject (a
    * k+1 heap per partition, never a global sort). Parity: each ln
    * passes through
    * the DECIMAL(28,6) quantization (txt21/txt22's 1-ulp lesson) and
    * per-doc sums run IN DECIMAL — exact, order-independent,
    * engine-identical; the Gumbel's nested ln quantizes BOTH stages
    * (inner −ln u to the 1e-6 grid, then the outer ln reads that exact
    * decimal), so no double ever feeds a transcendental un-quantized.
    * The only double ops are the final output casts. */
  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val P = 1000003L
    val B = DsirBuckets
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)
    val mulRed = 2654435761L % P
    def feats = {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), posexplode(expr(
          "filter(split(text, ' '), w -> length(w) > 0)")).as(Seq("pos", "w")))
        .withColumn("wh", expr(
          s"""aggregate(sequence(1, length(w)), CAST(0 AS BIGINT),
             |  (acc, i) -> (acc * 31 + ascii(substr(w, i, 1))) % $P)"""
            .stripMargin))
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      words.withColumn("l1", lag(col("wh"), -1).over(byPos))
        .select(col("doc_id"), col("lang"), explode(array(
          col("wh") % B,
          (col("wh") * 31L + col("l1")) % P % B)).as("b"))
        .where(col("b").isNotNull)
    }
    // ≤ B rows; checkpointing cuts the corpus lineage so downstream
    // branches (totals, broadcast model) never rescan the pool.
    val cnts = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("n_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
      .localCheckpoint()
    val tot = cnts.agg(sum(col("n_r")).as("tr"), sum(col("n_t")).as("tt"))
    val lnw = cnts.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("n_t") + 1L).cast(DoubleType) /
            (col("tt") + B).cast(DoubleType)).cast(dec28) -
          log((col("n_r") + 1L).cast(DoubleType) /
            (col("tr") + B).cast(DoubleType)).cast(dec28)).as("lnw"))
    feats.join(broadcast(lnw), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lnw")).as("w_ln"))
      .withColumn("h", expr(s"(doc_id % $P * $mulRed + 99991) % $P"))
      // u ∈ [1e-6, 0.999999]: never 0 (ln) and never 1 (−ln u = 0 would
      // send the OUTER ln to −∞); both engines compute the same exact
      // rational before the one inner transcendental.
      .withColumn("u",
        (col("h") % 999999L + 1L).cast(DoubleType) / lit(1000000.0))
      .withColumn("nl", (-log(col("u"))).cast(dec28))
      .withColumn("g", (-log(col("nl").cast(DoubleType))).cast(dec28))
      .withColumn("sel_key", col("w_ln") + col("g"))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(DsirK)
      .select(col("doc_id"), col("n_feats"),
        col("w_ln").cast(DoubleType).as("w_lnr"),
        col("g").cast(DoubleType).as("gumbel"),
        col("sel_key").cast(DoubleType).as("sel_key"))
  }

  val dsirSelectSql: String =
    s"""WITH dwords AS (
       |  SELECT doc_id, lang,
       |    list_transform(
       |      list_filter(string_split(text, ' '), w -> length(w) > 0),
       |      w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(w) + 1),
       |          i -> CAST(unicode(substr(w, CAST(i AS INT), 1)) AS BIGINT))),
       |        (acc, c) -> (acc * 31 + c) % 1000003)) AS whs
       |  FROM documents),
       |dbkt AS (
       |  SELECT doc_id, lang, whs[i] % $DsirBuckets AS b
       |  FROM dwords, unnest(range(1, len(whs) + 1)) AS t(i)
       |  UNION ALL
       |  SELECT doc_id, lang,
       |    (whs[i] * 31 + whs[i + 1]) % 1000003 % $DsirBuckets AS b
       |  FROM dwords, unnest(range(1, len(whs))) AS t(i)
       |  WHERE len(whs) >= 2),
       |dc AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
       |  FROM dbkt GROUP BY b),
       |dt AS (SELECT CAST(SUM(n_r) AS BIGINT) AS tr,
       |  CAST(SUM(n_t) AS BIGINT) AS tt FROM dc),
       |dlnw AS (
       |  SELECT b,
       |    CAST(ln(CAST(n_t + 1 AS DOUBLE) / CAST(tt + $DsirBuckets AS DOUBLE))
       |        AS DECIMAL(28,6))
       |      - CAST(ln(CAST(n_r + 1 AS DOUBLE) / CAST(tr + $DsirBuckets AS DOUBLE))
       |        AS DECIMAL(28,6)) AS lnw
       |  FROM dc, dt),
       |dw AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |    SUM(lnw) AS w_ln
       |  FROM dbkt JOIN dlnw USING (b)
       |  GROUP BY doc_id),
       |dg AS (
       |  SELECT doc_id, n_feats, w_ln,
       |    CAST(-ln(CAST(nl AS DOUBLE)) AS DECIMAL(28,6)) AS g
       |  FROM (
       |    SELECT doc_id, n_feats, w_ln,
       |      CAST(-ln(CAST(h % 999999 + 1 AS DOUBLE) / 1000000.0)
       |        AS DECIMAL(28,6)) AS nl
       |    FROM (SELECT dw.*,
       |        (doc_id % 1000003 * (2654435761 % 1000003) + 99991)
       |          % 1000003 AS h
       |      FROM dw) a) bq)
       |SELECT doc_id, n_feats,
       |  CAST(w_ln AS DOUBLE) AS w_lnr, CAST(g AS DOUBLE) AS gumbel,
       |  CAST(w_ln + g AS DOUBLE) AS sel_key
       |FROM dg
       |ORDER BY w_ln + g DESC, doc_id
       |LIMIT $DsirK""".stripMargin

  // ---------------------------------------------------------------- txt40
  /** txt40 — CALIBRATION AUDIT (reliability diagram + per-bin ECE terms)
    * of txt38's shipped classifier: score the corpus with the weights
    * the 6-step GD loop ends on, bin the predicted probability into 10
    * equal-width bins, and report each bin's size, mean confidence, and
    * empirical positive rate in exact integer ppm — the
    * |confidence − accuracy| gap per bin is the term a weighted sum
    * turns into ECE (Guo et al., ICML '17). The check a production
    * curation gate runs before trusting a distilled quality model's
    * scores as sampling weights (an uncalibrated model distorts the
    * mixture even when its ACCURACY is fine).
    *
    * Scale shape: txt38's own — ONE corpus scan reduces to ≤ 10
    * bin-keyed rows via map-side partial SUMs, after the 6 training
    * scans that produce the 1-row weight state (broadcast back, never
    * collected). All-integer arithmetic end-to-end (p and the floor
    * divisions are nonneg, so `div` = floor in both engines) — no
    * quantization anywhere, the hashes must match bit-for-bit. */
  def calibrationAudit(s: SparkSession, d: String): DataFrame = {
    val S = 1000000L
    def fdiv(a: String, b: String) = s"(($a) - pmod(($a), $b)) div $b"
    val feat = lgdFeat(s, d)
    val (_, w) = lgdTrained(s, d)
    feat.crossJoin(broadcast(w))
      .withColumn("z",
        col("a_s") + col("b1_s") * col("x1") + col("b2_s") * col("x2"))
      .withColumn("p", expr(
        s"least(greatest(${S / 2} + ${fdiv("z", "4")}, cast(0 as bigint)), ${S})"))
      .withColumn("bin", least(expr("p div 100000"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
        sum(col("y")).as("sy"))
      .selectExpr("cast(bin as bigint) as bin", "n",
        "sp div n as conf_ppm",
        "sy * 1000000 div n as acc_ppm",
        "abs(sp div n - sy * 1000000 div n) as gap_ppm")
      .orderBy(col("bin"))
  }

  val calibrationAuditSql: String = lgdSqlCtes.stripSuffix("\n") + ",\n" +
    """cal AS (
      |  SELECT f.y,
      |    LEAST(GREATEST(500000 + ((w.a_s + w.b1_s * f.x1 + w.b2_s * f.x2
      |        - (((w.a_s + w.b1_s * f.x1 + w.b2_s * f.x2) % 4 + 4) % 4)) // 4),
      |      0), 1000000) AS p
      |  FROM lfeat f CROSS JOIN lit6 w)
      |SELECT CAST(LEAST(p // 100000, 9) AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(p) // COUNT(*) AS BIGINT) AS conf_ppm,
      |  CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm,
      |  CAST(ABS(SUM(p) // COUNT(*) - SUM(y) * 1000000 // COUNT(*))
      |    AS BIGINT) AS gap_ppm
      |FROM cal GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- txt41
  /** MW iteration count and learning rate (η = 0.3 as tenths) for the
    * txt41 domain-reweighting loop. */
  val MwIters = 5

  /** txt41 — DOMAIN REWEIGHTING by multiplicative weights (the DoReMi
    * recipe, Xie et al., NeurIPS '23: upweight the domains the pooled
    * model MISPRICES — with the Arora–Hazan–Kale LINEAR update
    * w·(1 + η·m) standing in for the exponentiated one, the standard
    * rational substitution since exp is exactly what cross-engine
    * determinism can't have; disclosed, same regret family). The
    * per-domain signal is DoReMi's excess loss restated for a unigram
    * reference pair: mean token surprisal under the POOLED add-one
    * model minus under the domain's OWN add-one model, in exact integer
    * micro-nats/token — how much pooling hurts that domain (measured at
    * sf0.01: fr 4169 > zh 3345 > de 3271 > es 2380 > en 1060, a 4×
    * spread, so the loop genuinely tilts — the mixture the trainer
    * would use to stop the pooled corpus starving minority domains).
    *
    * Scale shape: the corpus is scanned ONCE — every model derives from
    * the (lang, token) count table (pooled counts = its token-keyed
    * re-aggregate; per-token excess = cnt·(lnd − lnp) attached by one
    * vocab-keyed equi-join, never a third scan), which is
    * localCheckpoint'd (vocab×|domains| rows — sim21's
    * amortizable-artifact discipline; a table write at cluster scale).
    * The MW loop then runs on a |domains|-row frame: per step one
    * 1-row Σw' broadcast back, nothing driver-collected. Parity: each
    * ln quantizes to DECIMAL(28,6) (the txt21/txt22 1-ulp lesson), the
    * excess sum runs IN DECIMAL, and everything after the one
    * micro-nat floor division is BIGINT arithmetic with the
    * negative-safe fdiv spelling. Overflow: Σcnt·(lnd−lnp)·10⁶ stays
    * under 2⁶³ while the corpus is under ~10¹³ tokens (0.02 nat/token
    * bound measured above) — disclosed, checked nowhere near at gate
    * scale. */
  def doremiMw(s: SparkSession, d: String): DataFrame = {
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)
    def fdiv(a: String, b: String) = s"(($a) - pmod(($a), $b)) div $b"
    val dc = Tables.documents(s, d)
      .select(col("lang"),
        explode(expr("filter(split(text, ' '), w -> length(w) > 0)"))
          .as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val pc = dc.groupBy(col("token")).agg(sum(col("cnt")).as("pcnt"))
    val pt = pc.agg(sum(col("pcnt")).as("n"), count(lit(1)).as("v"))
    val dt = dc.groupBy(col("lang")).agg(sum(col("cnt")).as("dn"))
    val pl = pc.crossJoin(broadcast(pt))
      .select(col("token"),
        log((col("pcnt") + 1L).cast(DoubleType) /
          (col("n") + col("v")).cast(DoubleType)).cast(dec28).as("lnp"))
    val ex = dc.join(broadcast(dt), "lang").crossJoin(broadcast(pt))
      .select(col("lang"), col("token"), col("cnt"),
        log((col("cnt") + 1L).cast(DoubleType) /
          (col("dn") + col("v")).cast(DoubleType)).cast(dec28).as("lnd"))
      .join(pl, "token")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tok"),
        sum(col("cnt") * (col("lnd") - col("lnp"))).as("sx"))
      .selectExpr("lang", "n_tok",
        // micro-nats/token; sx·10⁶ is integer-valued (6-dp decimal)
        fdiv("cast(sx * 1000000 as bigint)", "n_tok") + " as excess_unat")
      .localCheckpoint() // |domains| rows; MW loop below never rescans
    val nd = ex.agg(count(lit(1)).as("k"),
      max(col("excess_unat")).as("mx"))
    // normalized mispricing clamped to [−10⁶, 10⁶]: dividing by the MAX
    // excess bounds m from above only — a domain mispriced far BELOW
    // the best-separated one (excess ≪ −3.33·mx) would otherwise drive
    // the linear factor negative and corrupt the weights identically in
    // both engines, where the hash gate can't see it. max ≤ 0 guard
    // keeps the division defined on a degenerate flat corpus.
    val m = ex.crossJoin(broadcast(nd))
      .selectExpr("lang", "excess_unat", "k",
        s"greatest(least(${fdiv("excess_unat * 1000000", "greatest(mx, 1)")}, " +
          "1000000), -1000000) as m_ppm")
    var w = m.selectExpr("lang", "excess_unat", "m_ppm",
      fdiv("1000000", "k") + " as w_ppm")
    // the renormalizing Σw' is a full-frame window over the
    // |domains|-row state (single reference per step — a scalar-agg
    // rejoin would double the lineage each iteration), same disclosed
    // tiny-table regime as the 1-row scalar attaches
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to MwIters) {
      w = w.selectExpr("lang", "excess_unat", "m_ppm",
          fdiv(s"w_ppm * (1000000 + (${fdiv("3 * m_ppm", "10")}))", "1000000")
            + " as wu")
        .withColumn("tw", sum(col("wu")).over(wAll))
        .selectExpr("lang", "excess_unat", "m_ppm",
          fdiv("wu * 1000000", "tw") + " as w_ppm")
      steps += w.selectExpr(s"cast($it as int) as iter", "lang",
        "excess_unat", "w_ppm")
    }
    steps.reduce(_ union _).orderBy(col("iter"), col("lang"))
  }

  /** One MW step CTE for the txt41 oracle. The renormalizer is
    * `SUM(wu) OVER ()` — ONE reference to the previous step (a scalar
    * subquery would re-expand the whole chain per step: 2^5 corpus
    * re-evaluations). */
  private def mwStepCte(k: Int): String = {
    def fd(a: String, b: String) = s"(($a) - ((($a) % $b) + $b) % $b) // $b"
    s"""mw$k AS (
       |  SELECT lang, excess_unat, m_ppm,
       |    CAST(${fd("wu * 1000000", "SUM(wu) OVER ()")} AS BIGINT) AS w_ppm
       |  FROM (SELECT lang, excess_unat, m_ppm,
       |      ${fd(s"w_ppm * (1000000 + (${fd("3 * m_ppm", "10")}))", "1000000")} AS wu
       |    FROM mw${k - 1}) q)""".stripMargin
  }

  val doremiMwSql: String = {
    def fd(a: String, b: String) = s"(($a) - ((($a) % $b) + $b) % $b) // $b"
    s"""WITH wtok AS (
       |  SELECT lang, t.token
       |  FROM documents,
       |    unnest(list_filter(string_split(text, ' '),
       |      w -> length(w) > 0)) AS t(token)),
       |wdc AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM wtok GROUP BY 1, 2),
       |wpc AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS pcnt
       |  FROM wdc GROUP BY token),
       |wpt AS (SELECT CAST(SUM(pcnt) AS BIGINT) AS n,
       |  CAST(COUNT(*) AS BIGINT) AS v FROM wpc),
       |wdt AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS dn
       |  FROM wdc GROUP BY lang),
       |wpl AS (SELECT token,
       |    CAST(ln(CAST(pcnt + 1 AS DOUBLE) / CAST(n + v AS DOUBLE))
       |      AS DECIMAL(28,6)) AS lnp
       |  FROM wpc, wpt),
       |wex AS (
       |  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tok,
       |    SUM(cnt * (lnd - lnp)) AS sx
       |  FROM (
       |    SELECT wdc.lang, wdc.token, wdc.cnt,
       |      CAST(ln(CAST(wdc.cnt + 1 AS DOUBLE) / CAST(wdt.dn + wpt.v AS DOUBLE))
       |        AS DECIMAL(28,6)) AS lnd,
       |      wpl.lnp
       |    FROM wdc JOIN wdt USING (lang) JOIN wpl USING (token), wpt) e
       |  GROUP BY lang),
       |wexu AS (SELECT lang, n_tok,
       |    CAST(${fd("CAST(sx * 1000000 AS BIGINT)", "n_tok")} AS BIGINT)
       |      AS excess_unat
       |  FROM wex),
       |wnd AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(MAX(excess_unat) AS BIGINT) AS mx FROM wexu),
       |mw0 AS (
       |  SELECT lang, excess_unat,
       |    CAST(GREATEST(LEAST(
       |      ${fd("excess_unat * 1000000", "GREATEST(mx, 1)")},
       |      1000000), -1000000) AS BIGINT) AS m_ppm,
       |    CAST(${fd("1000000", "k")} AS BIGINT) AS w_ppm
       |  FROM wexu, wnd),
       |""".stripMargin +
      (1 to MwIters).map(mwStepCte).mkString(",\n") + "\n" +
      (1 to MwIters).map(k =>
        s"SELECT $k AS iter, lang, excess_unat, w_ppm FROM mw$k")
        .mkString("", "\nUNION ALL\n", "\nORDER BY iter, lang")
  }

  // ---------------------------------------------------------------- txt42
  /** Minimum bigram frequency for txt42 — prunes the hapax tail before
    * the unigram joins (PMI of a once-seen pair is noise). */
  val PmiMinCount = 5L

  /** txt42 — PMI COLLOCATION mining (Church & Hanks, CL '90): the
    * top-20 word bigrams by pointwise mutual information
    * ln(p(xy)/(p(x)p(y))) among pairs seen ≥ [[PmiMinCount]] times —
    * the collocation table a tokenizer/vocabulary designer reads before
    * committing merge rules (high-PMI pairs are the multi-word units
    * worth single tokens; txt36's BPE merges rank by raw frequency,
    * this ranks by ASSOCIATION — the two lists disagree exactly where
    * it matters).
    *
    * Scale shape: txt37's row form (posexplode + lag over ONE doc-keyed
    * sort) feeds both count tables — bigrams keyed on the pair, unigrams
    * on the word (two corpus passes, the unigramNll count/rejoin
    * budget); the ≥ min-count filter prunes the bigram table BEFORE its
    * two vocab-keyed equi-joins (AQE picks the strategy — the pruned
    * side is small at gate scale but GROWS with the corpus, so it is
    * never pinned broadcast); totals are 1-row broadcasts; top-20 is
    * TakeOrderedAndProject. Parity: the PMI argument is composed of
    * IEEE-deterministic double divisions in the SAME association order
    * in both engines — (c_xy/N_b) / (c_x/N_u) / (c_y/N_u), integer
    * ratios each exact to cast — then ONE ln quantized to
    * DECIMAL(28,6) (txt21/txt22), which also makes the ORDER BY key
    * engine-identical; the double in the output is a final cast. */
  def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)
    def words = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(expr(
        "filter(split(text, ' '), w -> length(w) > 0)")).as(Seq("pos", "w")))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val biAll = words.withColumn("w2", lag(col("w"), -1).over(byPos))
      .where(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
    val bi = biAll.where(col("c_xy") >= PmiMinCount)
    val uni = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nu = uni.agg(sum(col("c")).as("n_u"))
    // p(xy) normalizes by the TOTAL bigram mass (pre-threshold), per
    // the Church–Hanks definition — the >= PmiMinCount filter prunes
    // which PAIRS are reported, not the probability denominator
    // (r16 advice: thresholded n_b inflated every pmi by a constant).
    val nb = biAll.agg(sum(col("c_xy")).as("n_b"))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("pmi_d",
        log((col("c_xy").cast(DoubleType) / col("n_b").cast(DoubleType)) /
          (col("c_x").cast(DoubleType) / col("n_u").cast(DoubleType)) /
          (col("c_y").cast(DoubleType) / col("n_u").cast(DoubleType)))
          .cast(dec28))
      .orderBy(col("pmi_d").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("c_xy"),
        col("pmi_d").cast(DoubleType).as("pmi"))
  }

  val pmiCollocationsSql: String =
    s"""WITH pw AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
       |  FROM documents),
       |pbiall AS (
       |  SELECT ws[i] AS w1, ws[i + 1] AS w2,
       |    CAST(COUNT(*) AS BIGINT) AS c_xy
       |  FROM pw, unnest(range(1, len(ws))) AS t(i)
       |  WHERE len(ws) >= 2
       |  GROUP BY 1, 2),
       |pbi AS (SELECT * FROM pbiall WHERE c_xy >= $PmiMinCount),
       |puni AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(ws) AS w FROM pw) u
       |  GROUP BY w),
       |pnu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_u FROM puni),
       |pnb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_b FROM pbiall)
       |SELECT b.w1, b.w2, b.c_xy,
       |  CAST(CAST(ln((CAST(b.c_xy AS DOUBLE) / CAST(n_b AS DOUBLE))
       |      / (CAST(x.c AS DOUBLE) / CAST(n_u AS DOUBLE))
       |      / (CAST(y.c AS DOUBLE) / CAST(n_u AS DOUBLE)))
       |    AS DECIMAL(28,6)) AS DOUBLE) AS pmi
       |FROM pbi b
       |  JOIN puni x ON b.w1 = x.w
       |  JOIN puni y ON b.w2 = y.w, pnu, pnb
       |ORDER BY CAST(ln((CAST(b.c_xy AS DOUBLE) / CAST(n_b AS DOUBLE))
       |      / (CAST(x.c AS DOUBLE) / CAST(n_u AS DOUBLE))
       |      / (CAST(y.c AS DOUBLE) / CAST(n_u AS DOUBLE)))
       |    AS DECIMAL(28,6)) DESC, b.w1, b.w2
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- txt43
  /** txt43 — OKAPI BM25 ranked retrieval (Robertson & Walker '94; the
    * Lucene idf variant ln(1 + (N−df+0.5)/(df+0.5)), k1=1.2, b=0.75):
    * the first 5 documents play the queries (their term sets, qtf
    * ignored), every other document is ranked by
    * Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) — the lexical
    * ranker of every BM25+dense hybrid stack; sim28's RRF fusion
    * consumes THIS ranking as its lexical arm (the ensemble it cites
    * is now real, not a stand-in second dense ranker).
    *
    * Scale shape: tf is ONE (doc,term)-keyed count shuffle (the txt07
    * postings seam recomputed — vocabulary-sized, grows with the
    * corpus); df one vocab-keyed count; query terms and idf a ≤
    * |q|·|terms/doc| broadcast — so the scoring join is a MAP-SIDE
    * candidate filter (only postings whose term appears in some query
    * survive), then one doc-keyed thin join attaches dl (never
    * broadcast: dl is corpus-sized; AQE picks the strategy), and the
    * ranking is the bounded-heap `graft_topk` — no window, no global
    * sort, ≤ k rows per query per partition cross the last shuffle.
    * Parity (txt25 recipe): idf's ln is quantized to DECIMAL(28,6);
    * the tf-normalization factor is pure double rational arithmetic
    * in the SAME association order in both engines; each term weight
    * re-quantizes to DECIMAL(28,6) so the per-(query,doc) sum is
    * exact and order-independent; the output double is a final cast. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Shared BM25 ranking seam: (query_id, neighbor_id, score, rnk) for
    * query docs doc_id < 5, top-k by bounded heap. Consumed by txt43
    * and by sim28's hybrid RRF fusion. */
  def bm25Ranked(s: SparkSession, d: String, k: Int): DataFrame = {
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens).as("token"))
      .where(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("avgdl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val qterms = tf.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("token"))
    val qidf = df.join(broadcast(qterms), "token")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("token"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).cast(dec28).as("idf"),
        col("avgdl"))
    val perDoc = tf.join(broadcast(qidf), "token")
      .where(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .withColumn("w", (col("idf").cast(DoubleType)
          * (col("tf") * lit(Bm25K1 + 1.0))
          / (col("tf") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B)
            + lit(Bm25B) * col("dl") / col("avgdl"))))
        .cast(dec28))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("sd"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("sd").cast(DoubleType).as("score"))
    perDoc.groupBy(col("query_id"))
      .agg(call_function("graft_topk", col("score"),
        col("neighbor_id").cast(LongType),
        struct(col("neighbor_id"), col("score")), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.neighbor_id"), col("col.score"),
        (col("pos") + 1).cast(IntegerType).as("rnk"))
  }

  def bm25Retrieval(s: SparkSession, d: String): DataFrame =
    bm25Ranked(s, d, 10).orderBy(col("query_id"), col("rnk"))

  /** CTE body (no WITH) through `bmr` = ranked (query_id, neighbor_id,
    * score, rnk) — embedded by txt43's oracle and sim28's. */
  val bm25CteBody: String =
    """bmtok AS (
      |  SELECT doc_id, t.token FROM documents,
      |    unnest(string_split(text, ' ')) AS t(token)
      |  WHERE LENGTH(t.token) > 0),
      |bmtf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM bmtok GROUP BY 1, 2),
      |bmdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |  FROM bmtf GROUP BY doc_id),
      |bmst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      |  FROM bmdl),
      |bmdf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM bmtf GROUP BY token),
      |bmq AS (SELECT doc_id AS query_id, token FROM bmtf
      |  WHERE doc_id < 5),
      |bmqi AS (SELECT q.query_id, q.token,
      |  CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      |    AS DECIMAL(28,6)) AS idf, avgdl
      |  FROM bmq q JOIN bmdf USING (token), bmst),
      |bmsc AS (SELECT qi.query_id, f.doc_id AS neighbor_id,
      |  CAST(SUM(CAST(CAST(qi.idf AS DOUBLE) * (f.tf * 2.2)
      |    / (f.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / qi.avgdl))
      |    AS DECIMAL(28,6))) AS DOUBLE) AS score
      |  FROM bmtf f JOIN bmqi qi USING (token)
      |    JOIN bmdl l ON l.doc_id = f.doc_id
      |  WHERE f.doc_id <> qi.query_id
      |  GROUP BY 1, 2),
      |bmr AS (SELECT query_id, neighbor_id, score,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM bmsc)""".stripMargin

  val bm25RetrievalSql: String = "WITH " + bm25CteBody +
    """
      |SELECT query_id, neighbor_id, score, rnk FROM bmr
      |WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------- txt44
  /** txt44 — DIRICHLET-smoothed query-likelihood ranking (Zhai &
    * Lafferty, SIGIR '01; μ=2000): the language-modeling alternative
    * to txt43's BM25 — rank documents by log P(q|d) under a Dirichlet-
    * smoothed document LM, spelled in the MATCH-ONLY decomposition
    * score = Σ_{t∈q∩d} ln(1 + tf/(μ·p(t|C))) + |q|·ln(μ/(dl+μ)) so
    * the term sum touches only postings whose term appears in some
    * query (the same map-side broadcast-filter shape as txt43; the
    * naive spelling scores every (query, doc) pair — corpus × queries,
    * the thing that dies at scale). Candidates = docs sharing ≥ 1
    * query term, the txt43 contract. Shares the tf/dl seams and the
    * collection LM p(t|C) = cf_t/|C|.
    *
    * Parity (txt25): both ln families quantize to DECIMAL(28,6) after
    * fixed-order double arithmetic; the per-(query,doc) sum runs in
    * DECIMAL (exact, order-independent), the length-norm term is one
    * more quantized DECIMAL added before the final double cast. */
  val QlMu = 2000.0

  def queryLikelihood(s: SparkSession, d: String): DataFrame = {
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 6)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens).as("token"))
      .where(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val coll = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val tot = dl.agg(sum(col("dl")).as("n_coll"))
    val qterms = tf.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("token"))
    val qn = qterms.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_qterms"))
    // per query term: the collection-LM denominator μ·p(t|C)
    val qlm = coll.join(broadcast(qterms), "token")
      .crossJoin(broadcast(tot))
      .select(col("query_id"), col("token"),
        (lit(QlMu) * (col("cf").cast(DoubleType)
          / col("n_coll").cast(DoubleType))).as("mu_pc"))
    val matched = tf.join(broadcast(qlm), "token")
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("w",
        log(lit(1.0) + col("tf") / col("mu_pc")).cast(dec28))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("sw"))
    val perDoc = matched.join(dl, "doc_id")
      .join(broadcast(qn), "query_id")
      .withColumn("norm",
        (col("n_qterms").cast(DoubleType)
          * log(lit(QlMu) / (col("dl") + lit(QlMu)))).cast(dec28))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        (col("sw").cast(DoubleType) + col("norm").cast(DoubleType))
          .as("score"))
    perDoc.groupBy(col("query_id"))
      .agg(call_function("graft_topk", col("score"),
        col("neighbor_id").cast(LongType),
        struct(col("neighbor_id"), col("score")), lit(10)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.neighbor_id"), col("col.score"),
        (col("pos") + 1).cast(IntegerType).as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** CTE body (no WITH) through `qlr` = ranked (query_id, neighbor_id,
    * score, rnk) — embedded by txt44's oracle and txt45's. */
  val qlCteBody: String =
    """qltok AS (
      |  SELECT doc_id, t.token FROM documents,
      |    unnest(string_split(text, ' ')) AS t(token)
      |  WHERE LENGTH(t.token) > 0),
      |qltf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM qltok GROUP BY 1, 2),
      |qldl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |  FROM qltf GROUP BY doc_id),
      |qlcf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cf
      |  FROM qltf GROUP BY token),
      |qltot AS (SELECT CAST(SUM(dl) AS BIGINT) AS n_coll FROM qldl),
      |qlq AS (SELECT doc_id AS query_id, token FROM qltf
      |  WHERE doc_id < 5),
      |qlqn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_qterms
      |  FROM qlq GROUP BY query_id),
      |qlm AS (SELECT q.query_id, q.token,
      |  2000.0 * (CAST(cf AS DOUBLE) / CAST(n_coll AS DOUBLE)) AS mu_pc
      |  FROM qlq q JOIN qlcf USING (token), qltot),
      |qlmt AS (SELECT m.query_id, f.doc_id,
      |  CAST(SUM(CAST(ln(1.0 + f.tf / m.mu_pc) AS DECIMAL(28,6)))
      |    AS DECIMAL(38,6)) AS sw
      |  FROM qltf f JOIN qlm m USING (token)
      |  WHERE f.doc_id <> m.query_id
      |  GROUP BY 1, 2),
      |qlsc AS (SELECT t.query_id, t.doc_id AS neighbor_id,
      |  CAST(t.sw AS DOUBLE) + CAST(CAST(CAST(n.n_qterms AS DOUBLE)
      |      * ln(2000.0 / (l.dl + 2000.0)) AS DECIMAL(28,6))
      |    AS DOUBLE) AS score
      |  FROM qlmt t
      |  JOIN qldl l ON l.doc_id = t.doc_id
      |  JOIN qlqn n ON n.query_id = t.query_id),
      |qlr AS (SELECT query_id, neighbor_id, score,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM qlsc)""".stripMargin

  val queryLikelihoodSql: String = "WITH " + qlCteBody +
    """
      |SELECT query_id, neighbor_id, score, rnk FROM qlr
      |WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------- txt45
  /** txt45 — LEXICAL-RANKER AGREEMENT audit: per query, the Jaccard
    * overlap between txt43's BM25 top-10 and txt44's query-likelihood
    * top-10 — the measured disagreement that motivates rank fusion
    * (RRF's premise is that independent rankers surface different
    * relevant candidates; if the two lexical rankers agreed perfectly,
    * sim28's lexical arm would add nothing over either alone). Same
    * family as sim14/sim31's recall audits: a retrieval deployment
    * reads this table BEFORE deciding an ensemble is worth 2× the
    * query cost.
    *
    * Scale shape: both inputs are the k·|queries|-row rank lists (the
    * sketch/rank seams, never corpus-sized); the audit is two counts
    * and an equi-join on those tiny frames. jaccard is one double
    * division of exact counts. */
  def rankerAgreement(s: SparkSession, d: String): DataFrame = {
    val a = bm25Ranked(s, d, 10)
      .select(col("query_id"), col("neighbor_id"))
    val b = queryLikelihood(s, d)
      .select(col("query_id"), col("neighbor_id"))
    val common = a.join(b, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    val na = a.groupBy(col("query_id")).agg(count(lit(1)).as("n_bm25"))
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_ql"))
    na.join(nb, "query_id").join(common, Seq("query_id"), "left")
      .select(col("query_id"), col("n_bm25"), col("n_ql"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard", col("n_common").cast(DoubleType)
        / (col("n_bm25") + col("n_ql") - col("n_common"))
          .cast(DoubleType))
      .orderBy(col("query_id"))
  }

  val rankerAgreementSql: String = "WITH " + bm25CteBody + ",\n" +
    qlCteBody +
    """,
      |aga AS (SELECT query_id, neighbor_id FROM bmr WHERE rnk <= 10),
      |agb AS (SELECT query_id, neighbor_id FROM qlr WHERE rnk <= 10),
      |agc AS (SELECT a.query_id, COUNT(*) AS n_common
      |  FROM aga a JOIN agb b USING (query_id, neighbor_id)
      |  GROUP BY a.query_id),
      |agna AS (SELECT query_id, COUNT(*) AS n_bm25 FROM aga
      |  GROUP BY query_id),
      |agnb AS (SELECT query_id, COUNT(*) AS n_ql FROM agb
      |  GROUP BY query_id)
      |SELECT a.query_id, a.n_bm25, b.n_ql,
      |  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
      |  CAST(COALESCE(c.n_common, 0) AS DOUBLE)
      |    / CAST(a.n_bm25 + b.n_ql - COALESCE(c.n_common, 0) AS DOUBLE)
      |    AS jaccard
      |FROM agna a JOIN agnb b USING (query_id)
      |LEFT JOIN agc c ON c.query_id = a.query_id
      |ORDER BY a.query_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("txt01_token_stats", tokenStats, tokenStatsSql),
    Op("txt02_langid", langId, langIdSql),
    Op("txt03_quality", qualityScore, qualityScoreSql),
    Op("txt04_fingerprint", fingerprint, fingerprintSql),
    Op("txt05_ngram_profile", ngramProfile, ngramProfileSql),
    Op("txt06_countmin", countMinSketch, countMinSketchSql),
    Op("txt07_tfidf", tfidfTerms, tfidfTermsSql),
    Op("txt08_curation", curation, curationSql),
    Op("txt09_split_assign", splitAssign, splitAssignSql),
    Op("txt10_seq_pack", seqPack, seqPackSql),
    Op("txt11_repetition", repetition, repetitionSql),
    Op("txt12_stratified_sample", stratifiedSample, stratifiedSampleSql),
    Op("txt13_chunk_overlap", chunkOverlap, chunkOverlapSql),
    Op("txt14_pii_scrub", piiScrub, piiScrubSql),
    Op("txt15_kmv_distinct", kmvDistinct, kmvDistinctSql),
    Op("txt16_quality_model", qualityModel, qualityModelSql),
    Op("txt17_mixture_reweight", mixtureReweight, mixtureReweightSql),
    Op("txt18_heavy_hitters", heavyHitters, heavyHittersSql),
    Op("txt19_curriculum_order", curriculumOrder, curriculumOrderSql),
    Op("txt20_novelty", noveltyScore, noveltyScoreSql),
    Op("txt21_zipf_slope", zipfSlope, zipfSlopeSql),
    Op("txt22_entropy", tokenEntropy, tokenEntropySql),
    Op("txt23_source_mix", sourceMix, sourceMixSql),
    Op("txt24_split_leakage", splitLeakage, splitLeakageSql),
    Op("txt25_unigram_nll", unigramNll, unigramNllSql),
    Op("txt26_boilerplate_strip", boilerplateStrip, boilerplateStripSql),
    Op("txt27_token_fertility", tokenFertility, tokenFertilitySql),
    Op("txt28_bigram_nll", bigramNll, bigramNllSql),
    Op("txt29_bpe_pretokens", bpePretokens, bpePretokensSql),
    Op("txt30_source_drift", sourceDrift, sourceDriftSql),
    Op("txt31_heaps_fit", heapsFit, heapsFitSql),
    Op("txt32_kmv_overlap", kmvOverlap, kmvOverlapSql),
    Op("txt33_temperature_mix", temperatureMix, temperatureMixSql),
    Op("txt34_linear_probe", linearProbeGd, linearProbeGdSql),
    Op("txt35_vocab_coverage", vocabCoverage, vocabCoverageSql),
    Op("txt36_bpe_merge_stats", bpeMergeStats, bpeMergeStatsSql),
    Op("txt46_bpe_train", bpeTrainedMerges, bpeTrainedMergesSql),
    Op("txt47_bpe_compression", bpeCompressionCurve, bpeCompressionCurveSql),
    Op("txt37_repetition", repetitionFilter, repetitionFilterSql),
    Op("txt38_logistic_quality", logisticQualityGd, logisticQualityGdSql),
    Op("txt39_dsir_select", dsirSelect, dsirSelectSql),
    Op("txt40_calibration", calibrationAudit, calibrationAuditSql),
    Op("txt41_doremi_mw", doremiMw, doremiMwSql),
    Op("txt42_pmi_collocations", pmiCollocations, pmiCollocationsSql),
    Op("txt43_bm25", bm25Retrieval, bm25RetrievalSql),
    Op("txt44_query_likelihood", queryLikelihood, queryLikelihoodSql),
    Op("txt45_ranker_agreement", rankerAgreement, rankerAgreementSql))
}
