package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Deterministic corpus sampling — the dataset-curation step every
  * training-data pipeline runs between dedup and training: cut each
  * stratum (language here) to a budget WITHOUT an order-by, a
  * shuffle, or an RNG whose draw depends on partitioning.
  *
  * The keep decision is a pure function of the row: an engine-neutral
  * multiplicative hash of the key compared against the stratum's rate
  * threshold. That makes the sample (a) reproducible bit-for-bit
  * across engines (the DuckDB oracle spells the same arithmetic —
  * Spark's own `hash()`/`rand()` are engine-private), (b) a NARROW
  * filter at scale — the corpus is never shuffled; only the
  * strata-count aggregate (|langs| rows) moves, broadcast back — and
  * (c) stable under re-runs and appends: a doc's verdict never depends
  * on which partition or executor saw it (`TABLESAMPLE`/`rand()`
  * resample on every retry; hash sampling is how production pipelines
  * pin train-set membership).
  *
  * The reference has no sampling stage (it ships everything to
  * Postgres); this generalizes its per-row pipeline to the budgeted
  * form a 100 TB corpus needs. */
object Sampling {

  /** Per-language document budget: strata at-or-under it keep
    * everything (rate 1); over it are hash-thinned to ≈budget docs in
    * expectation. */
  val BudgetPerLang = 50.0

  /** Engine-neutral hash: multiplicative mix into a prime field —
    * spellable identically in Spark and DuckDB (both BIGINT-exact at
    * this magnitude). Same family as st02's KMV hash. */
  private val HashMod = 1000003L

  /** op12 — stratified hash sampling: per-lang rate = min(1, B/n), a
    * doc keeps iff h(doc_id) falls under rate·M. Plan shape: one tiny
    * per-stratum count (broadcast back) + one narrow filter — the
    * sampled corpus never shuffles. Output is the full sample
    * membership (the strongest checkable artifact — the oracle must
    * reproduce the exact same doc set, not just the counts). */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val rates = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"),
        least(lit(1.0), lit(BudgetPerLang) / col("n").cast("double"))
          .as("rate"))
    // doc_id is reduced mod HashMod BEFORE the multiply: the raw
    // product doc_id·2654435761 overflows signed 64-bit at
    // doc_id ≈ 3.5e9 (Spark would wrap, DuckDB would error) — the
    // reduced form is congruent mod HashMod, so the keep-set is
    // unchanged, and (HashMod-1)·(2654435761 mod HashMod) ≈ 4.3e11
    // stays exact in both engines at any doc_id.
    docs.join(broadcast(rates), "lang")
      .where((col("doc_id") % HashMod * (2654435761L % HashMod)
          + 99991L) % HashMod <
        floor(col("rate") * HashMod).cast("long"))
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val stratifiedSampleSql: String =
    s"""WITH rates AS (
       |  SELECT lang, LEAST(1.0, ${BudgetPerLang} / COUNT(*)) AS rate
       |  FROM documents GROUP BY lang)
       |SELECT d.lang, d.doc_id
       |FROM documents d JOIN rates r USING (lang)
       |WHERE (d.doc_id % ${HashMod} * (2654435761 % ${HashMod})
       |    + 99991) % ${HashMod}
       |  < CAST(FLOOR(r.rate * ${HashMod}) AS BIGINT)
       |ORDER BY d.lang, d.doc_id""".stripMargin

  /** Fixed sample size for op14 — constant, so the driver-side top-k
    * set stays O(k) no matter the corpus. */
  val PriorityK = 200

  /** op14 — priority sampling (Duffield–Lund–Thorup, JACM '07): a
    * fixed-k WEIGHTED sample without replacement whose inclusion is,
    * like op12, a pure function of the row. Each doc gets priority
    * q = floor(w·M / (h(doc_id)+1)) — the integer-exact spelling of
    * w/u with u = (h+1)/M ∈ (0,1] drawn from the same engine-neutral
    * multiplicative hash as op12 (doc_id reduced mod M before the
    * multiply; see op12's overflow note). The k highest-priority docs
    * are the sample; τ = the (k+1)-th priority; ŵ = max(w, τ) is the
    * DLT estimator (Σŵ over the sample is unbiased for Σw — the knob
    * a 100 TB mixing pipeline uses to quota heavy sources without a
    * full pass).
    *
    * Plan shape at scale: the priority is map-side arithmetic;
    * `orderBy(..).limit(k+1)` is TakeOrderedAndProject — each
    * partition keeps a k+1 heap and only k+1 rows ever leave a
    * partition (never a global sort); τ is an aggregate over those
    * k+1 rows broadcast back. Integer-only arithmetic end-to-end, so
    * Spark `div` and DuckDB `//` agree bit-for-bit (all operands
    * positive: floor = truncate in both). */
  def prioritySample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mulRed = 2654435761L % HashMod
    val pr = docs.select(col("doc_id"), col("n_chars"),
      expr(s"n_chars * $HashMod div " +
        s"((doc_id % $HashMod * $mulRed + 99991) % $HashMod + 1)")
        .as("priority"))
    // (priority desc, doc_id) is a total order (doc_id unique), so the
    // k-vs-k+1 boundary is deterministic even under priority ties.
    val top = pr.orderBy(col("priority").desc, col("doc_id"))
      .limit(PriorityK + 1)
    // DLT defines τ = the (k+1)-th priority ONLY when one exists; with
    // ≤ k rows the whole table is the sample and τ = 0 (ŵ = w exactly —
    // min-of-all-priorities here would overestimate every weight).
    val tau = top.agg(
      when(count(lit(1)) === (PriorityK + 1), min(col("priority")))
        .otherwise(lit(0L)).as("tau"))
    top.crossJoin(broadcast(tau))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(PriorityK)
      .select(col("doc_id"), col("n_chars"), col("priority"),
        greatest(col("n_chars"), col("tau")).as("est_weight"))
  }

  val prioritySampleSql: String =
    s"""WITH pr AS (
       |  SELECT doc_id, n_chars,
       |    n_chars * ${HashMod} //
       |      ((doc_id % ${HashMod} * (2654435761 % ${HashMod})
       |        + 99991) % ${HashMod} + 1) AS priority
       |  FROM documents),
       |top AS (
       |  SELECT * FROM pr
       |  ORDER BY priority DESC, doc_id LIMIT ${PriorityK + 1}),
       |tau AS (SELECT CASE WHEN COUNT(*) = ${PriorityK + 1}
       |  THEN MIN(priority) ELSE 0 END AS tau FROM top)
       |SELECT doc_id, n_chars, priority,
       |  GREATEST(n_chars, tau) AS est_weight
       |FROM top, tau
       |ORDER BY priority DESC, doc_id LIMIT ${PriorityK}""".stripMargin

  /** Per-stratum sample size for op15 — bounded per group. */
  val GroupK = 20

  /** op15 — GROUPWISE priority sampling: op14's DLT estimator run
    * independently per language — fixed k docs AND an unbiased
    * per-stratum Σweight estimate from one pass, the per-source quota
    * table a mixing pipeline actually wants (op12 fixes the RATE per
    * stratum; this fixes the COUNT and still estimates the mass).
    *
    * Plan shape at scale: priorities are map-side arithmetic (same
    * engine-neutral hash as op12/op14); the per-lang (k+1)-selection
    * is the bounded-heap `graft_topk` aggregate — map-side partials
    * reduce every partition to ≤ k+1 rows per lang BEFORE the shuffle,
    * so there is NO ranking window and nothing corpus-sized moves
    * (the op14 TakeOrderedAndProject trick can't group; the heap
    * aggregate is its groupwise generalization). τ per lang = the
    * (k+1)-th priority when one exists, else 0 (the op14 small-stratum
    * guard). Priorities ≤ max(n_chars)·HashMod < 2^53 stay exact
    * through graft_topk's double score, so the heap order equals the
    * oracle's integer ordering bit-for-bit. The oracle spells the
    * INDEPENDENT window-ranked formulation. */
  def groupPrioritySample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mulRed = 2654435761L % HashMod
    val k = GroupK
    val heaps = docs
      .select(col("lang"), col("doc_id"), col("n_chars"),
        expr(s"n_chars * $HashMod div " +
          s"((doc_id % $HashMod * $mulRed + 99991) % $HashMod + 1)")
          .as("priority"))
      .groupBy(col("lang"))
      .agg(call_function("graft_topk", col("priority").cast("double"),
        col("doc_id"),
        struct(col("doc_id"), col("n_chars"), col("priority")),
        lit(k + 1)).as("topk"))
    heaps
      .withColumn("tau",
        when(size(col("topk")) === k + 1,
          element_at(col("topk"), k + 1).getField("priority"))
          .otherwise(lit(0L)))
      .select(col("lang"), col("tau"), posexplode(col("topk")))
      .where(col("pos") < k)
      .select(col("lang"), col("col.doc_id").as("doc_id"),
        col("col.n_chars").as("n_chars"),
        col("col.priority").as("priority"),
        greatest(col("col.n_chars"), col("tau")).as("est_weight"),
        (col("pos") + 1).cast(org.apache.spark.sql.types.IntegerType)
          .as("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  val groupPrioritySampleSql: String =
    s"""WITH pr AS (
       |  SELECT lang, doc_id, n_chars,
       |    n_chars * ${HashMod} //
       |      ((doc_id % ${HashMod} * (2654435761 % ${HashMod})
       |        + 99991) % ${HashMod} + 1) AS priority
       |  FROM documents),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY priority DESC, doc_id) AS INTEGER) AS rnk
       |  FROM pr),
       |tau AS (
       |  SELECT lang,
       |    COALESCE(MAX(CASE WHEN rnk = ${GroupK + 1} THEN priority END),
       |      0) AS tau
       |  FROM r WHERE rnk <= ${GroupK + 1} GROUP BY lang)
       |SELECT r.lang, doc_id, n_chars, priority,
       |  GREATEST(n_chars, tau) AS est_weight, rnk
       |FROM r JOIN tau USING (lang)
       |WHERE rnk <= ${GroupK}
       |ORDER BY r.lang, rnk""".stripMargin

  // ------------------------------------------------------------- op16
  /** Shard count for the op16 emission layout (and its Spec pins). */
  val ShardN = 16

  /** Seed for the op16 permutation — a different additive constant in
    * the same prime-field mix as op12/op14, so two emissions with
    * different seeds are independent permutations of the same corpus
    * while one seed is bit-reproducible everywhere. */
  val ShardSeed = 777767L

  /** Seed for dd24/dd25's train-budget thinning draw. Distinct from
    * the split seed (99991) so that on singleton clusters — where
    * cluster_id == doc_id, the common case — the thinning sample is
    * independent of the split residue, and from [[ShardSeed]] so it
    * is independent of the shard layout. */
  val ThinSeed = 424243L

  /** The seeded engine-neutral permutation key: op12's multiplicative
    * mix (doc_id reduced mod M before the multiply — see op12's
    * overflow note). NOT Spark's `hash()`/`rand()`: a training-data
    * emission must hash identically on whatever engine re-derives or
    * audits a shard manifest. */
  private def shardKey(seed: Long) =
    (col("doc_id") % HashMod * (2654435761L % HashMod) + seed) % HashMod

  /** op16 — REPRODUCIBLE CORPUS SHARDING, the last step before a
    * tokenizer/trainer handoff: the final corpus lands in [[ShardN]]
    * deterministic, count-balanced shards, each internally ordered by
    * a SEEDED engine-neutral permutation (cross-run shuffling: change
    * the seed, get an independent order; keep it, get bytes a re-run
    * reproduces exactly — `rand()`-shuffled emission resamples per
    * retry and can never be audited).
    *
    * Production split of labor, both halves here:
    *  - [[shardLayout]] is the WRITER path: shard = h(doc) mod N is a
    *    narrow map (no global rank, no global sort — balanced in
    *    expectation by the hash, measured in the Spec), ordering is
    *    per-shard `sortWithinPartitions` (external sort — a shard
    *    never has to fit in memory), one task writes one shard file.
    *  - THIS registered query is the AUDIT manifest: per shard, the
    *    doc count, char mass, and a position-weighted checksum that
    *    pins the ENTIRE permutation order (any swap of two docs
    *    changes it). The rank window routes each shard through one
    *    task — audit-scale cost, like sim31's exact pass; the writer
    *    path above carries no window. */
  def corpusShards(s: SparkSession, d: String): DataFrame = {
    val h = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), shardKey(ShardSeed).as("hk"))
      .withColumn("shard", col("hk") % ShardN)
    val pos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hk"), col("doc_id"))
    h.withColumn("pos", row_number().over(pos).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("pos") * ((col("doc_id") + col("hk")) % HashMod)
          % HashMod).cast("long").as("perm_checksum"))
      .orderBy(col("shard"))
  }

  val corpusShardsSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, n_chars,
       |    (doc_id % ${HashMod} * (2654435761 % ${HashMod})
       |      + ${ShardSeed}) % ${HashMod} AS hk
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_chars, hk, hk % ${ShardN} AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY hk % ${ShardN}
       |      ORDER BY hk, doc_id) AS pos
       |  FROM h)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(pos * ((doc_id + hk) % ${HashMod}) % ${HashMod})
       |    AS BIGINT) AS perm_checksum
       |FROM p GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** The op16 WRITER path: `result.write.partitionBy("shard")` emits
    * exactly `n` shard directories with ONE file each — repartition on
    * the shard column puts every shard in exactly one task, and the
    * in-partition sort is the seeded permutation order (external sort:
    * shards never need to fit in memory). Layout + determinism pinned
    * in SamplingShardSpec. */
  def shardLayout(df: DataFrame, n: Int, seed: Long = ShardSeed)
      : DataFrame = {
    require(n > 0, s"shard count must be positive, got $n")
    df.withColumn("hk", (col("doc_id") % HashMod
        * (2654435761L % HashMod) + seed) % HashMod)
      .withColumn("shard", col("hk") % n)
      .repartition(n, col("shard"))
      .sortWithinPartitions(col("hk"), col("doc_id"))
      .drop("hk")
  }

  val ops: Seq[Op] = Seq(
    Op("op12_stratified_sample", stratifiedSample, stratifiedSampleSql),
    Op("op14_priority_sample", prioritySample, prioritySampleSql,
      Set(Op.IoLayout)),
    Op("op15_group_priority_sample", groupPrioritySample,
      groupPrioritySampleSql),
    Op("op16_corpus_shards", corpusShards, corpusShardsSql))
}
