package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Op, Tables}

/** Skew mitigation for hot keys. AQE's skew-join handles sort-merge
  * skew at runtime; explicit salting is the planned-ahead variant for
  * aggregations and broadcast-averse joins where one key holds a
  * disproportionate share of rows (e.g. `lang='en'` is ~41% of the
  * documents corpus).
  *
  * Both transforms are deterministic: the salt comes from a stable
  * row attribute, never `rand()`, so replays and retries produce
  * identical partitioning.
  */
object Salting {

  /** Two-phase aggregation: group on (key, salt) first — S× more
    * shuffle keys, so the hot key's rows spread over S reducers — then
    * re-aggregate the aliased partials on the key alone. The partial
    * aggregates must be algebraic (sum/count/min/max style) so the two
    * phases compose; e.g.
    * `saltedAgg(docs, col("lang"), col("doc_id"), 8,
    *    Seq(count(lit(1)).as("n")), Seq(sum("n").as("n")))`. */
  def saltedAgg(df: DataFrame, key: Column, saltSource: Column, salts: Int,
      partials: Seq[Column], reAggs: Seq[Column]): DataFrame =
    df.withColumn("__salt", pmod(saltSource, lit(salts)))
      .groupBy(key, col("__salt"))
      .agg(partials.head, partials.tail: _*)
      .drop("__salt")
      .groupBy(key)
      .agg(reAggs.head, reAggs.tail: _*)

  /** Salted fact⋈dim equi-join: the fact side gets a deterministic salt
    * in [0, salts); the dim side is replicated once per salt value via
    * explode. The join key becomes (key, salt) — the hot key's rows
    * land on `salts` different reducers instead of one. Result set is
    * identical to the unsalted join (each fact row still matches its
    * dim row exactly once). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltSource: Column, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(saltSource, lit(salts)))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(replicatedDim, Seq(key, "__salt")).drop("__salt")
  }

  // ------------------------------------------------- oracle-gated twins
  /** op01: the salted two-phase aggregation under the correctness gate —
    * its contract is bit-identical output to a plain GROUP BY (the
    * oracle IS the plain GROUP BY), checked on the skewed `lang` key
    * (en ≈ 41% of the corpus). */
  def saltedLangStats(s: SparkSession, d: String): DataFrame =
    saltedAgg(
      Tables.documents(s, d).select(col("lang"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tok")),
      col("lang"), col("doc_id"), 8,
      Seq(count(lit(1)).as("pn"), sum(col("n_tok")).as("pt")),
      Seq(sum(col("pn")).cast(LongType).as("n_docs"),
        sum(col("pt")).cast(LongType).as("n_tokens")))
      .orderBy(col("lang"))

  val saltedLangStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS n_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** op02: the salted fact⋈dim join under the gate — result set must be
    * identical to the unsalted join (each fact row matches its dim row
    * exactly once despite the dim replication). */
  def saltedDimJoin(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("lang"), col("doc_id"))
    val dim = docs.groupBy(col("lang"))
      .agg(min(col("doc_id")).as("lang_min_id"))
    saltedJoin(docs, dim, "lang", col("doc_id"), 8)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), max(col("lang_min_id")).as("min_id"))
      .orderBy(col("lang"))
  }

  val saltedDimJoinSql: String =
    """WITH dim AS (
      |  SELECT lang, MIN(doc_id) AS lang_min_id FROM documents GROUP BY 1)
      |SELECT d.lang, COUNT(*) AS n_rows, MAX(m.lang_min_id) AS min_id
      |FROM documents d JOIN dim m ON d.lang = m.lang
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  /** op05 — AQE's AUTOMATED skew split under the gate: the same hot
    * `lang` key op01/op02 salt by hand, handled by the engine's own
    * `OptimizeSkewedJoin` instead (the automated twin of the manual
    * salting, exactly as op04's `InjectRuntimeFilter` is the automated
    * twin of dd10's hand-built Bloom route). The workload is the
    * per-language cross-source pair matrix (which corpus slices would
    * meet in a within-language pairing job — the shape of contrastive
    * pair mining and per-language mixing audits): a lang-keyed
    * fact⋈fact join whose BOTH sides are raw scans — the structural
    * requirement for the skew rule, which pattern-matches
    * SMJ(Sort(shuffle), Sort(shuffle)) and cannot fire with an
    * aggregate between shuffle and join. The text payload rides the
    * pair side into a post-join SUM(length) so column pruning can't
    * hollow out the hot partition, and the en partition (~41% of
    * corpus bytes, quadratic in the pair count) is genuinely
    * oversized; AQE splits it into advisory-sized reads at runtime
    * and the result must be IDENTICAL to the plain join — the oracle
    * IS the plain join.
    *
    * Scale-invariant trigger: threshold and advisory chunk derive from
    * the measured corpus ROW COUNT — rows × ~40 serialized bytes per
    * shuffled (lang, source, fp) row ÷ 16 target splits of the hot
    * partition — so the hot partition is a healthy multiple of the
    * advisory chunk at EVERY scale factor, not a fixture constant that
    * stops firing at 10× the data. (Row count, not file bytes: the fp
    * payload is computed below the exchange, so the shuffled width is
    * a known constant while on-disk text bytes compress ~10× and vary
    * with corpus mix.) Note for bench readers: the sizing `count()` is
    * an eager extra scan inside query construction, so op05's recorded
    * time includes it.
    *
    * Conf isolation: runs on `newSession()` — same shared state, OWN
    * conf — so the lowered thresholds govern THIS query's runtime
    * stage re-optimization (AQE reads conf at execution, after a
    * planning-window freeze would have ended) and never leak to the
    * session's other queries. */
  def aqeSkewJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    val docs = Tables.documents(s2, d)
    val totRows = docs.count()
    // the shuffled payload is a 32-char md5 fingerprint: INCOMPRESSIBLE
    // (synthetic text compresses ~10×, which silently un-skews a
    // byte-threshold) and UNPRUNABLE-to-nothing (the projection
    // pushdown computes it below the exchange, but 32 random-ish bytes
    // per row still have to travel). ~40 B/row serialized → the hot
    // partition is a predictable multiple of the advisory chunk at
    // every SF.
    val advisory = math.min(math.max(totRows * 40 / 16, 512L), 64L << 20)
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      advisory.toString)
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      advisory.toString)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE splits a skewed REDUCE partition by regrouping its MAP
    // outputs — a partition fed by a single map task is unsplittable.
    // A 100 TB scan has thousands of map tasks; this fixture-sized
    // single-file scan has ONE, so the round-robin repartition stands
    // in for the multi-task map stage a real corpus scan is. (Found
    // the hard way: every size threshold was met and the rule still
    // couldn't fire.)
    val a = docs.repartition(32)
      .select(col("lang"), col("source").as("source_a"),
        md5(col("text")).as("fp"))
    val b = docs.select(col("lang"), col("source").as("source_b"))
    a.join(b, Seq("lang"))
      .groupBy(col("lang"), col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), min(col("fp")).as("fp_min"))
      .orderBy(col("lang"), col("source_a"), col("source_b"))
  }

  val aqeSkewJoinSql: String =
    """SELECT a.lang, a.source AS source_a, b.source AS source_b,
      |  COUNT(*) AS n_pairs,
      |  MIN(md5(a.text)) AS fp_min
      |FROM documents a JOIN documents b ON a.lang = b.lang
      |GROUP BY a.lang, a.source, b.source
      |ORDER BY a.lang, source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- op08
  /** AQE partition COALESCING (op08) — the inverse failure mode of
    * op05's skew split: a shuffle planned with far too many partitions
    * (here 512, the "tuned for the big table, reused for the small
    * one" misconfiguration every shared-conf pipeline ships) would run
    * hundreds of near-empty reduce tasks; AQE merges adjacent shuffle
    * blocks up to the advisory size at RUNTIME, so task count follows
    * the DATA, not the conf. Plan-pinned: the final agg's
    * AQEShuffleRead reads `coalesced` partitions, strictly fewer than
    * planned. Conf-isolated session (op05's pattern); the oracle is
    * the plain aggregate — coalescing must be invisible in the result. */
  def aqeCoalesce(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "512")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    Tables.documents(s2, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast(
          org.apache.spark.sql.types.LongType)).as("chars"))
      .orderBy(col("lang"), col("source"))
  }

  val aqeCoalesceSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("op01_salted_agg", saltedLangStats, saltedLangStatsSql),
    Op("op02_salted_join", saltedDimJoin, saltedDimJoinSql),
    Op("op05_aqe_skew_join", aqeSkewJoin, aqeSkewJoinSql),
    Op("op08_aqe_coalesce", aqeCoalesce, aqeCoalesceSql))
}
