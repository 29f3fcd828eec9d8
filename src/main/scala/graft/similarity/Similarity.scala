package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.{Op, Tables}

/** Similarity search over the embeddings table: brute-force cosine top-k
  * (the correctness baseline) and an LSH-bucketed ANN variant (the scale
  * path — signature equi-join instead of a cross join).
  *
  * Scale design: queries are the tiny side and are broadcast; scoring is
  * a map-side fold over each candidate partition; ranking is an exact
  * bounded-heap top-k AGGREGATION ([[topKPerQuery]]) — map-side partial
  * top-k per scoring partition, one ≤ k × partitions shuffle keyed by
  * query — so no task ever ranks more than one partition's candidates
  * and the scored set is never exchanged or sorted whole. For the ANN
  * variants the probe only touches candidates sharing the signature
  * bucket / IVF cell.
  */
object Similarity {

  /** (vec_id, label, e double[], nrm) — dots must be sequential
    * left-folds so Spark and DuckDB produce bit-identical doubles
    * (graft_vec_dot is exactly that fold, natively). */
  private def normed(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      // a zero vector has no direction: cosine against it is undefined
      // and its nrm divisor is a fatal ANSI 0-division — exclude it
      .where(col("nrm") > 0)
  }

  private[graft] val normedCte: String =
    """WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (SELECT * FROM (
      |  SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
      |  WHERE nrm > 0)
      |""".stripMargin

  /** Config key: coarse-quantizer width — the IVF/k-NN-graph cell count
    * (sim03/04/08); sim02 derives its hyperplane count from it as
    * max(1, ⌈log₂ cells⌉) (buckets ≈ cells). Unset → ⌈√n⌉ over the
    * nonzero-norm corpus: cells ≈ √n makes the blocked self-join's
    * total pairwise work cells · (n/cells)² = O(n^1.5) — SURVEY's scale
    * claim as code, where a fixed cell count would degenerate toward
    * all-pairs at 100× the data. Centroids/planes remain the
    * deterministic first-k corpus vectors (no RNG), so results are
    * reproducible and the oracle mirrors the selection exactly. */
  val IvfCellsKey = "spark.graft.ivfCells"

  /** One-row {c: LONG} frame: the conf override, else ⌈√n⌉ as a scalar
    * aggregate of the corpus — declarative (no driver-side count
    * action); consumers broadcast it onto a `vec_id < c` prefix filter. */
  private def cellsOf(s: SparkSession, n: DataFrame): DataFrame =
    s.conf.getOption(IvfCellsKey) match {
      case Some(k) => s.range(1).select(lit(k.toLong).as("c"))
      case None => n.agg(ceil(sqrt(count(lit(1)))).as("c"))
    }

  /** The deterministic first-⌈cells⌉ corpus prefix as IVF centroids. */
  private def centroids(s: SparkSession, n: DataFrame): DataFrame =
    n.crossJoin(broadcast(cellsOf(s, n)))
      .where(col("vec_id") < col("c"))
      .select(col("vec_id").as("pid"), col("e").as("ce"),
        col("nrm").as("cnrm"))

  /** Nearest-centroid assignment as ONE hash aggregate: every corpus
    * row crosses the broadcast centroid set map-side and reduces to its
    * argmax-cosine centroid via a lexicographic `min(struct(-csim,
    * pid))` partial aggregate — each vector's candidates all originate
    * in one scan partition, so the assignment shuffle carries ONE row
    * per vector. The window spelling (`row_number() OVER (PARTITION BY
    * vec_id ORDER BY csim DESC, pid) = 1`, which the oracle keeps)
    * exchanges and sorts the full |corpus|×cells candidate frame
    * instead. Winners are identical: no NaNs (nrm > 0 upstream), and
    * -0.0 ≡ 0.0 under Spark's normalized comparison, so -csim
    * ascending is csim descending with the same pid tiebreak. */
  private def assignCells(n: DataFrame, cent: DataFrame): DataFrame =
    n.crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("e"), col("ce"))
          / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"), col("e"), col("nrm"))
      .agg(min(struct((-col("csim")).as("nc"), col("pid").as("pid")))
        .as("w"))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("w").getField("pid").as("cell"))

  /** Oracle mirror of [[cellsOf]] (default path) + [[centroids]]. */
  private[graft] val centCte: String =
    """cells AS (
      |  SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM n),
      |cent AS (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM n, cells
      |  WHERE vec_id < cells.c)""".stripMargin

  /** Oracle mirror of [[assignCells]] — the window-ranked spelling
    * (shared by every oracle that consumes the nearest-centroid
    * partition; the tie-break MUST stay `csim DESC, pid`). */
  private[graft] val assignedCte: String =
    """assigned AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, v.nrm, c.pid,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |        ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |                 c.pid) AS rn
      |    FROM n v CROSS JOIN cent c) t
      |  WHERE rn = 1)""".stripMargin

  /** Exact top-k per query as ONE bounded-heap aggregation
    * ([[graft.functions.TopKStruct]]): `groupBy(query_id)` with the
    * `graft_topk` TypedImperativeAggregate, which
    * ObjectHashAggregateExec evaluates with map-side PARTIAL
    * aggregation — each scoring partition reduces to ≤ k payloads per
    * query BEFORE the shuffle, so the only exchange in the ranking is
    * ≤ k × partitions rows keyed by query_id. A single
    * `Window.partitionBy(query_id)` over the full scored set routes
    * every candidate — the whole corpus, for brute-force variants —
    * into ONE task per query: a driver-style bottleneck moved one hop
    * out, and the first thing to die at 1000 executors. (The previous
    * round's two-level row_number() split fixed THAT but still paid an
    * exchange + full sort of the scored set before discarding; the
    * aggregate discards first — no window, no sort, no extra
    * exchange.) EXACT, not approximate: the ordering is total (unique
    * neighbor-id tiebreak: score DESC, id ASC), so merged partial
    * top-k = global top-k — same rows, ranks, and oracle SQL as the
    * window spelling. Output: query_id, payloadCols…, rnk. */
  private def topKPerQuery(scored: DataFrame, k: Int, score: Column,
      tiebreak: Column, payloadCols: Seq[String]): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("graft_topk",
        score.cast("double"), tiebreak.cast("long"),
        struct(payloadCols.map(col): _*), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id") +: payloadCols.map(c => col("col." + c)) :+
        (col("pos") + 1).cast(IntegerType).as("rnk"): _*)

  // --------------------------------------------------------------- sim01
  /** Brute-force cosine top-3 for query vectors (vec_id < 5). */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val q = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
      col("nrm").as("nrm_c"))
    val scored = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(scored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val cosineTopKSql: String = normedCte +
    """SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id)
      |      AS INTEGER) AS rnk
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim02
  /** LSH-bucketed ANN: max(1, ⌈log₂ cells⌉) sign-of-dot hyperplane bits
    * (planes = the first k data vectors — deterministic, no RNG; k
    * scales with [[IvfCellsKey]], default ⌈log₂√n⌉ bits ⇒ ~√n buckets),
    * bucket equi-join, cosine top-3 within bucket. Trades recall for
    * touching ~n/buckets of the candidates per query. */
  def lshAnn(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val planes = n.crossJoin(broadcast(cellsOf(s, n)
        .select(greatest(lit(1L), ceil(log2(col("c")))).as("np"))))
      .where(col("vec_id") < col("np"))
      .select(col("vec_id").as("pid"), col("e").as("pe"))
    val sigs = n.crossJoin(broadcast(planes))
      .withColumn("bit",
        when(call_function("graft_vec_dot", col("e"), col("pe")) >= 0,
          expr("shiftleft(1, cast(pid as int))")).otherwise(0))
      .groupBy(col("vec_id"), col("label"), col("e"), col("nrm"))
      .agg(sum(col("bit")).as("sig"))
    val c = sigs.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
      col("nrm").as("nrm_c"), col("sig"))
    val scored = broadcast(
        sigs.where(col("vec_id") < 5).select(col("vec_id").as("query_id"),
          col("e").as("eq"), col("nrm").as("nrm_q"), col("sig")))
      .join(c, Seq("sig"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(scored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "sig", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("sig"), col("cosine"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Oracle mirror of the sim02 signature stage (cells → hyperplanes →
    * per-vector signature) — shared with sim14's recall audit. */
  private val lshSigCtes: String =
    """cells AS (
      |  SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM n),
      |np AS (SELECT GREATEST(1, CAST(ceil(log2(c)) AS BIGINT)) AS p FROM cells),
      |planes AS (SELECT vec_id AS pid, e AS pe FROM n, np WHERE vec_id < np.p),
      |sigs AS (
      |  SELECT v.vec_id, v.label, v.e, v.nrm,
      |    CAST(SUM(CASE WHEN list_dot_product(v.e, p.pe) >= 0
      |      THEN (1 << CAST(p.pid AS INT)) ELSE 0 END) AS BIGINT) AS sig
      |  FROM n v CROSS JOIN planes p
      |  GROUP BY v.vec_id, v.label, v.e, v.nrm)""".stripMargin

  val lshAnnSql: String = normedCte + "," + lshSigCtes + "\n" +
    """SELECT query_id, neighbor_id, sig, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.sig AS sig,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id)
      |      AS INTEGER) AS rnk
      |  FROM sigs q JOIN sigs c ON q.sig = c.sig AND c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim03
  /** IVF (inverted-file) ANN: centroids = the first ⌈cells⌉ data vectors
    * (deterministic, no k-means RNG; cells from [[IvfCellsKey]], default
    * ⌈√n⌉), every vector assigned to its nearest centroid by cosine
    * (row_number tie-broken on centroid id), queries probe ONLY their
    * own cell (nprobe=1). The classic coarse-quantizer trade: each probe
    * touches |corpus|/cells candidates. At 100 TB the assignment is one
    * broadcast-join map pass and the probe is an equi-join on cell id —
    * no pairwise blowup anywhere. */
  def ivfAnn(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val assigned = assignCells(n, centroids(s, n))
    val c = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val scored = broadcast(assigned.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("e").as("eq"),
          col("nrm").as("nrm_q"), col("cell")))
      .join(c, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(scored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cell", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val ivfAnnSql: String = normedCte + "," + centCte + "," + assignedCte + "\n" +
    """SELECT query_id, neighbor_id, cell, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell AS cell,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id)
      |      AS INTEGER) AS rnk
      |  FROM assigned q JOIN assigned c
      |    ON q.cell = c.cell AND c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim04
  /** Multi-probe IVF ANN (nprobe=2): same coarse quantizer as sim03,
    * but each query probes its TWO nearest cells — the standard
    * recall/latency dial. A vector whose true neighbor sits just across
    * a cell boundary (the sim03 failure mode) is recovered by the
    * second probe at 2× the candidate cost, still |corpus|·nprobe/k —
    * no pairwise blowup. Candidates stay assigned to exactly one cell,
    * so probing two distinct cells never yields duplicate pairs and
    * needs no distinct. */
  def ivfMultiProbe(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val cent = centroids(s, n)
    val assigned = assignCells(n, cent)
    // probe ranking windows only the QUERY rows (queries × cells — a
    // handful), so the corpus never pays rank-2 bookkeeping it drops
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("pid"))
    val probes = n.where(col("vec_id") < 5).crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("e"), col("ce"))
          / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("pid").as("cell"))
    val c = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val scored = broadcast(probes).join(c, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(scored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val ivfMultiProbeSql: String = normedCte + "," + centCte + "," +
    """ranked AS (
      |  SELECT v.vec_id, v.e, v.nrm, c.pid,
      |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |  FROM n v CROSS JOIN cent c),
      |assigned AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, e AS eq, nrm AS nrm_q, pid AS cell
      |  FROM ranked WHERE vec_id < 5 AND rn <= 2)
      |SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.eq, c.e) / (q.nrm_q * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id
      |      ORDER BY list_dot_product(q.eq, c.e) / (q.nrm_q * c.nrm) DESC,
      |               c.vec_id) AS INTEGER) AS rnk
      |  FROM probes q JOIN assigned c
      |    ON q.cell = c.cell AND c.vec_id <> q.query_id) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim05
  /** Scalar-quantized (int8) similarity search: embeddings compressed
    * 4× by q = round(x·127 / mx) with one GLOBAL max-|x| scale (a
    * scalar aggregate broadcast to every row — no per-vector scale to
    * store), then brute-force top-3 by the quantized dot product.
    * The score is an exact INTEGER sum, so ranking is reproducible to
    * the bit with no float-order caveats at all — the memory-bound
    * regime's answer at 100 TB, where the fp32 corpus doesn't fit but
    * int8 does and candidate ranking happens in quantized space (an
    * fp32 re-rank of the shortlist would follow; sim01 is that exact
    * scorer). Ties break on neighbor id, mirrored in the oracle. */
  def sq8TopK(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d).select(col("vec_id"), col("e"))
    val mx = n.agg(max(expr(
      "aggregate(e, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    val q = n.join(broadcast(mx))
      .select(col("vec_id"),
        expr("transform(e, x -> cast(round(x * 127 / mx) as int))").as("q"))
    val c = q.select(col("vec_id").as("neighbor_id"), col("q").as("qc"))
    val scored = broadcast(q.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq")))
      .join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot",
        call_function("graft_int_dot", col("qq"), col("qc")))
    // qdot's double cast is order-exact: |qdot| ≤ dim·127² ≪ 2^53
    topKPerQuery(scored, 3, col("qdot"), col("neighbor_id"),
        Seq("neighbor_id", "qdot"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val sq8TopKSql: String = normedCte + "," +
    """mx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(e, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM n),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> CAST(round(x * 127 / mx.mx) AS INT)) AS q
      |  FROM n, mx)
      |SELECT query_id, neighbor_id, qdot, rnk FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
      |      i -> CAST(a.q[CAST(i AS INT)] AS BIGINT) * b.q[CAST(i AS INT)]))
      |      AS BIGINT) AS qdot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(range(1, len(a.q) + 1),
      |        i -> CAST(a.q[CAST(i AS INT)] AS BIGINT) * b.q[CAST(i AS INT)])) DESC,
      |        b.vec_id) AS INTEGER) AS rnk
      |  FROM q a JOIN q b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 5) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim06
  /** Shortlist-then-re-rank — the two-stage retrieval shape production
    * ANN actually ships (sim05's scaladoc names it): a CHEAP quantized
    * scorer (int8 dot, memory-bound-regime arithmetic) prunes the
    * corpus to a per-query shortlist of 10, then the EXACT fp32 cosine
    * (sim01's scorer) re-ranks only those survivors to the final 3.
    * At 100 TB the expensive scorer touches 10 rows per query instead
    * of the corpus; both stages rank via the same exact two-level
    * top-k. Shortlist membership is decided by an integer dot with a
    * unique id tiebreak and the re-rank by bit-identical fold cosines,
    * so the full pipeline is reproducible to the bit. */
  def sq8Rerank(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val mx = n.agg(max(expr(
      "aggregate(e, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    val q = n.join(broadcast(mx))
      .select(col("vec_id"), col("e"), col("nrm"),
        expr("transform(e, x -> cast(round(x * 127 / mx) as int))").as("q"))
    val c = q.select(col("vec_id").as("neighbor_id"), col("q").as("qc"),
      col("e").as("ec"), col("nrm").as("nrm_c"))
    val scored = broadcast(q.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("e").as("eq"), col("nrm").as("nrm_q")))
      .join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot",
        call_function("graft_int_dot", col("qq"), col("qc")))
    val shortlist =
      topKPerQuery(scored, 10, col("qdot"), col("neighbor_id"),
        Seq("neighbor_id", "qdot", "eq", "ec", "nrm_q", "nrm_c"))
        .drop("rnk")
    val reranked = shortlist
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(reranked, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "qdot", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val sq8RerankSql: String = normedCte + "," +
    """mx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(e, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM n),
      |q AS (
      |  SELECT vec_id, e, nrm,
      |    list_transform(e, x -> CAST(round(x * 127 / mx.mx) AS INT)) AS q
      |  FROM n, mx),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    a.e AS eq, a.nrm AS nrm_q, b.e AS ec, b.nrm AS nrm_c,
      |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
      |      i -> CAST(a.q[CAST(i AS INT)] AS BIGINT) * b.q[CAST(i AS INT)]))
      |      AS BIGINT) AS qdot
      |  FROM q a JOIN q b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 5),
      |shortlist AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY qdot DESC, neighbor_id) AS srnk
      |    FROM scored) t
      |  WHERE srnk <= 10)
      |SELECT query_id, neighbor_id, qdot, cosine, rnk FROM (
      |  SELECT query_id, neighbor_id, qdot,
      |    list_dot_product(eq, ec) / (nrm_q * nrm_c) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY list_dot_product(eq, ec) / (nrm_q * nrm_c) DESC,
      |               neighbor_id) AS INTEGER) AS rnk
      |  FROM shortlist) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim07
  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the memory-bound regime one step past sim05: instead of 64 int8
    * components per corpus vector, each vector is 4 SUBSPACE CODES
    * (64 dims → 4 subspaces × 16 dims; codebook = [[trainedCodebook]],
    * Lloyd-trained from the first-8-subvector init — deterministic
    * integer arithmetic, no RNG). Encoding picks the nearest
    * codeword by exact integer L2² in int8 space (tiebreak: smaller
    * codeword id). Scoring is classic ADC: each query precomputes a
    * 4×8 lookup table of int8 dots (query subvector · codeword), and a
    * corpus vector's score is the sum of 4 TABLE LOOKUPS — no float,
    * no per-dimension work on the corpus side.
    *
    * 100 TB shape: the codebook is 32 rows (broadcast), encoding is one
    * broadcast-join map pass, the per-query LUTs are a ≤ queries×32-row
    * broadcast, and scoring+ranking is the same broadcast-join →
    * graft_topk map-side-partial pipeline as every other sim query —
    * the corpus contributes 4 small ints per row to the scan and ≤ k
    * rows per partition to the shuffle. All arithmetic is exact
    * integer (|adc| ≤ 64·127² ≪ 2^53), so ranking is bit-reproducible
    * with no fold-order caveats. */
  def pqAdc(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d).select(col("vec_id"), col("e"))
    val mx = n.agg(max(expr(
      "aggregate(e, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    // reuse seam: `q` feeds two Lloyd training rounds, the encode AND
    // the query-side LUT — one checkpoint instead of 4 recomputes of
    // the scan+quantize subtree (see the sim33 note)
    val q = n.join(broadcast(mx))
      .select(col("vec_id"),
        expr("transform(e, x -> cast(round(x * 127 / mx) as int))").as("q"))
      .localCheckpoint()
    // codebook: (m, k, csub) — Lloyd-trained, codeword ids stay 0..7
    val cb = trainedCodebook(s, q)
    // encode: nearest codeword per (vector, subspace) by exact int L2²;
    // min(struct(dist, k)) is lexicographic = ORDER BY dist, k LIMIT 1
    val codes = q.crossJoin(broadcast(cb))
      .withColumn("dist", call_function("graft_int_l2sq",
        expr("slice(q, cast(m * 16 + 1 as int), 16)"), col("csub")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("k"))).getField("k").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(m, code))), p -> p.code)")
        .as("code"))
    // per-query ADC lookup tables: lut[m][k] = querySub_m · codeword_{m,k}
    val lut = q.where(col("vec_id") < 5)
      .crossJoin(broadcast(cb))
      .withColumn("dot", call_function("graft_int_dot",
        expr("slice(q, cast(m * 16 + 1 as int), 16)"), col("csub")))
      .groupBy(col("vec_id").as("query_id"), col("m"))
      .agg(expr("transform(sort_array(collect_list(struct(k, dot))), p -> p.dot)")
        .as("row"))
      .groupBy(col("query_id"))
      .agg(expr("transform(sort_array(collect_list(struct(m, row))), p -> p.row)")
        .as("lut"))
    // score = Σ_m lut[m][code[m]] — 4 lookups per corpus row
    val scored = broadcast(lut)
      .join(codes, col("vec_id") =!= col("query_id"))
      .withColumn("adc", expr(
        "aggregate(zip_with(code, lut, (cd, row) -> element_at(row, cd + 1)), 0L, (acc, x) -> acc + x)"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
    topKPerQuery(scored, 3, col("adc"), col("neighbor_id"),
        Seq("neighbor_id", "adc"))
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Tiny broadcast frame {m: 0..3} — the subspace axis. */
  private def subspaces(s: SparkSession): DataFrame =
    s.range(4).select(col("id").cast(IntegerType).as("m"))

  /** Lloyd-TRAINED PQ codebook over int8-quantized vectors `q(vec_id,
    * q)` → `cb(m, k, csub)`: init = the first-8 subvectors per subspace
    * (the round-14 stub's whole codebook), then [[PqTrainRounds]] exact
    * Lloyd rounds per subspace — argmin assignment by integer L2²
    * (tiebreak: smaller codeword id) and a floor(sum/count) centroid
    * update, the sim24 discipline, so every round is bit-identical
    * across engines and map-side partials are lossless. A codeword that
    * loses all members KEEPS its previous value (left-join + coalesce):
    * codeword ids stay the contiguous 0..7 that the ADC LUT indexes
    * positionally — a vanishing id would silently shift every LUT row.
    *
    * Scale shape: training touches the corpus [[PqTrainRounds]] times —
    * per round ONE broadcast of the ≤32-row codebook, one argmin hash
    * aggregate keyed (vec_id, m) (map-side partial ⇒ the shuffle
    * carries one slim row per subvector), one (m, k, dim)-keyed update
    * aggregate (≤512 rows after partials, corpus-independent). The
    * result is localCheckpoint'ed: a trained codebook is a reusable
    * ARTIFACT (at cluster scale, a table write) — consumers that use it
    * twice (encode + LUT) must not re-run training per use. */
  private val PqTrainRounds = 2
  private def trainedCodebook(s: SparkSession, q: DataFrame): DataFrame = {
    val sub = q.crossJoin(broadcast(subspaces(s)))
      .select(col("vec_id"), col("m"),
        expr("slice(q, cast(m * 16 + 1 as int), 16)").as("sub"))
    var cb = sub.where(col("vec_id") < 8)
      .select(col("m"), col("vec_id").cast(IntegerType).as("k"),
        col("sub").as("csub"))
    for (_ <- 1 to PqTrainRounds) {
      val asg = sub.join(broadcast(cb), Seq("m"))
        .withColumn("dist",
          call_function("graft_int_l2sq", col("sub"), col("csub")))
        .groupBy(col("vec_id"), col("m"), col("sub"))
        .agg(min(struct(col("dist"), col("k"))).getField("k").as("k"))
      // floor(sum/count) per dim: |sum| ≤ n·127 ≪ 2^53, the double
      // division is exact, and floor (not truncation) matches the
      // oracle on negative components.
      val upd = asg.select(col("m"), col("k"), posexplode(col("sub")))
        .select(col("m"), col("k"), (col("pos") + 1).as("dim"),
          col("col").as("v"))
        .groupBy(col("m"), col("k"), col("dim"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast(IntegerType).as("nv"))
        .groupBy(col("m"), col("k"))
        // bounded: ≤ dims-per-subspace (16) entries per (m, k) group
        .agg(expr(
          "transform(sort_array(collect_list(struct(dim, nv))), p -> p.nv)")
          .as("nsub"))
      cb = cb.join(upd, Seq("m", "k"), "left")
        .select(col("m"), col("k"),
          coalesce(col("nsub"), col("csub")).as("csub"))
    }
    cb.localCheckpoint()
  }

  /** Oracle mirror of [[trainedCodebook]]: ms/sub/cb0, then one
    * assignment + floor-mean update + carry-forward CTE chain per
    * round, ending in `cb(m, k, csub)` — drop-in for the old
    * `ms AS …, cb AS …` fragment in every PQ oracle. */
  private def pqTrainRoundCte(i: Int, p: String): String = {
    val (prev, a, u, next) =
      (s"${p}cb${i - 1}", s"${p}pasg$i", s"${p}pupd$i", s"${p}cb$i")
    s"""$a AS (
       |  SELECT vec_id, m, sub, k FROM (
       |    SELECT s.vec_id, s.m, s.sub, c.k,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        list_sum(list_transform(range(1, 17),
       |          i -> CAST(s.sub[CAST(i AS INT)] - c.csub[CAST(i AS INT)] AS BIGINT)
       |               * (s.sub[CAST(i AS INT)] - c.csub[CAST(i AS INT)]))) ASC,
       |        c.k) AS rn
       |    FROM ${p}sub s JOIN $prev c ON c.m = s.m) t
       |  WHERE rn = 1),
       |$u AS (
       |  SELECT m, k, list(nv ORDER BY dim) AS nsub FROM (
       |    SELECT m, k, CAST(t.i AS INT) AS dim,
       |      CAST(floor(CAST(SUM(sub[CAST(t.i AS INT)]) AS DOUBLE) / COUNT(*)) AS INT) AS nv
       |    FROM $a, UNNEST(range(1, len(sub) + 1)) AS t(i)
       |    GROUP BY m, k, CAST(t.i AS INT)) x
       |  GROUP BY m, k),
       |$next AS (
       |  SELECT c.m, c.k, COALESCE(u.nsub, c.csub) AS csub
       |  FROM $prev c LEFT JOIN $u u ON u.m = c.m AND u.k = c.k)""".stripMargin
  }

  /** [[trainedCodebook]]'s oracle chain against quantized CTE `qcte`
    * (columns vec_id, q), all CTE names prefixed `p` — two chains can
    * coexist in one oracle (sim18's raw + residual arms). Ends in
    * `${p}cb(m, k, csub)`. */
  private def trainedCbCtesFor(qcte: String, p: String): String =
    s"""${p}ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      |${p}sub AS (
      |  SELECT q.vec_id, ${p}ms.m,
      |    q.q[${p}ms.m * 16 + 1 : ${p}ms.m * 16 + 16] AS sub
      |  FROM $qcte q CROSS JOIN ${p}ms),
      |${p}cb0 AS (
      |  SELECT m, CAST(vec_id AS INT) AS k, sub AS csub
      |  FROM ${p}sub WHERE vec_id < 8),
      |""".stripMargin +
      (1 to PqTrainRounds).map(pqTrainRoundCte(_, p)).mkString(",\n") +
      ",\n" + s"${p}cb AS (SELECT m, k, csub FROM ${p}cb$PqTrainRounds)"

  private val trainedCbCtes: String = trainedCbCtesFor("q", "")

  val pqAdcSql: String = normedCte + "," +
    """mx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(e, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM n),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> CAST(round(x * 127 / mx.mx) AS INT)) AS q
      |  FROM n, mx),
      |""".stripMargin + trainedCbCtes + ",\n" + """codes AS (
      |  SELECT vec_id, m, k AS code FROM (
      |    SELECT q.vec_id, cb.m, cb.k,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id, cb.m ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |               * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))),
      |        cb.k) AS rn
      |    FROM q CROSS JOIN cb) t
      |  WHERE rn = 1),
      |scored AS (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(SUM(list_sum(list_transform(range(1, 17),
      |      i -> CAST(a.q[c.m * 16 + CAST(i AS INT)] AS BIGINT)
      |           * cb.csub[CAST(i AS INT)]))) AS BIGINT) AS adc
      |  FROM q a
      |  CROSS JOIN codes c
      |  JOIN cb ON cb.m = c.m AND cb.k = c.code
      |  WHERE a.vec_id < 5 AND c.vec_id <> a.vec_id
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, adc, rnk FROM (
      |  SELECT query_id, neighbor_id, adc,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM scored) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim08
  /** k-NN GRAPH: top-2 neighbors for EVERY corpus vector, not just a
    * handful of probe queries — the all-pairs building block of
    * semantic dedup (SemDeDup-style) and embedding-cluster curation.
    *
    * Nothing here is broadcast-shaped: the query side IS the corpus.
    * The sim03 coarse quantizer blocks the self-join instead — each
    * vector scores only the candidates in its own IVF cell, an
    * equi-join on cell id whose per-cell cost is (n/cells)² rather
    * than n²; cells defaults to ⌈√n⌉ ([[IvfCellsKey]]), so the whole
    * graph build is O(n^1.5) and every stage is cell-parallel — the
    * parameter GROWS with the corpus instead of degenerating toward
    * all-pairs at 100× the data. Ranking is the same
    * bounded-heap `graft_topk` aggregate as every other sim query —
    * with n groups (one per vector) instead of 5, the map-side
    * partial reduction is doing its real job: the shuffle carries
    * ≤ k×partitions rows per VECTOR, never a scored candidate set. */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    knnCore(s, normed(s, d), 2)

  /** The sim08/sim29 operator over ANY raw (vec_id, embedding
    * ARRAY<FLOAT>) frame — the entry point SkewBench drives at 10⁵–10⁶
    * vectors to measure the O(n^1.5) claim against brute force, and —
    * via `nprobe` — the recall/cost dial (the registry gates run the
    * identical pipelines via [[knnGraph]] / [[knnGraphMulti]]). */
  private[graft] def knnGraphOn(s: SparkSession, vecs: DataFrame,
      k: Int = 2, nprobe: Int = 1, trainRounds: Int = 0): DataFrame = {
    val n = vecs
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    knnCore(s, n, k, nprobe, trainRounds)
  }

  /** The graph CONSUMERS' blocking (r15 verdict #1): one Lloyd-trained
    * coarse quantizer + query-side multi-probe at nprobe=8 — not
    * sim08's nprobe=1 untrained default that the sim31 audit caught at
    * recall@2 ≈ 0.16 on the shipped sf0.1 corpus. Every downstream
    * graph consumer (sim09 SemDeDup, sim13 label-vote, sim17 hard
    * negatives, sim22 graph-walk, sim25 PageRank) builds its scored
    * frame from this pair; sim32 audits this exact blocking's recall
    * continuously.
    *
    * WHY nprobe=8 (the r15 verdict-#2 decision): the shipped corpus is
    * near-ISOTROPIC — sim26 measures its top second-moment eigenvalue
    * at ≈ the 1/64 isotropic floor — so there is no dominant direction
    * to whiten away and nprobe is the only recall lever. The SkewBench
    * `knnship` sweep (BASELINE.md r16) measures trained recall@2 on the
    * shipped sf0.1 corpus at 0.27 / 0.39 / 0.535 / 0.725 for nprobe
    * 2 / 4 / 8 / 16; cost is ~linear in nprobe (O(n^1.5·nprobe), the
    * same per-cell equi-join), so the knee is a policy choice — the
    * consumers ride the smallest setting that recovers a MAJORITY of
    * true neighbors (≥ 0.5), and the dial stays one parameter away.
    *
    * Returns (assigned, probes): candidates keep exactly ONE trained
    * cell (so a query probing p distinct cells never sees a duplicate
    * candidate), queries fan out to their 8 nearest trained cells.
    * [[ConsumedNprobeKey]] overrides the 8 at runtime (the
    * [[IvfCellsKey]] convention: a production tuning knob whose
    * DEFAULT the oracles mirror — the gates pin nprobe=8, an override
    * is a deliberate divergence for a corpus whose recall curve says
    * otherwise).
    * The trained centroid table — ~√n × dims, the expensive reusable
    * artifact — is a durable [[graft.Seams]] seam keyed by corpus
    * fingerprint: one Lloyd round per corpus per process serves all
    * five consumers (at cluster scale, a table write next to the dd
    * postings). `variant` distinguishes derived corpora (sim09's
    * augmented union) from the raw embeddings table. */
  private def consumedBlocking(s: SparkSession, d: String, n: DataFrame,
      variant: String = ""): (DataFrame, DataFrame) = {
    val np = s.conf.getOption(ConsumedNprobeKey).map(_.toInt).getOrElse(8)
    require(np > 0, s"$ConsumedNprobeKey must be > 0, got $np")
    val cent = graft.Seams.durable(s, d, "sim-cent1" + variant)(
      trainedCentroids(s, n, 1))
    (assignCells(n, cent), probeCells(n, cent, np))
  }

  /** Config key: query-side probe width of the consumers' blocking
    * (see [[consumedBlocking]] — default 8, chosen from the measured
    * shipped-corpus recall curve in BASELINE.md r16). */
  val ConsumedNprobeKey = "spark.graft.consumedNprobe"

  /** Top-`nprobe` nearest cells for EVERY corpus vector — the
    * corpus-side multi-probe assignment. nprobe=1 is [[assignCells]]'s
    * one-row-per-vector argmin aggregate; nprobe>1 swaps the argmin for
    * the same bounded-heap `graft_topk` the ranking stages use (k=nprobe
    * payloads per vector cross the shuffle — never a window sort of the
    * |corpus|×cells candidate frame, which is what the sim04 QUERY-side
    * window spelling would cost with the whole corpus as queries). */
  private def probeCells(n: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    if (nprobe <= 1) assignCells(n, cent)
    else n.crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("e"), col("ce"))
          / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"), col("e"), col("nrm"))
      .agg(call_function("graft_topk", col("csim").cast("double"),
        col("pid").cast("long"), struct(col("pid")), lit(nprobe)).as("tk"))
      .select(col("vec_id"), col("e"), col("nrm"), explode(col("tk")))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("col.pid").as("cell"))

  private def knnCore(s: SparkSession, n: DataFrame, k: Int,
      nprobe: Int = 1, trainRounds: Int = 0): DataFrame = {
    val cent =
      if (trainRounds <= 0) centroids(s, n)
      else trainedCentroids(s, n, trainRounds)
    // neighbor side stays single-cell (each vector LIVES in one cell,
    // so probing p distinct cells can never produce duplicate pairs);
    // only the query side fans out to its nprobe nearest cells.
    val c = assignCells(n, cent).select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val scored = probeCells(n, cent, nprobe)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("cell"))
      .join(c, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(scored, k, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Lloyd-TRAINED coarse centroids — the "better centroids" fix
    * sim20's cell-balance audit points at: `rounds` iterations of
    * nearest-centroid assignment (the shared [[assignCells]] argmin
    * aggregate) + per-(cell, dim) MEAN update in sim10's exact-decimal
    * discipline (DECIMAL(28,6) sums → one double division — order-
    * independent partials AND engine-identical doubles), centroid ids
    * carried forward on empty cells, zero-norm means dropped (a
    * directionless centroid can't take cosine assignments). The result
    * is localCheckpoint'ed — a trained coarse quantizer is a reusable
    * artifact, consumed by both the probe and the assignment side.
    *
    * Scale per round: one broadcast of the ~√n×dims centroid table,
    * one argmin hash aggregate (one slim row per vector crosses the
    * shuffle), one (cell, dim)-keyed mean whose post-partial size is
    * cells·dims — corpus-independent. */
  private def trainedCentroids(s: SparkSession, n: DataFrame,
      rounds: Int): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(28, 6)
    var cent = centroids(s, n)
    for (_ <- 1 to rounds) {
      val upd = assignCells(n, cent)
        .select(col("cell"), posexplode(col("e")))
        .select(col("cell"), (col("pos") + 1).cast(IntegerType).as("dim"),
          col("col").as("v"))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("v").cast(d6))
            .cast(org.apache.spark.sql.types.DoubleType) / count(lit(1)))
          .as("nc"))
        .groupBy(col("cell"))
        // bounded: ≤ dims (64) entries per cell group
        .agg(expr(
          "transform(sort_array(collect_list(struct(dim, nc))), p -> p.nc)")
          .as("ce2"))
      cent = cent.join(upd, col("pid") === col("cell"), "left")
        .select(col("pid"), coalesce(col("ce2"), col("ce")).as("ce"))
        .withColumn("cnrm",
          sqrt(call_function("graft_vec_dot", col("ce"), col("ce"))))
        .where(col("cnrm") > 0)
        .localCheckpoint()
    }
    cent
  }

  val knnGraphSql: String = normedCte + "," + centCte + "," + assignedCte + "\n" +
    """SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id)
      |      AS INTEGER) AS rnk
      |  FROM assigned q JOIN assigned c
      |    ON q.cell = c.cell AND c.vec_id <> q.vec_id) t
      |WHERE rnk <= 2
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim29
  /** MULTI-PROBE k-NN GRAPH (nprobe=2 on the corpus side): sim08's
    * failure mode is a true neighbor sitting just across a cell
    * boundary — at nprobe=1 the graph's measured recall@2 against the
    * brute graph is only ~0.53–0.56 (BASELINE.md knn table), which
    * halves the signal every SemDeDup/curation composition downstream
    * consumes. Here EVERY corpus vector probes its TWO nearest cells
    * (sim04's dial, but corpus-side: the probe ranking is the same
    * bounded-heap `graft_topk` as the edge ranking — ≤ nprobe payloads
    * per vector cross the assignment shuffle, never a |corpus|×cells
    * window sort). Candidates stay assigned to exactly ONE cell, so
    * two distinct probes never yield duplicate pairs — no dedup stage.
    * Cost is nprobe× sim08's candidate join, still O(n^1.5 · nprobe)
    * with cells = ⌈√n⌉; recall measured at 20k/60k vectors in
    * BASELINE.md's knn table (SkewBench drives the identical pipeline
    * via [[knnGraphOn]] nprobe=2). */
  def knnGraphMulti(s: SparkSession, d: String): DataFrame =
    knnCore(s, normed(s, d), 2, nprobe = 2)

  val knnGraphMultiSql: String = normedCte + "," + centCte + "," +
    """probes AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, v.nrm, c.pid,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |        ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |                 c.pid) AS rn
      |    FROM n v CROSS JOIN cent c) t
      |  WHERE rn <= 2),
      |""".stripMargin + assignedCte + "\n" +
    """SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id)
      |      AS INTEGER) AS rnk
      |  FROM probes q JOIN assigned c
      |    ON q.cell = c.cell AND c.vec_id <> q.vec_id) t
      |WHERE rnk <= 2
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim30
  /** k-NN GRAPH over LLOYD-TRAINED coarse centroids + multi-probe —
    * the full quantizer upgrade path composed: sim20's cell-balance
    * audit names "better centroids" as the fix for hot cells, sim29
    * supplies the probe dial; this runs ONE exact-decimal Lloyd round
    * over the first-⌈√n⌉ prefix init ([[trainedCentroids]]) and builds
    * the nprobe=2 graph against the trained cells. Trained centroids
    * sit at their cells' actual centers, so cell populations even out
    * (less blocked-join skew) AND boundaries move to where the data
    * thins (fewer split neighborhoods) — recall measured on the
    * SkewBench knn family next to sim08/sim29's curve (BASELINE.md).
    * Everything stays engine-exact: mean updates are DECIMAL(28,6)
    * sums divided once into doubles (sim10's discipline), so the
    * trained table is bit-identical in the oracle's mirror. */
  def knnTrained(s: SparkSession, d: String): DataFrame =
    knnCore(s, normed(s, d), 2, nprobe = 2, trainRounds = 1)

  /** Oracle mirror of ONE Lloyd round + multi-probe assignment over the
    * `n`/`cent`/`assigned` CTEs — the CONSUMED blocking's SQL twin
    * (r15 verdict #1), shared by sim30 and every graph consumer
    * (sim09/13/17/22/25) plus the sim32 recall audit. Defines:
    * `cent1` (trained centroids), `assigned1` (candidate side, one
    * cell per vector), `probes1` (query side, `nprobe` nearest
    * trained cells). */
  private[graft] def trainedCtes(nprobe: Int): String =
    s"""
      |tupd AS (
      |  SELECT a.cell, CAST(t.i AS INT) AS dim,
      |    CAST(SUM(CAST(a.e[CAST(t.i AS INT)] AS DECIMAL(28,6))) AS DOUBLE)
      |      / COUNT(*) AS nc
      |  FROM assigned a, UNNEST(range(1, len(a.e) + 1)) AS t(i)
      |  GROUP BY 1, 2),
      |tcup AS (SELECT cell, list(nc ORDER BY dim) AS ce2
      |  FROM tupd GROUP BY cell),
      |cent1 AS (
      |  SELECT pid, ce, sqrt(list_dot_product(ce, ce)) AS cnrm FROM (
      |    SELECT c.pid, COALESCE(u.ce2, c.ce) AS ce
      |    FROM cent c LEFT JOIN tcup u ON u.cell = c.pid) t
      |  WHERE sqrt(list_dot_product(ce, ce)) > 0),
      |ranked1 AS (
      |  SELECT v.vec_id, v.e, v.nrm, c.pid,
      |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |  FROM n v CROSS JOIN cent1 c),
      |assigned1 AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM ranked1 WHERE rn = 1),
      |probes1 AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM ranked1 WHERE rn <= $nprobe)"""
      .stripMargin

  val knnTrainedSql: String = normedCte + "," + centCte + "," + assignedCte +
    "," + trainedCtes(2) + "\n" +
    """SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id)
      |      AS INTEGER) AS rnk
      |  FROM probes1 q JOIN assigned1 c
      |    ON q.cell = c.cell AND c.vec_id <> q.vec_id) t
      |WHERE rnk <= 2
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim31
  /** sim31 — kNN-GRAPH RECALL audit over a deterministic query SAMPLE
    * (vec_id % 20 = 0): per sampled vector, how many of its TRUE top-2
    * neighbors (exact brute force over the whole corpus) the
    * cell-blocked sim08 graph recovers. SkewBench measures graph
    * recall on synthetic corpora per round; this gates it on the
    * SHIPPED corpus, continuously — the operational guard that the
    * coarse quantizer still fits the data after any corpus drift
    * (recall collapse here fires BEFORE a SemDeDup/curation consumer
    * silently loses half its signal). sim14's audit pattern applied to
    * the graph: the exact pass runs at the sampled fraction
    * (|sample|×|corpus| broadcast-join dots — the standard price of
    * knowing the index is safe), the approximate side is the graph's
    * own cell join restricted to sampled queries (identical edges —
    * per-query candidates don't depend on other queries), hits are a
    * left-semi join, zero-hit queries survive via the truth-side left
    * join. */
  def graphRecall(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val qv = n.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
      col("nrm").as("nrm_c"))
    val exact = topKPerQuery(
        broadcast(qv).join(c, col("neighbor_id") =!= col("query_id"))
          .withColumn("cosine",
            call_function("graft_vec_dot", col("eq"), col("ec"))
              / (col("nrm_q") * col("nrm_c"))),
        2, col("cosine"), col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val assigned = assignCells(n, centroids(s, n))
    val cc = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val approx = topKPerQuery(
        assigned.where(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("query_id"), col("e").as("eq"),
            col("nrm").as("nrm_q"), col("cell"))
          .join(cc, Seq("cell"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("cosine",
            call_function("graft_vec_dot", col("eq"), col("ec"))
              / (col("nrm_q") * col("nrm_c"))),
        2, col("cosine"), col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        (coalesce(col("h"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
      .orderBy(col("query_id"))
  }

  val graphRecallSql: String = normedCte + "," + centCte + "," + assignedCte + "," +
    """
      |gr_ex AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 20 = 0) t
      |  WHERE rnk <= 2),
      |gr_ap AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM assigned q JOIN assigned c
      |      ON q.cell = c.cell AND c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 20 = 0) t
      |  WHERE rnk <= 2),
      |gr_h AS (
      |  SELECT e.query_id, COUNT(*) AS n_hit
      |  FROM gr_ex e JOIN gr_ap a
      |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  GROUP BY e.query_id)
      |SELECT e.query_id, COUNT(*) AS n_exact,
      |  CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit,
      |  CAST(COALESCE(MAX(h.n_hit), 0) AS DOUBLE) / COUNT(*) AS recall
      |FROM gr_ex e LEFT JOIN gr_h h ON h.query_id = e.query_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id""".stripMargin

  // --------------------------------------------------------------- sim32
  /** sim32 — recall audit of the graph the consumers ACTUALLY ride
    * (r15 verdict #1/#2): sim31's harness pointed at the CONSUMED
    * trained+nprobe=8 blocking ([[consumedBlocking]]) instead of
    * sim08's nprobe=1 untrained default. sim31 measured that default
    * at recall@2 ≈ 0.16 on the shipped sf0.1 corpus while the trained
    * tier's 0.895/0.836 numbers came from SkewBench's CLUSTERED
    * synthetic corpora — this gate closes the gap by measuring the
    * trained tier on the SHIPPED (near-isotropic, per sim26) corpus,
    * continuously, next to sim31's baseline reading. Same audit
    * economics: exact truth at the 1-in-20 sampled fraction, approx
    * side identical to the consumers' edge build restricted to the
    * sample (per-query candidates don't depend on other queries). */
  def consumedRecall(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val qv = n.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val c = n.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"))
    val exact = topKPerQuery(
        broadcast(qv).join(c, col("neighbor_id") =!= col("query_id"))
          .withColumn("cosine",
            call_function("graft_vec_dot", col("eq"), col("ec"))
              / (col("nrm_q") * col("nrm_c"))),
        2, col("cosine"), col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val (assigned, probes) = consumedBlocking(s, d, n)
    val cc = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val approx = topKPerQuery(
        probes.where(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("query_id"), col("e").as("eq"),
            col("nrm").as("nrm_q"), col("cell"))
          .join(cc, Seq("cell"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("cosine",
            call_function("graft_vec_dot", col("eq"), col("ec"))
              / (col("nrm_q") * col("nrm_c"))),
        2, col("cosine"), col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        (coalesce(col("h"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
      .orderBy(col("query_id"))
  }

  val consumedRecallSql: String = normedCte + "," + centCte + "," +
    assignedCte + "," + trainedCtes(8) + "," +
    """
      |gr_ex AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 20 = 0) t
      |  WHERE rnk <= 2),
      |gr_ap AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM probes1 q JOIN assigned1 c
      |      ON q.cell = c.cell AND c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 20 = 0) t
      |  WHERE rnk <= 2),
      |gr_h AS (
      |  SELECT e.query_id, COUNT(*) AS n_hit
      |  FROM gr_ex e JOIN gr_ap a
      |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  GROUP BY e.query_id)
      |SELECT e.query_id, COUNT(*) AS n_exact,
      |  CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit,
      |  CAST(COALESCE(MAX(h.n_hit), 0) AS DOUBLE) / COUNT(*) AS recall
      |FROM gr_ex e LEFT JOIN gr_h h ON h.query_id = e.query_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id""".stripMargin

  // --------------------------------------------------------------- sim22
  /** GRAPH-WALK ANN: a BOUNDED 2-hop beam search over the CONSUMED
    * kNN graph (trained+nprobe=8, [[consumedBlocking]]) — the
    * HNSW-family retrieval pattern (navigate from an entry
    * point along stored neighbor edges, then exact-rerank the visited
    * frontier) expressed as a fixed join pipeline instead of an
    * iterative driver loop. Entry point per query = the nearest coarse
    * centroid, which IS a corpus vector here (the deterministic
    * first-⌈√n⌉ prefix), so graph edges exist from it by construction;
    * frontier = entry ∪ its out-neighbors ∪ their out-neighbors
    * (≤ 1 + k + k² nodes at out-degree k=2), deduplicated, then
    * exact-cosine top-3 via the bounded-heap `graft_topk`.
    *
    * Scale: the walk is two equi-joins against the bounded-degree edge
    * list — per-hop fan-out is k, never a cell population — and the
    * probe side is broadcast-scale throughout; the only corpus-sized
    * work is the edge build itself, which is the consumed cell-blocked
    * O(n^1.5·nprobe) construction, durable-seam-able exactly like the
    * dd postings. A fixed hop budget is the honest distributed analog of
    * HNSW's sequential greedy descent: each hop is one join stage, and
    * recall grows with hops/degree rather than with any driver-side
    * iteration. */
  def graphAnn(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val cent = centroids(s, n)
    val q = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    // entry: argmax-cosine centroid, the assignCells argmin spelling
    val entry = broadcast(q).crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("eq"), col("ce"))
          / (col("nrm_q") * col("cnrm")))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("csim")).as("nc"), col("pid").as("pid")))
        .as("w"))
      .select(col("query_id"), col("w").getField("pid").as("node"))
    // the CONSUMED edge list (trained+nprobe=8, out-degree 2 — the
    // sim30 tier, r15 verdict #1), without its presentation sort
    val (assigned, probes) = consumedBlocking(s, d, n)
    val c = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val scored = probes
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("cell"))
      .join(c, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    val edges = topKPerQuery(scored, 2, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id"))
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val hop1 = entry.join(edges, col("node") === col("src"))
      .select(col("query_id"), col("dst").as("node"))
    val hop2 = hop1
      .join(edges.select(col("src").as("s2"), col("dst").as("d2")),
        col("node") === col("s2"))
      .select(col("query_id"), col("d2").as("node"))
    val frontier = entry.unionByName(hop1).unionByName(hop2).distinct()
    val rerank = frontier
      .join(n.select(col("vec_id").as("node"), col("e").as("ec"),
        col("nrm").as("nrm_c")), Seq("node"))
      .join(broadcast(q), Seq("query_id"))
      .where(col("node") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
      .withColumn("neighbor_id", col("node"))
    topKPerQuery(rerank, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val graphAnnSql: String = normedCte + "," + centCte + "," + assignedCte + "," +
    trainedCtes(8) + "," +
    """
      |gq AS (
      |  SELECT vec_id AS query_id, e AS eq, nrm AS nrm_q FROM n
      |  WHERE vec_id < 5),
      |g_entry AS (
      |  SELECT query_id, pid AS node FROM (
      |    SELECT q.query_id, c.pid,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY list_dot_product(q.eq, c.ce) / (q.nrm_q * c.cnrm)
      |          DESC, c.pid) AS rn
      |    FROM gq q CROSS JOIN cent c) t
      |  WHERE rn = 1),
      |g_edges AS (
      |  SELECT query_id AS src, neighbor_id AS dst FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |          c.vec_id) AS rnk
      |    FROM probes1 q JOIN assigned1 c
      |      ON q.cell = c.cell AND c.vec_id <> q.vec_id) t
      |  WHERE rnk <= 2),
      |g_hop1 AS (
      |  SELECT e0.query_id, ed.dst AS node
      |  FROM g_entry e0 JOIN g_edges ed ON ed.src = e0.node),
      |g_hop2 AS (
      |  SELECT h1.query_id, ed.dst AS node
      |  FROM g_hop1 h1 JOIN g_edges ed ON ed.src = h1.node),
      |g_frontier AS (
      |  SELECT DISTINCT query_id, node FROM (
      |    SELECT query_id, node FROM g_entry
      |    UNION ALL SELECT query_id, node FROM g_hop1
      |    UNION ALL SELECT query_id, node FROM g_hop2) u)
      |SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT f.query_id, v.vec_id AS neighbor_id,
      |    list_dot_product(q.eq, v.e) / (q.nrm_q * v.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY f.query_id
      |      ORDER BY list_dot_product(q.eq, v.e) / (q.nrm_q * v.nrm)
      |        DESC, v.vec_id) AS INTEGER) AS rnk
      |  FROM g_frontier f
      |  JOIN n v ON v.vec_id = f.node
      |  JOIN gq q ON q.query_id = f.query_id
      |  WHERE v.vec_id <> f.query_id) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim09
  /** SemDeDup END-TO-END: the semantic-dedup decision sim08's graph
    * exists to feed. Corpus = embeddings ∪ injected scaled copies
    * (dd06's augmentation — scaling preserves direction, so a copy is
    * an exact semantic dup), near-pairs = same-trained-cell pairs with
    * cosine ≥ 0.95 under the CONSUMED blocking ([[consumedBlocking]]:
    * one Lloyd round + query-side nprobe=8 — the blocked self-join,
    * never all-pairs), and pair → CLUSTER assembly runs
    * on the dedup family's one CC engine
    * ([[graft.dedup.Dedup.connectedComponentsStar]]) — the same
    * prefilter-verify-contract composition a production SemDeDup
    * pipeline ships: per cluster, everything but min vec_id is dropped.
    *
    * Output: one row per near-dup cluster (cluster_id = the kept
    * vector, n_vecs, n_dropped, max_id). A scaled copy lands in its
    * source's cell (same direction ⇒ same centroid cosines, mirrored
    * fold-exact in the oracle), so recall on true dups is structural,
    * not probabilistic. */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("e"))
    val n = v.unionByName(v.where(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("label"),
          expr("transform(e, x -> x * 1.1d)").as("e")))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    val (assigned, probes) = consumedBlocking(s, d, n, variant = "-aug")
    val c = assigned.select(col("vec_id").as("id_b"), col("e").as("eb"),
      col("nrm").as("nrm_b"), col("cell"))
    // The probe/home join is ASYMMETRIC (a pair is discovered when
    // EITHER endpoint probes the other's home cell), so the pair key
    // canonicalizes via least/greatest + distinct AFTER the ≥0.95
    // verify — an `id_a < id_b` pre-filter here would silently drop
    // pairs where only the larger id probes across the boundary, and
    // the same pair can arrive from both ends. Mirrored in the oracle.
    val pairs = probes
      .select(col("vec_id").as("id_a"), col("e").as("ea"),
        col("nrm").as("nrm_a"), col("cell"))
      .join(c, Seq("cell"))
      .where(col("id_a") =!= col("id_b"))
      .where(call_function("graft_vec_dot", col("ea"), col("eb"))
        / (col("nrm_a") * col("nrm_b")) >= 0.95)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    graft.dedup.Dedup.connectedComponentsStar(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        (count(lit(1)) - 1).as("n_dropped"),
        max(col("id")).as("max_id"))
      .orderBy(col("cluster_id"))
  }

  val semDedupSql: String =
    """WITH RECURSIVE v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |aug AS (
      |  SELECT * FROM v
      |  UNION ALL
      |  SELECT vec_id + 100000, label, list_transform(e, x -> x * 1.1) FROM v
      |  WHERE vec_id % 9 = 0),
      |n AS (
      |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM aug
      |  WHERE sqrt(list_dot_product(e, e)) > 0),
      |cells AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM n),
      |cent AS (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM n, cells
      |  WHERE vec_id < cells.c),
      |""".stripMargin + assignedCte + "," + trainedCtes(8) + "," + """
      |pairs AS (
      |  SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS id_a,
      |    GREATEST(a.vec_id, b.vec_id) AS id_b
      |  FROM probes1 a JOIN assigned1 b
      |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.95),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs),
      |walk(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
      |comp AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
      |SELECT cluster_id, COUNT(*) AS n_vecs, COUNT(*) - 1 AS n_dropped,
      |  MAX(id) AS max_id
      |FROM comp GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  // ----------------------------------------------------------- registry
  // --------------------------------------------------------------- sim12
  /** FILTERED vector search (the vector-DB "metadata filter"): top-3
    * cosine among candidates passing a predicate — here, sharing the
    * query's label (same-category search). The predicate applies
    * BEFORE ranking (pre-filter): top-k is exact over qualifying rows,
    * where post-filtering an unfiltered top-k silently returns < k —
    * or zero — rows once the filter is selective; with a pushed
    * predicate the scan prunes first and the scorer never touches
    * non-qualifying rows. Same broadcast + map-side-score +
    * graft_topk shape as sim01. */
  def filteredAnn(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val q = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("label").as("q_label"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
      col("nrm").as("nrm_c"), col("label").as("c_label"))
    val scored = broadcast(q)
      .join(c, col("neighbor_id") =!= col("query_id") &&
        col("q_label") === col("c_label"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(scored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "c_label", "cosine"))
      .select(col("query_id"), col("neighbor_id"),
        col("c_label").as("label"), col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val filteredAnnSql: String = normedCte +
    """SELECT query_id, neighbor_id, label, cosine, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    c.label AS label,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |               c.vec_id) AS INTEGER) AS rnk
      |  FROM n q JOIN n c
      |    ON c.vec_id <> q.vec_id AND c.label = q.label
      |  WHERE q.vec_id < 5) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim13
  /** kNN LABEL-VOTE evaluation — embedding-quality audit: every vector
    * is classified by majority vote of its 3 nearest (cell-blocked)
    * neighbors' labels, scored against its own label, reported as
    * per-label accuracy. The leave-one-out probe that tells a curation
    * pipeline whether an embedding column actually separates its
    * classes BEFORE a training run pays for it.
    *
    * Shape: the CONSUMED trained+multi-probe blocked graph
    * ([[consumedBlocking]] — never all-pairs) with the neighbor's
    * label riding the graft_topk payload; the vote is two
    * hash aggregates — (query, label) vote counts, then argmax via
    * lexicographic min(struct(-votes, label)) (ties break to the
    * smaller label, mirrored in the oracle's ORDER BY v DESC, label). */
  def knnVote(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val (assigned, probes) = consumedBlocking(s, d, n)
    val lbl = n.select(col("vec_id"), col("label"))
    val c = assigned.join(lbl, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nrm_c"), col("cell"), col("label").as("n_label"))
    val scored = probes
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("cell"))
      .join(c, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    val pred = topKPerQuery(scored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "n_label"))
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("v"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("v")).as("nv"), col("n_label").as("pl")))
        .getField("pl").as("pred"))
    pred.join(lbl.select(col("vec_id").as("query_id"), col("label")),
        "query_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast(org.apache.spark.sql.types.DoubleType)
          / col("n_vecs"))
      .orderBy(col("label"))
  }

  val knnVoteSql: String = normedCte + "," + centCte + "," + assignedCte + "," +
    trainedCtes(8) + "," +
    """
      |top AS (
      |  SELECT query_id, n_label FROM (
      |    SELECT q.vec_id AS query_id, cn.label AS n_label,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM probes1 q
      |    JOIN assigned1 c ON q.cell = c.cell AND c.vec_id <> q.vec_id
      |    JOIN n cn ON cn.vec_id = c.vec_id) t
      |  WHERE rnk <= 3),
      |votes AS (
      |  SELECT query_id, n_label, COUNT(*) AS v FROM top GROUP BY 1, 2),
      |pred AS (
      |  SELECT query_id, n_label AS pred FROM (
      |    SELECT query_id, n_label, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY v DESC, n_label) AS r
      |    FROM votes) t WHERE r = 1)
      |SELECT nn.label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN p.pred = nn.label THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN p.pred = nn.label THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS accuracy
      |FROM pred p JOIN n nn ON nn.vec_id = p.query_id
      |GROUP BY nn.label
      |ORDER BY nn.label""".stripMargin

  // --------------------------------------------------------------- sim11
  /** MaxSim LATE-INTERACTION scoring (the ColBERT retrieval operator):
    * query and document are MULTI-vector — here the 64-dim embedding
    * read as 4 × 16-dim "token" subvectors (sim07's subspace
    * convention) — and the score is Σ over query tokens of the MAX
    * dot against any document token. That sum-of-maxes is not a dot
    * product: it rewards a document containing each query facet
    * SOMEWHERE, which single-vector cosine (sim01) averages away —
    * the reason late-interaction out-ranks bi-encoders on multi-topic
    * queries.
    *
    * Shape: queries broadcast; each corpus partition scores rows
    * map-side with a pure codegen'd column expression (nested
    * transform + array_max + fixed-order fold over graft_vec_dot
    * sub-dots — sequential left folds on both engines, so doubles
    * are bit-identical); ranking is the graft_topk bounded-heap
    * aggregate. Exact brute-force — the correctness baseline; at
    * corpus scale the sim03 coarse quantizer blocks the candidate
    * set the same way it does for single-vector search. */
  def maxSim(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val q = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"))
    val scored = broadcast(q)
      .join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("maxsim", expr(
        """aggregate(
          |  transform(sequence(0, 3), i ->
          |    array_max(transform(sequence(0, 3), j ->
          |      graft_vec_dot(slice(eq, i * 16 + 1, 16),
          |                    slice(ec, j * 16 + 1, 16))))),
          |  0D, (acc, x) -> acc + x)""".stripMargin))
    topKPerQuery(scored, 3, col("maxsim"), col("neighbor_id"),
        Seq("neighbor_id", "maxsim"))
      .select(col("query_id"), col("neighbor_id"), col("maxsim"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val maxSimSql: String = normedCte +
    """SELECT query_id, neighbor_id, maxsim, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce([CAST(0 AS DOUBLE)] ||
      |      list_transform(range(0, 4), i ->
      |        list_max(list_transform(range(0, 4), j ->
      |          list_dot_product(
      |            q.e[CAST(i * 16 + 1 AS INT):CAST(i * 16 + 16 AS INT)],
      |            c.e[CAST(j * 16 + 1 AS INT):CAST(j * 16 + 16 AS INT)])))),
      |      (acc, x) -> acc + x) AS maxsim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_reduce([CAST(0 AS DOUBLE)] ||
      |        list_transform(range(0, 4), i ->
      |          list_max(list_transform(range(0, 4), j ->
      |            list_dot_product(
      |              q.e[CAST(i * 16 + 1 AS INT):CAST(i * 16 + 16 AS INT)],
      |              c.e[CAST(j * 16 + 1 AS INT):CAST(j * 16 + 16 AS INT)])))),
      |        (acc, x) -> acc + x) DESC, c.vec_id) AS INTEGER) AS rnk
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim10
  /** One Lloyd k-means iteration — the clustering primitive embedding
    * curation loops on (topic balancing, SemDeDup's cluster stage,
    * IVF codebook training): assign every vector to its nearest
    * centroid (the shared [[assignCells]] argmin aggregate over the
    * deterministic first-⌈√n⌉ prefix), then recompute each centroid
    * as the member MEAN, reported per (cell, dim) with the old
    * component and the shift.
    *
    * Scale shape: the mean is a hash aggregate keyed (cell, dim) after
    * a posexplode — map-side partials compress every scan partition to
    * ≤ cells·dims rows before the one shuffle, and no vector array is
    * ever driver-collected (contrast a collect-and-average driver
    * loop). Component sums run in EXACT decimal (order-independent —
    * what makes the partials safe AND the doubles engine-identical);
    * the mean divides once, in double, at the end. Old components
    * broadcast back onto the result (centroid-set scale). */
  def kmeansStep(s: SparkSession, d: String): DataFrame = {
    // 6 frac digits: inside float32's own precision, and coarse enough
    // that DuckDB's scale-in-double cast can't double-round differently
    // from Spark's exact BigDecimal rounding (odds ~1e-6 per table vs
    // ~0.5 at 12 digits — one flip was observed there)
    val d6 = org.apache.spark.sql.types.DecimalType(28, 6)
    val n = normed(s, d)
    val cent = centroids(s, n)
    val mem = assignCells(n, cent)
      .select(col("cell"), posexplode(col("e")))
      .select(col("cell"), (col("pos") + 1).cast(IntegerType).as("dim"),
        col("col").as("v"))
    val agg = mem.groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("v").cast(d6))
            .cast(org.apache.spark.sql.types.DoubleType) / count(lit(1)))
          .as("new_c"))
    val old = cent.select(col("pid").as("cell"), posexplode(col("ce")))
      .select(col("cell"), (col("pos") + 1).cast(IntegerType).as("dim"),
        col("col").as("old_c"))
    agg.join(broadcast(old), Seq("cell", "dim"))
      .withColumn("shift", col("new_c") - col("old_c"))
      .select(col("cell"), col("dim"), col("n_members"), col("new_c"),
        col("old_c"), col("shift"))
      .orderBy(col("cell"), col("dim"))
  }

  val kmeansStepSql: String = normedCte + "," + centCte + "," + assignedCte + "," +
    """
      |mem AS (
      |  SELECT a.cell, CAST(t.i AS INT) AS dim,
      |    a.e[CAST(t.i AS INT)] AS v
      |  FROM assigned a, unnest(range(1, len(a.e) + 1)) AS t(i)),
      |agg AS (
      |  SELECT cell, dim, COUNT(*) AS n_members,
      |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS new_c
      |  FROM mem GROUP BY cell, dim),
      |old AS (
      |  SELECT c.pid AS cell, CAST(t.i AS INT) AS dim,
      |    c.ce[CAST(t.i AS INT)] AS old_c
      |  FROM cent c, unnest(range(1, len(c.ce) + 1)) AS t(i))
      |SELECT a.cell, a.dim, a.n_members, a.new_c, o.old_c,
      |  a.new_c - o.old_c AS shift
      |FROM agg a JOIN old o ON o.cell = a.cell AND o.dim = a.dim
      |ORDER BY a.cell, a.dim""".stripMargin

  // --------------------------------------------------------------- sim14
  /** ANN RECALL@k audit — the acceptance gate run before an
    * approximate index replaces an exact one: per query, how many of
    * the true (brute-force) top-3 the LSH index recovered. Composes
    * sim01 (ground truth) with sim02 (candidate index); the hit check
    * is a (query_id, neighbor_id) semi-join, queries with zero hits
    * survive via the left join from the truth side. Recall is an
    * integer ratio divided once — engine-identical doubles. At scale
    * the audit runs over a SAMPLE of queries (here the same 5-query
    * probe set both retrievals share), so its cost is the sampled
    * fraction of one exact pass — the standard price of knowing the
    * index is safe to ship. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val exact = cosineTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val ann = lshAnn(s, d).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        (coalesce(col("h"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
      .orderBy(col("query_id"))
  }

  val annRecallSql: String = normedCte + "," + lshSigCtes + "," +
    """ex AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 5) t
      |  WHERE rnk <= 3),
      |an AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM sigs q JOIN sigs c
      |      ON q.sig = c.sig AND c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 5) t
      |  WHERE rnk <= 3),
      |h AS (
      |  SELECT e.query_id, COUNT(*) AS n_hit
      |  FROM ex e JOIN an a
      |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  GROUP BY e.query_id)
      |SELECT e.query_id, COUNT(*) AS n_exact,
      |  CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit,
      |  CAST(COALESCE(MAX(h.n_hit), 0) AS DOUBLE) / COUNT(*) AS recall
      |FROM ex e LEFT JOIN h ON h.query_id = e.query_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id""".stripMargin

  // --------------------------------------------------------------- sim15
  /** ANN RANK-OF-TRUTH audit — sim14's recall@k says whether the index
    * finds the true neighbors; this says WHERE: the rank at which the
    * LSH index surfaces each query's single true nearest neighbor
    * (the per-query detail behind an MRR number). Truth = sim01's
    * rank-1 row; the probe is a (query_id, true_nn) equi-join into
    * sim02's ranked list, missing ⇒ ann_rank −1. The reciprocal rank
    * ships as the EXACT integer 6/rank (rank ∈ {1,2,3} ⇒ rr6 ∈
    * {6,3,2}; LCM trick) so MRR = Σrr6/(6·n) needs no float sums —
    * the same why-not-doubles reasoning as ob21's integer moments.
    * Scale: both inputs are the sampled query probe set; the join adds
    * nothing beyond sim01+sim02 themselves. */
  def rankMetrics(s: SparkSession, d: String): DataFrame = {
    val truth = cosineTopK(s, d).where(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val ann = lshAnn(s, d)
      .select(col("query_id"), col("neighbor_id").as("true_nn"),
        col("rnk"))
    truth.join(ann, Seq("query_id", "true_nn"), "left")
      .select(col("query_id"), col("true_nn"),
        coalesce(col("rnk"), lit(-1)).cast(IntegerType).as("ann_rank"),
        coalesce(expr("6 div rnk"), lit(0L)).as("rr6"))
      .orderBy(col("query_id"))
  }

  val rankMetricsSql: String = normedCte + "," + lshSigCtes + "," +
    """tr AS (
      |  SELECT query_id, neighbor_id AS true_nn FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 5) t
      |  WHERE rnk = 1),
      |ar AS (
      |  SELECT query_id, neighbor_id, rnk FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM sigs q JOIN sigs c
      |      ON q.sig = c.sig AND c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 5) t
      |  WHERE rnk <= 3)
      |SELECT t.query_id, t.true_nn,
      |  CAST(COALESCE(a.rnk, -1) AS INTEGER) AS ann_rank,
      |  CAST(COALESCE(6 // a.rnk, 0) AS BIGINT) AS rr6
      |FROM tr t LEFT JOIN ar a
      |  ON a.query_id = t.query_id AND a.neighbor_id = t.true_nn
      |ORDER BY t.query_id""".stripMargin

  // --------------------------------------------------------------- sim16
  /** sim16 — RANGE (radius) SEARCH: every corpus vector within cosine
    * ≥ τ of each probe — the retrieval primitive top-k cannot express
    * (k must be guessed; radius answers "all sufficiently similar",
    * the shape dedup thresholds and contrastive-pair mining actually
    * need). τ = 0.25 against this corpus' near-orthogonal synthetic
    * embeddings (max off-diagonal cosine ≈ 0.4).
    *
    * Scale: probes broadcast (the tiny side by construction); the
    * threshold is a MAP-SIDE filter fused into the scoring projection
    * — no ranking aggregate, no window, no shuffle of the scored set;
    * the only exchange is the output sort of the (bounded) match set.
    * For corpus×corpus radius search at scale, sim09's IVF-cell
    * blocking is the route; probe-set radius search needs none. */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val q = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
      col("nrm").as("nrm_c"))
    broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
      .where(col("cosine") >= 0.25)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  val rangeSearchSql: String = normedCte +
    """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
      |FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |WHERE q.vec_id < 5
      |  AND list_dot_product(q.e, c.e) / (q.nrm * c.nrm) >= 0.25
      |ORDER BY query_id, neighbor_id""".stripMargin

  // --------------------------------------------------------------- sim17
  /** HARD-NEGATIVE / TRIPLET MINING — the contrastive-training data
    * op an embedding-model pipeline runs over its own corpus: for each
    * anchor vector, the hardest in-cell POSITIVE (most-distant
    * same-label neighbor — the pair the model must pull together) and
    * the hardest in-cell NEGATIVE (most-similar different-label
    * neighbor — the pair it must push apart), plus the margin
    * cos_neg − cos_pos (positive margin ⇒ the triplet violates the
    * ranking and actually trains).
    *
    * Shape: ONE cell-blocked scored frame over the CONSUMED
    * trained+multi-probe blocking ([[consumedBlocking]] — the
    * O(n^1.5·nprobe) regime; the anchor side is the whole corpus,
    * nothing broadcastable)
    * feeds TWO bounded-heap graft_topk aggregates — top-1 ascending
    * cosine over same-label candidates (score = −cosine) and top-1
    * descending over different-label candidates — so per partition at
    * most one candidate row per anchor survives each side BEFORE the
    * shuffle; the two 1-row-per-anchor sides meet in an anchor-keyed
    * join. Anchors lacking either side in their cell drop (inner
    * join), mirrored by the oracle. Doubles: cosine is the shared
    * graft_vec_dot expression, margin one IEEE subtraction — engine
    * identical. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val (assigned, probes) = consumedBlocking(s, d, n)
    val lbl = n.select(col("vec_id"), col("label"))
    val cand = assigned.join(lbl, "vec_id")
      .select(col("vec_id").as("neighbor_id"),
        col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"),
        col("label").as("n_label"))
    val scored = probes.join(lbl, "vec_id")
      .select(col("vec_id").as("query_id"),
        col("e").as("eq"), col("nrm").as("nrm_q"), col("cell"),
        col("label").as("q_label"))
      .join(cand, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    val pos = topKPerQuery(
        scored.where(col("n_label") === col("q_label")),
        1, -col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("cosine").as("cos_pos"))
    val neg = topKPerQuery(
        scored.where(col("n_label") =!= col("q_label")),
        1, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("cosine").as("cos_neg"))
    pos.join(neg, "query_id")
      .join(lbl.select(col("vec_id").as("query_id"),
        col("label").as("anchor_label")), "query_id")
      .select(col("query_id"), col("anchor_label"), col("pos_id"),
        col("cos_pos"), col("neg_id"), col("cos_neg"),
        (col("cos_neg") - col("cos_pos")).as("margin"))
      .orderBy(col("query_id"))
  }

  val hardNegativesSql: String = normedCte + "," + centCte + "," +
    assignedCte + "," + trainedCtes(8) + "," +
    """
      |alq AS (
      |  SELECT a.vec_id, a.e, a.nrm, a.cell, nn.label
      |  FROM probes1 a JOIN n nn ON nn.vec_id = a.vec_id),
      |alc AS (
      |  SELECT a.vec_id, a.e, a.nrm, a.cell, nn.label
      |  FROM assigned1 a JOIN n nn ON nn.vec_id = a.vec_id),
      |sc AS (
      |  SELECT q.vec_id AS query_id, q.label AS q_label,
      |    c.vec_id AS neighbor_id, c.label AS n_label,
      |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
      |  FROM alq q JOIN alc c ON q.cell = c.cell
      |    AND c.vec_id <> q.vec_id),
      |pos AS (
      |  SELECT query_id, neighbor_id AS pos_id, cosine AS cos_pos FROM (
      |    SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY cosine ASC, neighbor_id) AS r
      |    FROM sc WHERE n_label = q_label) t WHERE r = 1),
      |neg AS (
      |  SELECT query_id, neighbor_id AS neg_id, cosine AS cos_neg FROM (
      |    SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS r
      |    FROM sc WHERE n_label <> q_label) t WHERE r = 1)
      |SELECT p.query_id, nn.label AS anchor_label, p.pos_id, p.cos_pos,
      |  g.neg_id, g.cos_neg, g.cos_neg - p.cos_pos AS margin
      |FROM pos p JOIN neg g USING (query_id)
      |JOIN n nn ON nn.vec_id = p.query_id
      |ORDER BY p.query_id""".stripMargin

  // --------------------------------------------------------------- sim18
  /** sim18 — PQ RECONSTRUCTION-ERROR audit, RAW vs RESIDUAL: per
    * subspace and encoding, the exact int-L2² distance between every
    * vector's subvector and its assigned codeword (count / sum / max /
    * mean) — the codebook-quality gate run BEFORE trusting ADC scores
    * on a new corpus (a subspace whose mean error dwarfs the others is
    * under-coded and silently dominates ADC ranking noise). The `raw`
    * arm audits sim07's flat-PQ codebook (vectors quantized as-is —
    * the only option when there is no coarse quantizer); the `res` arm
    * audits sim21's IVF-PQ codebook over RESIDUALS r = v − centroid(v)
    * (the faiss IVFPQ contract): residuals are smaller in magnitude,
    * so the same int8 grid and 8-codeword budget resolve them finer —
    * `mean_err_vec` rescales each arm's integer error back to vector
    * space ((grid/127)² per unit) so the raw→res DELTA is directly
    * readable from the gated table, per row, in one unit.
    *
    * Shape: quantize + codebook + nearest-codeword encode per arm,
    * the encoder's lexicographic `min(struct(dist, k))` shipping its
    * OWN distance out as the error (the audit costs nothing beyond
    * the encode); 2·|subspaces| output rows from two hash aggregates.
    * All-integer until the mean division; the vec-space rescale is a
    * fixed-order double product both engines spell identically. */
  def pqError(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val mx = n.agg(max(expr(
      "aggregate(e, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    // each arm's quantized frame is referenced 3+ times (two Lloyd
    // training rounds + the encode crossJoin), and `res` twice more
    // (the residual-max scan + the residual quantize) — lazily every
    // reference re-ran the scan/assignment subtree. localCheckpoint
    // computes each once (the trainedCodebook idiom, one artifact per
    // arm input).
    //
    // The two arms share NOTHING below `n`: the raw chain (quantize +
    // 2 Lloyd rounds) and the residual chain (assign + residual +
    // quantize + 2 Lloyd rounds) are independent eager builds, so the
    // raw chain runs on a second thread (guide §2.6 — serial actions
    // leave the box idle through each other's stage tails and driver
    // gaps). Same artifacts, same final plan; only submission overlaps.
    val rawF = graft.Par.async {
      val q = n.join(broadcast(mx))
        .select(col("vec_id"),
          expr("transform(e, x -> cast(round(x * 127 / mx) as int))").as("q"))
        .localCheckpoint()
      (q, trainedCodebook(s, q))
    }
    val cent = centroids(s, n)
    val res = assignCells(n, cent)
      .join(broadcast(cent), col("cell") === col("pid"))
      .select(col("vec_id"), col("cell"),
        expr("zip_with(e, ce, (x, c) -> x - c)").as("r"))
      .localCheckpoint()
    val mxr = res.agg(max(expr(
      "aggregate(r, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    val rq = res.join(broadcast(mxr))
      .select(col("vec_id"),
        expr("transform(r, x -> cast(round(x * 127 / mx) as int))").as("q"))
      .localCheckpoint()
    val cbRes = trainedCodebook(s, rq)
    val (q, cbRaw) = graft.Par.await(rawF)
    def arm(tag: String, qdf: DataFrame, cb: DataFrame,
        grid: DataFrame): DataFrame = {
      qdf.crossJoin(broadcast(cb))
        .withColumn("dist", call_function("graft_int_l2sq",
          expr("slice(q, cast(m * 16 + 1 as int), 16)"), col("csub")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dist"), col("k"))).getField("dist").as("err"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("err")).as("sum_err"),
          max(col("err")).as("max_err"))
        .crossJoin(broadcast(grid))
        .select(lit(tag).as("enc"), col("m"), col("n_vecs"),
          col("sum_err").cast("long").as("sum_err"), col("max_err"),
          (col("sum_err").cast("double") / col("n_vecs")).as("mean_err"),
          (col("sum_err").cast("double") / col("n_vecs")
            * (col("mx") / lit(127.0)) * (col("mx") / lit(127.0)))
            .as("mean_err_vec"))
    }
    arm("raw", q, cbRaw, mx).unionByName(arm("res", rq, cbRes, mxr))
      .orderBy(col("enc"), col("m"))
  }

  val pqErrorSql: String = normedCte + "," +
    """mx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(e, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM n),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> CAST(round(x * 127 / mx.mx) AS INT)) AS q
      |  FROM n, mx),
      |""".stripMargin + centCte + "," + assignedCte + ",\n" +
    """rres AS (
      |  SELECT a.vec_id, a.cell,
      |    list_transform(range(1, len(a.e) + 1),
      |      i -> a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]) AS r
      |  FROM assigned a JOIN cent c ON c.pid = a.cell),
      |rmx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(r, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM rres),
      |rq AS (
      |  SELECT vec_id,
      |    list_transform(r, x -> CAST(round(x * 127 / rmx.mx) AS INT)) AS q
      |  FROM rres, rmx),
      |""".stripMargin + trainedCbCtes + ",\n" +
    trainedCbCtesFor("rq", "r") + ",\n" + """enc AS (
      |  SELECT vec_id, m, d AS err FROM (
      |    SELECT q.vec_id, cb.m, cb.k,
      |      list_sum(list_transform(range(1, 17),
      |        i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |             * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))) AS d,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id, cb.m ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |               * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))),
      |        cb.k) AS rn
      |    FROM q CROSS JOIN cb) t
      |  WHERE rn = 1),
      |renc AS (
      |  SELECT vec_id, m, d AS err FROM (
      |    SELECT q.vec_id, cb.m, cb.k,
      |      list_sum(list_transform(range(1, 17),
      |        i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |             * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))) AS d,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id, cb.m ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |               * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))),
      |        cb.k) AS rn
      |    FROM rq q CROSS JOIN rcb cb) t
      |  WHERE rn = 1),
      |sraw AS (
      |  SELECT 'raw' AS enc, m, COUNT(*) AS n_vecs,
      |    CAST(SUM(err) AS BIGINT) AS sum_err,
      |    CAST(MAX(err) AS BIGINT) AS max_err,
      |    CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mean_err,
      |    CAST(SUM(err) AS DOUBLE) / COUNT(*)
      |      * (mx.mx / 127.0) * (mx.mx / 127.0) AS mean_err_vec
      |  FROM enc, mx GROUP BY m, mx.mx),
      |sres AS (
      |  SELECT 'res' AS enc, m, COUNT(*) AS n_vecs,
      |    CAST(SUM(err) AS BIGINT) AS sum_err,
      |    CAST(MAX(err) AS BIGINT) AS max_err,
      |    CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mean_err,
      |    CAST(SUM(err) AS DOUBLE) / COUNT(*)
      |      * (rmx.mx / 127.0) * (rmx.mx / 127.0) AS mean_err_vec
      |  FROM renc, rmx GROUP BY m, rmx.mx)
      |SELECT * FROM sraw UNION ALL SELECT * FROM sres
      |ORDER BY enc, m""".stripMargin

  // --------------------------------------------------------------- sim19
  /** sim19 — EMBEDDING-space decontamination: flag TRAIN vectors whose
    * cosine to ANY eval item reaches 0.95 — the semantic twin of
    * dd16's fuzzy text decontamination (a paraphrased eval item shares
    * no 5-gram but sits next to its source in embedding space; this is
    * the leak the text routes structurally miss). Split is
    * deterministic (vec_id % 10 = 0 ⇒ eval), and — like dd06/sim09 —
    * the fixture PLANTS real contamination: eval-side scaled copies
    * (×1.05, cosine exactly 1.0) of every train vector with
    * vec_id % 7 = 1, so the gate checks actual recall, not an empty
    * intersection.
    *
    * Shape: CROSS-SIDE ONLY, like dd16 — both sides take cells from
    * the SAME shared centroid prefix (a scaled copy lands in its
    * source's cell: cosine assignment is scale-invariant), the
    * candidate join is cell-keyed train×eval, and the train side never
    * self-joins; candidate cost is per-cell train·eval, never
    * |train|·|eval|. Threshold fuses map-side into the scored
    * projection (sim16's regime); verdict per flagged train vector =
    * match count + best eval match by lexicographic max. */
  def embedDecontaminate(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("e"))
    val planted = v
      .where(col("vec_id") % 10 =!= 0 && col("vec_id") % 7 === 1)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(e, x -> x * 1.05d)").as("e"))
    val n = v.unionByName(planted)
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    val assigned = assignCells(n, centroids(s, n))
    val ev = assigned
      .where(col("vec_id") % 10 === 0 || col("vec_id") >= 100000)
      .select(col("vec_id").as("eval_id"), col("e").as("ee"),
        col("nrm").as("nrm_e"), col("cell"))
    val tr = assigned
      .where(col("vec_id") % 10 =!= 0 && col("vec_id") < 100000)
      .select(col("vec_id"), col("e").as("et"),
        col("nrm").as("nrm_t"), col("cell"))
    tr.join(ev, Seq("cell"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("et"), col("ee"))
          / (col("nrm_t") * col("nrm_e")))
      .where(col("cosine") >= 0.95)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(struct((-col("cosine")).as("nc"), col("eval_id").as("eid")))
          .as("w"))
      .select(col("vec_id"), col("n_matches"),
        col("w").getField("eid").as("eval_id"),
        (-col("w").getField("nc")).as("cosine"))
      .orderBy(col("vec_id"))
  }

  val embedDecontaminateSql: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |aug AS (
      |  SELECT * FROM v
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(e, x -> x * 1.05) FROM v
      |  WHERE vec_id % 10 <> 0 AND vec_id % 7 = 1),
      |n AS (
      |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM aug
      |  WHERE sqrt(list_dot_product(e, e)) > 0),
      |cells AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM n),
      |cent AS (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM n, cells
      |  WHERE vec_id < cells.c),
      |""".stripMargin + assignedCte + "," + """
      |ev AS (
      |  SELECT vec_id AS eval_id, e AS ee, nrm AS nrm_e, cell
      |  FROM assigned WHERE vec_id % 10 = 0 OR vec_id >= 100000),
      |tr AS (
      |  SELECT vec_id, e AS et, nrm AS nrm_t, cell
      |  FROM assigned WHERE vec_id % 10 <> 0 AND vec_id < 100000),
      |hits AS (
      |  SELECT t.vec_id, ev.eval_id,
      |    list_dot_product(t.et, ev.ee) / (t.nrm_t * ev.nrm_e) AS cosine
      |  FROM tr t JOIN ev ON t.cell = ev.cell
      |  WHERE list_dot_product(t.et, ev.ee) / (t.nrm_t * ev.nrm_e) >= 0.95)
      |SELECT vec_id, cnt AS n_matches, eval_id, cosine FROM (
      |  SELECT vec_id, eval_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cosine DESC, eval_id) AS r,
      |    COUNT(*) OVER (PARTITION BY vec_id) AS cnt
      |  FROM hits) t
      |WHERE r = 1
      |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- sim20
  /** sim20 — IVF CELL-BALANCE audit: the occupancy distribution of the
    * coarse quantizer's cells — the operational number that decides
    * whether the sim03/sim08 cell-blocking regime holds at scale (the
    * O(n^1.5) claim assumes ~√n per cell; one hot cell degrades its
    * block toward all-pairs, and the fix — more cells, better
    * centroids — starts from this table). One-row summary: cells
    * planned vs populated, min/max/mean occupancy, the imbalance
    * factor max/mean, and the share of the corpus in the largest
    * cell. Costs one |cells|-cardinality aggregate over the shared
    * assignment — the audit rides the index build. */
  def cellBalance(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val assigned = assignCells(n, centroids(s, n))
    val occ = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("occ"))
    occ.agg(count(lit(1)).as("n_cells"),
        sum(col("occ")).cast("long").as("n_vecs"),
        min(col("occ")).as("min_occ"),
        max(col("occ")).as("max_occ"))
      .withColumn("mean_occ",
        col("n_vecs").cast("double") / col("n_cells").cast("double"))
      .withColumn("imbalance",
        col("max_occ").cast("double") * col("n_cells").cast("double")
          / col("n_vecs").cast("double"))
      .withColumn("top_cell_share",
        col("max_occ").cast("double") / col("n_vecs").cast("double"))
  }

  val cellBalanceSql: String = normedCte + "," + centCte + "," +
    assignedCte + "," +
    """
      |occ AS (SELECT cell, COUNT(*) AS occ FROM assigned GROUP BY cell)
      |SELECT COUNT(*) AS n_cells,
      |  CAST(SUM(occ) AS BIGINT) AS n_vecs,
      |  CAST(MIN(occ) AS BIGINT) AS min_occ,
      |  CAST(MAX(occ) AS BIGINT) AS max_occ,
      |  CAST(SUM(occ) AS DOUBLE) / COUNT(*) AS mean_occ,
      |  CAST(MAX(occ) AS DOUBLE) * COUNT(*) / CAST(SUM(occ) AS BIGINT)
      |    AS imbalance,
      |  CAST(MAX(occ) AS DOUBLE) / CAST(SUM(occ) AS BIGINT)
      |    AS top_cell_share
      |FROM occ""".stripMargin

  // --------------------------------------------------------------- sim21
  /** sim21 — IVF-PQ END-TO-END: the production retrieval stack a faiss
    * `IVFx,PQy` index runs, composed from the gated pieces — coarse
    * probe (sim04: top-2 cells per query over the broadcast centroid
    * set), PQ-ADC scoring of ONLY the probed cells' candidates
    * (sim07: 4 integer LUT lookups per candidate, never a full dot),
    * bounded shortlist (top-10 by ADC through graft_topk), then exact
    * fp32 re-rank of the shortlist alone (sim06's two-stage contract:
    * the expensive exact math touches ≤ 10 rows per query). Every
    * inter-stage handoff is id-keyed; each corpus vector lives in ONE
    * cell so probe candidates are disjoint — no dedup stage. The
    * approximate stages are all-integer (bit-reproducible), the only
    * doubles are the final re-rank cosines. */
  def ivfPq(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val nn = n.select(col("vec_id"), col("e"), col("nrm"))
    val cent = centroids(s, n)
    val assigned = assignCells(n, cent)
    val mx = nn.agg(max(expr(
      "aggregate(e, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    // reuse seam: `q` feeds two Lloyd training rounds, the encode
    // crossJoin AND the query-side LUT — lazily each re-ran the
    // scan+quantize subtree (see the sim33 note). One checkpoint.
    val q = nn.join(broadcast(mx))
      .select(col("vec_id"),
        expr("transform(e, x -> cast(round(x * 127 / mx) as int))").as("q"))
      .localCheckpoint()
    val cb = trainedCodebook(s, q)
    val codes = q.crossJoin(broadcast(cb))
      .withColumn("dist", call_function("graft_int_l2sq",
        expr("slice(q, cast(m * 16 + 1 as int), 16)"), col("csub")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("k"))).getField("k").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(m, code))), p -> p.code)")
        .as("code"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("pid"))
    val probes = n.where(col("vec_id") < 5).crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("e"), col("ce"))
          / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("pid").as("cell"))
    val lut = q.where(col("vec_id") < 5)
      .crossJoin(broadcast(cb))
      .withColumn("dot", call_function("graft_int_dot",
        expr("slice(q, cast(m * 16 + 1 as int), 16)"), col("csub")))
      .groupBy(col("vec_id").as("query_id"), col("m"))
      .agg(expr("transform(sort_array(collect_list(struct(k, dot))), p -> p.dot)")
        .as("row"))
      .groupBy(col("query_id"))
      .agg(expr("transform(sort_array(collect_list(struct(m, row))), p -> p.row)")
        .as("lut"))
    val cand = broadcast(probes)
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("cell")),
        Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(codes.select(col("vec_id").as("neighbor_id"), col("code")),
        "neighbor_id")
      .join(broadcast(lut), "query_id")
      .withColumn("adc", expr(
        "aggregate(zip_with(code, lut, (cd, row) -> element_at(row, cd + 1)), 0L, (acc, x) -> acc + x)"))
    val shortlist = topKPerQuery(cand, 10, col("adc"),
        col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val qv = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val rescored = shortlist
      .join(nn.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nrm_c")), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(rescored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val ivfPqSql: String = normedCte + "," + centCte + "," +
    """ranked AS (
      |  SELECT v.vec_id, v.e, v.nrm, c.pid,
      |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |  FROM n v CROSS JOIN cent c),
      |assigned AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, pid AS cell
      |  FROM ranked WHERE vec_id < 5 AND rn <= 2),
      |mx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(e, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM n),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> CAST(round(x * 127 / mx.mx) AS INT)) AS q
      |  FROM n, mx),
      |""".stripMargin + trainedCbCtes + ",\n" + """codes AS (
      |  SELECT vec_id, m, k AS code FROM (
      |    SELECT q.vec_id, cb.m, cb.k,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id, cb.m ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |               * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))),
      |        cb.k) AS rn
      |    FROM q CROSS JOIN cb) t
      |  WHERE rn = 1),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assigned a
      |    ON a.cell = p.cell AND a.vec_id <> p.query_id),
      |adc AS (
      |  SELECT ca.query_id, ca.neighbor_id,
      |    CAST(SUM(list_sum(list_transform(range(1, 17),
      |      i -> CAST(qq.q[c.m * 16 + CAST(i AS INT)] AS BIGINT)
      |           * cb.csub[CAST(i AS INT)]))) AS BIGINT) AS adc
      |  FROM cand ca
      |  JOIN codes c ON c.vec_id = ca.neighbor_id
      |  JOIN cb ON cb.m = c.m AND cb.k = c.code
      |  JOIN q qq ON qq.vec_id = ca.query_id
      |  GROUP BY 1, 2),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
      |    FROM adc) t WHERE rn <= 10)
      |SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT sh.query_id, sh.neighbor_id,
      |    list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY sh.query_id
      |      ORDER BY list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm) DESC,
      |               sh.neighbor_id) AS INTEGER) AS rnk
      |  FROM short sh
      |  JOIN n qn ON qn.vec_id = sh.query_id
      |  JOIN n cn ON cn.vec_id = sh.neighbor_id) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim33
  /** sim33 — IVF-PQ with RESIDUAL encoding (the faiss IVFPQ contract:
    * each vector codes r = v − centroid(cell(v)), not v itself), kept
    * as a SEPARATE gated pipeline from sim21 because on this corpus
    * the contract MEASURES WORSE and the registry ships what measures
    * better: the shipped embeddings are near-isotropic (mean
    * best-centroid cosine 0.276), so ‖r‖ averages 1.17× ‖v‖ — the
    * coarse quantizer captures no variance, the residual int8 grid is
    * COARSER than the raw one, and sim18's two-arm audit gates the
    * result (mean_err_vec 0.207 raw → 0.334 res; end-to-end recall@3
    * 0.533 → 0.267, both measured at sf0.01, r17). The r18 SkewBench
    * `pqgeom` sweep measured WHEN residual wins: on a clustered corpus
    * whose ⌈√n⌉ cells roughly resolve the true clusters (~4 clusters/
    * cell) residual takes recall@3 0.933 vs raw 0.867 — but scale the
    * SAME geometry 10× (⌈√n⌉ cells fall to ~14 clusters/cell) and
    * residual collapses to 0.133. "Clustered corpus" is not the
    * precondition; "cells ≈ cluster count" is, and it silently breaks
    * under growth (BASELINE.md r18 table). At deploy time sim18's
    * two-arm table on the ACTUAL corpus IS the dial that picks the
    * encoding — re-read it after major corpus growth.
    *
    * Mechanics beyond sim21: ADC keeps the query FLOAT (true
    * asymmetric distance — LUT_m[k] = round(⟨q_m, csub_mk⟩)) plus a
    * per-(query, cell) centroid term round(⟨q, c_cell⟩·127/mxr) in
    * the same integer domain, so rankings compare across the two
    * probed cells; each double term rounds ONCE to a long (fixed-order
    * folds both engines spell identically), then stays integer. Same
    * bounded shortlist + exact fp32 re-rank two-stage contract. */
  def ivfPqResidual(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val nn = n.select(col("vec_id"), col("e"), col("nrm"))
    val cent = centroids(s, n)
    // reuse seams (the trainedCodebook "computed artifact" idiom):
    // `assigned` feeds the residual derivation AND the probe-cell
    // candidate join; `res` feeds the residual-max scan AND the
    // quantize; `rq` feeds two Lloyd training rounds AND the encode —
    // lazily each reference re-ran the broadcast-centroid argmax /
    // residual subtree (the analyzed plan was ~100 KB of duplicated
    // trees). One localCheckpoint per seam computes each once.
    val assigned = assignCells(n, cent).localCheckpoint()
    val res = assigned.join(broadcast(cent), col("cell") === col("pid"))
      .select(col("vec_id"), col("cell"),
        expr("zip_with(e, ce, (x, c) -> x - c)").as("r"))
      .localCheckpoint()
    val mxr = res.agg(max(expr(
      "aggregate(r, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    val rq = res.join(broadcast(mxr))
      .select(col("vec_id"), col("cell"),
        expr("transform(r, x -> cast(round(x * 127 / mx) as int))").as("q"))
      .localCheckpoint()
    val cb = trainedCodebook(s, rq.select(col("vec_id"), col("q")))
    val codes = rq.crossJoin(broadcast(cb))
      .withColumn("dist", call_function("graft_int_l2sq",
        expr("slice(q, cast(m * 16 + 1 as int), 16)"), col("csub")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("k"))).getField("k").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(m, code))), p -> p.code)")
        .as("code"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("pid"))
    val probes = n.where(col("vec_id") < 5).crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_vec_dot", col("e"), col("ce"))
          / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("pid").as("cell"))
    val lut = n.where(col("vec_id") < 5)
      .crossJoin(broadcast(cb))
      .withColumn("dot", round(call_function("graft_vec_dot",
        expr("slice(e, cast(m * 16 + 1 as int), 16)"),
        expr("transform(csub, x -> cast(x as double))"))).cast(LongType))
      .groupBy(col("vec_id").as("query_id"), col("m"))
      .agg(expr("transform(sort_array(collect_list(struct(k, dot))), p -> p.dot)")
        .as("row"))
      .groupBy(col("query_id"))
      .agg(expr("transform(sort_array(collect_list(struct(m, row))), p -> p.row)")
        .as("lut"))
    val cellTerm = probes
      .join(n.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("e")), "query_id")
      .join(broadcast(cent), col("cell") === col("pid"))
      .crossJoin(broadcast(mxr))
      .select(col("query_id"), col("cell"),
        round(call_function("graft_vec_dot", col("e"), col("ce"))
          * lit(127) / col("mx")).cast(LongType).as("t1"))
    val cand = broadcast(probes)
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("cell")),
        Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(codes.select(col("vec_id").as("neighbor_id"), col("code")),
        "neighbor_id")
      .join(broadcast(lut), "query_id")
      .join(broadcast(cellTerm), Seq("query_id", "cell"))
      .withColumn("adc", col("t1") + expr(
        "aggregate(zip_with(code, lut, (cd, row) -> element_at(row, cd + 1)), 0L, (acc, x) -> acc + x)"))
    val shortlist = topKPerQuery(cand, 10, col("adc"),
        col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val qv = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val rescored = shortlist
      .join(nn.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nrm_c")), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(rescored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val ivfPqResidualSql: String = normedCte + "," + centCte + "," +
    """ranked AS (
      |  SELECT v.vec_id, v.e, v.nrm, c.pid,
      |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |  FROM n v CROSS JOIN cent c),
      |assigned AS (
      |  SELECT vec_id, e, nrm, pid AS cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, pid AS cell
      |  FROM ranked WHERE vec_id < 5 AND rn <= 2),
      |rres AS (
      |  SELECT a.vec_id, a.cell,
      |    list_transform(range(1, len(a.e) + 1),
      |      i -> a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]) AS r
      |  FROM assigned a JOIN cent c ON c.pid = a.cell),
      |rmx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(r, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM rres),
      |rq AS (
      |  SELECT vec_id, cell,
      |    list_transform(r, x -> CAST(round(x * 127 / rmx.mx) AS INT)) AS q
      |  FROM rres, rmx),
      |""".stripMargin + trainedCbCtesFor("rq", "r") + ",\n" + """codes AS (
      |  SELECT vec_id, m, k AS code FROM (
      |    SELECT q.vec_id, cb.m, cb.k,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id, cb.m ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          i -> CAST(q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)] AS BIGINT)
      |               * (q.q[cb.m * 16 + CAST(i AS INT)] - cb.csub[CAST(i AS INT)]))),
      |        cb.k) AS rn
      |    FROM rq q CROSS JOIN rcb cb) t
      |  WHERE rn = 1),
      |cellterm AS (
      |  SELECT p.query_id, p.cell,
      |    CAST(round(list_dot_product(qn.e, c.ce) * 127 / rmx.mx) AS BIGINT) AS t1
      |  FROM probes p
      |  JOIN n qn ON qn.vec_id = p.query_id
      |  JOIN cent c ON c.pid = p.cell, rmx),
      |cand AS (
      |  SELECT p.query_id, p.cell, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assigned a
      |    ON a.cell = p.cell AND a.vec_id <> p.query_id),
      |adc AS (
      |  SELECT ca.query_id, ca.neighbor_id,
      |    MIN(ct.t1) + CAST(SUM(CAST(round(list_dot_product(
      |      qn.e[c.m * 16 + 1 : c.m * 16 + 16],
      |      list_transform(cb.csub, x -> CAST(x AS DOUBLE)))) AS BIGINT))
      |      AS BIGINT) AS adc
      |  FROM cand ca
      |  JOIN codes c ON c.vec_id = ca.neighbor_id
      |  JOIN rcb cb ON cb.m = c.m AND cb.k = c.code
      |  JOIN n qn ON qn.vec_id = ca.query_id
      |  JOIN cellterm ct ON ct.query_id = ca.query_id AND ct.cell = ca.cell
      |  GROUP BY 1, 2),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
      |    FROM adc) t WHERE rn <= 10)
      |SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT sh.query_id, sh.neighbor_id,
      |    list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY sh.query_id
      |      ORDER BY list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm) DESC,
      |               sh.neighbor_id) AS INTEGER) AS rnk
      |  FROM short sh
      |  JOIN n qn ON qn.vec_id = sh.query_id
      |  JOIN n cn ON cn.vec_id = sh.neighbor_id) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim34
  /** sim34 — INCREMENTAL INDEX APPEND (the faiss `add` contract;
    * dd25's daily-append theme on the ANN side): yesterday's IVF index
    * = centroids picked from HISTORY (vec_id % 5 ≠ 0) plus history
    * cell assignments; today's increment (vec_id % 5 = 0) is assigned
    * to the EXISTING centroids with NO retrain — the cheap daily path
    * every vector store runs between reindex jobs. The gated output is
    * the STALENESS audit that tells you when that stops being safe:
    * per cell, population and mean squared distance-to-centroid for
    * history vs increment members, and their ratio (`drift`). A cell
    * whose increment members sit systematically farther out is where
    * the frozen quantizer has stopped resolving the growing corpus —
    * the same degradation the r18 `pqgeom` sweep measured from the
    * other end (residual recall collapsing as clusters-per-cell grew),
    * now observable per-cell, per-append, WITHOUT ground truth.
    *
    * Scale shape: centroids broadcast (⌈√n_hist⌉ rows); both
    * assignments are the one-hash-aggregate argmax (one shuffled row
    * per vector); output is ≤ |cells| rows. Nothing touches history
    * text/vectors beyond the assignment pass a production system runs
    * once and persists — the frame here recomputes it only because a
    * gate needs the whole answer in one query.
    *
    * Float parity: per-member dist² is a fixed-order left fold of
    * (x−c)² (IEEE-deterministic in both engines), quantized to
    * DECIMAL(28,6) BEFORE the per-cell SUM (exact, order-independent,
    * map-side-partial safe); each mean divides the exact decimal by
    * the exact count as one final double; drift guards the
    * centroid-only cell (mean 0) with NULL rather than an Inf. */
  def ivfAppend(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val hist = n.where(col("vec_id") % 5 =!= 0)
    val inc = n.where(col("vec_id") % 5 === 0)
    val cent = centroids(s, hist)
    def r2sum(side: DataFrame, nName: String, sName: String): DataFrame =
      assignCells(side, cent)
        .join(broadcast(cent), col("cell") === col("pid"))
        .withColumn("r2", expr(
          """cast(aggregate(zip_with(e, ce, (x, c) -> (x - c) * (x - c)),
            |  cast(0 as double), (a, v) -> a + v) as decimal(28,6))"""
            .stripMargin))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as(nName), sum(col("r2")).as(sName))
    val h = r2sum(hist, "n_hist", "s_hist")
    val i = r2sum(inc, "n_inc", "s_inc")
    h.join(i, Seq("cell"), "left")
      .select(col("cell"),
        col("n_hist"),
        coalesce(col("n_inc"), lit(0L)).as("n_inc"),
        (col("s_hist").cast("double") / col("n_hist")).as("mean_r2_hist"),
        when(col("n_inc") > 0,
          col("s_inc").cast("double") / col("n_inc")).as("mean_r2_inc"),
        when(col("n_inc") > 0 && col("s_hist") > 0,
          (col("s_inc").cast("double") / col("n_inc"))
            / (col("s_hist").cast("double") / col("n_hist")))
          .as("drift"))
      .orderBy(col("cell"))
  }

  val ivfAppendSql: String = normedCte + "," +
    """hist AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
      |inc AS (SELECT * FROM n WHERE vec_id % 5 = 0),
      |cellsh AS (
      |  SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM hist),
      |centh AS (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM hist, cellsh
      |  WHERE vec_id < cellsh.c),
      |ah AS (
      |  SELECT vec_id, e, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM hist v CROSS JOIN centh c) t WHERE rn = 1),
      |ai AS (
      |  SELECT vec_id, e, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM inc v CROSS JOIN centh c) t WHERE rn = 1),
      |rh AS (
      |  SELECT a.cell, COUNT(*) AS n_hist,
      |    SUM(CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6))) AS s_hist
      |  FROM ah a JOIN centh c ON c.pid = a.cell
      |  GROUP BY a.cell),
      |ri AS (
      |  SELECT a.cell, COUNT(*) AS n_inc,
      |    SUM(CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6))) AS s_inc
      |  FROM ai a JOIN centh c ON c.pid = a.cell
      |  GROUP BY a.cell)
      |SELECT rh.cell, rh.n_hist,
      |  COALESCE(ri.n_inc, 0) AS n_inc,
      |  CAST(rh.s_hist AS DOUBLE) / rh.n_hist AS mean_r2_hist,
      |  CASE WHEN ri.n_inc > 0
      |    THEN CAST(ri.s_inc AS DOUBLE) / ri.n_inc END AS mean_r2_inc,
      |  CASE WHEN ri.n_inc > 0 AND rh.s_hist > 0
      |    THEN (CAST(ri.s_inc AS DOUBLE) / ri.n_inc)
      |       / (CAST(rh.s_hist AS DOUBLE) / rh.n_hist) END AS drift
      |FROM rh LEFT JOIN ri ON ri.cell = rh.cell
      |ORDER BY rh.cell""".stripMargin

  // --------------------------------------------------------------- sim35
  /** sim35 — PARTIAL RETRAIN of the drifted cells: the production
    * RESPONSE to sim34's staleness signal. Instead of a full reindex
    * (re-pick + re-Lloyd + reassign everything — the job the daily
    * append exists to avoid), recompute ONLY the most-drifted cells'
    * centroids as the mean of their CURRENT members (one Lloyd M-step
    * under the frozen assignment) and report each cell's mean squared
    * reconstruction error before/after — the receipt that says how
    * much of the drift one cheap localized step recovers, per cell,
    * before anyone pays for the full rebuild. Top-8 by drift (DESC,
    * cell tiebreak) rather than a fixed threshold so the audit is
    * live on ANY corpus, including the shipped no-drift one.
    *
    * Scale shape: everything through the drift ranking is sim34's
    * plan (broadcast centroids, one-hash-aggregate assignments); the
    * retrain touches only the 8 cells' members (cell-keyed semi join
    * against an 8-row broadcast), the M-step is a (cell, dim)-keyed
    * aggregate of ≤ 8·64 groups, and the output is 8 rows.
    *
    * Float parity: member coordinates and dist² quantize to
    * DECIMAL(28,6) BEFORE any SUM (exact, order-independent); the
    * new centroid component is the exact decimal mean cast to double
    * ONCE, and the after-distance folds (x − c₂)² in fixed order —
    * IEEE-identical in both engines. */
  private def retrainState(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val n = normed(s, d)
    val hist = n.where(col("vec_id") % 5 =!= 0)
    val inc = n.where(col("vec_id") % 5 === 0)
    val cent = centroids(s, hist)
    def withR2(side: DataFrame): DataFrame =
      assignCells(side, cent)
        .join(broadcast(cent), col("cell") === col("pid"))
        .withColumn("r2", expr(
          """cast(aggregate(zip_with(e, ce, (x, c) -> (x - c) * (x - c)),
            |  cast(0 as double), (a, v) -> a + v) as decimal(28,6))"""
            .stripMargin))
        .select(col("vec_id"), col("e"), col("nrm"), col("cell"),
          col("r2"))
    // ONE materialization of the per-vector assignment (vec_id, e,
    // nrm, cell, r2): sim35/sim37 reference this frame 3-5 times
    // (drift ranking, M-step membership, the post-retrain full
    // reassignment, both churn joins), and lazily every reference
    // re-ran the broadcast-centroid argmax + residual fold over the
    // whole corpus — the duplicated subtrees also blew sim37's
    // analyzed plan to ~390 KB, with Catalyst/AQE replanning time to
    // match. Routed through the durable-seam path (r19 verdict #6):
    // with a seam dir configured this heavy seam is a parquet
    // artifact — recomputable from storage after an executor loss,
    // where a localCheckpoint'd frame dies with its executor — and
    // with none (unit tests) it stays the localCheckpoint "computed
    // artifact" idiom.
    val assigned = graft.Seams.durable(s, d, "sim-retrain-assigned")(
      withR2(hist).unionByName(withR2(inc)))
    val h = assigned.where(col("vec_id") % 5 =!= 0)
    val i = assigned.where(col("vec_id") % 5 === 0)
    val drifted = h.groupBy(col("cell"))
      .agg(count(lit(1)).as("nh"), sum(col("r2")).as("sh"))
      .join(i.groupBy(col("cell"))
        .agg(count(lit(1)).as("ni"), sum(col("r2")).as("si")),
        Seq("cell"))
      .where(col("sh") > 0 && col("ni") > 0)
      .withColumn("drift",
        (col("si").cast("double") / col("ni"))
          / (col("sh").cast("double") / col("nh")))
      .orderBy(col("drift").desc, col("cell")).limit(8)
      .select(col("cell"))
    // one Lloyd M-step under the frozen assignment: per-(cell, dim)
    // exact decimal mean of the member coordinates
    val all = assigned
    val newCent = all.join(broadcast(drifted), Seq("cell"))
      .select(col("cell"), col("vec_id"), posexplode(col("e"))
        .as(Seq("dim", "x")))
      .withColumn("xq", col("x").cast("decimal(28,6)"))
      .groupBy(col("cell"), col("dim"))
      .agg((sum(col("xq")).cast("double") / count(lit(1))).as("c2"))
      .groupBy(col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c2)))," +
        " p -> p.c2)").as("ce2")) // bounded: exactly 64 dims per cell
    (cent, all, drifted, newCent)
  }

  def ivfPartialRetrain(s: SparkSession, d: String): DataFrame = {
    val (_, all, drifted, newCent) = retrainState(s, d)
    val members = all.join(broadcast(drifted), Seq("cell"))
    members.join(broadcast(newCent), Seq("cell"))
      .withColumn("r2a", expr(
        """cast(aggregate(zip_with(e, ce2, (x, c) -> (x - c) * (x - c)),
          |  cast(0 as double), (a, v) -> a + v) as decimal(28,6))"""
          .stripMargin))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("r2")).as("sb"), sum(col("r2a")).as("sa"))
      .select(col("cell"), col("n_members"),
        (col("sb").cast("double") / col("n_members"))
          .as("mean_r2_before"),
        (col("sa").cast("double") / col("n_members"))
          .as("mean_r2_after"))
      .orderBy(col("cell"))
  }

  val ivfPartialRetrainSql: String = normedCte + "," +
    """hist AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
      |inc AS (SELECT * FROM n WHERE vec_id % 5 = 0),
      |cellsh AS (
      |  SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM hist),
      |centh AS (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM hist, cellsh
      |  WHERE vec_id < cellsh.c),
      |ah AS (
      |  SELECT vec_id, e, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM hist v CROSS JOIN centh c) t WHERE rn = 1),
      |ai AS (
      |  SELECT vec_id, e, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM inc v CROSS JOIN centh c) t WHERE rn = 1),
      |hr AS (
      |  SELECT a.vec_id, a.e, a.cell,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6)) AS r2
      |  FROM ah a JOIN centh c ON c.pid = a.cell),
      |ir AS (
      |  SELECT a.vec_id, a.e, a.cell,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6)) AS r2
      |  FROM ai a JOIN centh c ON c.pid = a.cell),
      |drifted AS (
      |  SELECT h.cell FROM (
      |    SELECT cell, COUNT(*) AS nh, SUM(r2) AS sh FROM hr
      |    GROUP BY cell) h
      |  JOIN (
      |    SELECT cell, COUNT(*) AS ni, SUM(r2) AS si FROM ir
      |    GROUP BY cell) i2 USING (cell)
      |  WHERE h.sh > 0 AND i2.ni > 0
      |  ORDER BY (CAST(i2.si AS DOUBLE) / i2.ni)
      |    / (CAST(h.sh AS DOUBLE) / h.nh) DESC, cell
      |  LIMIT 8),
      |members AS (
      |  SELECT * FROM hr WHERE cell IN (SELECT cell FROM drifted)
      |  UNION ALL
      |  SELECT * FROM ir WHERE cell IN (SELECT cell FROM drifted)),
      |nc AS (
      |  SELECT cell, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c2
      |  FROM (
      |    SELECT cell, CAST(i AS INT) - 1 AS dim, e[CAST(i AS INT)] AS x
      |    FROM members, UNNEST(range(1, len(e) + 1)) AS t(i)) u
      |  GROUP BY cell, dim),
      |nca AS (
      |  SELECT cell, list(c2 ORDER BY dim) AS ce2 FROM nc GROUP BY cell),
      |after AS (
      |  SELECT m.cell, m.vec_id, m.r2,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(m.e) + 1),
      |          i -> (m.e[CAST(i AS INT)] - a.ce2[CAST(i AS INT)])
      |             * (m.e[CAST(i AS INT)] - a.ce2[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6)) AS r2a
      |  FROM members m JOIN nca a USING (cell))
      |SELECT cell, COUNT(*) AS n_members,
      |  CAST(SUM(r2) AS DOUBLE) / COUNT(*) AS mean_r2_before,
      |  CAST(SUM(r2a) AS DOUBLE) / COUNT(*) AS mean_r2_after
      |FROM after GROUP BY cell
      |ORDER BY cell""".stripMargin

  // --------------------------------------------------------------- sim36
  /** The durable IVF index store — the production vector-store
    * lifecycle sim34/sim35's scaladocs pointed at ("a production
    * system runs once and persists"), mirroring dd25's curation-store
    * pattern on the ANN side. TWO compact parquet artifacts carry the
    * index between daily runs:
    *  - the CENTROID store (pid, ce, cnrm): the frozen coarse
    *    quantizer, ⌈√n_hist⌉ rows;
    *  - the ASSIGNMENT store (vec_id, cell, r2): one metadata row per
    *    indexed vector — its cell and its exact-decimal squared
    *    residual. History EMBEDDINGS never leave the day they were
    *    indexed: the daily append reads these two frames plus today's
    *    increment only (plan-pinned in IvfStoreSpec against
    *    parquet-backed stores).
    * Built once per (session, corpus), durable under the seam cache
    * like dd25's sig/keeper stores. */
  private[graft] def sim36Stores(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    graft.Seams.memo(s, d, "sim36-stores") {
      val centStore = graft.Seams.durable(s, d, "sim36-centstore") {
        centroids(s, normed(s, d).where(col("vec_id") % 5 =!= 0))
      }
      val assignStore = graft.Seams.durable(s, d, "sim36-assignstore") {
        assignWithR2(normed(s, d).where(col("vec_id") % 5 =!= 0),
          centStore)
      }
      (centStore, assignStore)
    }

  /** Nearest-cell assignment + exact-decimal squared residual — the
    * row shape the assignment store persists. Same plan as sim34's
    * audit arms: broadcast centroids, one-hash-aggregate argmax, the
    * (x−c)² fold quantized to DECIMAL(28,6) before any SUM. */
  private def assignWithR2(side: DataFrame, cent: DataFrame): DataFrame =
    assignCells(side, cent)
      .join(broadcast(cent), col("cell") === col("pid"))
      .withColumn("r2", expr(
        """cast(aggregate(zip_with(e, ce, (x, c) -> (x - c) * (x - c)),
          |  cast(0 as double), (a, v) -> a + v) as decimal(28,6))"""
          .stripMargin))
      .select(col("vec_id"), col("cell"), col("r2"))

  /** The fold-increment-into-store handoff: tomorrow's assignment
    * store = today's ∪ the increment assigned under the FROZEN
    * centroid store. Associativity (day-1 then day-2 == one-shot over
    * the union) is pinned in IvfStoreSpec — trivially true while the
    * append is a per-vector-deterministic union, and the pin is what
    * keeps it true if the append ever grows order-dependent logic. */
  private[graft] def ivfStoreAppendFrom(cent: DataFrame,
      assignStore: DataFrame, inc: DataFrame): DataFrame =
    assignStore.unionByName(assignWithR2(inc, cent))

  /** sim36's gated output from explicit store/increment frames: the
    * per-cell census of the UPDATED index — population, an exact
    * integer membership checksum (same (id % M · r + 99991) % M sum as
    * dd24's manifest: it pins the exact assignment SET, not just
    * counts), and the exact-decimal mean squared residual. */
  private[graft] def ivfStoreCensusFrom(cent: DataFrame,
      assignStore: DataFrame, inc: DataFrame): DataFrame = {
    val M = 1000003L
    val mulRed = 2654435761L % M
    ivfStoreAppendFrom(cent, assignStore, inc)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum((col("vec_id") % M * mulRed + 99991L) % M).cast(LongType)
          .as("id_checksum"),
        sum(col("r2")).as("s_r2"))
      .select(col("cell"), col("n_members"), col("id_checksum"),
        (col("s_r2").cast("double") / col("n_members")).as("mean_r2"))
      .orderBy(col("cell"))
  }

  /** sim36 — DURABLE IVF STORE + DAILY APPEND, the dd25 lifecycle on
    * the ANN side: the registry entry consumes the persisted
    * (centroid, assignment) artifacts for ALL history — no in-query
    * history recompute, the gap the r18 verdict named first — assigns
    * only today's increment (vec_id % 5 = 0, sim34's fixture split),
    * folds it in, and emits the updated index census.
    *
    * Exactness theorem (the dd25 gating pattern): the DuckDB oracle
    * recomputes FROM SCRATCH — prefix centroids over history, every
    * vector assigned fresh — so the hash gate proves store-carried
    * assignments == full reassignment under the frozen quantizer.
    * That equality rests on one lemma: nearest-centroid assignment is
    * per-vector deterministic given the centroid set (argmax under
    * the fixed `csim DESC, pid` tie-break), so WHEN a vector was
    * assigned cannot matter. The id_checksum column is what makes the
    * gate see any violation: a single vector in the wrong cell moves
    * two cells' checksums.
    *
    * Scale shape: history cost is a metadata parquet scan (3 columns,
    * no embeddings); the only vector math is the increment's
    * broadcast-centroid argmax; the census is one hash aggregate with
    * map-side partials, ≤ |cells| rows out. At 100 TB the daily
    * append touches exactly (increment vectors + store metadata),
    * like dd25 touches (increment text + sig/keeper stores). */
  def ivfStoreCensus(s: SparkSession, d: String): DataFrame = {
    val (cent, assigns) = sim36Stores(s, d)
    ivfStoreCensusFrom(cent, assigns,
      normed(s, d).where(col("vec_id") % 5 === 0))
  }

  // --------------------------------------------------------------- sim39
  /** sim39 — THE DRIFT AUDIT FROM THE STORE: sim34's staleness audit
    * in the production shape its own scaladoc promised ("a production
    * system runs once and persists"). The history side of the audit
    * is ONE metadata aggregate over sim36's assignment store —
    * (cell, count, exact-decimal Σr2), no history embedding is ever
    * touched — and only the increment pays the broadcast-centroid
    * argmax + residual fold. Output is sim34's exact schema and rows;
    * the oracle is sim34's from-scratch recompute VERBATIM, so the
    * hash gate proves the store-carried residuals equal recomputed
    * ones (the r2-determinism lemma under the frozen quantizer).
    * IvfStoreSpec pins the no-embeddings-scan plan and row equality
    * with sim34. At 100 TB this is the difference between a daily
    * drift audit that scans yesterday's whole vector corpus and one
    * that reads a 3-column metadata parquet. */
  private[graft] def ivfStoreDriftFrom(cent: DataFrame,
      assignStore: DataFrame, inc: DataFrame): DataFrame = {
    val h = assignStore.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_hist"), sum(col("r2")).as("s_hist"))
    val i = assignWithR2(inc, cent).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_inc0"), sum(col("r2")).as("s_inc"))
    h.join(i, Seq("cell"), "left")
      .select(col("cell"), col("n_hist"),
        coalesce(col("n_inc0"), lit(0L)).as("n_inc"),
        (col("s_hist").cast("double") / col("n_hist"))
          .as("mean_r2_hist"),
        when(col("n_inc0") > 0,
          col("s_inc").cast("double") / col("n_inc0"))
          .as("mean_r2_inc"),
        when(col("n_inc0") > 0 && col("s_hist") > 0,
          (col("s_inc").cast("double") / col("n_inc0"))
            / (col("s_hist").cast("double") / col("n_hist")))
          .as("drift"))
      .orderBy(col("cell"))
  }

  def ivfStoreDrift(s: SparkSession, d: String): DataFrame = {
    val (cent, assigns) = sim36Stores(s, d)
    ivfStoreDriftFrom(cent, assigns,
      normed(s, d).where(col("vec_id") % 5 === 0))
  }

  /** The oracle IS sim34's: the store-based derivation must hash-equal
    * the full recompute — that equality is the query's entire claim. */
  val ivfStoreDriftSql: String = ivfAppendSql

  val ivfStoreCensusSql: String = normedCte + "," +
    """hist AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
      |cellsh AS (
      |  SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM hist),
      |centh AS (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM hist, cellsh
      |  WHERE vec_id < cellsh.c),
      |aa AS MATERIALIZED (
      |  SELECT vec_id, e, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM n v CROSS JOIN centh c) t WHERE rn = 1),
      |ar AS (
      |  SELECT a.vec_id, a.cell,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6)) AS r2
      |  FROM aa a JOIN centh c ON c.pid = a.cell)
      |SELECT cell, COUNT(*) AS n_members,
      |  CAST(SUM((vec_id % 1000003 * (2654435761 % 1000003) + 99991)
      |    % 1000003) AS BIGINT) AS id_checksum,
      |  CAST(SUM(r2) AS DOUBLE) / COUNT(*) AS mean_r2
      |FROM ar GROUP BY cell
      |ORDER BY cell""".stripMargin

  // --------------------------------------------------------------- sim37
  /** sim37 — POST-RETRAIN REASSIGNMENT AUDIT: the loop sim35 leaves
    * open (r18 verdict #2). The M-step moves the top-8 drifted
    * centroids but the assignment stays frozen — so the retrain
    * itself INTRODUCES staleness: members whose nearest centroid
    * changed because of the move are now sitting in the wrong cell,
    * and that residual is unmeasured. This audit reassigns every
    * vector against the UPDATED centroid set (the 8 retrained + the
    * untouched rest) and reports, per retrained cell, the membership
    * churn the move would cause: `n_before` (frozen members),
    * `n_stay`, `n_out` (members whose nearest centroid is now
    * elsewhere), `n_in` (vectors from other cells that now prefer
    * this one), and `n_in_inc` (how many of those are INCREMENT
    * vectors — the column that tells drift-driven churn from mere
    * M-step re-centering). All counts — integer-exact, no
    * float-parity surface beyond the argmax itself (same `csim DESC,
    * pid` tie-break as every assignment). Reading the trigger: on an
    * unconverged quantizer (the deterministic prefix centroids here)
    * one M-step relocates centroids substantially, so TOTAL churn is
    * high on ANY corpus — measured at ~83–89% on both the shifted and
    * the null appends in the SkewBench `drift` arm. What separates a
    * drift-driven retrain is WHO the moved centroid absorbs: on the
    * cluster-shifted append it chases the increment's new geometry
    * and the increment's share of `n_in` rises far above its corpus
    * share; on the null append it stays at the corpus share.
    * `n_in_inc / n_in` is the firing signal — high means the frozen
    * quantizer is being dragged by new data: full reindex now.
    *
    * Scale shape: everything through `newCent` is sim35's plan; the
    * audit adds ONE more broadcast-centroid hash-aggregate argmax
    * over the corpus (the sim34 assignment shape, one shuffled row
    * per vector) and two ≤8-row-broadcast-filtered aggregates. Output
    * ≤ 8 rows. */
  def ivfRetrainReassign(s: SparkSession, d: String): DataFrame = {
    val (cent, all, drifted, newCent) = retrainState(s, d)
    val cent2 = cent
      .join(broadcast(drifted), col("pid") === col("cell"), "left_anti")
      .unionByName(newCent.select(col("cell").as("pid"),
        col("ce2").as("ce"),
        sqrt(call_function("graft_vec_dot", col("ce2"), col("ce2")))
          .as("cnrm")))
    val re = assignCells(
        all.select(col("vec_id"), col("e"), col("nrm")), cent2)
      .select(col("vec_id"), col("cell").as("cell2"))
    val moved = all.select(col("vec_id"), col("cell")).join(re, Seq("vec_id"))
    val before = moved.join(broadcast(drifted), Seq("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("cell2") === col("cell"), 1L).otherwise(0L))
          .as("n_stay"))
    val gained = moved.where(col("cell2") =!= col("cell"))
      .select(col("cell2").as("cell"), col("vec_id"))
      .join(broadcast(drifted), Seq("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_in"),
        sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L))
          .as("n_in_inc"))
    before.join(gained, Seq("cell"), "left")
      .select(col("cell"), col("n_before"), col("n_stay"),
        (col("n_before") - col("n_stay")).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("n_in_inc"), lit(0L)).as("n_in_inc"))
      .orderBy(col("cell"))
  }

  val ivfRetrainReassignSql: String = normedCte + "," +
    """hist AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
      |inc AS (SELECT * FROM n WHERE vec_id % 5 = 0),
      |cellsh AS (
      |  SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS c FROM hist),
      |centh AS MATERIALIZED (
      |  SELECT vec_id AS pid, e AS ce, nrm AS cnrm FROM hist, cellsh
      |  WHERE vec_id < cellsh.c),
      |ah AS MATERIALIZED (
      |  SELECT vec_id, e, nrm, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, v.nrm, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM hist v CROSS JOIN centh c) t WHERE rn = 1),
      |ai AS MATERIALIZED (
      |  SELECT vec_id, e, nrm, pid AS cell FROM (
      |    SELECT v.vec_id, v.e, v.nrm, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM inc v CROSS JOIN centh c) t WHERE rn = 1),
      |hr AS MATERIALIZED (
      |  SELECT a.vec_id, a.e, a.nrm, a.cell,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6)) AS r2
      |  FROM ah a JOIN centh c ON c.pid = a.cell),
      |ir AS MATERIALIZED (
      |  SELECT a.vec_id, a.e, a.nrm, a.cell,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6)) AS r2
      |  FROM ai a JOIN centh c ON c.pid = a.cell),
      |drifted AS MATERIALIZED (
      |  SELECT h.cell FROM (
      |    SELECT cell, COUNT(*) AS nh, SUM(r2) AS sh FROM hr
      |    GROUP BY cell) h
      |  JOIN (
      |    SELECT cell, COUNT(*) AS ni, SUM(r2) AS si FROM ir
      |    GROUP BY cell) i2 USING (cell)
      |  WHERE h.sh > 0 AND i2.ni > 0
      |  ORDER BY (CAST(i2.si AS DOUBLE) / i2.ni)
      |    / (CAST(h.sh AS DOUBLE) / h.nh) DESC, cell
      |  LIMIT 8),
      |members AS MATERIALIZED (
      |  SELECT * FROM hr WHERE cell IN (SELECT cell FROM drifted)
      |  UNION ALL
      |  SELECT * FROM ir WHERE cell IN (SELECT cell FROM drifted)),
      |nc AS (
      |  SELECT cell, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c2
      |  FROM (
      |    SELECT cell, CAST(i AS INT) - 1 AS dim, e[CAST(i AS INT)] AS x
      |    FROM members, UNNEST(range(1, len(e) + 1)) AS t(i)) u
      |  GROUP BY cell, dim),
      |nca AS MATERIALIZED (
      |  SELECT cell, list(c2 ORDER BY dim) AS ce2 FROM nc GROUP BY cell),
      |cent2 AS MATERIALIZED (
      |  SELECT pid, ce, cnrm FROM centh
      |  WHERE pid NOT IN (SELECT cell FROM drifted)
      |  UNION ALL
      |  SELECT cell AS pid, ce2 AS ce,
      |    sqrt(list_dot_product(ce2, ce2)) AS cnrm
      |  FROM nca),
      |alla AS MATERIALIZED (
      |  SELECT vec_id, e, nrm, cell FROM ah
      |  UNION ALL
      |  SELECT vec_id, e, nrm, cell FROM ai),
      |renew AS MATERIALIZED (
      |  SELECT vec_id, pid AS cell2 FROM (
      |    SELECT v.vec_id, c.pid, ROW_NUMBER() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
      |               c.pid) AS rn
      |    FROM alla v CROSS JOIN cent2 c) t WHERE rn = 1),
      |bfr AS (
      |  SELECT a.cell, COUNT(*) AS n_before,
      |    CAST(SUM(CASE WHEN r.cell2 = a.cell THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_stay
      |  FROM alla a JOIN renew r USING (vec_id)
      |  WHERE a.cell IN (SELECT cell FROM drifted)
      |  GROUP BY a.cell),
      |gained AS (
      |  SELECT r.cell2 AS cell, COUNT(*) AS n_in,
      |    CAST(SUM(CASE WHEN a.vec_id % 5 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_in_inc
      |  FROM alla a JOIN renew r USING (vec_id)
      |  WHERE r.cell2 <> a.cell AND r.cell2 IN (SELECT cell FROM drifted)
      |  GROUP BY r.cell2)
      |SELECT b.cell, b.n_before, b.n_stay,
      |  b.n_before - b.n_stay AS n_out,
      |  COALESCE(g.n_in, 0) AS n_in,
      |  COALESCE(g.n_in_inc, 0) AS n_in_inc
      |FROM bfr b LEFT JOIN gained g USING (cell)
      |ORDER BY b.cell""".stripMargin

  // --------------------------------------------------------------- sim38
  /** sim38 — CELL-RESOLUTION AUDIT: the r18 `pqgeom` finding
    * ("residual PQ wins iff cells ≈ cluster count") as a gated,
    * label-free statistic instead of BASELINE.md prose. Per cell:
    * `within` = mean squared member distance to the centroid (how
    * spread the cell's population is) and `nn_d2` = squared distance
    * to the NEAREST other centroid (how far the next cell sits);
    * `resolution` = nn_d2 / within. When the coarse quantizer
    * resolves the corpus's cluster structure, members hug their
    * centroid while centroids sit apart — resolution high; when each
    * cell averages many unrelated clusters (the ⌈√n⌉-cells-under-
    * growth failure), within inflates toward the global variance and
    * resolution collapses toward ~1. No ground-truth labels anywhere,
    * so the dial is self-checking on ANY corpus; the SkewBench
    * `pqgeom` arm re-runs it on the three measured geometries and
    * asserts it points at the residual-vs-raw winner.
    *
    * Scale shape: members pass = the standard broadcast-centroid
    * argmax + DECIMAL(28,6) r2 fold (one shuffled row per vector);
    * the centroid-NN pass is the ⌈√n⌉×⌈√n⌉ broadcast self-join —
    * O(n) total work, ≤ |cells| output rows.
    *
    * Float parity: within = exact-decimal sum over the fixed-order
    * fold, one final double division; nn_d2 = the same fixed-order
    * fold on centroid pairs (raw double — deterministic in both
    * engines), min-selected under a (d2, pid) tie-break; resolution =
    * one double division, NULL-guarded on the single-member cell
    * whose within is 0. */
  def cellResolution(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val cent = centroids(s, n)
    val within = assignCells(n, cent)
      .join(broadcast(cent), col("cell") === col("pid"))
      .withColumn("r2", expr(
        """cast(aggregate(zip_with(e, ce, (x, c) -> (x - c) * (x - c)),
          |  cast(0 as double), (a, v) -> a + v) as decimal(28,6))"""
          .stripMargin))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("r2")).as("sw"))
    val other = cent.select(col("pid").as("pid2"), col("ce").as("ce2"))
    val nn = cent.crossJoin(broadcast(other))
      .where(col("pid") =!= col("pid2"))
      .withColumn("d2", expr(
        """aggregate(zip_with(ce, ce2, (x, c) -> (x - c) * (x - c)),
          |  cast(0 as double), (a, v) -> a + v)""".stripMargin))
      .groupBy(col("pid"))
      .agg(min(struct(col("d2"), col("pid2"))).as("w"))
      .select(col("pid").as("cell"), col("w").getField("d2").as("nn_d2"))
    within.join(nn, Seq("cell"))
      .select(col("cell"), col("n_members"),
        (col("sw").cast("double") / col("n_members")).as("within"),
        col("nn_d2"),
        when(col("sw") > 0,
          col("nn_d2") / (col("sw").cast("double") / col("n_members")))
          .as("resolution"))
      .orderBy(col("cell"))
  }

  val cellResolutionSql: String = normedCte + "," + centCte + "," +
    assignedCte + s""",
      |wr AS (
      |  SELECT a.cell, COUNT(*) AS n_members,
      |    SUM(CAST(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.e) + 1),
      |          i -> (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)])
      |             * (a.e[CAST(i AS INT)] - c.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS DECIMAL(28,6))) AS sw
      |  FROM assigned a JOIN cent c ON c.pid = a.cell
      |  GROUP BY a.cell),
      |nn AS (
      |  SELECT pid AS cell, d2 AS nn_d2 FROM (
      |    SELECT a.pid, list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(a.ce) + 1),
      |          i -> (a.ce[CAST(i AS INT)] - b.ce[CAST(i AS INT)])
      |             * (a.ce[CAST(i AS INT)] - b.ce[CAST(i AS INT)]))),
      |      (x, y) -> x + y) AS d2,
      |      ROW_NUMBER() OVER (PARTITION BY a.pid
      |        ORDER BY list_reduce(
      |          list_prepend(CAST(0 AS DOUBLE),
      |            list_transform(range(1, len(a.ce) + 1),
      |              i -> (a.ce[CAST(i AS INT)] - b.ce[CAST(i AS INT)])
      |                 * (a.ce[CAST(i AS INT)] - b.ce[CAST(i AS INT)]))),
      |          (x, y) -> x + y), b.pid) AS rn
      |    FROM cent a JOIN cent b ON b.pid <> a.pid) t
      |  WHERE rn = 1)
      |SELECT w.cell, w.n_members,
      |  CAST(w.sw AS DOUBLE) / w.n_members AS within,
      |  nn.nn_d2,
      |  CASE WHEN w.sw > 0
      |    THEN nn.nn_d2 / (CAST(w.sw AS DOUBLE) / w.n_members)
      |  END AS resolution
      |FROM wr w JOIN nn USING (cell)
      |ORDER BY w.cell""".stripMargin

  // --------------------------------------------------------------- sim23
  /** Binary (sign-bit) quantization ANN — 1 bit per dimension, 32×
    * smaller than fp32: each vector packs into ONE 64-bit word
    * (sig = Σ 2^i over dims with e[i] > 0), the candidate scan ranks by
    * Hamming distance `bit_count(sig_q ^ sig_c)` — a two-instruction
    * integer kernel (XOR + POPCNT, both inside whole-stage codegen) —
    * and only the ≤ m shortlist re-ranks in exact fp64 cosine.
    *
    * Scale story: at 10^10 64-dim vectors the sign bitmap is 80 GB
    * where fp32 is 2.5 TB — the first-stage scan is memory-resident on
    * a modest cluster and bandwidth-bound, not compute-bound. Both
    * ranking stages are bounded-heap aggregates ([[topKPerQuery]] —
    * map-side partial top-m, no window sort of the scored set), the
    * full-precision arrays are joined back ONLY onto the 5×m surviving
    * shortlist rows, and every score is integer (stage 1) or a
    * deterministic sequential fold (stage 2), so cross-engine
    * determinism is total. */
  def binaryHamming(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    // sign-bit packing via the native codegen'd [[graft.functions
    // .SignPack]] (the HOF spelling pays 64 interpreted lambda
    // dispatches per row). Bit 63 is the Java shift wrap
    // (1L<<63 = Long.MinValue) — the oracle spells the same
    // two's-complement value with an explicit literal.
    val packed = n.withColumn("sig",
      call_function("graft_sign_pack", col("e")))
    val c = packed.select(col("vec_id").as("neighbor_id"),
      col("sig").as("sig_c"))
    val scanned = broadcast(packed.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("sig").as("sig_q")))
      .join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming",
        expr("cast(bit_count(sig_q ^ sig_c) as int)"))
    val shortlist = topKPerQuery(scanned, 12, -col("hamming"),
        col("neighbor_id"), Seq("neighbor_id", "hamming"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
    val qv = n.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"))
    val rescored = broadcast(shortlist)
      .join(n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nrm_c")), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    topKPerQuery(rescored, 3, col("cosine"), col("neighbor_id"),
        Seq("neighbor_id", "hamming", "cosine"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val binaryHammingSql: String = normedCte + "," +
    """packed AS (
      |  SELECT vec_id, CAST(SUM(CASE WHEN e[CAST(i AS INT) + 1] > 0 THEN
      |      CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |           ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
      |    ELSE 0 END) AS BIGINT) AS sig
      |  FROM n, UNNEST(range(len(e))) AS t(i)
      |  GROUP BY vec_id),
      |short AS (
      |  SELECT query_id, neighbor_id, hamming FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      CAST(bit_count(xor(q.sig, c.sig)) AS INT) AS hamming,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY bit_count(xor(q.sig, c.sig)) ASC, c.vec_id) AS rn
      |    FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 5) t
      |  WHERE rn <= 12)
      |SELECT query_id, neighbor_id, hamming, cosine, rnk FROM (
      |  SELECT sh.query_id, sh.neighbor_id, sh.hamming,
      |    list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm) AS cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY sh.query_id
      |      ORDER BY list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm) DESC,
      |               sh.neighbor_id) AS INTEGER) AS rnk
      |  FROM short sh
      |  JOIN n qn ON qn.vec_id = sh.query_id
      |  JOIN n cn ON cn.vec_id = sh.neighbor_id) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------------------- sim24
  /** Multi-iteration Lloyd k-means — the IVF codebook TRAINING loop
    * (sim10 is a single step; this is the loop production actually
    * runs, to a fixed 3 iterations). All arithmetic is integer-exact:
    * vectors are int8-quantized with sim05's global scale, assignment
    * is integer L2 ([[graft.functions.IntL2Sq]], codegen'd), and the
    * centroid update is floor(sum/count) per dimension — so every
    * iteration's state is bit-identical across engines and partial
    * aggregation is lossless.
    *
    * Scale shape per iteration: ONE broadcast of the k×dim centroid
    * table (bytes, not rows), one map-side argmin aggregate keyed
    * vec_id (the assignment shuffle carries one slim row per vector),
    * and one hash aggregate keyed (cell, dim) for the update — ≤ k·dim
    * rows after map-side partials, independent of corpus size. The
    * centroid frame is localCheckpoint'ed between iterations so the
    * lineage does not compound (at cluster scale this seam would be a
    * parquet/Delta write); vectors are never driver-collected. Output:
    * per-iteration convergence telemetry (members + integer SSE per
    * cell) — the numbers an operator watches to decide the codebook is
    * trained. */
  def kmeansLloyd(s: SparkSession, d: String): DataFrame = {
    val iters = 3
    val n = normed(s, d).select(col("vec_id"), col("e"))
    val mx = n.agg(max(expr(
      "aggregate(e, 0D, (m, x) -> greatest(m, abs(x)))")).as("mx"))
    val q = n.join(broadcast(mx))
      .select(col("vec_id"),
        expr("transform(e, x -> cast(round(x * 127 / mx) as int))").as("q"))
    var cent = q.where(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("q").as("cq"))
    val stats = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to iters) {
      // the assignment is consumed TWICE (stats + centroid update), so
      // IT is the iteration seam: one localCheckpoint here means the
      // corpus×k argmin runs exactly once per iteration (checkpointing
      // the centroid frame instead recomputes it — measured ~2x the
      // wall). At cluster scale this seam is the per-iteration
      // assignment table write every production Lloyd loop makes.
      val asg = q.crossJoin(broadcast(cent))
        .withColumn("l2", call_function("graft_int_l2sq", col("q"), col("cq")))
        .groupBy(col("vec_id"), col("q"))
        .agg(min(struct(col("l2").as("l2"), col("pid").as("pid"))).as("w"))
        .select(col("vec_id"), col("q"),
          col("w").getField("l2").as("l2"), col("w").getField("pid").as("cell"))
        .localCheckpoint()
      stats += asg.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"), sum(col("l2")).as("sse"))
        .select(lit(it).as("iter"), col("cell"), col("n_members"), col("sse"))
      if (it < iters)
        // floor(sum/count) per dim: sums are ≤ |corpus|·127 ≪ 2^53, so
        // the double division is exact and floor matches the oracle on
        // negative components (no truncation-vs-floor skew).
        cent = asg.select(col("cell"), posexplode(col("q")))
          .select(col("cell"), (col("pos") + 1).as("dim"), col("col").as("v"))
          .groupBy(col("cell"), col("dim"))
          .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
            .cast(IntegerType).as("nv"))
          .groupBy(col("cell"))
          .agg(expr("transform(sort_array(collect_list(struct(dim, nv))), p -> p.nv)")
            .as("cq"))
          .select(col("cell").as("pid"), col("cq"))
    }
    stats.reduce(_ union _).orderBy(col("iter"), col("cell"))
  }

  /** Oracle mirror of one Lloyd round: assignment (window-ranked argmin
    * over integer L2), per-cell stats, floor-mean centroid update. */
  private def lloydRoundCte(i: Int): String = {
    val (prev, a, st, up, next) =
      (s"cent${i - 1}", s"asg$i", s"stat$i", s"upd$i", s"cent$i")
    s"""$a AS (
       |  SELECT vec_id, q, l2, pid AS cell FROM (
       |    SELECT v.vec_id, v.q, c.pid,
       |      CAST(list_sum(list_transform(range(1, len(v.q) + 1),
       |        i -> CAST(v.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)] AS BIGINT)
       |             * (v.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS l2,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_sum(list_transform(range(1, len(v.q) + 1),
       |          i -> CAST(v.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)] AS BIGINT)
       |               * (v.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) ASC,
       |        c.pid) AS rn
       |    FROM q v CROSS JOIN $prev c) t
       |  WHERE rn = 1),
       |$st AS (
       |  SELECT $i AS iter, cell, COUNT(*) AS n_members,
       |    CAST(SUM(l2) AS BIGINT) AS sse
       |  FROM $a GROUP BY cell),
       |$up AS (
       |  SELECT cell, CAST(t.i AS INT) AS dim,
       |    CAST(floor(CAST(SUM(q[CAST(t.i AS INT)]) AS DOUBLE) / COUNT(*)) AS INT) AS nv
       |  FROM $a, UNNEST(range(1, len(q) + 1)) AS t(i)
       |  GROUP BY cell, CAST(t.i AS INT)),
       |$next AS (
       |  SELECT cell AS pid, list(nv ORDER BY dim) AS cq
       |  FROM $up GROUP BY cell)""".stripMargin
  }

  val kmeansLloydSql: String = normedCte + "," +
    """mx AS (
      |  SELECT MAX(list_reduce([CAST(0 AS DOUBLE)] || list_transform(e, x -> abs(x)),
      |    (m, x) -> greatest(m, x))) AS mx FROM n),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> CAST(round(x * 127 / mx.mx) AS INT)) AS q
      |  FROM n, mx),
      |cent0 AS (SELECT vec_id AS pid, q AS cq FROM q WHERE vec_id < 8),
      |""".stripMargin +
    (1 to 3).map(lloydRoundCte).mkString(",\n") + "\n" +
    """SELECT iter, cell, n_members, sse FROM (
      |  SELECT * FROM stat1 UNION ALL
      |  SELECT * FROM stat2 UNION ALL
      |  SELECT * FROM stat3) u
      |ORDER BY iter, cell""".stripMargin

  // --------------------------------------------------------------- sim25
  /** PageRank over the CONSUMED kNN graph (trained+nprobe=8,
    * [[consumedBlocking]]) — graph-centrality curation:
    * rank each corpus vector by how often the similarity graph's random
    * surfer visits it, i.e. "how prototypical is this document of its
    * neighborhood" (the selection signal for coreset/representative
    * sampling, the inverse of sim09's redundancy signal). 3 power
    * iterations, damping 0.85, dangling mass dropped (documented — a
    * ranking, not a probability).
    *
    * Scale shape per iteration: contributions are one equi-join of the
    * rank table against the bounded-degree edge list (fan-out ≤ k=2)
    * and one hash aggregate keyed dst — map-side partials bound the
    * shuffle by nodes, never by edges² — then a left join back to the
    * vertex set. The rank table is localCheckpoint'ed per iteration
    * (at cluster scale this seam is a table write, exactly like
    * production PageRank); the edge build itself is sim08's
    * cell-blocked O(n^1.5) construction, checkpointed ONCE. Final
    * top-20 is TakeOrderedAndProject (orderBy+limit), not a global
    * window sort.
    *
    * Determinism: pure integer fixed-point (rank scale 10^12, damping
    * as ×85 div 100) — every quantity nonnegative, so truncating `div`
    * (Spark) and flooring `//` (DuckDB) agree exactly. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val (assigned, probes) = consumedBlocking(s, d, n)
    val cand = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nrm_c"), col("cell"))
    val scored = probes
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nrm_q"), col("cell"))
      .join(cand, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    val edges = topKPerQuery(scored, 2, col("cosine"),
        col("neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    // vertex set checkpointed once — it re-enters every iteration's
    // left join; without the seam the final 3-iteration DAG rescans
    // the parquet corpus per iteration
    val nodes = n.select(col("vec_id")).localCheckpoint()
    val ncnt = nodes.agg(count(lit(1)).as("nn"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the 3 power iterations stay LAZY over the checkpointed edge list:
    // at gate scale the whole 3-hop join/agg chain executes as one DAG
    // (no per-iteration materialization jobs — measured faster than
    // checkpointing each rank table here). At cluster scale, with
    // billions of nodes and tens of iterations, the rank table becomes
    // a per-iteration table-write seam exactly like the dd postings.
    var r = nodes.crossJoin(broadcast(ncnt))
      .selectExpr("vec_id", "cast(1000000000000 as bigint) div nn as r")
    for (_ <- 1 to 3) {
      val contrib = r.join(outdeg, r("vec_id") === outdeg("src"))
        .selectExpr("src", "r div deg as c")
      val sumIn = contrib.join(edges, "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      r = nodes.crossJoin(broadcast(ncnt))
        .join(sumIn, nodes("vec_id") === sumIn("dst"), "left")
        .selectExpr("vec_id",
          """cast(15000000000000 as bigint) div (100 * nn)
            |  + (85 * coalesce(m, cast(0 as bigint))) div 100 as r"""
            .stripMargin)
    }
    val top = r.orderBy(col("r").desc, col("vec_id")).limit(20)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("r").desc, col("vec_id")))
          .cast(IntegerType))
      .select(col("vec_id"), col("r").as("rank_s"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** Oracle mirror of one power iteration (pr$i from pr${i-1}). */
  private def prRoundCte(i: Int): String =
    s"""pr$i AS (
       |  SELECT nd.vec_id,
       |    CAST(15000000000000 // (100 * nc.nn)
       |      + (85 * COALESCE(si.m, 0)) // 100 AS BIGINT) AS r
       |  FROM nodes nd CROSS JOIN ncnt nc
       |  LEFT JOIN (
       |    SELECT e.dst, CAST(SUM(p.r // od.deg) AS BIGINT) AS m
       |    FROM pr${i - 1} p
       |    JOIN outdeg od ON od.src = p.vec_id
       |    JOIN edges e ON e.src = p.vec_id
       |    GROUP BY e.dst) si ON si.dst = nd.vec_id)""".stripMargin

  val pageRankSql: String = normedCte + "," + centCte + "," + assignedCte +
    "," + trainedCtes(8) + ",\n" +
    """edges AS (
      |  SELECT query_id AS src, neighbor_id AS dst FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
      |                 c.vec_id) AS rnk
      |    FROM probes1 q JOIN assigned1 c
      |      ON q.cell = c.cell AND c.vec_id <> q.vec_id) t
      |  WHERE rnk <= 2),
      |nodes AS (SELECT vec_id FROM n),
      |ncnt AS (SELECT COUNT(*) AS nn FROM nodes),
      |outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |pr0 AS (
      |  SELECT vec_id, CAST(1000000000000 // nn AS BIGINT) AS r
      |  FROM nodes CROSS JOIN ncnt),
      |""".stripMargin +
    (1 to 3).map(prRoundCte).mkString(",\n") + "\n" +
    """SELECT vec_id, rank_s, rnk FROM (
      |  SELECT vec_id, r AS rank_s,
      |    CAST(ROW_NUMBER() OVER (ORDER BY r DESC, vec_id) AS INTEGER) AS rnk
      |  FROM pr3) t
      |WHERE rnk <= 20
      |ORDER BY rnk""".stripMargin

  // --------------------------------------------------------------- sim26
  /** POWER ITERATION for the top principal direction of the embedding
    * second-moment matrix M = (1/n)·Σ x xᵀ — the anisotropy audit run
    * before trusting cosine retrieval (a corpus whose top eigenvalue
    * carries most of the trace has embeddings collapsed into a narrow
    * cone: cosine scores compress and ANN recall degrades; the fix is
    * mean-removal/whitening, and THIS number is how you decide). Three
    * iterations v ← M·v/‖M·v‖ from e₁; per iteration the reported
    * λ estimate is ‖M·v‖ (Rayleigh upper bound, already computed for
    * the normalization — no extra matvec) and aniso = λ/trace(M).
    *
    * Scale shape — MATVEC form, M never materialized: each iteration
    * computes M·v = (1/n)·Σ x·(xᵀv) in one corpus pass (a codegen'd
    * dot per row, then dim exploded terms hash-aggregated to dim
    * cells — map-side partials compress every partition to ≤ dim
    * rows). Work is corpus×dim×iters; the materialized-M alternative
    * pays corpus×dim² once — 20× more at dim 64 / 3 iters, and
    * infeasible per-row at dim 4096. (Materialize M instead when
    * iterations ≫ dim.) Determinism: every per-dim accumulation sums
    * exact DECIMAL(28,6) terms (order-independent, engine-identical —
    * sim10's quantization argument) and divides once; every float
    * fold is the sequential `graft_vec_dot` ≡ `list_dot_product`, and
    * sqrt/division are IEEE-identical. */
  def powerIteration(s: SparkSession, d: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(28, 6)
    val n = normed(s, d).select(col("e"))
    val cnt = n.agg(count(lit(1)).as("nn"))
    // MATVEC form: M·v = (1/n)·Σ x·(xᵀv) — never materialize the dim²
    // matrix. Each iteration is one corpus pass exploding dim terms
    // per row (corpus×dim, vs corpus×dim² for the M build — the form
    // that stays feasible at dim 4096; materialize M instead when
    // iterations ≫ dim). Terms quantize to exact DECIMAL before the
    // sum, so the per-dim accumulation is order-independent and
    // engine-identical.
    val trace = n
      .select(call_function("graft_vec_dot", col("e"), col("e"))
        .cast(d6).as("t"))
      .agg(sum(col("t")).as("st"))
      .crossJoin(broadcast(cnt))
      .select((col("st").cast("double") / col("nn")).as("tr"))
    var v = n.agg(max(size(col("e"))).as("dim"))
      .select(expr(
        "transform(sequence(1, dim), k -> CASE WHEN k = 1 THEN 1D ELSE 0D END)")
        .as("v"))
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to 3) {
      val w = n.crossJoin(broadcast(v))
        .withColumn("s", call_function("graft_vec_dot", col("e"), col("v")))
        .select(posexplode(col("e")), col("s"))
        .select((col("pos") + 1).as("i"),
          (col("col") * col("s")).cast(d6).as("p"))
        .groupBy(col("i")).agg(sum(col("p")).as("sw"))
        .crossJoin(broadcast(cnt))
        .select(col("i"), (col("sw").cast("double") / col("nn")).as("w"))
        .agg(expr("transform(sort_array(collect_list(struct(i, w))), p -> p.w)")
          .as("warr"))
        .select(col("warr"),
          sqrt(call_function("graft_vec_dot", col("warr"), col("warr")))
            .as("lambda"))
      steps += w.crossJoin(broadcast(trace))
        .select(lit(it).as("iter"), col("lambda"),
          (col("lambda") / col("tr")).as("aniso"))
      v = w.select(expr("transform(warr, x -> x / lambda)").as("v"))
    }
    steps.reduce(_ union _).orderBy(col("iter"))
  }

  /** Oracle mirror of one matvec power-iteration step. */
  private def powerStepCte(k: Int): String =
    s"""w$k AS (
       |  SELECT CAST(t.i AS INT) AS i,
       |    SUM(CAST(e[CAST(t.i AS INT)] * list_dot_product(e, v.v)
       |      AS DECIMAL(28,6))) AS sw
       |  FROM n CROSS JOIN v${k - 1} v, UNNEST(range(1, len(e) + 1)) AS t(i)
       |  GROUP BY 1),
       |wa$k AS (
       |  SELECT list(CAST(sw AS DOUBLE) / nn ORDER BY i) AS warr
       |  FROM w$k CROSS JOIN cnt GROUP BY nn),
       |l$k AS (
       |  SELECT $k AS iter, warr,
       |    sqrt(list_dot_product(warr, warr)) AS lambda
       |  FROM wa$k),
       |v$k AS (
       |  SELECT list_transform(warr, x -> x / lambda) AS v FROM l$k)"""
      .stripMargin

  val powerIterationSql: String = normedCte + "," +
    """cnt AS (SELECT COUNT(*) AS nn FROM n),
      |tr AS (
      |  SELECT CAST(SUM(CAST(list_dot_product(e, e) AS DECIMAL(28,6)))
      |    AS DOUBLE) / nn AS tr
      |  FROM n CROSS JOIN cnt GROUP BY nn),
      |dim AS (SELECT MAX(len(e)) AS dim FROM n),
      |v0 AS (
      |  SELECT list_transform(range(1, dim + 1),
      |    k -> CASE WHEN k = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS v
      |  FROM dim),
      |""".stripMargin +
    (1 to 3).map(powerStepCte).mkString(",\n") + "\n" +
    """SELECT iter, lambda, lambda / tr.tr AS aniso FROM (
      |  SELECT iter, lambda FROM l1 UNION ALL
      |  SELECT iter, lambda FROM l2 UNION ALL
      |  SELECT iter, lambda FROM l3) u CROSS JOIN tr
      |ORDER BY iter""".stripMargin

  // --------------------------------------------------------------- sim27
  /** Matryoshka / prefix-dimension retrieval cascade (Kusupati et al.
    * '22): shortlist by cosine over the FIRST 16 of 64 dims, rerank
    * only the shortlist at full width, audit recall@3 against the
    * full-dim exact answer (sim01). This is the two-stage shape
    * MRL-trained embeddings exist for: at 100 TB the coarse pass scans
    * a 4×-narrower column (store the prefix as its own column and the
    * scan bytes drop with it) and the full-width vectors are touched
    * for only |shortlist| candidates per query — the fine pass is a
    * broadcast of the 50-row shortlist back to the corpus, never a
    * second brute-force sweep. Same partial-top-k ranking as sim01
    * (graft_topk map-side heaps — no ranking windows anywhere). */
  def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val pref = n.withColumn("ep", expr("slice(e, 1, 16)"))
      .withColumn("nrm_p",
        sqrt(call_function("graft_vec_dot", col("ep"), col("ep"))))
      .where(col("nrm_p") > 0)
    val qp = pref.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("ep").as("eqp"),
        col("nrm_p").as("nrm_qp"))
    val cp = pref.select(col("vec_id").as("neighbor_id"),
      col("ep").as("ecp"), col("nrm_p").as("nrm_cp"))
    val coarse = broadcast(qp)
      .join(cp, col("neighbor_id") =!= col("query_id"))
      .withColumn("pcos",
        call_function("graft_vec_dot", col("eqp"), col("ecp"))
          / (col("nrm_qp") * col("nrm_cp")))
    val short = topKPerQuery(coarse, 10, col("pcos"), col("neighbor_id"),
      Seq("neighbor_id")).select(col("query_id"), col("neighbor_id"))
    // fine pass: full-width vectors only for the 50 shortlisted pairs
    val qf = n.where(col("vec_id") < 5).select(
      col("vec_id").as("query_id"), col("e").as("eq"),
      col("nrm").as("nrm_q"))
    val rr = broadcast(short)
      .join(n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nrm_c")), Seq("neighbor_id"))
      .join(broadcast(qf), Seq("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    val reranked = topKPerQuery(rr, 3, col("cosine"), col("neighbor_id"),
      Seq("neighbor_id")).select(col("query_id"), col("neighbor_id"))
    val exact = cosineTopK(s, d).select(col("query_id"), col("neighbor_id"))
    exact.join(reranked.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
      .orderBy(col("query_id"))
  }

  val matryoshkaRecallSql: String = normedCte.stripSuffix("\n") +
    """,
      |p AS (
      |  SELECT vec_id, e, nrm, e[1:16] AS ep,
      |    sqrt(list_dot_product(e[1:16], e[1:16])) AS nrm_p
      |  FROM n WHERE sqrt(list_dot_product(e[1:16], e[1:16])) > 0),
      |short AS (SELECT query_id, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.ep, c.ep) / (q.nrm_p * c.nrm_p)
      |        DESC, c.vec_id) AS rnk
      |  FROM p q JOIN p c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t WHERE rnk <= 10),
      |rr AS (SELECT query_id, neighbor_id FROM (
      |  SELECT s.query_id, s.neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY s.query_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
      |        DESC, s.neighbor_id) AS rnk
      |  FROM short s
      |  JOIN n q ON q.vec_id = s.query_id
      |  JOIN n c ON c.vec_id = s.neighbor_id) t WHERE rnk <= 3),
      |ex AS (SELECT query_id, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
      |        DESC, c.vec_id) AS rnk
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t WHERE rnk <= 3)
      |SELECT e.query_id, COUNT(*) AS n_exact,
      |  CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hit,
      |  CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS recall
      |FROM ex e LEFT JOIN rr r
      |  ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id""".stripMargin

  // --------------------------------------------------------------- sim28
  /** Reciprocal-rank fusion (Cormack et al. '09): merge the LEXICAL
    * BM25 ranking ([[graft.text.TextAnalysis.bm25Ranked]] — query doc
    * d's terms against every other document, doc_id ↔ vec_id 1:1 in
    * this corpus) with the full-width exact dense cosine ranking by
    * rrf = Σ 1/(60+rank) over the lists each candidate appears in,
    * re-rank by the fused score — the BM25+dense hybrid stack this
    * operator always cited, with both arms now real. RRF is THE
    * standard hybrid-retrieval merge because it needs no score
    * calibration — only ranks cross the join, so at scale each
    * ranker ships (query, neighbor, rank) triples, k·|queries| rows,
    * and the fusion is a full-outer join on those tiny lists, nothing
    * corpus-sized. Fused arithmetic is two fixed IEEE terms
    * (1/(60+r)), bit-identical across engines. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d)
    val ra = graft.text.TextAnalysis.bm25Ranked(s, d, 10)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("rnk_a"))
    val qf = n.where(col("vec_id") < 5).select(
      col("vec_id").as("query_id"), col("e").as("eq"),
      col("nrm").as("nrm_q"))
    val fine = broadcast(qf)
      .join(n.select(col("vec_id").as("neighbor_id"), col("e").as("ec"),
        col("nrm").as("nrm_c")), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        call_function("graft_vec_dot", col("eq"), col("ec"))
          / (col("nrm_q") * col("nrm_c")))
    val rb = topKPerQuery(fine, 10, col("cosine"), col("neighbor_id"),
      Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("rnk_b"))
    val fused = ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("rnk_a")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("rnk_b")), lit(0.0)))
    topKPerQuery(fused, 3, col("rrf"), col("neighbor_id"),
        Seq("neighbor_id", "rrf"))
      .select(col("query_id"), col("neighbor_id"), col("rrf"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val rrfFusionSql: String = normedCte.stripSuffix("\n") +
    ",\n" + graft.text.TextAnalysis.bm25CteBody +
    """,
      |ra AS (SELECT query_id, neighbor_id, rnk AS rnk_a FROM bmr
      |  WHERE rnk <= 10),
      |rb AS (SELECT query_id, neighbor_id, rnk AS rnk_b FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
      |        DESC, c.vec_id) AS rnk
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t WHERE rnk <= 10),
      |fused AS (
      |  SELECT COALESCE(ra.query_id, rb.query_id) AS query_id,
      |    COALESCE(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
      |    COALESCE(1.0 / (60.0 + rnk_a), 0.0)
      |      + COALESCE(1.0 / (60.0 + rnk_b), 0.0) AS rrf
      |  FROM ra FULL OUTER JOIN rb
      |    ON rb.query_id = ra.query_id
      |    AND rb.neighbor_id = ra.neighbor_id)
      |SELECT query_id, neighbor_id, rrf, rnk FROM (
      |  SELECT query_id, neighbor_id, rrf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM fused) t
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("sim01_cosine_topk", cosineTopK, cosineTopKSql),
    Op("sim02_lsh_ann", lshAnn, lshAnnSql),
    Op("sim03_ivf_ann", ivfAnn, ivfAnnSql),
    Op("sim04_ivf_multiprobe", ivfMultiProbe, ivfMultiProbeSql),
    Op("sim05_sq8_topk", sq8TopK, sq8TopKSql),
    Op("sim06_sq8_rerank", sq8Rerank, sq8RerankSql),
    Op("sim07_pq_adc", pqAdc, pqAdcSql),
    Op("sim08_knn_graph", knnGraph, knnGraphSql),
    Op("sim09_semdedup", semDedup, semDedupSql),
    Op("sim10_kmeans_step", kmeansStep, kmeansStepSql),
    Op("sim11_maxsim", maxSim, maxSimSql),
    Op("sim12_filtered_ann", filteredAnn, filteredAnnSql),
    Op("sim13_knn_vote", knnVote, knnVoteSql),
    Op("sim14_ann_recall", annRecall, annRecallSql),
    Op("sim15_rank_metrics", rankMetrics, rankMetricsSql),
    Op("sim16_range_search", rangeSearch, rangeSearchSql),
    Op("sim17_hard_negatives", hardNegatives, hardNegativesSql),
    Op("sim18_pq_error", pqError, pqErrorSql),
    Op("sim19_embed_decontaminate", embedDecontaminate, embedDecontaminateSql),
    Op("sim20_cell_balance", cellBalance, cellBalanceSql),
    Op("sim21_ivfpq", ivfPq, ivfPqSql),
    Op("sim22_graph_ann", graphAnn, graphAnnSql),
    Op("sim23_binary_hamming", binaryHamming, binaryHammingSql),
    Op("sim24_kmeans_lloyd", kmeansLloyd, kmeansLloydSql),
    Op("sim25_pagerank", pageRank, pageRankSql),
    Op("sim26_power_iteration", powerIteration, powerIterationSql),
    Op("sim27_matryoshka_recall", matryoshkaRecall, matryoshkaRecallSql),
    Op("sim28_rrf_fusion", rrfFusion, rrfFusionSql),
    Op("sim29_knn_multiprobe", knnGraphMulti, knnGraphMultiSql),
    Op("sim30_knn_trained", knnTrained, knnTrainedSql),
    Op("sim31_graph_recall", graphRecall, graphRecallSql),
    Op("sim32_consumed_recall", consumedRecall, consumedRecallSql),
    Op("sim33_ivfpq_residual", ivfPqResidual, ivfPqResidualSql),
    Op("sim34_ivf_append", ivfAppend, ivfAppendSql),
    Op("sim35_ivf_retrain", ivfPartialRetrain, ivfPartialRetrainSql),
    Op("sim36_ivf_store", ivfStoreCensus, ivfStoreCensusSql),
    Op("sim37_retrain_reassign", ivfRetrainReassign, ivfRetrainReassignSql),
    Op("sim38_cell_resolution", cellResolution, cellResolutionSql),
    Op("sim39_store_drift", ivfStoreDrift, ivfStoreDriftSql))
}
