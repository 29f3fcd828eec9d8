package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.Op

/** Pipeline observability via Spark's `observe()` (CollectMetrics):
  * named aggregate metrics computed ON the rows flowing through a
  * stage, during the job that runs it — no second pass over the data,
  * no extra action, no sampling. This is how a production curation
  * pipeline reports drop rates and token budgets per run: a filter
  * stage observed with (rows_in, rows_out, tokens_out) costs one
  * map-side accumulator merge, where a monitoring re-query would
  * rescan the corpus.
  *
  * The metrics ride the existing action: `Observation.get` blocks
  * until the first action on the observed frame completes, then
  * returns the exact aggregate values — consistent with the rows the
  * job actually processed (an AQE re-plan or task retry can't skew
  * them; Spark dedupes by task attempt).
  */
object Observability {

  /** Attach a row-count + per-column-sum probe to a stage boundary.
    * Returns the observed frame (plan-identical rows) and the handle
    * to read after the next action. */
  def countAndSums(df: DataFrame, name: String, sumCols: String*)
      : (DataFrame, Observation) = {
    val obs = Observation(name)
    val metrics = count(lit(1)).as("n_rows") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** op10 — observe() promoted under the oracle gate: a curation-style
    * quality filter instrumented with CollectMetrics probes on BOTH
    * sides of the drop (rows/chars in, rows/chars out — the per-run
    * drop-rate report), where the ORACLE is the uninstrumented query:
    * observation must ride the action invisibly (no row change, no
    * extra pass — the plan shows CollectMetrics nodes, pinned in
    * PlanSpec, and nothing else new). ObservabilitySpec asserts the
    * metric VALUES; this entry pins the non-perturbation half. */
  def observedFilter(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val (observedIn, _) = countAndSums(docs, "op10_in", "n_chars")
    val kept = observedIn.where(length(col("text")) >= 50)
    val (observedOut, _) = countAndSums(kept, "op10_out", "n_chars")
    observedOut.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("lang"))
  }

  val observedFilterSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE LENGTH(text) >= 50
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("op10_observed_filter", observedFilter, observedFilterSql))
}
