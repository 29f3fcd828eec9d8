package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark plan over the parquet
  * tables in sfDir, the DuckDB-equivalent SQL that gates it, and the
  * family tags the harness mains select by. */
final case class Op(name: String, run: (SparkSession, String) => DataFrame,
    oracleSql: String, tags: Set[String] = Set.empty)

object Op {
  /** The replayed streaming queries (st01–st20); Bench reports their
    * sum as `stream_total`. */
  val Stream = "stream"
  /** Queries that re-materialize partitioned / z-ordered / bucketed /
    * sampled parquet per run; Bench escalates them at 2× their prior
    * time instead of 3×. */
  val IoLayout = "io-layout"
}

/** Driver contract — see SURVEY.md §7.
  *
  * A query is one [[Op]] line in its module's `ops`; this object
  * concatenates the modules' lists. Every query is a
  * `(SparkSession, sfDir) => DataFrame` over the parquet tables in sfDir;
  * `oracleSql` carries the DuckDB-equivalent SQL for hash comparison
  * (column names must match exactly — see module scaladoc for the
  * determinism rules that make the hashes comparable).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * B1 order-book reconstruction — the minimum end-to-end slice of
    * SURVEY.md §7.2: derive → explode → window/agg → full-outer combine. */
  def entry(spark: SparkSession): DataFrame =
    orderbook.Analytics.bookAsOf(spark, "/root/testdata/sf0.001")

  /** Every registered query, in registry order. */
  lazy val ops: Seq[Op] =
    relational.Relational.ops ++
      relational.Advanced.ops ++
      relational.Maintenance.ops ++
      orderbook.Analytics.ops ++
      text.TextAnalysis.ops ++
      dedup.Dedup.ops ++
      similarity.Similarity.ops ++
      multimodal.Multimodal.ops ++
      streaming.StreamedQueries.ops ++
      operators.Salting.ops ++
      operators.Sampling.ops ++
      operators.Pruning.ops ++
      operators.Bucketed.ops ++
      operators.Reuse.ops ++
      operators.Observability.ops ++
      operators.RuntimeFilter.ops ++
      operators.Skyline.ops

  /** Each query's plan by name, in registry order. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(ops.map(o => o.name -> o.run): _*)

  /** For each key in queries, in the same order, equivalent ANSI SQL
    * runnable by DuckDB on the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    ListMap(ops.map(o => o.name -> o.oracleSql): _*)

  /** The one selection rule of Bench, Verify and Explain: no arguments
    * selects every query; otherwise a query is selected when its name
    * starts with any argument (`st` is the stream family, `op04` is
    * op04_runtime_filter). Registry order is kept. */
  def select(args: Seq[String]): Seq[Op] =
    if (args.isEmpty) ops else ops.filter(o => args.exists(o.name.startsWith))
}
