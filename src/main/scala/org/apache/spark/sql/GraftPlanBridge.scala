package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

import graft.plans.AsOfJoinNode

/** The one sql-package door for building a DataFrame from a raw
  * LogicalPlan (`Dataset.ofRows` is `private[sql]`): the constructor
  * for [[graft.plans.AsOfJoinNode]] and the session rebind the replay
  * harness returns its memory table through. Nothing else reaches
  * into Spark internals — the node, strategy, and exec are plain
  * public-API Catalyst classes. */
object GraftPlanBridge {

  /** Left as-of join: every left row + the columns of the latest right
    * row with the same key(s) and rightTs <= leftTs (nulls when none).
    * Node construction (right-side re-aliasing with the non-strippable
    * [[AsOfJoinNode.RealiasMarker]], key/ts resolution, fail-fast type
    * checks) is the shared [[AsOfJoinNode.build]] core — one
    * definition under the DataFrame API and the `graft_asof` SQL table
    * function. */
  def asofJoin(left: Dataset[Row], right: Dataset[Row],
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTs: String, rightTs: String,
      strict: Boolean): DataFrame = {
    val l = left.asInstanceOf[CDataset[Row]]
    val r = right.asInstanceOf[CDataset[Row]]
    val node = AsOfJoinNode.build(l.queryExecution.analyzed,
      r.queryExecution.analyzed, leftKeys, rightKeys, leftTs, rightTs,
      strict)
    CDataset.ofRows(l.sparkSession.asInstanceOf[CSparkSession], node)
  }

  /** `df`'s analyzed plan as a frame of session `s`: it plans and runs
    * under `s`'s conf. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    CDataset.ofRows(s.asInstanceOf[CSparkSession],
      df.asInstanceOf[CDataset[Row]].queryExecution.analyzed)

  /** `AtomicType` is `private[sql]`; [[graft.plans.AsOfJoinExec]] gates
    * its codegen path on it (the types `ctx.genComp` compares inline). */
  def isAtomic(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.AtomicType]
}
