package bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, task and planning events of the traced run, read from the
  * public `SparkListener` and `QueryExecutionListener` interfaces. The
  * harness runs one query at a time and calls [[take]] after each, so
  * everything collected since the previous call belongs to that query
  * (including jobs submitted from `Par` threads). */
final class Trace extends SparkListener with QueryExecutionListener {

  final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var planningMs = 0L
  private var executions = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); job <- jobs.get(jid)) {
      job.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    executions += 1
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait (up to `timeoutMs`) until every started job has ended and at
    * least `minExecutions` executions reported planning since the last
    * [[take]]; listener events arrive asynchronously. */
  def settle(minExecutions: Long, timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = synchronized {
      jobs.values.forall(_.endMs >= 0) && executions >= minExecutions
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(20)
  }

  /** Everything collected since the last call, as a raw record. */
  def take(): Map[String, Any] = synchronized {
    val js = jobs.values.toSeq
    val out = Map(
      "jobs" -> js.map(j => Seq(j.startMs, j.endMs)),
      "tasks" -> js.map(_.tasks).sum,
      "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum,
      "spill_bytes" -> js.map(_.spillBytes).sum,
      "planning_ms" -> planningMs,
      "executions" -> executions)
    jobs.clear(); stageJob.clear(); planningMs = 0L; executions = 0L
    out
  }
}
