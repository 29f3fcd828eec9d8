package bench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}

/** Runs registry queries (`SparkEntry.queries`) into the `noop` sink,
  * resetting the session's caches after each one, as `graft.Bench`
  * does. Ids are the registry-name prefixes (`ob01` for
  * `ob01_snapshot_explode`). */
final class Registry(spark: SparkSession, sfDir: String) {
  private val all = SparkEntry.queries

  def resolve(id: String): String =
    all.keys.find(_.startsWith(id + "_")).getOrElse(
      throw new IllegalArgumentException(s"no registry query $id"))

  /** Run one query; returns its record: seconds, rows (-1 when it
    * failed), error, start and end. The row count rides the same action
    * as an observed metric, so the warm-up and the timed passes run one
    * plan, and every run is checked. `reset = false` skips the cache
    * reset, whose context-wide unpersist would race a streaming query
    * running beside this one. */
  def run(id: String, reset: Boolean): Map[String, Any] = {
    val fn = all(resolve(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (rows, err) =
      try {
        val obs = Observation(s"rows_$id")
        fn(spark, sfDir).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        (obs.get("n").asInstanceOf[Long], None)
      } catch {
        case e: Throwable =>
          (-1L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
      } finally if (reset) GraftSession.resetCaches(spark)
    Map("id" -> id, "seconds" -> (System.nanoTime() - t0) / 1e9, "rows" -> rows,
      "error" -> err, "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
  }

  /** The untimed warm-up pass. */
  def warm(ids: Seq[String]): Seq[Map[String, Any]] =
    ids.map(id => run(id, reset = false))

  /** One timed pass over `ids`, in order: per-query records plus the pass
    * wall time, which counts each query and its cache reset but not
    * `after`. */
  def pass(ids: Seq[String], after: String => Unit = _ => ()): Map[String, Any] = {
    var passNs = 0L
    val queries = ids.map { id =>
      val t0 = System.nanoTime()
      val q = run(id, reset = true)
      passNs += System.nanoTime() - t0
      after(id)
      q
    }
    Map("pass_s" -> passNs / 1e9, "queries" -> queries)
  }
}
