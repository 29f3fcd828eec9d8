package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `outDir/<name>` parquet. A crashing
    * query must be a RED row in the artifact, not a missing one
    * (round-7 lesson: catch-and-skip let 41 analysis-time crashes read
    * as "102/102 green"): on failure the query's output dir is still
    * created with an `_ERROR` file carrying the exception, so any
    * downstream reader that expects parquet there fails loudly on that
    * key instead of silently not iterating it. Returns the failed
    * names. Factored out of `main` so VerifySpec can pin the red-row
    * behavior without stopping the shared test session. */
  /** `resetBetween=false` is for SPECS ONLY: the per-query
    * GraftSession.resetCaches is main-harness hygiene. Its memo release
    * touches only this session, but its context-wide unpersist is safe
    * only when this is the sole thread using the context — under sbt's
    * parallel suites it races every OTHER suite's in-flight
    * localCheckpoint blocks (the r19-open IvfStoreSpec
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND flake). The main below always
    * runs with the default (true). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      resetBetween: Boolean = true)
      : Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"),
          s"$name\n${e.toString}\n")
      }
      // same per-query cache hygiene as Bench (shared definition)
      if (resetBetween) GraftSession.resetCaches(spark)
    }
    failed.toSeq
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only — the driver passes 2):
    // comma-separated name prefixes to restrict the dump to
    val selected =
      SparkEntry.select(args.lift(2).toSeq.flatMap(_.split(',')))
    val spark = GraftSession.local()
    System.err.println(
      s"[verify] durable seam cache: ${GraftSession.enableDurableSeams(spark)}")
    val failed = dump(spark, sfDir, outDir, selected.map(o => o.name -> o.run))
    val json = selected.map(o => s"${q(o.name)}: ${q(o.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure summary alongside the dumps — a gate that
    // only counts green parquet dirs can cross-check against this.
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failed.map(q).mkString("[", ",", "]"))
    // NOTE: exit stays 0 even with failures — the _ERROR marker dirs and
    // _failures.json make each crash a red row; a nonzero rc could make
    // the driver discard the whole artifact instead.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
    spark.stop()
  }
}
