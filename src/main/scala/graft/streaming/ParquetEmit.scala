package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** EXACTLY-ONCE parquet emission for foreachBatch sinks — the file-
  * system twin of [[JdbcSink.appendExactlyOnce]]'s per-batch receipt,
  * writing the dd24 curation layout (`partitionBy(split, shard)`)
  * instead of a JDBC table. A file system has no transaction to put
  * the rows and the receipt in, so the batch is staged and promoted
  * under deterministic names, and the marker is written last.
  *
  * Protocol per (queryId, batchId):
  *  1. commit marker exists → return false (the replayed-batch no-op:
  *     a torn checkpoint makes the engine redeliver a batch the sink
  *     already shipped);
  *  2. else write the batch to a stage dir (clearing any junk a
  *     previous crashed attempt at THIS batch left), then promote
  *     each stage file to the final layout under a DETERMINISTIC name
  *     `batch-<queryId>-<batchId>-<partition>-<i>.parquet` — the
  *     promote is idempotent (delete-then-rename onto the same
  *     names), so a crash at ANY point before the marker re-runs to
  *     the same final bytes with no duplicates;
  *  3. the commit marker is created LAST — the linearization point.
  * Readers see only committed data plus possibly a final batch's
  * files whose marker hasn't landed — which the restarted batch
  * OVERWRITES, never duplicates. The `_graft_*` bookkeeping dirs are
  * underscore-prefixed, so Spark's file index (and any Hadoop input
  * format) ignores them when reading the emission dir.
  *
  * All paths go through the Hadoop FileSystem API, so the emission
  * dir can live on any filesystem (local/HDFS/S3A) — the
  * [[graft.dedup.Dedup.emitCurationIncrement]] lesson applied from
  * the start. */
object ParquetEmit {

  private def fsOf(df: DataFrame, p: Path): FileSystem =
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

  /** Idempotent micro-batch emission; returns false when the batch was
    * already committed. `queryId` must be stable across restarts (a
    * fixed name, NOT the engine's random run id). */
  def emitExactlyOnce(df: DataFrame, outDir: String, queryId: String,
      batchId: Long): Boolean = {
    val out = new Path(outDir)
    val fs = fsOf(df, out)
    val marker = new Path(out, s"_graft_commits/$queryId-$batchId")
    if (fs.exists(marker)) return false
    val stage = new Path(out, s"_graft_stage/$queryId-$batchId")
    if (fs.exists(stage) && !fs.delete(stage, true))
      throw new java.io.IOException(s"cannot clear stage $stage")
    df.write.mode("overwrite").partitionBy("split", "shard")
      .parquet(stage.toString)
    // promote: stage/split=X/shard=Y/part-*.parquet → deterministic
    // final names; sorted so the i-th stage file always lands on the
    // i-th final name across crash-rerun attempts
    fs.listStatus(stage).filter(_.isDirectory).foreach { sp =>
      fs.listStatus(sp.getPath).filter(_.isDirectory).foreach { sh =>
        val destDir = new Path(out,
          s"${sp.getPath.getName}/${sh.getPath.getName}")
        fs.mkdirs(destDir)
        fs.listStatus(sh.getPath)
          .filter(_.getPath.getName.startsWith("part-"))
          .sortBy(_.getPath.getName).zipWithIndex.foreach {
            case (f, i) =>
              val dest = new Path(destDir,
                s"batch-$queryId-$batchId-$i.parquet")
              if (fs.exists(dest) && !fs.delete(dest, false))
                throw new java.io.IOException(
                  s"cannot replace stale $dest")
              if (!fs.rename(f.getPath, dest))
                throw new java.io.IOException(
                  s"promote failed: ${f.getPath} -> $dest")
          }
      }
    }
    fs.delete(stage, true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }
}
