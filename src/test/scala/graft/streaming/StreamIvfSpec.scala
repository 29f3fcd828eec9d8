package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The streaming IVF ingest twin (round-9 verdict item 6): cell
  * assignment + incremental centroid stats in `transformWithState`
  * must fold to EXACTLY the batch Lloyd-step aggregate, regardless of
  * how the corpus is split into micro-batches. The st01 oracle pins
  * streaming == DuckDB; this spec pins the two properties the oracle
  * can't see: equality against the REGISTERED batch twin (sim10), and
  * invariance of the final state across different batchings. */
class StreamIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.001"

  test("final streaming stats equal sim10's batch Lloyd aggregate " +
    "exactly (counts and double means)") {
    val streamed = StreamedQueries.streamIvf(spark, dir)
      .select(col("cell"), col("dim"), col("n_members"), col("mean_c"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = graft.SparkEntry.queries("sim10_kmeans_step")(spark, dir)
      .select(col("cell"), col("dim"), col("n_members"), col("new_c"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // sim10 reports only cells that double as centroids? No — every
    // populated cell. The two key sets must agree exactly.
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, (n, m)) =>
      val (bn, bm) = batch(k)
      assert(n === bn, s"member count differs at $k")
      assert(m === bm, s"mean differs at $k: streamed=$m batch=$bm")
    }
  }

  test("the final state is INVARIANT to micro-batch partitioning " +
    "(1 batch vs 7 batches, same verdicts)") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val n = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm",
        sqrt(call_function("graft_vec_dot", col("e"), col("e"))))
      .where(col("nrm") > 0)
    val c = n.agg(ceil(sqrt(count(lit(1)))).cast("long")).head.getLong(0)
    val cents = n.where(col("vec_id") < c)
      .select(col("vec_id"), col("e"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

    def finals(chunks: Int): Map[Long, (Long, Seq[Double])] = {
      val in = Files.createTempDirectory(s"ivf-inv-$chunks")
      val ckpt = Files.createTempDirectory(s"ivf-inv-ckpt-$chunks")
      in.toFile.deleteOnExit(); ckpt.toFile.deleteOnExit()
      n.repartition(chunks).write.mode("overwrite").parquet(in.toString)
      val name = s"ivf_inv_$chunks"
      val q = StreamIvf.runOn(spark,
          spark.readStream.schema(n.schema)
            .option("maxFilesPerTrigger", 1).parquet(in.toString)
            .as[(Long, Array[Double], Double)]
            .map { case (_, e, nrm) =>
              StreamIvf.CellVec(StreamIvf.assign(e, nrm, cents),
                e.map(StreamIvf.micros6))
            })
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("n_members").desc)
      spark.table(name)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2)))
        .toMap
    }

    val one = finals(1)
    val seven = finals(7)
    assert(one.keySet === seven.keySet)
    one.foreach { case (cell, (n1, m1)) =>
      val (n7, m7) = seven(cell)
      assert(n1 === n7, s"count differs at cell $cell")
      assert(m1 === m7, s"means differ at cell $cell")
    }
    // and 7 chunks actually produced MULTIPLE emissions for some cell
    // (the invariance test must not vacuously compare 1-batch runs)
    val emissionCounts = spark.table("ivf_inv_7")
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    assert(emissionCounts.exists(_ > 1),
      "7-chunk replay never crossed a micro-batch boundary")
  }

  test("micros6 quantization matches Spark's cast(double as " +
    "decimal(_,6)) on representative values") {
    import spark.implicits._
    val vs = Seq(0.1234565, -0.9999995, 0.5e-6, -0.5e-6, 1.0 / 3.0,
      -2.0 / 3.0, 0.0, 1e-7, -1e-7)
    val sparkSide = vs.toDF("v")
      .select((expr("cast(v as decimal(28,6))") * 1000000).cast("long"))
      .collect().map(_.getLong(0))
    assert(sparkSide.toSeq === vs.map(StreamIvf.micros6),
      "micros6 disagrees with Spark's decimal cast")
  }
}
