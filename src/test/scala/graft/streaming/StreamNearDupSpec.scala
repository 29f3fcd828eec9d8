package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The st17 operator in isolation: a duplicate arriving in a LATER
  * micro-batch must be flagged against the band owner from an earlier
  * one (the cross-batch state fold is the whole point of the
  * operator), and an unrelated document sharing no band stays
  * admitted. */
class StreamNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  test("a cross-batch duplicate is claimed by its earlier owner; " +
      "unrelated text stays admitted") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-snd-in")
    val out = Files.createTempDirectory("graft-snd-out")
    in.toFile.deleteOnExit(); out.toFile.deleteOnExit()
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val freshText = "completely unrelated wording with different shingles"
    def stage(rows: Seq[(Long, String)], name: String, age: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-snd-stage")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst.get
      Files.move(part, in.resolve(name))
      in.resolve(name).toFile.setLastModified(
        System.currentTimeMillis() - age)
    }
    stage(Seq((1L, dupText)), "b1.parquet", 120000)
    stage(Seq((2L, dupText), (3L, freshText)), "b2.parquet", 60000)
    val q = StreamNearDup.admit(
        spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(in.toString))
      .writeStream.format("memory").queryName("snd_unit")
      .outputMode("update")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val verdicts = spark.table("snd_unit").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("claimed_by")))
    // doc 1: owns all 4 of its bands; doc 2 (identical text, LATER
    // batch): every band already claimed by doc 1; doc 3: fresh
    assert(verdicts.count(_ == (1L, 1L)) === StreamNearDup.Bands)
    assert(verdicts.count(_ == (2L, 1L)) === StreamNearDup.Bands,
      s"cross-batch duplicate not claimed by its owner: ${verdicts.toSeq}")
    assert(verdicts.filter(_._1 == 3L).forall(_._2 == 3L),
      s"unrelated doc lost a band to a non-duplicate: ${verdicts.toSeq}")
  }

  test("TTL: an aged-out band claim is evicted and the next arrival " +
      "on that band is re-admitted as the new owner") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-sndttl-in")
    val out = Files.createTempDirectory("graft-sndttl-out")
    in.toFile.deleteOnExit(); out.toFile.deleteOnExit()
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val T0 = 1700000000000L
    val min = 60000L
    def stage(rows: Seq[(Long, String, Long)], name: String,
        age: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-sndttl-stage")
      rows.map { case (id, tx, ms) =>
        (id, tx, new java.sql.Timestamp(ms))
      }.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst.get
      Files.move(part, in.resolve(name))
      in.resolve(name).toFile.setLastModified(
        System.currentTimeMillis() - age)
    }
    // b1: doc 1 claims its bands at T0 (TTL 1 min of EVENT time)
    stage(Seq((1L, dupText, T0)), "b1.parquet", 240000)
    // b2: unrelated traffic 10 min later — advances the watermark
    // far past doc 1's T0+TTL deadline
    stage(Seq((50L, "first unrelated filler text with private shingles",
      T0 + 10 * min)), "b2.parquet", 180000)
    // b3: more unrelated traffic — doc 1's bands see NO data this
    // batch, so their (now-overdue) timers fire and the claims evict
    stage(Seq((51L, "second unrelated filler wording nothing shared",
      T0 + 11 * min)), "b3.parquet", 120000)
    // b4: doc 2, IDENTICAL text — every band it claims was evicted,
    // so it must be re-admitted as the new owner (claimed_by = 2)
    stage(Seq((2L, dupText, T0 + 12 * min)), "b4.parquet", 60000)
    val q = StreamNearDup.admitTtl(
        spark.readStream
          .schema("doc_id LONG, text STRING, ts TIMESTAMP")
          .option("maxFilesPerTrigger", 1).parquet(in.toString),
        delay = "0 seconds", ttlMs = min)
      .writeStream.format("memory").queryName("sndttl_unit")
      .outputMode("update")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val verdicts = spark.table("sndttl_unit").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("claimed_by")))
    assert(verdicts.count(_ == (1L, 1L)) === StreamNearDup.Bands)
    // the red-able pin: with eviction broken (state survives the TTL),
    // doc 2's verdicts come back claimed_by = 1 and this fails
    assert(verdicts.count(_ == (2L, 2L)) === StreamNearDup.Bands,
      s"aged-out claim not evicted / re-admission failed: ${verdicts.toSeq}")
    assert(!verdicts.contains((2L, 1L)),
      s"doc 2 still claimed by an expired owner: ${verdicts.toSeq}")
  }
}
