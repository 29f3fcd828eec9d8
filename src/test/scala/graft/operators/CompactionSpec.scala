package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Layout contracts for the compaction writer: file counts, per-file
  * row bounds, disjoint key ranges, and — the part that pays the rent —
  * that a key-filtered read of the clustered layout actually PRUNES
  * (scans fewer rows than the full estate, visible in the scan's
  * numFiles / pushed-filter row counts). */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val dir = "/root/testdata/sf0.01"

  private def freshDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft_compact_$tag")
    p.toFile.deleteOnExit()
    p.resolve("out").toString
  }

  test("balanced: ceil(n/target) near-equal files, none above target") {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts_ms")
    val n = ev.count()
    val target = 1000L
    val out = freshDir("bal")
    Compaction.compactBalanced(ev, target).write.parquet(out)
    val files = spark.read.parquet(out)
      .groupBy(input_file_name().as("f")).count().collect()
    val expect = ((n + target - 1) / target).toInt
    assert(files.length === expect,
      s"expected $expect files for $n rows @ $target, got ${files.length}")
    assert(files.forall(_.getLong(1) <= target + 1),
      s"a file exceeds the row target: ${files.map(_.getLong(1)).max}")
    // round-robin balance: max/min within 2%
    val counts = files.map(_.getLong(1))
    assert(counts.max - counts.min <= math.max(2L, n / 50 / expect),
      s"unbalanced files: min=${counts.min} max=${counts.max}")
    assert(spark.read.parquet(out).count() === n)
  }

  test("clustered: files own disjoint user_id ranges and a key filter " +
    "prunes most files at planning time") {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts_ms")
    val out = freshDir("clu")
    Compaction.compactClustered(ev, col("user_id"), 1000L)
      .write.parquet(out)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length >= 4, s"too few files to test pruning: $ranges")
    // strict: repartitionByRange co-locates equal keys, so a boundary
    // key SHARED by two files would mean the clustering contract broke
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"file ranges overlap or share a key: $ranges")
    case _ => ()
    }
    // a tight key filter must touch ~1 file, not the estate: compare the
    // scan's file count under the pushed filter vs the full read
    val probe = ranges.head._1 // a key guaranteed to live in file 1
    val pruned = spark.read.parquet(out).where(col("user_id") === probe)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,"),
      s"key filter not pushed to the clustered scan:\n$scan")
    val matched = ranges.count { case (lo, hi) => lo <= probe && probe <= hi }
    assert(matched <= 2,
      s"clustered layout fails to isolate key $probe: $matched files match")
    assert(pruned.count() ===
      Tables.events(spark, dir).where(col("user_id") === probe).count())
  }

  test("z-ordered: filters on EITHER interleaved key prune files — " +
    "the 2-D clustering a single-key sort cannot give") {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts_ms")
    val out = freshDir("zord")
    Compaction.compactZOrdered(ev, col("user_id"), col("ts_ms"), 500L)
      .write.parquet(out)
    assert(spark.read.parquet(out).count() === ev.count(), "rows changed")
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("ts_ms").as("tlo"), max("ts_ms").as("thi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(ranges.length >= 8, s"too few files to test 2-D pruning")
    // pick probes in the middle of each domain; a z-ordered estate must
    // exclude a decent fraction of files on EACH dimension alone —
    // a single-key layout leaves the secondary dimension at 100% match
    val uProbe = ranges.map(_._1).sorted.apply(ranges.length / 2)
    val tProbe = ranges.map(_._3).sorted.apply(ranges.length / 2)
    val uMatch = ranges.count { case (lo, hi, _, _) => lo <= uProbe && uProbe <= hi }
    val tMatch = ranges.count { case (_, _, lo, hi) => lo <= tProbe && tProbe <= hi }
    assert(uMatch <= ranges.length * 3 / 4,
      s"user_id point filter matches $uMatch/${ranges.length} files — no pruning")
    assert(tMatch <= ranges.length * 3 / 4,
      s"ts_ms point filter matches $tMatch/${ranges.length} files — no pruning")
    // and the read still answers correctly under the pushed filter
    assert(spark.read.parquet(out).where(col("user_id") === uProbe).count()
      === ev.where(col("user_id") === uProbe).count())
  }

  test("partitioned: a partition filter prunes at PLANNING time " +
    "(directory-level), and each directory holds its own files only") {
    val ev = Tables.events(spark, dir)
      .withColumn("day", (col("ts_ms") / 86400000L).cast("long"))
      .select("event_id", "user_id", "ts_ms", "day")
    val out = freshDir("part")
    Compaction.compactPartitioned(ev, col("day"), col("user_id"), 2000L)
      .write.partitionBy("day").parquet(out)
    val days = ev.select("day").distinct().collect().map(_.getLong(0)).sorted
    assert(days.length >= 2, s"need >=2 partitions to test pruning: $days")
    val probe = days.head
    val read = spark.read.parquet(out).where(col("day") === probe)
    val scan = read.queryExecution.executedPlan.toString
    // directory pruning is visible as a PartitionFilters entry on the
    // scan; the data filter must NOT appear as a pushed row filter
    // (day is a partition column, not a parquet column)
    assert("PartitionFilters: \\[isnotnull\\(day".r.findFirstIn(scan).isDefined
      || scan.contains(s"PartitionFilters: [(day"),
      s"no planning-time partition filter on the scan:\n$scan")
    // only files under day=<probe> are read
    val filesRead = read.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty &&
      filesRead.forall(_.contains(s"day=$probe")),
      s"scan escaped the partition directory: ${filesRead.take(3).toSeq}")
    assert(read.count() === ev.where(col("day") === probe).count())
  }

  test("op13 fixture: the registered ts_ms band prunes files on the " +
    "SECOND z dimension (pushed filter + min/max file-count reduction)") {
    // the exact fixture + predicate the registry entry runs, so the
    // pinned reduction is the registered query's, not a lookalike's
    val zdir = Pruning.zorderFixture(spark, dir).toString
    val r = Tables.events(spark, dir)
      .agg(min(col("ts_ms")), max(col("ts_ms"))).head
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (Math.floorDiv(3 * mn + 2 * mx, 5),
      Math.floorDiv(2 * mn + 3 * mx, 5))
    val ranges = spark.read.parquet(zdir)
      .groupBy(input_file_name().as("f"))
      .agg(min("ts_ms").as("tlo"), max("ts_ms").as("thi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length >= 8, s"too few files (${ranges.length}) to pin pruning")
    // the band is 1/5 of the ts domain; a z-ordered estate must exclude
    // a real fraction of files on it, where a user_id-sorted layout
    // would intersect ~100%
    val hit = ranges.count { case (tlo, thi) => tlo <= hi && thi >= lo }
    assert(hit <= ranges.length * 3 / 4,
      s"ts_ms band intersects $hit/${ranges.length} files — no 2-D pruning")
    // and the range predicate reaches the parquet scan
    val read = spark.read.parquet(zdir)
      .where(col("ts_ms") >= lo && col("ts_ms") <= hi)
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("GreaterThanOrEqual(ts_ms") &&
      scan.contains("PushedFilters"),
      s"ts_ms range not pushed to the scan:\n$scan")
  }
}
