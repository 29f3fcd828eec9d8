package bench

import java.io.File
import java.util.concurrent.CompletableFuture

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{GraftSession, Seams}

/** One benchmark run in one JVM; `run.py` launches it and turns the raw
  * record it writes (`--out`) into metrics.
  *
  * Every run times the composed ingest pipeline and the registry:
  *  - set-up: session, then `Ingest.run` on one WS connection with the
  *    warm-up phases through it, and beside them the registry's warm-up
  *    pass;
  *  - the timed ingest phase, shaped by the workload: `ingest_drain`
  *    sends a preloaded burst to the idle pipeline after two warm-up
  *    bursts, `ingest_paced` an open-loop feed at 1,000 msg/s whose first
  *    three seconds are not timed;
  *  - the exactly-once checks against Derby;
  *  - `Passes` timed registry passes, after the pipeline has stopped.
  * With `--trace 1` the timed ingest phase is played three times on the
  * same pipeline (untraced, traced with the job/planning listeners,
  * untraced again), one registry pass and one query of each other family
  * run traced, the layer probes run, and a burst is drained on a
  * single-core session.
  */
object Main {
  val Tickers = 100
  val DrainWarm = Seq(5000, 20000)
  val DrainBurst = 40000
  val PacedWarm = 10000
  val PacedRate = 1000.0
  val PacedSkip = 3000 // the paced phase's first three seconds
  val QuietMs = 500L
  val Passes = 3
  val TracedFamilies = Seq("dd24", "sim36", "txt27", "st08")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    // the traced run plays three copies of the paced phase, each half as
    // long, so that it stays within three minutes
    val pacedSeconds = if (traced) math.max(1, seconds / 2) else seconds
    val work = new File(opt("work"))
    val registryIds = opt("registry").split(",").toSeq
    // warm-up: cold bursts, so the JIT has compiled the batch path the
    // timed phase runs; the paced phase's first `PacedSkip` lines are
    // its own warm-up
    val (warm, timed, skip) = workload match {
      case "ingest_drain" =>
        (DrainWarm.map(Phase(_, 0)), Phase(DrainBurst, 0), 0)
      case "ingest_paced" =>
        (Seq(Phase(PacedWarm, 0)),
          Phase(PacedSkip + pacedSeconds * PacedRate.toInt, PacedRate), PacedSkip)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // traced: the traced copy sits between two untraced ones, so its
    // overhead is taken against copies as warm as it on average
    val copies = if (traced) Seq("timed", "traced", "timed") else Seq("timed")
    val phases = warm ++ copies.map(_ => timed)
    val roles = warm.map(_ => "warm") ++ copies
    val feed = CompletableFuture.supplyAsync(() => Feed.generate(seed, "F",
      Tickers, phases.map(_.count).sum / Tickers, sid = 7001))

    val spark = GraftSession.local(opt("cores"))
    val seams = new File(work, "seams").toString
    spark.conf.set(Seams.CacheDirKey, seams)
    spark.conf.set(graft.dedup.Dedup.SigCacheDirKey, seams)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val ingest = new IngestRun(spark, new File(work, "ingest"), log)
    val trace = new Trace
    val out = Map.newBuilder[String, Any]
    out += "workload" -> workload

    // set-up: the registry's warm-up runs beside the pipeline's start
    // and warm-up phases; the timed phase waits for both. The seed
    // rotates the registry's query order.
    val rot = (seed % registryIds.size).toInt
    val ids = registryIds.drop(rot) ++ registryIds.take(rot)
    val registry = new Registry(spark, opt("sf-dir"))
    val warmPass = CompletableFuture.supplyAsync(() => registry.warm(ids))
    // a warm-up phase follows the previous one as soon as it is committed;
    // every other phase waits for the pipeline to idle
    out += "ingest" -> (ingest.run("main", feed.join(), phases, QuietMs,
      beforePhase = k => {
        if (k == warm.size) warmPass.join()
        if (roles(k) == "traced") trace.install(spark)
        else if (k > 0 && roles(k - 1) == "traced") trace.remove(spark)
      },
      idleAfter = k => roles.lift(k + 1).forall(_ != "warm"))
      ++ Map("roles" -> roles, "skip" -> skip))
    out += "registry_warm" -> warmPass.get()
    // checked before the registry is timed, then closed, so Derby's and
    // the stopped queries' background work does not overlap the passes
    out += "checks" -> ingest.checks()
    ingest.close()
    System.gc()
    if (!traced) out += "registry" -> (1 to Passes).map(_ => registry.pass(ids))
    else {
      trace.install(spark)
      trace.take()
      val perQuery = Map.newBuilder[String, Any]
      def record(id: String): Unit = {
        trace.settle(minExecutions = 1)
        perQuery += id -> trace.take()
      }
      out += "registry" -> Seq(registry.pass(ids, after = record))
      out += "families" -> registry.pass(TracedFamilies, after = record)
      out += "trace" -> perQuery.result()
      out += "seam_builds" -> Seams.buildTimes
      val probes = new Probes(spark, new File(work, "probes"),
        Feed.generate(seed, "L", Tickers, 150, sid = 9000))
      out += "probes" -> Map("wire_ns_per_frame" -> probes.wire(),
        "queue" -> probes.queue(), "normalize_msgs_per_s" -> probes.normalize(),
        "sink" -> probes.sink())
    }
    spark.stop()
    if (traced) {
      val one = GraftSession.local("1")
      val log1 = new ProgressLog
      one.streams.addListener(log1)
      val ingest1 = new IngestRun(one, new File(work, "ingest-1core"), log1)
      val base = Seq(Phase(1000, 0), Phase(5000, 0))
      out += "baseline_1core" -> (ingest1.run("b", Feed.generate(seed, "B",
        Tickers, base.map(_.count).sum / Tickers, sid = 8000), base, QuietMs) ++
        Map("roles" -> Seq("warm", "timed"), "skip" -> 0))
      out += "baseline_checks" -> ingest1.checks()
      one.stop()
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opt("out")), out.result())
  }
}
