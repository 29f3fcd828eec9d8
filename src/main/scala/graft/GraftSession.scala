package graft

import org.apache.spark.sql.SparkSession

/** One place for session config so Verify / Bench / tests / the streaming
  * entry agree on semantics:
  *  - shuffle partitions sized to the local parallelism (never the 200
  *    default; on a real cluster this and AQE coalescing govern it),
  *  - AQE on (runtime join re-planning + skew splitting),
  *  - UTC session timezone (oracle parity for NTZ timestamps),
  *  - nanosAsLong so the TIMESTAMP(NANOS) events parquet is readable
  *    (normalized back to millis in Tables.events).
  */
object GraftSession {
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (every TypedImperativeAggregate: graft_topk,
      // Misra-Gries, KMV, bloom) falls back to SORT-based aggregation
      // once a partition sees >128 distinct keys — Spark's default
      // protects unbounded buffers (collect_list) from OOM, but ours
      // are all bounded-state by design (k-heaps, fixed sketch widths),
      // and the fallback is catastrophic where the partial aggregate is
      // the whole point: sim08's 1M-vector kNN graph sorted its 10⁹-row
      // scored candidate set to disk (~80 GB spill, measured round 14)
      // instead of heap-folding it to ≤k rows per key. 4M keys ×
      // bounded buffers is a few hundred MB per partition — hash stays
      // the right engine at any corpus size. The config is GLOBAL, so
      // it also disarms the guard for unbounded buffers (collect_list/
      // collect_set): BoundedBufferSpec pins every such site in main to
      // a reviewed per-group bound so a future unbounded aggregate is a
      // conscious decision, not a silent OOM risk.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (4 * 1024 * 1024).toString)

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    installCacheDrain(s)
    s
  }

  /** Application-end drain for the JVM-wide [[Seams.memo]] entries.
    * resetCaches is the per-session eviction path, but a session
    * stopped WITHOUT it pins its entries — and their frames — in the
    * memo for the JVM lifetime. This listener makes the contract
    * automatic: when the SparkContext stops (one per JVM, so every
    * keyed session is dead at that point), every entry is dropped.
    * Registered at most once per context. */
  private[graft] final class CacheDrainListener
      extends org.apache.spark.scheduler.SparkListener {
    override def onApplicationEnd(
        end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
      Seams.releaseAll()
  }

  private val drainInstalled =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean])

  /** Register the [[CacheDrainListener]] on this session's context,
    * once per context (getOrCreate hands the same context to every
    * caller; a duplicate listener would just drain an empty memo
    * twice, but once is the contract). */
  def installCacheDrain(s: SparkSession): Unit =
    drainInstalled.synchronized {
      val sc = s.sparkContext
      if (!drainInstalled.containsKey(sc)) {
        sc.addSparkListener(new CacheDrainListener)
        drainInstalled.put(sc, java.lang.Boolean.TRUE)
      }
    }

  /** Turn on durable seam artifacts ([[Seams.durable]], including the
    * minhash sig seam) for the harness mains. NOT set for unit tests
    * (they pin the localCheckpoint fallback and set their own temp
    * dirs). Artifacts are content-fingerprint-keyed, so a driver-side
    * testdata regeneration invalidates them automatically. */
  def enableDurableSeams(s: SparkSession): String = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SEAM_DIR", "/tmp/graft-seam-cache")
    s.conf.set(Seams.CacheDirKey, dir)
    dir
  }

  /** Drop ALL session-pinned caches — every [[Seams.memo]] entry of
    * `s` (released first, so no memo can serve a frame the sweep below
    * drops), cached tables, and leftover persisted/localCheckpoint'ed
    * RDDs. The harness mains (Bench, Verify) call this after EVERY
    * query: checkpoint blocks are not evictable by the unified memory
    * manager, so left in place they squeeze execution memory and make
    * every LATER heavy join spill slower (an idle machine reads as
    * contended — the round-6 161 s vs 81 s full-suite gap). The sweep
    * is context-wide: safe only when `s` is the sole session using the
    * context. One definition so the two harnesses can never drift. */
  def resetCaches(s: SparkSession): Unit = {
    Seams.release(s)
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
