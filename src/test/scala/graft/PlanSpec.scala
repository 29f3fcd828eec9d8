package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: correctness of the ROW SET is the
  * oracle gate's job; these pin the plan SHAPES that make the same
  * queries viable at 100 TB — pushdown reaching the scan, column
  * pruning, broadcast on small dimensions, and the absence of
  * nested-loop/cartesian fallbacks on the pairwise operators. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q03: dimension filters are pushed into the parquet scans") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      s"customer filter not pushed:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate,"),
      s"lineitem date filter not pushed:\n$p")
  }

  test("q03: small dimension joins are broadcast, fact join shuffles") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q06: every predicate pushes to the lineitem scan; no shuffle " +
    "before the single-row agg") {
    val p = plan("q06_forecast_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"q06 predicates not pushed:\n$p")
    // global agg = partial agg then a 1-row exchange; the only allowed
    // shuffle is that SinglePartition gather
    val exchanges = "Exchange (?!SinglePartition)".r.findAllIn(p).size
    assert(exchanges === 0, s"q06 shuffles more than the final gather:\n$p")
  }

  test("q08: all five dimensions broadcast; only fact joins shuffle") {
    val p = plan("q08_market_share")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 5, s"q08 expected 5 broadcast dims, got $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q27: correlated scalar subquery decorrelates — broadcast dims, " +
    "no cartesian, both lineitem sides keyed on l_partkey") {
    val p = plan("q27_min_cost_supplier")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q27 decorrelation fell back to a nested loop:\n$p")
    // region/nation/supplier on both the outer and inner (min-agg)
    // sides: >= 5 broadcasts once Catalyst prunes/reuses
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 5, s"q27 expected broadcast dims, got $broadcasts:\n$p")
  }

  test("q28: range join runs as a bucket equi-join, never the " +
    "nested-loop fallback Spark gives raw interval predicates") {
    val p = plan("q28_range_join")
    assert(!p.contains("CartesianProduct"), s"q28 cartesian:\n$p")
    // the points⋈windows join must be a HASH join keyed on the time
    // bucket, with the exact containment predicate riding along as its
    // residual condition — never a nested loop over raw intervals
    assert(("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) " +
      "\\[bucket#\\d+L?\\]").r.findFirstIn(p).isDefined,
      s"q28 point-window join is not bucket-keyed:\n$p")
    // the only nested loops allowed are the 1-row scalar-aggregate
    // attaches (base_ms, n_win) — the same cleared pattern as
    // txt07/sim05; the O(|points|·|windows|) shape would appear as a
    // nested loop with the interval predicate as its condition
    assert(!p.contains("BroadcastNestedLoopJoin BuildRight, Inner, ("),
      s"q28 interval predicate landed on a nested loop:\n$p")
  }

  test("txt04: scan prunes documents to (doc_id, text) only") {
    val p = plan("txt04_fingerprint")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned 2-column read:\n$p")
  }

  test("mm01: blob stats never decode — single scan, no shuffle before agg") {
    val p = plan("mm01_blob_stats")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
  }

  test("pairwise dedup operators never fall back to nested-loop joins") {
    // the registry entries materialize through localCheckpoint, so plan
    // tests inspect the lazy builders the runtime path is built from
    Seq(
      "dd03" -> dedup.Dedup.ngramPairsPlan(spark, sf),
      "dd05" -> dedup.Dedup.minhashLshPlan(spark, sf)
    ).foreach { case (q, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested loop:\n$p")
      // every join must be a keyed equi-join (hash or sort-merge or, at
      // tiny SF, broadcast-hash) — any of these scales by key, unlike
      // the nested-loop shapes excluded above
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$q pair join shape missing:\n$p")
      // candidates must come from the banded-minhash equi-join — key
      // cardinality grows with the data — never from fixed-key-space
      // blocking like (lang, length-bucket), whose per-block pair count
      // grows O(n²) with the corpus
      assert(p.contains("hashpartitioning(band") ||
        "BroadcastHashJoin \\[band".r.findFirstIn(p).isDefined,
        s"$q candidates not keyed on (band, bkey):\n$p")
      assert(!p.contains("hashpartitioning(lang"),
        s"$q still blocks on the fixed (lang, bucket) key space:\n$p")
    }
  }

  test("dd06: pair candidates come from a (band, bkey) equi-join, " +
    "not an all-pairs join") {
    val p = dedup.Dedup.embedNearDupPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"dd06 has a cartesian:\n$p")
    // the ONLY nested-loop allowed is the 32-row plane broadcast (a
    // map-side flatMap); doc×doc candidates must equi-join on the
    // banded signature key
    assert(p.contains("hashpartitioning(band"),
      s"dd06 candidate join is not keyed on (band, bkey):\n$p")
    // the bands subtree appears once per side of the candidate
    // self-join, so the plane attach shows up at most twice
    val nestedLoops = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nestedLoops <= 2,
      s"dd06 has $nestedLoops nested loops (only the plane attach is allowed):\n$p")
  }

  test("ob09/ob14: gap and as-of windows are bucketed, never whole-ticker") {
    // the two-level scan contract (Analytics.ScanBucketWidth): the
    // analytic lag/last over full history must partition by
    // (ticker, bucket) so no task ever sorts a whole ticker's history.
    // (The per-ticker windows still present are Derive's synthetic seq
    // assignment — exchange-provided in production — and the carry
    // prefix-scan over per-bucket summaries, which is ~B× smaller.)
    val p09 = plan("ob09_seq_gaps")
    assert("lag\\(\\w+#\\d+L?, -?1, null\\) windowspecdefinition\\(ticker#\\d+, bucket#".r
      .findFirstIn(p09).isDefined,
      s"ob09 gap lag is not bucketed:\n$p09")
    val p14 = plan("ob14_asof_price")
    assert("last\\(q_price#\\d+, true\\) windowspecdefinition\\(ticker#\\d+, bucket#".r
      .findFirstIn(p14).isDefined,
      s"ob14 as-of last is not bucketed:\n$p14")
    val p18 = plan("ob18_realized_var")
    assert("lag\\(price#\\d+, -?1, null\\) windowspecdefinition\\(ticker#\\d+, day#\\d+, bucket#".r
      .findFirstIn(p18).isDefined,
      s"ob18 move lag is not bucketed:\n$p18")
  }

  test("txt09/txt12: hash gates stay narrow — pruned scan, no hash exchange") {
    // both are map+filter+agg/sort shapes; the only exchanges allowed
    // are the final agg/sort gathers, never a pre-shuffle of documents
    val p09 = plan("txt09_split_assign")
    assert(p09.contains("ReadSchema: struct<text:string,lang:string>"),
      s"txt09 scan not pruned to (text, lang):\n$p09")
    val p12 = plan("txt12_stratified_sample")
    assert(!p12.contains("Exchange hashpartitioning"),
      s"txt12 should have no hash exchange (narrow map+filter):\n$p12")
  }

  test("txt10: packing cumsum is bucketed, never whole-language") {
    // same two-level contract as ob09/ob14: the per-doc running token
    // offset partitions by (lang, bucket) — 5-key lang-only windows
    // would funnel the corpus through 5 sort tasks
    val p = plan("txt10_seq_pack")
    assert("sum\\(n_tok#\\d+L?\\) windowspecdefinition\\(lang#\\d+, bucket#".r
      .findFirstIn(p).isDefined,
      s"txt10 local cumsum is not bucketed:\n$p")
  }

  test("sim01/sim05: ranking is a bounded-heap aggregate with map-side " +
    "partials — no per-query ranking window at all") {
    // a Window.partitionBy(query_id) over the full scored set funnels
    // the whole corpus through ONE task per query (and even a two-level
    // window split pays an exchange + full sort of the scored set
    // before discarding); the graft_topk TypedImperativeAggregate
    // reduces each scoring partition to <= k payloads per query BEFORE
    // the shuffle, so the plan must show an ObjectHashAggregate pair
    // (partial below the query-keyed exchange, final above) and no
    // window operator anywhere in the ranking
    // sim29: BOTH the probe-cell ranking (corpus-side nprobe=2) and the
    // edge ranking must be heap aggregates — a window on either would
    // funnel the corpus through one task per vector
    Seq("sim01_cosine_topk", "sim05_sq8_topk", "sim07_pq_adc",
        "sim08_knn_graph", "sim11_maxsim", "sim12_filtered_ann",
        "sim13_knn_vote", "sim23_binary_hamming",
        "sim29_knn_multiprobe", "sim30_knn_trained").foreach { q =>
      val p = plan(q)
      assert(!"windowspecdefinition\\(query_id#\\d+L?".r
        .findFirstIn(p).isDefined,
        s"$q still ranks through a per-query window:\n$p")
      // "functions=[graft_topk(" can only be the FINAL stage — the
      // partial stage prints functions=[partial_graft_topk(, so this
      // is not subsumed by the partial assert below
      assert("ObjectHashAggregate.*functions=\\[graft_topk\\(".r
        .findFirstIn(p).isDefined,
        s"$q top-k has no final graft_topk object-hash aggregate:\n$p")
      assert("ObjectHashAggregate.*partial_graft_topk".r
        .findFirstIn(p).isDefined,
        s"$q top-k aggregate has no map-side partial stage:\n$p")
    }
  }

  test("sim09/sim32: the consumed trained+multi-probe blocking keeps " +
    "the gate shapes — no cartesian, heap-ranked probes, no corpus window") {
    // the r16 consumer upgrade (consumedBlocking: Lloyd-trained seam +
    // nprobe=8 probes) must not cost the plan its scale posture: pair
    // discovery and edge ranking stay cell-keyed equi-joins + graft_topk
    // heaps; the only nested-loop joins are broadcast centroid attaches
    Seq("sim09_semdedup", "sim32_consumed_recall").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q grew a cartesian:\n$p")
      assert(!"windowspecdefinition\\((?:vec_id|query_id)#\\d+L?".r
        .findFirstIn(p).isDefined,
        s"$q ranks the corpus through a per-vector window:\n$p")
    }
    // the heap-partial pin only reads on sim32: sim09's probe ranking
    // sits BELOW the CC engine's localCheckpoint seam, so its final
    // plan string starts at the materialized pair set (the probe stage
    // itself is pinned via sim13/sim30, which share probeCells)
    val p32 = plan("sim32_consumed_recall")
    assert("ObjectHashAggregate.*partial_graft_topk".r
      .findFirstIn(p32).isDefined,
      s"sim32 probe/edge ranking lost its map-side heap partial:\n$p32")
  }

  test("txt38: every GD step reduces to a 1-row gradient via map-side " +
    "partials; weight state broadcasts back; no windows, no shuffled joins") {
    // inspect the LAZY training plan (the registry query rides the
    // per-session checkpointed model, which truncates lineage to
    // ExistingRDD scans — the ngramPairsPlan precedent)
    val p = graft.text.TextAnalysis.lgdTrainPlan(spark, sf)
      .queryExecution.executedPlan.toString
    // the per-step scan must compress to one row per partition BEFORE
    // any exchange (the 1-row group key makes partials the whole game)
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"txt38 gradient is not partial-first:\n$p")
    // the 1-row weight state rides a broadcast, never a shuffle; and
    // nothing in the trajectory needs a ranking window
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"txt38 shuffles a join (the weight state is 1 row):\n$p")
    assert(!p.contains("Window"),
      s"txt38 grew a window operator:\n$p")
  }

  test("q29: merge source is pre-aggregated (map-side partials) before " +
    "the full-outer key join; no broadcast of the mutable target") {
    val p = plan("q29_merge_upsert")
    // the change set collapses to |customers| rows BEFORE the join:
    // a partial_count/sum aggregate must sit below the outer join
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"q29 source aggregation is not partial-first:\n$p")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"q29 merge apply is not a key-shuffled full-outer join:\n$p")
  }

  test("q30: run compression + both effective-range windows reuse ONE " +
    "hash exchange on the entity key") {
    val p = plan("q30_scd2_history")
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx === 1,
      s"q30 should cluster once on user_id, found $hashEx exchanges:\n$p")
    // no other hash exchange key anywhere (range sort at the top is fine)
    assert("Exchange hashpartitioning\\((?!user_id)".r.findFirstIn(p).isEmpty,
      s"q30 re-shuffles off the entity key:\n$p")
  }

  test("txt18: the exact count only runs behind the broadcast candidate " +
    "filter — no vocabulary-wide aggregation") {
    val p = plan("txt18_heavy_hitters")
    // candidate semi-filter: a broadcast join on tok BELOW the count agg
    assert("BroadcastHashJoin \\[tok".r.findFirstIn(p).isDefined,
      s"txt18 candidate filter is not a broadcast tok join:\n$p")
    // the MG sketch runs as a deserialized mapPartitions, never a shuffle
    assert(p.contains("MapPartitions"),
      s"txt18 Misra-Gries stage missing:\n$p")
  }

  test("dd10: bloom prefilter runs map-side; the exact verify join is " +
    "NOT a gram broadcast") {
    // the operator exists for the regime where eval grams can't be
    // broadcast raw: the only broadcast allowed is the sketch itself
    // (a codegen'd might_contain probe); hits must flow through a
    // shuffled join
    val df = graft.dedup.Dedup.decontaminateBloomPlan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the probe is Spark's BloomFilterMightContain expression pushed
    // into the scan-side filter — codegen'd, never a Scala-UDF closure
    assert(p.contains("might_contain"), s"dd10 bloom prefilter missing:\n$p")
    assert(!p.contains("UDF"), s"dd10 probe fell back to a Scala UDF:\n$p")
    assert("ShuffledHashJoin \\[gram".r.findFirstIn(p).isDefined,
      s"dd10 verify join is not the hinted shuffle join:\n$p")
    assert(!"BroadcastHashJoin \\[gram".r.findFirstIn(p).isDefined,
      s"dd10 broadcasts the gram set it exists to avoid broadcasting:\n$p")
  }

  test("dd08: eval gram set broadcasts; no cartesian anywhere") {
    val p = plan("dd08_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"dd08 eval grams not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"dd08 pairwise fallback:\n$p")
  }

  test("mm05: phash candidates come from a (band, bkey) equi-join") {
    val p = multimodal.Multimodal.phashNearDupPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"mm05 pairwise fallback:\n$p")
    assert(p.contains("hashpartitioning(band") || p.contains("BroadcastHashJoin"),
      s"mm05 candidate join is not keyed on (band, bkey):\n$p")
  }

  test("txt19: global ordinal never sorts the corpus in one task — " +
    "bucketed local rank + broadcast offsets") {
    val p = plan("txt19_curriculum_order")
    // the per-row rank window partitions by the value bucket
    assert("row_number\\(\\) windowspecdefinition\\(bucket#".r
      .findFirstIn(p).isDefined,
      s"txt19 local rank is not bucket-partitioned:\n$p")
    // offsets (metadata-scale) attach by broadcast, not a shuffled join
    assert("BroadcastHashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"txt19 offsets are not broadcast back:\n$p")
  }

  test("txt35: the vocabulary is never ranked through an unpartitioned " +
    "window — bounded-heap topk with map-side partials, no window, no " +
    "global sort") {
    // r18 verdict item: row_number().over(Window.orderBy(...)) here
    // funnels the ENTIRE whitespace vocabulary (Heaps-law ~n^0.5, but
    // billions of rows at 100 TB) through one task. The rewrite keeps
    // only the ≤1000-row graft_topk heap; rank is a posexplode ordinal
    // over that bounded slice, so no Window operator and no global Sort
    // may appear anywhere in the plan.
    val p = plan("txt35_vocab_coverage")
    assert(!p.contains("windowspecdefinition"),
      s"txt35 regrew a vocabulary rank window:\n$p")
    // the only Sort allowed is the 3-row output ordering by vocab_k;
    // a sort keyed on the per-token count or the token itself IS the
    // vocabulary sort this pin exists to forbid
    assert(!"Sort \\[(c|tok)#".r.findFirstIn(p).isDefined,
      s"txt35 sorts the vocabulary:\n$p")
    assert("ObjectHashAggregate.*functions=\\[graft_topk\\(".r
      .findFirstIn(p).isDefined,
      s"txt35 top-1000 has no final graft_topk aggregate:\n$p")
    assert("ObjectHashAggregate.*partial_graft_topk".r
      .findFirstIn(p).isDefined,
      s"txt35 top-1000 heap has no map-side partial stage:\n$p")
  }

  test("q32: existence tests run as ONE aggregation pass — no correlated " +
    "self-join fallback, supplier names broadcast") {
    val p = plan("q32_waiting_supplier")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q32 fell back to a nested loop:\n$p")
    // the per-(order, supplier) lateness aggregate is partial-first
    assert(p.contains("partial_max") || p.contains("partial_sum"),
      s"q32 per-order aggregation is not map-side partial:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q32 supplier attach is not broadcast:\n$p")
  }

  test("dd13: containment pairs come from a gram equi-join — no " +
    "cartesian, no nested loop") {
    // the lazy twin: the runtime query checkpoints its shared seams,
    // which would hide the join shape behind an ExistingRDD scan
    val p = dedup.Dedup.containmentPairsPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dd13 pair stage is not an equi-join:\n$p")
  }

  test("sim10: assignment and means are hash aggregates — no window " +
    "anywhere in a k-means step") {
    val p = plan("sim10_kmeans_step")
    assert(!p.contains("windowspecdefinition"),
      s"sim10 fell back to a window:\n$p")
    assert("HashAggregate\\(keys=\\[cell#\\d+L?, dim#\\d+".r
      .findFirstIn(p).isDefined,
      s"sim10 member means are not a (cell, dim) hash aggregate:\n$p")
  }

  test("txt21: the frequency head is a map-side partial top-k, never " +
    "a vocabulary-wide sort") {
    val p = plan("txt21_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"txt21 head is not TakeOrderedAndProject:\n$p")
  }

  test("q39: double decorrelation stays equi-join + broadcast — no " +
    "nested loop") {
    val p = plan("q39_excess_share")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q39 decorrelation fell back to a nested loop:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"q39 expected broadcast part-filter and semi-join:\n$p")
  }

  test("ob21: both regression levels are windowless hash aggregates") {
    val p = plan("ob21_price_impact")
    assert(!p.contains("windowspecdefinition"),
      s"ob21 uses a window where aggregates suffice:\n$p")
  }

  test("ob20: TWAP lead is bucketed, never whole-ticker") {
    val p = plan("ob20_twap")
    assert("lead\\(ts_ms#\\d+L?, -?1, null\\) windowspecdefinition\\(ticker#\\d+, day#\\d+, bucket#".r
      .findFirstIn(p).isDefined,
      s"ob20 lead is not bucketed:\n$p")
  }

  test("q47: both direction scans share ONE exchange + sort — the " +
    "forward and backward IGNORE NULLS frames must not re-shuffle") {
    val p = plan("q47_interpolate")
    // one user_id hash exchange for the windows (+ the final rangepartition
    // for orderBy); a second hashpartitioning(user_id) means the reversed
    // frame re-exchanged
    val userHash = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userHash <= 1, s"q47 re-shuffles between window passes:\n$p")
  }

  test("q46: the profile melt is a narrow Generate; the mode side joins " +
    "back broadcast") {
    val p = plan("q46_profile")
    assert(p.contains("Generate explode"), s"q46 melt is not an explode:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q46 mode join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ob23: the spread aggregate rides the as-of core — no extra " +
    "whole-ticker window beyond the bucketed scan") {
    val p = plan("ob23_eff_spread")
    // every windowspecdefinition must carry the bucket key; a bare
    // (ticker) partition would be the whole-ticker sort the core avoids
    val bare = "windowspecdefinition\\(ticker#\\d+, (?!bucket)[a-z_]+#".r
      .findAllIn(p).size
    assert(bare == 0, s"ob23 windows a whole ticker:\n$p")
  }

  test("q48/q50: profiling stats attach by broadcast — the fact scan " +
    "is never the build side") {
    Seq("q48_mad_outliers", "q50_histogram").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q stat attach is not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q shuffles a join that should broadcast:\n$p")
    }
  }

  test("q51: NOT IN compiles to the NULL-AWARE anti join, NOT EXISTS " +
    "to the plain one — two operators, not one rewritten into the other") {
    val p = plan("q51_notin_null")
    // BroadcastHashJoin's trailing boolean is isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"q51 NOT IN lost its null-aware anti join:\n$p")
    assert(p.contains("LeftAnti, BuildRight, false"),
      s"q51 NOT EXISTS became null-aware:\n$p")
  }

  test("op03: the status filter is a PARTITION filter resolved against " +
    "directory names — not a data filter over every file") {
    val p = plan("op03_partition_pruned")
    assert("PartitionFilters: \\[[^\\]]*o_orderstatus".r.findFirstIn(p).isDefined,
      s"op03 status filter did not reach PartitionFilters:\n$p")
  }

  test("op06: the fact scan carries a RUNTIME pruning subquery — " +
    "dynamicpruningexpression in PartitionFilters, not a literal") {
    val p = plan("op06_dpp_join")
    assert(p.toLowerCase.contains("dynamicpruningexpression"),
      s"op06's dim filter did not become a dynamic partition pruning " +
        s"subquery on the fact scan:\n$p")
  }

  test("op07: the bucketed fact-fact join exchanges NOTHING — the " +
    "write-time shuffle is the only shuffle") {
    val df = SparkEntry.queries("op07_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the aggregate may exchange on its own key; the JOIN must not
    val joinSection = p.split("SortMergeJoin|ShuffledHashJoin").last
    assert(p.contains("Join"), s"op07 lost its join:\n$p")
    assert(!joinSection.contains("Exchange"),
      s"op07's bucketed join still shuffles:\n$p")
  }

  test("op08: AQE coalesces the misconfigured 512-partition shuffle " +
    "down to data-sized reads at runtime") {
    val df = SparkEntry.queries("op08_aqe_coalesce")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"op08's oversized shuffle was not runtime-coalesced:\n$p")
  }

  test("q53: the array-HOF profile is map-only — no explode, no join, " +
    "no shuffle before the output sort") {
    val p = plan("q53_array_hof")
    assert(!p.contains("Generate"), s"q53 exploded the array:\n$p")
    assert(!p.contains("Join"), s"q53 joined:\n$p")
    // the only exchange is the final orderBy's range partitioning
    val nonSort = "Exchange (?!rangepartitioning)".r.findAllIn(p).size
    assert(nonSort == 0, s"q53 shuffles beyond the output sort:\n$p")
  }

  test("q54: matrix-square and out-degree attach stay on the tiny " +
    "|types|^2 matrix — no fact-scale join, no cartesian") {
    val p = plan("q54_markov_chain")
    assert(!p.contains("CartesianProduct"), s"q54 cartesian:\n$p")
    // the out-degree attach must be broadcast; the edge extraction is
    // the only stage allowed to shuffle event-scale rows
    assert(p.contains("BroadcastHashJoin"),
      s"q54 out-degree attach is not broadcast:\n$p")
  }

  test("op04: the optimizer injects a bloom runtime filter — the probe " +
    "scan is pruned by might_contain BEFORE the join shuffle") {
    val p = plan("op04_runtime_filter")
    assert(p.contains("might_contain"),
      s"op04 lost its injected bloom probe:\n$p")
    assert(p.contains("bloom_filter_agg"),
      s"op04 lost its bloom creation subquery:\n$p")
    // the frozen plan must be the non-broadcastable regime the filter
    // exists for (AQE may still upgrade at runtime from actual stats)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"op04 planned a broadcast join — the demo regime is gone:\n$p")
  }

  test("ob25: the Roll estimator's lags stay bucketed — every window " +
    "partitions by (ticker, day, bucket), never whole-ticker") {
    val p = plan("ob25_roll_spread")
    // every lag in the move-pair core must carry the bucket key; a
    // windowspec on (ticker, day) alone (prefix carries excepted — those
    // run over per-bucket SUMMARIES, not events) would be the
    // event-scale whole-day sort the bucketing exists to avoid
    assert("lag\\([^)]*\\) windowspecdefinition\\(ticker#\\d+, day#\\d+, bucket#".r
      .findFirstIn(p).isDefined,
      s"ob25 lost its bucketed lag:\n$p")
  }

  test("ob27: variance-ratio windows partition by (ticker, day) over " +
    "MINUTE summaries — the event-sized stage is only the first agg") {
    val p = plan("ob27_variance_ratio")
    // lags run over minute/m5 rows (bounded 1440/day): ordered by the
    // minute keys, never by event_id
    assert(!p.toLowerCase.contains("event_id asc"),
      s"ob27 sorts events instead of minute summaries:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"ob27 lost its minute/m5 aggregate levels:\n$p")
  }

  test("ob26: the 5-min candle merges 1-min partials — exactly two " +
    "aggregate levels, ONE scan of the events parquet") {
    val p = plan("ob26_candle_resample")
    // one events scan: the rollup must derive from the 1m partials,
    // never re-read raw for the coarser grain
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"ob26 expected 1 events scan, got $scans:\n$p")
    assert(!p.contains("Window"), s"ob26 grew a window:\n$p")
  }

  test("sim16: probes broadcast, threshold fuses map-side — no window, " +
    "no ranking aggregate, no cartesian fallback on the corpus side") {
    val p = plan("sim16_range_search")
    assert(!p.contains("CartesianProduct"),
      s"sim16 fell back to a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"sim16 probes should attach via broadcast (!= join ⇒ BNLJ):\n$p")
    assert(!p.contains("Window") && !p.contains("graft_topk"),
      s"sim16 must not rank — radius search is a filter:\n$p")
    // the filter must sit under the output sort, not after a shuffle of
    // the full scored set: only exchanges allowed are broadcast + the
    // final rangepartitioning sort
    assert(!p.contains("SortMergeJoin"), s"sim16 shuffled the corpus:\n$p")
  }

  test("txt27: the trained merge table enters as a LITERAL; the " +
    "corpus-side fertility fold is one map stage into the lang agg") {
    val p = plan("txt27_token_fertility")
    // r18: the merge table is a driver-trained artifact (txt46's
    // loop), so the ENTIRE plan is scan → project(fold) → two-phase
    // lang aggregate → presentation sort. No join of ANY kind, no
    // window, no explode, no in-plan top-k — strictly tighter than
    // the pre-r18 broadcast-join shape this test used to allow.
    assert(!p.contains("Join"), s"txt27 joined something (the merge " +
      s"table should be a literal):\n$p")
    assert(!p.contains("Window"), s"txt27 ranked through a window:\n$p")
    assert(!p.contains("Generate"),
      s"txt27 exploded tokens instead of folding in-row:\n$p")
    // one data scan (documents), one hash-partition exchange for the
    // lang agg, one range partition for the presentation sort
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"txt27 scanned more than the documents table:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
      "Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"txt27 shuffled beyond agg + presentation sort:\n$p")
  }

  test("q56: the rank<=k filter pushes a WindowGroupLimit below the " +
    "shuffle — each map partition keeps only its local top-k") {
    val p = plan("q56_top_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"q56 lost the window-group-limit pushdown:\n$p")
    // partial (pre-shuffle) + final: two occurrences
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"q56 group limit is not applied map-side:\n$p")
  }

  test("op05: AQE splits the hot lang partition at runtime — the final " +
    "adaptive plan carries skew=true, and the join never broadcasts") {
    val df = SparkEntry.queries("op05_aqe_skew_join")(spark, sf)
    df.collect() // skew handling is a runtime stage re-optimization
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"op05's skewed partition was not split:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"op05 broadcast the dim — the skew regime is gone:\n$p")
  }

  test("ingest normalize path is shuffle-free (narrow ops only)") {
    val parsed = orderbook.Normalize.parseSnapshotEntries(
      orderbook.Fixtures.snapshotEntries(spark))
    val p = orderbook.Normalize.explodeSnapshots(parsed)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"ingest path shuffles:\n$p")
  }

  test("whole-stage codegen covers the hot paths") {
    // AQE prints codegen spans only once stages are final — run first
    Seq("txt01_token_stats", "ob02_delta_flatten").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // materialize THIS QueryExecution's adaptive stages
      val p = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Op" in the compact plan string
      assert(p.contains("*(1)"), s"$q not codegen'd:\n$p")
    }
  }

  test("q58: the spine grid joins the hourly aggregate by broadcast — " +
    "the only fact-scale stage is the hash aggregate") {
    val p = plan("q58_date_spine")
    assert(!p.contains("SortMergeJoin"),
      s"q58 grid join shuffled instead of broadcasting:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q58 has a real cartesian (the spine x types cross must be " +
        s"broadcast-nested-loop over dimension-sized sides):\n$p")
  }

  test("q59: the string/regex profile is map-only into one hash " +
    "aggregate — no join, no generate") {
    val p = plan("q59_string_funcs")
    assert(!p.contains("Join"), s"q59 joined:\n$p")
    assert(!p.contains("Generate"), s"q59 exploded:\n$p")
  }

  test("q60: the map-HOF pipeline never joins — maps build, filter, " +
    "and explode back inside the doc-keyed aggregates") {
    val p = plan("q60_map_hof")
    assert(!p.contains("Join"), s"q60 joined:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q60 lost the collect_list map build:\n$p")
  }

  test("txt28: bigram extraction is a codegen'd projection — no " +
    "positional self-join, no per-doc window sort") {
    val p = plan("txt28_bigram_nll")
    assert(!p.contains("Window"), s"txt28 used a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"txt28 cartesian:\n$p")
  }

  test("sim17: both triplet sides rank through the bounded-heap " +
    "aggregate — no per-anchor ranking window") {
    val p = plan("sim17_hard_negatives")
    assert(!"windowspecdefinition\\(query_id#\\d+L?".r
      .findFirstIn(p).isDefined,
      s"sim17 ranks through a per-anchor window:\n$p")
    assert("ObjectHashAggregate.*partial_graft_topk".r
      .findFirstIn(p).isDefined,
      s"sim17 lost the map-side partial top-k:\n$p")
  }

  test("op09: the shared daily aggregate shuffles ONCE — the self-join's " +
    "second consumer reads a reused exchange/stage") {
    val df = SparkEntry.queries("op09_exchange_reuse")(spark, sf)
    df.collect() // materialize so AQE finalizes stage reuse
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"op09 shuffled the daily aggregate twice:\n$p")
  }

  test("q63: distinct counting goes through OR-merged bitmaps — no " +
    "per-(group, user) distinct expansion") {
    val p = plan("q63_bitmap_distinct")
    assert(p.contains("bitmap_construct_agg"),
      s"q63 lost the bitmap aggregate:\n$p")
    assert(!p.toLowerCase.contains("expand"),
      s"q63 fell back to a distinct Expand:\n$p")
  }

  test("q66: the SHUFFLE_HASH hint is honored — hash join, no sort, " +
    "no broadcast") {
    val p = plan("q66_hint_join")
    assert(p.contains("ShuffledHashJoin"),
      s"q66 hint not honored:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q66 planned a different join strategy:\n$p")
  }

  test("mm08: chunk rows come from the custom graft_cdc_chunks " +
    "generator — a Generate node, no interpreted lambda pipeline") {
    val p = plan("mm08_chunk_savings")
    assert(p.contains("Generate graft_cdc_chunks"),
      s"mm08 lost the generator:\n$p")
  }

  test("op10: both CollectMetrics probes ride the plan; nothing else " +
    "is added around the filter") {
    val p = plan("op10_observed_filter")
    assert("CollectMetrics".r.findAllIn(p).size == 2,
      s"op10 expected exactly 2 observe probes:\n$p")
  }

  test("ob35: classification rides the NATIVE as-of; the tick base is " +
    "a ticker-keyed window; no cartesian anywhere") {
    val p = plan("ob35_lee_ready")
    assert(p.contains("AsOfJoin"), s"ob35 lost the native as-of:\n$p")
    assert(p.contains("hashpartitioning(ticker"),
      s"ob35 tick window not ticker-keyed:\n$p")
    assert(!p.contains("CartesianProduct"), s"ob35 has a cartesian:\n$p")
  }

  test("ob34: the composite-key as-of clusters and sorts BOTH key " +
    "columns on both sides") {
    val p = plan("ob34_asof_composite")
    assert(p.contains("AsOfJoin"), s"ob34 lost the native as-of:\n$p")
    // EnsureRequirements must hash-cluster on (ticker, side) — a
    // single-column exchange would co-locate only one key and the
    // merge would see interleaved groups
    assert("hashpartitioning\\(ticker#\\d+, side#\\d+".r
      .findFirstIn(p).isDefined,
      s"ob34 left not clustered on BOTH keys:\n$p")
    assert("hashpartitioning\\(q_ticker#\\d+, q_side#\\d+".r
      .findFirstIn(p).isDefined,
      s"ob34 right not clustered on BOTH keys:\n$p")
  }

  test("op11: sorted-bucket SMJ runs with ZERO Exchange and ZERO Sort " +
    "below the join — both write-time costs amortized") {
    val df = operators.Bucketed.sortedBucketJoin(spark, sf)
    df.collect() // materialize through AQE so the final plan is real
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"op11 did not plan an SMJ:\n$p")
    // everything BELOW the join line: scans only — no Exchange (op07's
    // property) and no Sort (the sorted-scan property this entry adds)
    val below = p.split("SortMergeJoin").last
    assert(!below.contains("Exchange"),
      s"op11 join still shuffles below the SMJ:\n$p")
    assert(!below.contains("Sort"),
      s"op11 join still sorts below the SMJ:\n$p")
  }

  test("sim22: graph walk is equi-joins over the edge list + a " +
    "bounded-heap rerank — no cartesian, no ranking window") {
    val p = plan("sim22_graph_ann")
    assert(!p.contains("CartesianProduct"), s"sim22 has a cartesian:\n$p")
    // the edge build must come from the cell equi-join (sim08's
    // blocked shape), never an all-pairs fallback
    assert(p.contains("hashpartitioning(cell") ||
      "HashJoin \\[cell".r.findFirstIn(p).isDefined ||
      p.contains("SortMergeJoin [cell"),
      s"sim22 edges not cell-blocked:\n$p")
    assert("ObjectHashAggregate.*functions=\\[graft_topk\\(".r
      .findFirstIn(p).isDefined,
      s"sim22 rerank has no bounded-heap aggregate:\n$p")
    assert(!"windowspecdefinition\\(query_id#\\d+L?".r
      .findFirstIn(p).isDefined,
      s"sim22 ranks through a per-query window:\n$p")
  }

  test("sim24/sim25: iterative loops read their checkpointed seams — " +
    "no parquet rescans inside the iteration DAG, no cartesians, and " +
    "the pagerank top-k is TakeOrderedAndProject") {
    // sim24 checkpoints the per-iteration assignment, sim25 the edge
    // list + vertex set: the FINAL plan must consume only those
    // in-memory seams. A 'Scan parquet' here means an iteration
    // re-derives the corpus — ~2x the work per extra scan at 100 TB.
    val p24 = plan("sim24_kmeans_lloyd")
    assert(!p24.contains("Scan parquet"),
      s"sim24 rescans the corpus inside the loop:\n$p24")
    assert(!p24.contains("CartesianProduct"), p24)
    val p25 = plan("sim25_pagerank")
    assert(!p25.contains("Scan parquet"),
      s"sim25 rescans the corpus inside the loop:\n$p25")
    assert(!p25.contains("CartesianProduct"), p25)
    // final top-20 is orderBy+limit fused, not a global sort
    assert(p25.contains("TakeOrderedAndProject"),
      s"sim25 top-k is not TakeOrderedAndProject:\n$p25")
  }

  test("op12: the sample is a broadcast-rate narrow filter — the " +
    "corpus side never shuffles and the scan is column-pruned") {
    val df = SparkEntry.queries("op12_stratified_sample")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"rates not broadcast back:\n$p")
    // only the |langs|-row rate aggregate may exchange (plus the
    // presentation sort's range exchange above the join); the
    // documents side below the join must be scan → filter → project
    val below = p.split("BroadcastHashJoin").last
    assert(!below.split("BroadcastExchange").head.contains("Exchange"),
      s"corpus side of the sample shuffles:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"sample scan reads more than (doc_id, lang):\n$p")
  }

  test("op14: priority top-k is TakeOrderedAndProject (per-partition " +
    "heaps) — no global sort, no corpus shuffle") {
    val p = plan("op14_priority_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"op14 top-(k+1) is not a partial top-k:\n$p")
    // the corpus never exchanges: the only allowed moves are the k+1-row
    // TakeOrdered gather and the broadcast of the 1-row tau aggregate
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"op14 shuffles the corpus:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"op14 scan reads more than (doc_id, n_chars):\n$p")
  }

  test("q69: the diff is ONE digest-narrow full-outer join on the key " +
    "— no cartesian, both sides map-side digested") {
    val df = SparkEntry.queries("q69_snapshot_diff")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), s"q69 lost the full-outer diff:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q69 fell back to a cartesian:\n$p")
    // exactly ONE nested-loop site is allowed: the 1-row broadcast
    // scalar that attaches the data-derived insert offset (max(key)+1,
    // the round-14 advice fix) — the DIFF itself must stay a hash join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"q69 grew a non-scalar nested loop:\n$p")
    // orders is read with exactly the 3 columns the digest needs
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
      s"q69 scan is not pruned to the diffed columns:\n$p")
  }

  test("q70: the skyline is the sort-based reduction — one brand " +
    "exchange reused by level-agg and window, survivors broadcast " +
    "back, never a pairwise self-join") {
    val p = plan("q70_skyline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q70 fell back to the quadratic formulation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q70 survivors not broadcast back:\n$p")
    assert(p.contains("Window"), s"q70 lost the window pass:\n$p")
    // two hash exchanges only: the level side's repartition(brand)
    // (reused by the (brand,price) aggregate AND the brand window —
    // subset partitioning satisfies both), and the audit aggregate
    // above the join, which carries only skyline survivors. The probe
    // side below the join must stream straight off the scan.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 2,
      s"q70 expected 2 hash exchanges (levels + survivor audit), got $hashEx:\n$p")
    val probeSide = p.split("BroadcastHashJoin").last
      .split("BroadcastExchange").head
    assert(!probeSide.contains("Exchange"),
      s"q70 probe side shuffles before the broadcast join:\n$p")
  }

  test("q73: the funnel is three chained windows over ONE user " +
    "exchange — no self-joins, no per-step fact rescans") {
    val df = SparkEntry.queries("q73_funnel")(spark, sf)
    df.collect()
    // AQE prints Final AND Initial plan sections — pin the final only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"q73 funnel steps joined:\n$p")
    assert("Window".r.findAllIn(p).size >= 3,
      s"q73 lost a funnel-step window:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"q73 rescans the fact table:\n$p")
    // user exchange + the 1-row rollup exchange, nothing else
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 1, s"q73 expected one user hash exchange, got $ex:\n$p")
  }

  test("q74: cohort retention is one fact scan + one event-sized " +
    "exchange; cohort size comes from the triangle itself, no join") {
    val df = SparkEntry.queries("q74_cohort_retention")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"q74 joined a size table back:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"q74 rescans the fact table (the first-draft trap):\n$p")
    assert("Window".r.findAllIn(p).size >= 2,
      s"q74 lost the cohort/size windows:\n$p")
  }

  test("q75: both bitemporal knowledge cuts fold into ONE user-keyed " +
    "aggregate over ONE scan — no windows, no joins, no second cut pass") {
    val df = SparkEntry.queries("q75_bitemporal")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"q75 joined the knowledge cuts:\n$p")
    assert(!p.contains("Window"), s"q75 ranks through a window:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"q75 rescans the ledger for the second cut:\n$p")
  }

  test("sim27: cascade ranks with partial top-k heaps, never a ranking " +
    "window; the shortlist rejoins by broadcast") {
    val p = plan("sim27_matryoshka_recall")
    assert(p.contains("ObjectHashAggregate"),
      s"sim27 lost the graft_topk partial heaps:\n$p")
    assert(!p.contains("Window"),
      s"sim27 ranks through a window (one task per query at scale):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"sim27 shortlist rejoin is not broadcast:\n$p")
  }

  test("sim28: fusion joins two k-row rank lists — the fused stage " +
    "never touches corpus-sized data and ranks without a window") {
    val p = plan("sim28_rrf_fusion")
    assert(p.contains("FullOuter"), s"sim28 lost the rank-list fusion:\n$p")
    assert(!p.contains("Window"),
      s"sim28 ranks through a window:\n$p")
  }

  test("txt43/txt44: lexical ranking is bounded-heap (no window) and " +
    "the scoring join is a broadcast candidate filter") {
    for (q <- Seq("txt43_bm25", "txt44_query_likelihood")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the graft_topk partial heaps:\n$p")
      assert(!p.contains("Window"),
        s"$q ranks through a window (one task per query at scale):\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q scoring join is not a broadcast candidate filter:\n$p")
    }
  }

  test("txt36: pair stats run over the vocab, not the corpus — corpus " +
    "stage is one hash-agg off a text-only pruned scan; top-20 is a " +
    "partial-heap TakeOrdered") {
    val p = plan("txt36_bpe_merge_stats")
    assert(p.contains("TakeOrderedAndProject"),
      s"txt36 top-20 is a global sort:\n$p")
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"txt36 scan reads more than text:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 2,
      s"txt36 expected 2 exchanges (vocab agg + pair agg), got $hashEx:\n$p")
  }

  /** The new-selection plans, pinned AFTER execution (AQE finalizes the
    * executed plan only then; checkpointed artifacts truncate lineage,
    * so the scan counts below assert the per-branch rescans are GONE,
    * not just moved). */
  private def executed(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }
  private def scans(p: String): Int =
    p.linesIterator.count(_.contains("Scan parquet"))

  test("txt39: score pass reuses the checkpointed bucket model — " +
    "broadcast attach, bounded-heap selection, no per-branch rescans") {
    val p = executed("txt39_dsir_select")
    assert(scans(p) <= 2, s"txt39 rescans the corpus per branch:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"txt39 selection is a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"txt39 bucket model not broadcast:\n$p")
  }

  test("op17: skyline never goes pairwise — two corpus passes, no " +
    "nested-loop/cartesian, frontier attach is an equi-join") {
    val p = executed("op17_skyline_select")
    assert(scans(p) <= 2, s"op17 rescans the corpus per branch:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"op17 fell back to an all-pairs join:\n$p")
  }

  test("txt41: the MW loop runs entirely off the two checkpointed " +
    "artifacts — the final plan touches no parquet at all") {
    val p = executed("txt41_doremi_mw")
    assert(scans(p) === 0,
      s"txt41 MW loop rescans the corpus:\n$p")
  }
}
