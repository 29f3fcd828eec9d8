package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contract tests for the native as-of operator (logical node +
  * strategy + partitioned merge exec). The oracle gate already pins
  * ob29 == DuckDB ASOF on the real corpus; these pin the operator's
  * physical shape and the edge semantics a healthy corpus never
  * exercises. */
class AsOfJoinExecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  import spark.implicits._

  private def trades = Seq(
    ("A", 10L, 1), ("A", 20L, 2), ("A", 30L, 3),
    ("B", 15L, 4), ("C", 5L, 5)
  ).toDF("k", "ts", "trade_id")

  private def quotes = Seq(
    ("A", 5L, 100), ("A", 20L, 200), ("A", 25L, 250),
    ("B", 99L, 900), ("D", 1L, 111)
  ).toDF("qk", "qts", "px")

  test("hand-computed as-of: latest at-or-before per key, left rows " +
    "without a match survive with nulls") {
    val out = AsOf.join(trades, quotes, "k", "qk", "ts", "qts")
      .select($"k", $"ts", $"trade_id", $"px")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    assert(out === Set(
      ("A", 10L, 100),   // quote@5 prevails
      ("A", 20L, 200),   // ties at-or-before: quote@20 counts
      ("A", 30L, 250),   // latest of 5/20/25
      ("B", 15L, -1),    // only future quote@99 -> null
      ("C", 5L, -1)))    // no quotes for C at all
  }

  test("physical plan: AsOfJoinExec with key exchanges and (key, ts) " +
    "sorts inserted by EnsureRequirements") {
    val p = AsOf.join(trades, quotes, "k", "qk", "ts", "qts")
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(p.contains("AsOfJoin"), s"native exec not planned:\n$p")
    assert(p.contains("Sort"), s"no (key, ts) sort inserted:\n$p")
    assert(p.contains("hashpartitioning(k#"), s"left not key-clustered:\n$p")
    assert(p.contains("hashpartitioning(qk#"), s"right not key-clustered:\n$p")
  }

  test("whole-stage codegen: the merge loop compiles (fallback " +
    "disabled) and the exec lands inside a codegen region") {
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = AsOf.join(trades, quotes, "k", "qk", "ts", "qts")
        .where($"px".isNotNull)
      // collect with fallback OFF: a janino compile error in the
      // generated merge loop propagates instead of silently reverting
      // to the interpreted doExecute
      // collect() (not count(), which clones a new execution) so THIS
      // queryExecution's adaptive plan finalizes before the pin
      assert(df.collect().length === 3)
      val p = df.queryExecution.executedPlan.toString
      assert(raw"\*\(\d+\) AsOfJoin".r.findFirstIn(p).isDefined,
        s"as-of not in a WholeStageCodegen region:\n$p")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("codegen and interpreted paths agree (wholeStage off => " +
    "doExecute merge)") {
    def run() = AsOf.join(trades, quotes, "k", "qk", "ts", "qts")
      .collect().map(_.toString).sorted.toSeq
    val withCg = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val df = AsOf.join(trades, quotes, "k", "qk", "ts", "qts")
      assert(!df.queryExecution.executedPlan.toString.contains("*("))
      assert(df.collect().map(_.toString).sorted.toSeq === withCg)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("null keys and null timestamps never match, on either side") {
    val l = Seq((Some("A"), Some(10L), 1), (None, Some(10L), 2),
      (Some("A"), None, 3)).toDF("k", "ts", "id")
    val r = Seq((Some("A"), Some(5L), 100), (None, Some(1L), 200),
      (Some("A"), None, 300)).toDF("qk", "qts", "px")
    val out = AsOf.join(l, r, "k", "qk", "ts", "qts")
      .select($"id", $"px").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1 else x.getInt(1)))
      .toSet
    // only the fully-keyed left row matches the fully-keyed quote
    assert(out === Set((1, 100), (2, -1), (3, -1)))
  }

  test("self-as-of over one shared scan: re-aliased right side keeps " +
    "attribute ids distinct") {
    val e = trades
    val out = AsOf.join(
        e, e.select($"k".as("qk"), $"ts".as("qts"), $"trade_id".as("pid")),
        "k", "qk", "ts", "qts")
      .select($"k", $"ts", $"pid").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // each row's latest at-or-before is itself
    assert(out === Set(("A", 10L, 1), ("A", 20L, 2), ("A", 30L, 3),
      ("B", 15L, 4), ("C", 5L, 5)))
  }

  test("SAME-NAME self-as-of: disambiguating aliases survive " +
    "RemoveRedundantAliases; right half carries real (not mirrored) values") {
    // strict mode makes the expectation discriminating: the right half
    // must be the PREVIOUS same-key row, so an id-collapse bug that
    // mirrors left values into the right half fails loudly (with <=
    // semantics the correct answer IS the left row and the bug hides)
    val out = AsOf.join(trades, trades, "k", "k", "ts", "ts", strict = true)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(5)) -1 else r.getInt(5))).toSet
    assert(out === Set(
      ("A", 10L, 1, -1),  // no strictly-earlier A row
      ("A", 20L, 2, 1),   // previous A row, NOT itself
      ("A", 30L, 3, 2),
      ("B", 15L, 4, -1),
      ("C", 5L, 5, -1)))
    // and the marker metadata must not leak into the result schema
    val schema = AsOf.join(trades, trades, "k", "k", "ts", "ts").schema
    assert(schema.fields.forall(
      !_.metadata.contains(AsOfJoinNode.RealiasMarker)),
      s"realias marker leaked into schema: $schema")
  }

  test("composite key: equality on every key pair, latest at-or-before " +
    "within the composite group") {
    val l = Seq(
      ("A", "yes", 20L, 1), ("A", "no", 20L, 2), ("B", "yes", 20L, 3)
    ).toDF("k", "side", "ts", "id")
    val r = Seq(
      ("A", "yes", 5L, 100), ("A", "yes", 15L, 150),
      ("A", "no", 10L, 200), ("B", "no", 1L, 300)
    ).toDF("qk", "qside", "qts", "px")
    val out = AsOf.join(l, r, Seq("k", "side"), Seq("qk", "qside"),
        "ts", "qts")
      .select($"id", $"px").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1 else x.getInt(1)))
      .toSet
    assert(out === Set(
      (1, 150),  // (A,yes): latest of 5/15
      (2, 200),  // (A,no)
      (3, -1)))  // (B,yes) has only a (B,no) quote -> null
  }

  test("composite key: a null in ANY key column never matches") {
    val l = Seq((Some("A"), Some("x"), 10L, 1), (Some("A"), None, 10L, 2))
      .toDF("k", "side", "ts", "id")
    val r = Seq((Some("A"), Some("x"), 5L, 100), (Some("A"), None, 5L, 200))
      .toDF("qk", "qside", "qts", "px")
    val out = AsOf.join(l, r, Seq("k", "side"), Seq("qk", "qside"),
        "ts", "qts")
      .select($"id", $"px").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) -1 else x.getInt(1)))
      .toSet
    assert(out === Set((1, 100), (2, -1)))
  }

  test("strict mode: an equal-ts right row is excluded; default mode " +
    "includes it") {
    val l = Seq(("A", 20L, 1)).toDF("k", "ts", "id")
    val r = Seq(("A", 10L, 100), ("A", 20L, 200)).toDF("qk", "qts", "px")
    def run(strict: Boolean) =
      AsOf.join(l, r, "k", "qk", "ts", "qts", strict = strict)
        .select($"px").collect().head.getInt(0)
    assert(run(strict = false) === 200) // at-or-before: the tie counts
    assert(run(strict = true) === 100)  // strictly-before only
  }

  test("SQL metrics: output and matched row counts surface on the exec") {
    val df = AsOf.join(trades, quotes, "k", "qk", "ts", "qts")
    df.collect()
    // AQE wraps finished subtrees in QueryStageExec LEAVES (Spark 4's
    // ResultQueryStage included) — a plain collect stops at the stage
    // boundary, so descend through them explicitly
    def findExec(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[AsOfJoinExec] = p match {
      case e: AsOfJoinExec => Some(e)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findExec(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findExec(q.plan)
      case other => other.children.iterator.flatMap(findExec).nextOption()
    }
    val exec = findExec(df.queryExecution.executedPlan)
      .getOrElse(fail("AsOfJoinExec not in executed plan"))
    assert(exec.metrics("numOutputRows").value === 5)
    assert(exec.metrics("numMatchedRows").value === 3) // A×3 matched
  }

  test("mismatched key/ts types fail at construction, not in a task") {
    val l = Seq(("A", 10L, 1)).toDF("k", "ts", "id")
    val r = Seq(("A", 5, 100)).toDF("qk", "qts", "px") // qts is INT
    val e = intercept[IllegalArgumentException] {
      AsOf.join(l, r, "k", "qk", "ts", "qts")
    }
    assert(e.getMessage.contains("ts types differ"))
  }

  test("an ambiguous input (duplicate column names) fails at " +
    "construction instead of binding an arbitrary column") {
    val dup = trades.select($"k", $"ts", $"trade_id", $"ts".as("k"))
    val e = intercept[IllegalArgumentException] {
      AsOf.join(dup, quotes, "k", "qk", "ts", "qts")
    }
    assert(e.getMessage.contains("disambiguate"))
  }

  test("randomized parity with the window-composed reference") {
    val rnd = new scala.util.Random(42)
    val keys = Array("k1", "k2", "k3", "k4")
    val ldata = (1 to 400).map(i =>
      (keys(rnd.nextInt(keys.length)), rnd.nextInt(1000).toLong, i))
    val rdata = (1 to 400).map(i =>
      (keys(rnd.nextInt(keys.length + 1) % keys.length),
        rnd.nextInt(1000).toLong, i * 10))
    val l = ldata.toDF("k", "ts", "id")
    val r = rdata.toDF("qk", "qts", "px")
    val native = AsOf.join(l, r, "k", "qk", "ts", "qts")
      .select($"id", $"px").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) Int.MinValue else x.getInt(1)))
      .toSet
    // reference: max-ts quote at-or-before, ties on qts broken by the
    // larger px (unique per row) to make the expectation deterministic;
    // the native side holds the LAST in (key, ts, arrival) order — so
    // restrict the generator: make (qk, qts) unique
    val dedup = rdata.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    val rD = dedup.toDF("qk", "qts", "px")
    val nativeD = AsOf.join(l, rD, "k", "qk", "ts", "qts")
      .select($"id", $"px").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) Int.MinValue else x.getInt(1)))
      .toSet
    val expected = ldata.map { case (k, ts, id) =>
      val cands = dedup.filter(q => q._1 == k && q._2 <= ts)
      val best = if (cands.isEmpty) Int.MinValue
        else cands.maxBy(_._2)._3
      (id, best)
    }.toSet
    assert(nativeD === expected)
    assert(native.map(_._1) === ldata.map(_._3).toSet) // left preserved
  }
}
