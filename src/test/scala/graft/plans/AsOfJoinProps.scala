package graft.plans

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.TestSpark

/** Property check for the native as-of operator: over arbitrary small
  * key/ts distributions (hot keys, ties between left rows, keys with
  * no right rows, right keys with no left rows) the partitioned merge
  * must equal the obvious in-memory reference — latest right row with
  * the same key and ts ≤ (or < in strict mode) the left ts. Right
  * (key, ts) pairs are deduplicated by the generator because the
  * reference's tie order among equal right rows is unspecified, same
  * as DuckDB ASOF. Each case runs a REAL Spark job through the
  * exchanges/sorts EnsureRequirements inserts, so partition-boundary
  * handling is exercised, not simulated. */
object AsOfJoinProps extends Properties("asofjoin") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.init()

  private val keys = Vector("a", "b", "c")

  private val caseGen: Gen[(List[(String, Long, Int)],
      List[(String, Long, Int)], Boolean)] = for {
    nl <- Gen.chooseNum(0, 25)
    nr <- Gen.chooseNum(0, 25)
    l <- Gen.listOfN(nl, for {
      k <- Gen.oneOf(keys)
      t <- Gen.chooseNum(0L, 12L)
    } yield (k, t))
    r <- Gen.listOfN(nr, for {
      k <- Gen.oneOf(keys)
      t <- Gen.chooseNum(0L, 12L)
    } yield (k, t))
    strict <- Gen.oneOf(true, false)
  } yield (
    l.zipWithIndex.map { case ((k, t), i) => (k, t, i) },
    // unique (key, ts) on the right: equal-right-row tie order is
    // unspecified in any as-of definition
    r.distinct.zipWithIndex.map { case ((k, t), i) => (k, t, (i + 1) * 100) },
    strict)

  property("matches the in-memory latest-at-or-before reference") =
    Prop.forAll(caseGen) { case (lrows, rrows, strict) =>
      import spark.implicits._
      val l = lrows.toDF("k", "ts", "id")
      val r = rrows.toDF("qk", "qts", "px")
      val got =
        if (lrows.isEmpty) Map.empty[Int, Int]
        else AsOf.join(l, r, "k", "qk", "ts", "qts", strict = strict)
          .select($"id", $"px").collect()
          .map(x => x.getInt(0) ->
            (if (x.isNullAt(1)) -1 else x.getInt(1))).toMap
      val want = lrows.map { case (k, t, id) =>
        val cands = rrows.filter(q =>
          q._1 == k && (if (strict) q._2 < t else q._2 <= t))
        id -> (if (cands.isEmpty) -1 else cands.maxBy(_._2)._3)
      }.toMap
      (got == want) :| s"strict=$strict got=$got want=$want"
    }

  private val sides = Vector("yes", "no")

  private val compositeGen: Gen[(List[(String, String, Long, Int)],
      List[(String, String, Long, Int)], Boolean)] = for {
    nl <- Gen.chooseNum(0, 25)
    nr <- Gen.chooseNum(0, 25)
    l <- Gen.listOfN(nl, for {
      k <- Gen.oneOf(keys); sd <- Gen.oneOf(sides)
      t <- Gen.chooseNum(0L, 12L)
    } yield (k, sd, t))
    r <- Gen.listOfN(nr, for {
      k <- Gen.oneOf(keys); sd <- Gen.oneOf(sides)
      t <- Gen.chooseNum(0L, 12L)
    } yield (k, sd, t))
    strict <- Gen.oneOf(true, false)
  } yield (
    l.zipWithIndex.map { case ((k, sd, t), i) => (k, sd, t, i) },
    r.distinct.zipWithIndex
      .map { case ((k, sd, t), i) => (k, sd, t, (i + 1) * 100) },
    strict)

  property("composite keys: equality on EVERY key pair, same reference") =
    Prop.forAll(compositeGen) { case (lrows, rrows, strict) =>
      import spark.implicits._
      val l = lrows.toDF("k", "side", "ts", "id")
      val r = rrows.toDF("qk", "qside", "qts", "px")
      val got =
        if (lrows.isEmpty) Map.empty[Int, Int]
        else AsOf.join(l, r, Seq("k", "side"), Seq("qk", "qside"),
            "ts", "qts", strict = strict)
          .select($"id", $"px").collect()
          .map(x => x.getInt(0) ->
            (if (x.isNullAt(1)) -1 else x.getInt(1))).toMap
      val want = lrows.map { case (k, sd, t, id) =>
        val cands = rrows.filter(q => q._1 == k && q._2 == sd &&
          (if (strict) q._3 < t else q._3 <= t))
        id -> (if (cands.isEmpty) -1 else cands.maxBy(_._3)._4)
      }.toMap
      (got == want) :| s"strict=$strict got=$got want=$want"
    }
}
