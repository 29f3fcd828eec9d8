package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-computed oracles for the native Catalyst expressions. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()
  private val P = 1000000007L

  private def one[T](sql: String): T = {
    spark.sql(s"SELECT $sql AS v").head.getAs[T]("v")
  }

  test("polyhash: rolling 31-base over codepoints") {
    assert(one[Long]("graft_polyhash('abc')") ===
      ((97L * 31 + 98) * 31 + 99) % P)
    assert(one[Long]("graft_polyhash('')") === 0L)
  }

  test("polyhash is injective on 3-char grams (no modular wrap)") {
    // max BMP codepoint through the polynomial stays far below the prime
    assert(one[Long]("graft_polyhash('￿￿￿')") ===
      (65535L * 31 * 31 + 65535L * 31 + 65535L))
  }

  test("simhash: single token collapses to its masked polyhash") {
    // with one token, bit b of sig = bit b of hash (2·1 ≥ 1)
    assert(one[Long]("graft_simhash(array('a'))") === 97L)
    // identical multisets → identical signatures
    assert(one[Long]("graft_simhash(array('the','cat'))") ===
      one[Long]("graft_simhash(array('the','cat'))"))
  }

  test("sorted_intersect_count: merge semantics on sorted distinct arrays") {
    assert(one[Long](
      "graft_sorted_intersect_count(array(1L,3L,5L), array(3L,5L,7L))") === 2L)
    assert(one[Long](
      "graft_sorted_intersect_count(array(1L), array(2L))") === 0L)
    assert(one[Long](
      "graft_sorted_intersect_count(array(), array(1L))") === 0L)
  }

  test("minhash32: 32 affine-map minima with mixing multipliers") {
    val sig = one[scala.collection.Seq[Long]]("graft_minhash32(array(42L))")
    assert(sig.length === 32)
    (0 until 32).foreach { j =>
      val a = (2654435761L * (j + 1)) % P
      assert(sig(j) === (a * 42 + j * 12345L + 678) % P)
    }
  }

  test("positional_eq_count counts agreeing positions") {
    assert(one[Long](
      "graft_positional_eq_count(array(1L,2L,3L), array(1L,9L,3L))") === 2L)
  }

  test("int_dot: exact long-accumulated integer dot") {
    assert(one[Long]("graft_int_dot(array(1, -2, 3), array(4, 5, 6))") ===
      (4L - 10L + 18L))
    // int32 extremes can't overflow the long accumulator per element
    assert(one[Long](
      "graft_int_dot(array(2147483647, 2147483647), array(2147483647, 1))") ===
      2147483647L * 2147483647L + 2147483647L)
    assert(one[Long]("graft_int_dot(array(), array())") === 0L)
    // length mismatch and null elements poison to null, like graft_vec_dot
    assert(one[Any]("graft_int_dot(array(1), array(1, 2))") === null)
    assert(one[Any](
      "graft_int_dot(array(1, cast(null as int)), array(1, 2))") === null)
  }

  test("int_l2sq: exact squared L2 distance") {
    assert(one[Long]("graft_int_l2sq(array(1, 2, 3), array(4, 0, 3))") ===
      (9L + 4L + 0L))
    // opposite-sign extremes: per-element diff exceeds int range but is
    // computed in long, so no wraparound
    assert(one[Long](
      "graft_int_l2sq(array(2147483647), array(-2147483648))") === {
      val d = 2147483647L - -2147483648L; d * d
    })
    assert(one[Any]("graft_int_l2sq(array(1), array(1, 2))") === null)
  }
}
