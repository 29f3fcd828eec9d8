package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** txt46's training loop against hand-computed BPE (Sennrich et al.):
  * the DuckDB gate proves Spark and a from-scratch SQL unroll pick the
  * same merges, but both could share a systematic misreading of the
  * algorithm — this pins the trajectory to values derived BY HAND,
  * including the two properties that distinguish real multi-round
  * training from txt36's round-0 ranking: pair counts RECOUNT over the
  * merged state, and later merges consume earlier merge OUTPUTS as
  * single symbols. */
class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.init()

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.toDF("text")
  }

  test("two hand-computed rounds: recount happens on the merged state") {
    // vocab: aaab ×2, ab ×1.
    // round 1 pairs: aa = 2 per 'aaab' ×2 = 4; ab = 1×2 + 1 = 3 → merge
    // (a,a) n=4, placeholder chr(128).
    // round 2 over segs {¢ab ×2, ab ×1}: ¢a = 2, ab = 3 → merge (a,b)
    // n=3 — note ab's count SURVIVED because the greedy leftmost 'aa'
    // rewrite in 'aaab' leaves '...ab' intact.
    val got = TextAnalysis.bpeTrainOn(docs("aaab aaab", "ab"), rounds = 2)
    assert(got === Seq(
      (1, "aa", "a", "a", 4L),
      (2, "ab", "a", "b", 3L)))
  }

  test("later rounds merge earlier OUTPUTS as single symbols") {
    // vocab: aaaa ×3. round 1: aa ×3 per token ×3 = 9 → merge (a,a).
    // Greedy leftmost rewrite: aaaa → ¢¢ (two non-overlapping 'aa').
    // round 2 pairs over ¢¢: one pair (¢,¢) ×3 → the merged pair's
    // SIDES expand to 'aa','aa' — a 4-char symbol no round-0 ranking
    // could emit.
    val ph = (128).toChar.toString
    val got = TextAnalysis.bpeTrainOn(docs("aaaa aaaa aaaa"), 2)
    assert(got === Seq(
      (1, "aa", "a", "a", 9L),
      (2, ph + ph, "aa", "aa", 3L)))
  }

  test("tie-break is (count DESC, pair ASC) and training stops when " +
      "pairs run dry") {
    // vocab: ba ×1, bc ×1 → pairs ba=1, bc=1 → tie → 'ba' wins (ASC).
    // After merging (b,a): segs {¢, bc}; round 2 merges (b,c); round 3
    // has no 2-symbol seg left → training returns 2 rows, not 3.
    val got = TextAnalysis.bpeTrainOn(docs("ba bc"), 3)
    assert(got.map(m => (m._1, m._3, m._4, m._5)) === Seq(
      (1, "b", "a", 1L), (2, "b", "c", 1L)))
  }
}
