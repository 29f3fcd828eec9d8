package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text/dedup operators Spark lacks.
  *
  * Both are portable-by-construction: the exact arithmetic is also
  * expressible in DuckDB SQL (list_reduce/list_transform), so the oracle
  * can hash-check them. Both codegen to a static call — no interpreted
  * UDF in the hot path, stays inside whole-stage codegen.
  */
object PolyHash {
  /** Large prime modulus; keeps the hash in 30 bits so SimHash bit math
    * and the DuckDB BIGINT mirror never overflow. */
  val Mod = 1000000007L

  /** h ← (h·31 + codepoint) mod p over the string's codepoints — the
    * classic polynomial rolling hash (document fingerprinting). */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** poly_hash(string) → long. DuckDB mirror:
  * list_reduce(list_transform(range(1, length(s)+1),
  *   i -> unicode(substr(s, CAST(i AS INT), 1))), (a,b) -> (a*31+b) % 1000000007) */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
  override def prettyName: String = "graft_polyhash"
}

object SimHash {
  /** 30 meaningful bits (PolyHash.Mod < 2^30). */
  val Bits = 30

  /** Charikar simhash over token poly-hashes: bit b of the signature is
    * set iff at least half the tokens have bit b set (ties → set, i.e.
    * 2·count ≥ n). Near-duplicate texts land at small Hamming distance. */
  def hash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](Bits)
    var i = 0
    while (i < n) {
      val h = PolyHash.hash(arr.getUTF8String(i))
      var b = 0
      while (b < Bits) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (2L * counts(b) >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** simhash(array<string>) → long. */
case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHash.hash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

object ShingleHashes {
  /** Sorted distinct rolling poly-hashes of every 3-codepoint window —
    * one native pass replacing the interpreted
    * transform(sequence…substring) → polyhash → array_distinct →
    * array_sort chain (higher-order functions don't codegen; this was
    * the dominant cost of the shingle-dedup operators). Stepwise
    * arithmetic matches PolyHash exactly: h = (h·31 + cp) mod p per
    * codepoint, windowed. */
  def hash(s: UTF8String): ArrayData = {
    val str = s.toString
    // codepoint array (ASCII fast path is the common case; surrogate
    // pairs handled the same way PolyHash.hash walks them)
    val cps = new Array[Int](str.length)
    var n = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    val m = n - 2
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var k = 0
    while (k < m) {
      var h = cps(k).toLong % PolyHash.Mod
      h = (h * 31 + cps(k + 1)) % PolyHash.Mod
      h = (h * 31 + cps(k + 2)) % PolyHash.Mod
      out(k) = h
      k += 1
    }
    java.util.Arrays.sort(out)
    // in-place distinct on the sorted run
    var w = 1
    k = 1
    while (k < m) {
      if (out(k) != out(w - 1)) { out(w) = out(k); w += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }
}

/** shingle_hashes(string) → sorted distinct array<long> of 3-gram
  * poly-hashes. Equals
  * array_sort(array_distinct(transform(3-gram shingles, polyhash))). */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleHashes.hash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_hashes"
}

object VecDot {
  /** Sequential left-fold dot product — the same evaluation order as
    * aggregate(zip_with(a, b, *), 0d, +), so results are bit-identical
    * to the higher-order-function spelling (and to the oracle), minus
    * the interpreted per-element lambda dispatch. Length mismatch →
    * null, exactly like the HOF spelling (zip_with pads with null and
    * null poisons the sum) — required for [[VecDotRewrite]] to be
    * semantics-preserving. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // null poisons the sum
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}

/** vec_dot(array<double>, array<double>) → double. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double ${ev.value}_r = graft.functions.VecDot.dot($a, $b);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      |""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_vec_dot"
}

object SignPack {
  /** Sign-bit packing — bit i set iff e[i] > 0, for up to 64 dims
    * (bit 63 wraps to the two's-complement sign, same as
    * shiftleft(1L, 63)). Exactly the evaluation the HOF spelling
    * `aggregate(sequence(0, size-1), 0L, ...)` performs, minus the
    * 64 interpreted lambda dispatches per row (measured 32.8 s → sub-
    * second for the 500k-vector SkewBench index build). Null element
    * → null, like the HOF (null poisons the fold). */
  def pack(a: ArrayData): java.lang.Long = {
    val n = a.numElements()
    val m = if (n > 64) 64 else n
    var acc = 0L
    var i = 0
    while (i < m) {
      if (a.isNullAt(i)) return null
      if (a.getDouble(i) > 0d) acc += (1L << i)
      i += 1
    }
    acc
  }
}

/** sign_pack(array<double>) → bigint (the 1-bit/dim binary sketch). */
case class SignPack(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    SignPack.pack(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      |java.lang.Long ${ev.value}_r = graft.functions.SignPack.pack($a);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.longValue(); }
      |""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)
  override def prettyName: String = "graft_sign_pack"
}

object MinHashSig {
  val Perms = 32
  /** Mixing multiplier base (Knuth's 2654435761); small multipliers
    * (2j+1…) preserve the ordering of small hash values — no modular
    * wraparound — so every "permutation" picks the same min-gram and
    * LSH banding collapses (measured: 11.3M candidate pairs at sf0.1
    * vs 1.5M with proper mixing). */
  val A = 2654435761L
  val Mod: Long = PolyHash.Mod

  /** 32 min-wise signatures: min over the doc's gram hashes of
    * ((A·(j+1) mod p)·h + j·12345+678) mod p. One tight loop instead of
    * 32 interpreted higher-order-function passes. */
  def hash(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](Perms)
    var j = 0
    while (j < Perms) {
      val a = (A * (j + 1)) % Mod
      val b = j * 12345L + 678L
      // sentinel = Mod, not Long.MaxValue: every permuted hash is < Mod,
      // so non-empty minima are unaffected, while an EMPTY shingle set
      // (sub-3-char doc) yields a bounded signature that the banding
      // fold can consume without ANSI long overflow
      var min = Mod
      var i = 0
      while (i < n) {
        val v = (a * arr.getLong(i) + b) % Mod
        if (v < min) min = v
        i += 1
      }
      out(j) = min
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** minhash32(array<long>) → array<long> of 32 signature values. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHashSig.hash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash32"
}

object PositionalEqCount {
  /** #positions where two equal-length long arrays agree — the minhash
    * similarity estimator (cheap prefilter before exact verification). */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

/** positional_eq_count(array<long>, array<long>) → long. */
case class PositionalEqCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    PositionalEqCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.PositionalEqCount.count($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionalEqCount =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_positional_eq_count"
}

object SortedIntersectCount {
  /** |A ∩ B| for two ascending-sorted distinct long arrays by linear
    * merge — no per-call hash set, no allocation (array_intersect costs
    * ~100μs/call on ~300-element arrays; this is ~1μs). The workhorse
    * of pairwise Jaccard verification over pre-sorted shingle hashes. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** sorted_intersect_count(array<long>, array<long>) → long.
  * Both inputs MUST be ascending-sorted and distinct (array_sort ∘
  * array_distinct); equals size(array_intersect(a, b)) there. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedIntersectCount.count($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_sorted_intersect_count"
}

object IntVecDot {
  /** Σ a(i)·b(i) over two int arrays, accumulated in Long — exact for
    * any realistic dim (|dot| ≤ dim·2^62/dim). The int8-quantized
    * scorer's hot loop: the `aggregate(zip_with(...))` lambda spelling
    * allocates a zipped struct array per pair and runs interpreted —
    * and when the score feeds `graft_topk`, project-collapse inlines
    * it into BOTH the score and payload arguments, evaluating it twice
    * per candidate inside the non-codegen aggregate. This is one
    * allocation-free pass. Null element poisons to null, like VecDot. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getInt(i).toLong * b.getInt(i)
      i += 1
    }
    acc
  }
}

/** int_dot(array<int>, array<int>) → bigint (exact integer dot). */
case class IntVecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    IntVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Long ${ev.value}_r = graft.functions.IntVecDot.dot($a, $b);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.longValue(); }
      |""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntVecDot =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_int_dot"
}

object IntVecL2Sq {
  /** Σ (a(i)−b(i))² in Long — exact squared L2 for int8-range arrays
    * (PQ encoding's nearest-codeword metric). Same null poisoning. */
  def l2sq(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getInt(i).toLong - b.getInt(i) // widen BEFORE subtracting: int diff wraps at extremes
      acc += d * d
      i += 1
    }
    acc
  }
}

/** int_l2sq(array<int>, array<int>) → bigint (exact squared distance). */
case class IntVecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    IntVecL2Sq.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Long ${ev.value}_r = graft.functions.IntVecL2Sq.l2sq($a, $b);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.longValue(); }
      |""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntVecL2Sq =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_int_l2sq"
}

object CdcCuts {
  /** Window/divisor of mm07's content-defined chunker; the DuckDB
    * oracle mirrors these literally (multimodal/Multimodal.scala). */
  val Window = 8
  val Divisor = 32
  val Mod = 1000000007L

  /** Content-defined cut positions over a byte payload: a cut after
    * byte i (1-based, i ∈ [Window, n-1]) wherever the polynomial hash
    * of the trailing Window bytes ≡ 0 (mod Divisor); the returned list
    * is bracketed by 0 and n so consecutive pairs are chunk bounds.
    * Semantically identical to the declarative HOF spelling (the
    * windowed hash recomputed per position) — this native twin exists
    * because Catalyst evaluates lambda HOFs interpreted, per element:
    * O(n·W) tight-loop work here is milliseconds, but ~40M interpreted
    * Expression evals at sf0.1 cost ~18 s/query. */
  def cuts(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](n / Divisor + 2)
    out += 0
    var i = Window
    while (i <= n - 1) {
      var h = 0L
      var j = i - Window
      while (j < i) { h = (h * 31 + (bytes(j) & 0xff)) % Mod; j += 1 }
      if (h % Divisor == 0) out += i
      i += 1
    }
    out += n
    new GenericArrayData(out.toArray)
  }
}

/** cdc_cuts(binary) → array<int> chunk cut positions (see [[CdcCuts]]). */
case class CdcCutsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcCuts.cuts(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcCuts.cuts($c)")
  override protected def withNewChildInternal(newChild: Expression): CdcCutsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_cdc_cuts"
}

/** graft_cdc_chunks(binary) — the engine's UDTF surface: a custom
  * Catalyst GENERATOR (table-valued function) emitting one row per
  * content-defined chunk of a byte payload, (dg STRING, blen INT) —
  * dg is md5 over the chunk's UPPERCASE-hex rendering, byte-for-byte
  * what the declarative `md5(substring(hex(payload), …))` spelling in
  * mm07/mm08's oracles produces, so swapping the generator in under an
  * unchanged oracle proves equivalence. Completes the custom-function
  * trio: scalar expressions (PolyHash…), aggregates (graft_topk), and
  * now a generator; usable from SQL via LATERAL VIEW / SELECT like
  * explode. Per-row work is the CdcCuts tight loop + one MD5 per
  * chunk — no interpreted lambda HOFs. */
case class CdcChunksGen(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"graft_cdc_chunks needs BINARY, got ${child.dataType.sql}")

  override def elementSchema: StructType = StructType(Seq(
    StructField("dg", StringType, nullable = false),
    StructField("blen", IntegerType, nullable = false)))

  private val HexDigits = "0123456789ABCDEF".toCharArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val bytes = v.asInstanceOf[Array[Byte]]
      val cuts = CdcCuts.cuts(bytes)
      val n = cuts.numElements()
      (0 until n - 1).iterator.map { k =>
        val a = cuts.getInt(k)
        val b = cuts.getInt(k + 1)
        val hexChars = new Array[Char]((b - a) * 2)
        var i = a
        while (i < b) {
          val x = bytes(i) & 0xff
          hexChars((i - a) * 2) = HexDigits(x >>> 4)
          hexChars((i - a) * 2 + 1) = HexDigits(x & 0xf)
          i += 1
        }
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(new String(hexChars)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val out = new java.lang.StringBuilder(32)
        md.foreach { byte =>
          out.append(Character.forDigit((byte >> 4) & 0xf, 16))
          out.append(Character.forDigit(byte & 0xf, 16))
        }
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(out.toString), b - a)
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : CdcChunksGen = copy(child = newChild)
  override def prettyName: String = "graft_cdc_chunks"
}
