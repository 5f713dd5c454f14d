package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{
  Expression, TernaryExpression}
import org.apache.spark.sql.types._

/** Codegen'd ternary expression: `hilbert3_long(a, b, c)` of three
  * 16-bit-normalized longs → the 48-bit Hilbert-3 index. Same
  * contract as `z_order3_long`; the clustering sort key of the
  * `hilbertOrder3` layout verb. */
case class Hilbert3Long(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, LongType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hilbert3_long needs (bigint, bigint, bigint), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert3_long"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Hilbert3.encode16(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.Hilbert3.encode16($a, $b, $c);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Hilbert3Long =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** 3-D Hilbert curve over 16-bit-per-dimension cell space — the
  * candidate THIRD-dimension twin of [[HilbertLong]], built for the
  * files-opened adjudication against `zOrder3`'s 48-bit Morton-3 key
  * (DEVNOTES round 16; shipped as a layout verb only if it wins).
  *
  * Encode/decode use Skilling's transposed-coordinate formulation
  * (J. Skilling, "Programming the Hilbert curve", AIP Conf. Proc.
  * 707, 2004 — the standard public-domain n-dimensional algorithm):
  * coordinates are Gray-coded and exchange/invert-corrected per bit
  * plane, then bit-interleaved MSB-first into the 48-bit index. Both
  * directions are short branch-light loops (~30 ns/cell), property
  * -pinned as mutual inverses with unit-Manhattan steps (the defining
  * Hilbert adjacency Morton lacks). */
object Hilbert3 {

  private final val Bits = 16

  /** (a, b, c) ∈ [0, 65536)³ → Hilbert index ∈ [0, 2^48). */
  def encode16(a: Long, b: Long, c: Long): Long = {
    var x0 = a & 0xffffL; var x1 = b & 0xffffL; var x2 = c & 0xffffL
    // inverse-undo pass, MSB plane downward
    var q = 1L << (Bits - 1)
    while (q > 1) {
      val p = q - 1
      // i = 0
      if ((x0 & q) != 0) x0 ^= p
      else { val t = (x0 ^ x0) & p; x0 ^= t; x0 ^= t }
      // i = 1
      if ((x1 & q) != 0) x0 ^= p
      else { val t = (x0 ^ x1) & p; x0 ^= t; x1 ^= t }
      // i = 2
      if ((x2 & q) != 0) x0 ^= p
      else { val t = (x0 ^ x2) & p; x0 ^= t; x2 ^= t }
      q >>= 1
    }
    // Gray encode
    x1 ^= x0; x2 ^= x1
    var t2 = 0L
    q = 1L << (Bits - 1)
    while (q > 1) { if ((x2 & q) != 0) t2 ^= q - 1; q >>= 1 }
    x0 ^= t2; x1 ^= t2; x2 ^= t2
    // transposed → index: interleave MSB-first, x0 highest
    ZOrderLong.interleave3(x0, x1, x2)
  }

  /** Hilbert index ∈ [0, 2^48) → (a, b, c) packed as three 16-bit
    * fields in one long (a << 32 | b << 16 | c). */
  def decode16(d: Long): Long = {
    // de-interleave into transposed form
    var x0 = 0L; var x1 = 0L; var x2 = 0L
    var i = Bits - 1
    while (i >= 0) {
      x0 |= ((d >> (3 * i + 2)) & 1L) << i
      x1 |= ((d >> (3 * i + 1)) & 1L) << i
      x2 |= ((d >> (3 * i)) & 1L) << i
      i -= 1
    }
    // Gray decode
    val t = x2 >> 1
    x2 ^= x1; x1 ^= x0; x0 ^= t
    // undo excess work, LSB plane upward
    var q = 2L
    while (q != (1L << Bits)) {
      val p = q - 1
      // i = 2 downto 0
      if ((x2 & q) != 0) x0 ^= p
      else { val w = (x0 ^ x2) & p; x0 ^= w; x2 ^= w }
      if ((x1 & q) != 0) x0 ^= p
      else { val w = (x0 ^ x1) & p; x0 ^= w; x1 ^= w }
      if ((x0 & q) != 0) x0 ^= p
      else { val w = (x0 ^ x0) & p; x0 ^= w; x0 ^= w }
      q <<= 1
    }
    (x0 << 32) | (x1 << 16) | x2
  }

  def decodeA(packed: Long): Long = (packed >> 32) & 0xffffL
  def decodeB(packed: Long): Long = (packed >> 16) & 0xffffL
  def decodeC(packed: Long): Long = packed & 0xffffL

  def hilbert3(a: Column, b: Column, c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(Hilbert3Long(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b),
      org.apache.spark.sql.graft.Bridge.expression(c)))

  /** EXACT interval-box intersection, decode-only (no orientation
    * walk): a contiguous Hilbert index interval decomposes into ≤
    * 2·7·16 maximal 8^m-ALIGNED blocks, and every aligned block of
    * the curve covers exactly ONE complete octant — a cube recovered
    * by decoding the block's first index and truncating the coords to
    * the block's level. The interval meets the box iff any block cube
    * does (three interval overlaps each). ~1-3 µs per test at
    * planning time — the h3 twin of `ZOrderLong.zBox3Intersects`,
    * exact by construction rather than budget-bounded. */
  def h3BoxIntersects(dlo: Long, dhi: Long, a0: Long, a1: Long,
      b0: Long, b1: Long, c0: Long, c1: Long): Boolean = {
    var cur = dlo
    while (cur <= dhi) {
      var m = 0
      while (m < 16 && (cur & ((1L << (3 * (m + 1))) - 1)) == 0 &&
          cur - 1 + (1L << (3 * (m + 1))) <= dhi) m += 1
      val p = decode16(cur)
      val side = 1L << m
      val mask = ~(side - 1)
      val ca = decodeA(p) & mask
      val cb = decodeB(p) & mask
      val cc = decodeC(p) & mask
      if (ca <= a1 && a0 <= ca + side - 1 &&
          cb <= b1 && b0 <= cb + side - 1 &&
          cc <= c1 && c0 <= cc + side - 1) return true
      cur += 1L << (3 * m)
      if (cur <= 0 && dhi == (1L << 48) - 1) return false // wrapped end
    }
    false
  }
}
