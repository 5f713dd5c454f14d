package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Hilbert-curve index of two 16-bit-normalized keys — the
  * alternative 2-D clustering key to [[ZOrderLong]]: the Hilbert curve
  * visits every cell of a quadrant before leaving it (consecutive
  * indices are always GRID NEIGHBORS), so a contiguous index range —
  * which is exactly what one range-partitioned file stores — covers a
  * tighter spatial region than the Morton curve's quadrant jumps. Same
  * contract as `z_order_long`: inputs are longs already normalized to
  * [0, 65535], output the 32-bit curve index as a long. The per-step
  * rotation makes this a short loop rather than Morton's branch-free
  * bit-spread — ~3 ns vs ~1 ns per row, both noise next to parquet IO;
  * the difference that matters is files opened per query box, measured
  * and pinned in DEVNOTES (round 15, "Hilbert layout").
  *
  * The encode is the classic reflect-and-rotate walk (public-domain
  * formulation, e.g. Wikipedia "Hilbert curve: Applications and
  * mapping algorithms"); `hBoxIntersects` is the quadtree twin of
  * `ZOrderLong.zBoxIntersects` with the curve's orientation state
  * carried as an affine transform.
  */
case class HilbertLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hilbert_long needs (bigint, bigint), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_long"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertLong.encode16(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertLong.encode16($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertLong = copy(left = newLeft, right = newRight)
}

object HilbertLong {

  /** (a, b) ∈ [0, n)² → Hilbert index ∈ [0, n²); n a power of two. */
  def encode(n: Long, a: Long, b: Long): Long = {
    var x = a & (n - 1)
    var y = b & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // reflect/rotate the lower bits into the child's frame
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** The 16-bit/dim production encode (cell space [0, 65535]²). */
  def encode16(a: Long, b: Long): Long = encode(65536L, a, b)

  def hilbert(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(HilbertLong(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Does the Hilbert-interval [hlo, hhi] contain the index of ANY
    * cell in the box [alo, ahi] × [blo, bhi] (cell space [0, n)²)?
    * Quadtree walk like `ZOrderLong.zBoxIntersects`, with one extra
    * piece of state: a Hilbert node's four children sit in QUADRANTS
    * WHOSE SPATIAL ORDER DEPENDS ON THE NODE'S ORIENTATION, so each
    * node carries the affine map from its local square to global
    * cells (offset + one of the eight orthogonal symmetries,
    * `global = o + M·local`). Child q (curve order) occupies local
    * quadrant (rx, ry) with q = (3·rx)^ry and composes the inverse of
    * the encode's reflect/rotate:
    *   q=0 → swap;  q=1, q=2 → identity;  q=3 → anti-transpose.
    * Skip/prove logic and the keep-on-budget-exhaustion contract are
    * identical to the z walk: stats prune IO, never semantics. */
  def hBoxIntersects(hlo: Long, hhi: Long, alo: Long, ahi: Long,
      blo: Long, bhi: Long, n: Long = 65536L,
      nodeBudget: Int = 1 << 14): Boolean = {
    if (hlo > hhi || alo > ahi || blo > bhi) return false
    var budget = nodeBudget
    // node transform: global = (ox + ma*lx + mb*ly, oy + mc*lx + md*ly)
    def rec(h0: Long, side: Long, ox: Long, oy: Long,
        ma: Long, mb: Long, mc: Long, md: Long): Boolean = {
      budget -= 1
      if (budget <= 0) return true // out of budget: keep the file
      val h1 = h0 + side * side - 1
      if (h1 < hlo || h0 > hhi) return false
      // the node's global box: the images of opposite local corners
      val c1x = ox; val c1y = oy
      val c2x = ox + (ma + mb) * (side - 1)
      val c2y = oy + (mc + md) * (side - 1)
      val x0 = math.min(c1x, c2x); val x1 = math.max(c1x, c2x)
      val y0 = math.min(c1y, c2y); val y1 = math.max(c1y, c2y)
      if (x1 < alo || x0 > ahi || y1 < blo || y0 > bhi) return false
      if (h0 >= hlo && h1 <= hhi) return true
      if (x0 >= alo && x1 <= ahi && y0 >= blo && y1 <= bhi) return true
      val h = side / 2
      val cs = h * h
      // q=0: local quadrant (0,0), child map = swap (lx,ly)→(ly,lx)
      if (rec(h0, h, ox, oy, mb, ma, md, mc)) return true
      // q=1: quadrant (0,1), identity
      if (rec(h0 + cs, h, ox + mb * h, oy + md * h,
        ma, mb, mc, md)) return true
      // q=2: quadrant (1,1), identity
      if (rec(h0 + 2 * cs, h, ox + (ma + mb) * h, oy + (mc + md) * h,
        ma, mb, mc, md)) return true
      // q=3: quadrant (1,0), anti-transpose: (lx,ly)→(h-1-ly, h-1-lx)
      rec(h0 + 3 * cs, h,
        ox + ma * h + (ma + mb) * (h - 1),
        oy + mc * h + (mc + md) * (h - 1),
        -mb, -ma, -md, -mc)
    }
    rec(0L, n, 0L, 0L, 1L, 0L, 0L, 1L)
  }
}
