package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Z-order (Morton) interleave of two 16-bit-normalized keys — the
  * multi-dimensional clustering key for data-skipping layouts: sorting by
  * z co-locates rows that are close in BOTH dimensions, so per-file
  * min/max statistics become selective for predicates on EITHER column
  * (a single-column sort gives locality on that column only).
  *
  * Inputs are longs already normalized to [0, 65535] (the caller scales
  * real key ranges down — 16 bits per dimension is plenty for file-level
  * skipping; finer z-resolution than the file count is wasted). Output is
  * the 32-bit interleave as a long. Codegen'd: two table-free bit-spread
  * sequences, no branches.
  */
case class ZOrderLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"z_order_long needs (bigint, bigint), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "z_order_long"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderLong.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZOrderLong.interleave($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZOrderLong = copy(left = newLeft, right = newRight)
}

/** 3-ARY Morton interleave of three 16-bit-normalized keys — the
  * clustering key for THREE-dimensional skipping layouts (doc source ×
  * time × length is the natural training-data shape). Same contract as
  * [[ZOrderLong]]: inputs already normalized to [0, 65535], output the
  * 48-bit interleave (a-bits at positions 3k+2, b at 3k+1, c at 3k).
  * Codegen'd, branch-free. */
case class ZOrder3Long(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, LongType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"z_order3_long needs (bigint, bigint, bigint), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "z_order3_long"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    ZOrderLong.interleave3(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.ZOrderLong.interleave3($a, $b, $c);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): ZOrder3Long =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ZOrderLong {
  /** Spread the low 16 bits of x to even bit positions (classic
    * magic-number sequence). */
  def spread16(x0: Long): Long = {
    var x = x0 & 0xffffL
    x = (x | (x << 8)) & 0x00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0fL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** z = a-bits at odd positions, b-bits at even positions. */
  def interleave(a: Long, b: Long): Long =
    (spread16(a) << 1) | spread16(b)

  def zOrder(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(ZOrderLong(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Spread the low 16 bits of x to every third bit position (the
    * 21-bit Morton-3D magic sequence, which covers 16-bit inputs). */
  def spread3(x0: Long): Long = {
    var x = x0 & 0x1fffffL
    x = (x | (x << 32)) & 0x1f00000000ffffL
    x = (x | (x << 16)) & 0x1f0000ff0000ffL
    x = (x | (x << 8)) & 0x100f00f00f00f00fL
    x = (x | (x << 4)) & 0x10c30c30c30c30c3L
    x = (x | (x << 2)) & 0x1249249249249249L
    x
  }

  /** z3 = a-bits at positions 3k+2, b at 3k+1, c at 3k. */
  def interleave3(a: Long, b: Long, c: Long): Long =
    (spread3(a) << 2) | (spread3(b) << 1) | spread3(c)

  def zOrder3(a: Column, b: Column, c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(ZOrder3Long(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b),
      org.apache.spark.sql.graft.Bridge.expression(c)))

  /** `x` min/max-normalized to [0, 65535] as a long (z-order input).
    * Two exact-integer forms, picked by span at plan-build time: the
    * multiply-first form `(x-min)*65535/span` overflows Long once
    * `span ≥ ~2^47` (65535 ≈ 2^16 of headroom), so wide key ranges —
    * plausible for synthetic 64-bit ids — switch to divide-first
    * fixed-width bucketing `(x-min)/ceil(span/65536)`, which also lands in
    * [0, 65535] and never overflows. */
  def norm16(x: Column, min: Long, max: Long): Column = {
    import org.apache.spark.sql.functions.{least, lit}
    val span = (BigInt(max) - BigInt(min)).max(BigInt(1))
    if (span <= BigInt(1L << 46))
      ((x - lit(min)) * lit(65535L) / lit(span.toLong)).cast("long")
    else if (span < BigInt(Long.MaxValue)) {
      // multiply-first would overflow; (x-min) itself still fits in Long
      val bucket = (span / 65536 + 1).toLong
      ((x - lit(min)) / lit(bucket)).cast("long")
    } else {
      // span exceeds Long entirely (e.g. full 64-bit id range): bucket in
      // double space — monotone, and the ~2^48 bucket width dwarfs the
      // 2^11-ulp double rounding at this magnitude. Rounding can inflate
      // (x-min) past the true span at the extremes, so clamp to 65535.
      val bucket = (span / 65536 + 1).toDouble
      least(lit(65535L),
        ((x.cast("double") - lit(min.toDouble)) / lit(bucket)).cast("long"))
    }
  }

  /** Driver-side scalar TWIN of `norm16` — bit-identical to the Column
    * form at any value (same three span branches, same double-division
    * semantics Spark's `/` uses on longs), so a READER normalizing a
    * query bound lands in exactly the cell the writer's z computation
    * did. Monotone non-decreasing, which is what the box prune's
    * cell-range coverage argument needs. `x` must be within
    * [min, max] (callers clamp query bounds first). */
  def norm16Scalar(x: Long, min: Long, max: Long): Long = {
    val span = (BigInt(max) - BigInt(min)).max(BigInt(1))
    if (span <= BigInt(1L << 46))
      // Spark: Multiply(long,long)=long, Divide(long,long)=double,
      // cast("long") truncates — replicated exactly
      (((x - min) * 65535L).toDouble / span.toLong.toDouble).toLong
    else if (span < BigInt(Long.MaxValue)) {
      val bucket = (span / 65536 + 1).toLong
      ((x - min).toDouble / bucket.toDouble).toLong
    } else {
      val bucket = (span / 65536 + 1).toDouble
      math.min(65535L, ((x.toDouble - min.toDouble) / bucket).toLong)
    }
  }

  /** Does the z-interval [zlo, zhi] contain the z-value of ANY cell in
    * the box [alo, ahi] × [blo, bhi] (cell space [0, 65535]²)? The
    * file-level decision behind multi-dimensional data skipping: a
    * z-clustered file stores a contiguous-ish z run whose BOUNDING BOX
    * can overlap a query box even when no actual z in the run decodes
    * into it (the curve leaves the box between visits) — this test
    * prunes those files exactly where per-column stats cannot.
    *
    * Quadtree walk instead of BIGMIN bit-tricks: a node (a z-aligned
    * square) is skipped when its z-span misses the interval or its
    * square misses the box; it PROVES intersection when its z-span is
    * fully inside the interval (any of its cells in the box qualifies
    * — box overlap was already established) or its square is fully
    * inside the box (any of its z-values in the interval qualifies).
    * Only boundary nodes recurse, O(perimeter · depth); a node budget
    * caps the worst case and answers `true` (keep the file — stats
    * prune IO, never semantics). Child order follows `interleave`:
    * a-bits sit one position above their paired b-bits, so child
    * q = (aBit<<1)|bBit covers z offset q·(side/2)². */
  def zBoxIntersects(zlo: Long, zhi: Long, alo: Long, ahi: Long,
      blo: Long, bhi: Long, nodeBudget: Int = 1 << 14): Boolean = {
    if (zlo > zhi || alo > ahi || blo > bhi) return false
    var budget = nodeBudget
    def rec(z0: Long, side: Long, a0: Long, b0: Long): Boolean = {
      budget -= 1
      if (budget <= 0) return true // out of budget: keep the file
      val z1 = z0 + side * side - 1
      if (z1 < zlo || z0 > zhi) return false
      val a1 = a0 + side - 1
      val b1 = b0 + side - 1
      if (a1 < alo || a0 > ahi || b1 < blo || b0 > bhi) return false
      if (z0 >= zlo && z1 <= zhi) return true
      if (a0 >= alo && a1 <= ahi && b0 >= blo && b1 <= bhi) return true
      val h = side / 2
      val cs = h * h
      rec(z0, h, a0, b0) || rec(z0 + cs, h, a0, b0 + h) ||
        rec(z0 + 2 * cs, h, a0 + h, b0) || rec(z0 + 3 * cs, h, a0 + h, b0 + h)
    }
    rec(0L, 65536L, 0L, 0L)
  }

  /** 3-D twin of [[zBoxIntersects]]: does the z3-interval [zlo, zhi]
    * contain the z3-value of ANY cell in [alo,ahi]×[blo,bhi]×[clo,chi]
    * (cell space [0, 65535]³)? OCTREE walk with the same prove/skip
    * logic — a node (z3-aligned cube, z-span side³) is skipped when
    * its z-span misses the interval or its cube misses the box, proven
    * intersecting when either is fully contained; only boundary nodes
    * recurse, surface-area-bounded, budget-capped answering `true`
    * (keep — stats prune IO, never semantics). Child order follows
    * `interleave3`: q = (aBit<<2)|(bBit<<1)|cBit covers z offset
    * q·(side/2)³. */
  def zBox3Intersects(zlo: Long, zhi: Long, alo: Long, ahi: Long,
      blo: Long, bhi: Long, clo: Long, chi: Long,
      nodeBudget: Int = 1 << 15): Boolean = {
    if (zlo > zhi || alo > ahi || blo > bhi || clo > chi) return false
    var budget = nodeBudget
    def rec(z0: Long, side: Long, a0: Long, b0: Long, c0: Long): Boolean = {
      budget -= 1
      if (budget <= 0) return true // out of budget: keep the file
      val z1 = z0 + side * side * side - 1
      if (z1 < zlo || z0 > zhi) return false
      val a1 = a0 + side - 1
      val b1 = b0 + side - 1
      val c1 = c0 + side - 1
      if (a1 < alo || a0 > ahi || b1 < blo || b0 > bhi ||
        c1 < clo || c0 > chi) return false
      if (z0 >= zlo && z1 <= zhi) return true
      if (a0 >= alo && a1 <= ahi && b0 >= blo && b1 <= bhi &&
        c0 >= clo && c1 <= chi) return true
      val h = side / 2
      val cs = h * h * h
      var q = 0
      while (q < 8) {
        if (rec(z0 + q * cs, h, a0 + ((q >> 2) & 1) * h,
            b0 + ((q >> 1) & 1) * h, c0 + (q & 1) * h)) return true
        q += 1
      }
      false
    }
    rec(0L, 65536L, 0L, 0L, 0L)
  }
}
