package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A loaded DELETION VECTOR: per data file, the sorted row positions a
  * positional MOR delete removed. Keyed by the file's last two path
  * segments (`<uuid-dir>/part-….parquet` — unique within a table), so
  * the probe side can key off the scan's absolute `input_file_name`
  * URI without caring about scheme or prefix. Membership is one map
  * lookup + one binary search per row, inside whole-stage codegen via
  * `ctx.addReferenceObj` (the BloomMightContain pattern); the vector
  * ships with the serialized plan like a broadcast scalar — positional
  * deletes are size-gated at commit time (the write spec's
  * `maxDvPositions`) precisely so this stays plan-sized. */
final class DvSet(
    entries: java.util.HashMap[String, Array[Long]]) extends Serializable {

  def contains(file: UTF8String, pos: Long): Boolean = {
    val s = file.toString
    val i = s.lastIndexOf('/')
    val j = if (i <= 0) -1 else s.lastIndexOf('/', i - 1)
    val ps = entries.get(s.substring(j + 1))
    ps != null && java.util.Arrays.binarySearch(ps, pos) >= 0
  }

  /** Membership by PRE-NORMALIZED key (the file's last two path
    * segments) — the raw-file reader path, which knows its partition's
    * manifest-relative path up front and reduces it once instead of
    * per row. */
  def containsKey(key: String, pos: Long): Boolean = {
    val ps = entries.get(key)
    ps != null && java.util.Arrays.binarySearch(ps, pos) >= 0
  }

  /** Vectored-position count for one file (by pre-normalized key) —
    * the MOR-aware removed-row arithmetic of group rewrites over
    * pending vectors. */
  def positionsFor(key: String): Long = {
    val ps = entries.get(key)
    if (ps == null) 0L else ps.length.toLong
  }

  def positions: Long =
    entries.values.stream.mapToLong(_.length.toLong).sum
}

object DvSet {
  /** Build from (relativePath, position) pairs — the collected rows of
    * the DV sidecar parquet(s). */
  def apply(pairs: Seq[(String, Long)]): DvSet = {
    val m = new java.util.HashMap[String, Array[Long]]()
    pairs.groupBy { case (p, _) =>
      val i = p.lastIndexOf('/')
      val j = if (i <= 0) -1 else p.lastIndexOf('/', i - 1)
      p.substring(j + 1)
    }.foreach { case (k, vs) =>
      m.put(k, vs.map(_._2).distinct.sorted.toArray)
    }
    new DvSet(m)
  }
}

/** `dv.contains(file, pos)` as a codegen'd predicate — the read side
  * of positional merge-on-read deletes. Applied AT THE SCAN as
  * `NOT coalesce(dv_contains(input_file_name(), _metadata.row_index),
  * false)` — fully codegen, zero shuffle, zero broadcast-join build;
  * unlike the key-sidecar anti-join, the per-read fixed cost is one
  * map load (cached across reads by sidecar identity). Standard null
  * propagation; the filter coalesces null to KEEP, so a hypothetical
  * null file/pos can never silently drop a row. */
case class DvContains(left: Expression, right: Expression, dv: DvSet)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_contains"

  override protected def nullSafeEval(file: Any, pos: Any): Any =
    dv.contains(file.asInstanceOf[UTF8String], pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvSet", dv, classOf[DvSet].getName)
    defineCodeGen(ctx, ev, (f, p) => s"$ref.contains($f, $p)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvContains =
    copy(left = newLeft, right = newRight)
}
