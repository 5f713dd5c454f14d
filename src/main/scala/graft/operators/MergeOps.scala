package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE INTO (CDC upsert) as one declarative plan — the missing lakehouse
  * write primitive next to compaction (o27) / Z-order (o28) / dynamic
  * partition overwrite (o24). The reference re-imports whole studies to
  * update them (ReplacingMergeTree semantics, cf. reference
  * clickhouse/schema.go and cna/transformer.go:438-459 replace keys); MERGE
  * is the row-level form a 100 TB lakehouse actually runs.
  *
  * Semantics (SQL MERGE):
  *   - matched (key in both)            -> source row (WHEN MATCHED UPDATE),
  *                                         or dropped if `deleteWhen` fires
  *                                         (WHEN MATCHED AND cond DELETE)
  *   - not matched by source            -> target row unchanged
  *   - not matched by target            -> source row (WHEN NOT MATCHED INSERT)
  *
  * Scale shape: ONE full-outer shuffle join on the merge key (broadcast if
  * the CDC batch is small — Spark picks it from stats/AQE; at 100 TB the
  * CDC batch is always the small side). No driver loops, no per-row RPC.
  * Output columns are exactly the target's, so the result can overwrite the
  * target; `TableLog.mergeUpsert` commits it through the log.
  */
object MergeOps {

  /** Merge `source` into `target` on equality of `keys`.
    *
    * `source` must carry every target column (same names); extra source
    * columns (e.g. a CDC delete flag) are usable in `deleteWhen` and are
    * dropped from the output. `deleteWhen` is evaluated against MATCHED
    * source rows only (SQL `WHEN MATCHED AND cond THEN DELETE`).
    *
    * Duplicate source keys RAISE at execution (SQL MERGE's
    * multiple-match error), rather than silently fanning out target rows
    * through the full-outer join. The guard is in-plan — a `count` window
    * over the source keys feeding a `raise_error` branch — so the
    * unique-key case pays no extra job, and the window's required
    * key-partitioning is the same one the join needs. It is a FILTER
    * condition, not an output column: a Project column is pruned the
    * moment a consumer stops referencing it (`.select("v")`, `.count()`),
    * silently disabling the error, while a Filter condition survives any
    * downstream pruning. It also runs BEFORE the `deleteWhen` filter, so
    * duplicate keys raise even when every duplicate row satisfies the
    * delete condition — SQL MERGE errors on the second touch of a target
    * row, DELETE included. */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
      deleteWhen: Option[Column] = None): DataFrame = {
    val outCols = target.columns.toSeq
    require(outCols.forall(source.columns.contains),
      s"source must carry every target column; missing " +
        s"${outCols.filterNot(source.columns.contains).mkString(",")}")
    // presence flags, not key-null checks: a null key in the DATA must not
    // read as "row absent" (full-outer emits null keys for absent sides)
    val t = target.withColumn("__t_present", lit(1)).alias("__t")
    val keyCount = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*))
    val s = source.withColumn("__s_present", lit(1))
      .withColumn("__s_keycnt", keyCount).alias("__s")
    val cond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")
    val matched =
      col("__t.__t_present").isNotNull && col("__s.__s_present").isNotNull
    val srcOnly =
      col("__t.__t_present").isNull && col("__s.__s_present").isNotNull
    // null keys are exempt: they can never MATCH (SQL equality), so
    // multiple null-key source rows are independent inserts, not the
    // multiple-match error. On a target-only row the whole __s side is
    // null, so the condition falls through to `otherwise(true)` — the
    // predicate never filters out null-extended rows, which also keeps
    // EliminateOuterJoin from demoting the full outer join.
    val sKeysNotNull = keys.map(k => col(s"__s.$k").isNotNull).reduce(_ && _)
    val guarded = joined.where(
      when(col("__s.__s_keycnt") > 1 && sKeysNotNull,
        raise_error(concat(
          lit("MERGE: multiple source rows for key ("),
          concat_ws(",", keys.map(k => col(s"__s.$k").cast("string")): _*),
          lit(")"))).cast("boolean"))
        .otherwise(lit(true)))
    val kept = deleteWhen match {
      case Some(d) => guarded.where(!(matched && d))
      case None    => guarded
    }
    kept.select(outCols.map { c =>
      when(matched || srcOnly, col(s"__s.$c")).otherwise(col(s"__t.$c")).as(c)
    }: _*)
  }
}
