package graft.operators

import graft.core.Schemas
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** MAF transforms — O13 (mutation_event projection), O14 (mutation
  * projection), O15 (schema-drift-tolerant column lookup), O16 (contiguous
  * global sequence id). Reference: mutation/transformer.go:312-418.
  */
object MutationOps {

  /** O15: drift-tolerant column — present column by name, else literal ""
    * (mutation/transformer.go:312-325 `getFieldValue`, missing→"").
    *
    * The reference resolves the column by a linear name scan *per cell*
    * (O(rows×fields×cols)); here presence is resolved once at plan-build
    * time and Catalyst compiles either a column ref or a constant — the
    * per-cell cost disappears (SURVEY.md §4.2 "known perf bug").
    */
  def colOrEmpty(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) coalesce(col(name).cast("string"), lit(""))
    else lit("")

  /** O13: MAF → `mutation_event` columns (sans id — see withContiguousId).
    * 13 by-name MAF lookups + 7 always-"" fields
    * (mutation/transformer.go:350-371, schema :254-276). */
  def eventProjection(df: DataFrame): Seq[Column] =
    Schemas.mutationEventColumns.map { case (out, src) =>
      (if (src.isEmpty) lit("") else colOrEmpty(df, src)).as(out)
    }

  /** O14: MAF → `mutation` columns (sans id): profile id, prefixed
    * SAMPLE_ID = study + "_" + Tumor_Sample_Barcode
    * (mutation/transformer.go:377-380), 24 by-name lookups,
    * ANNOTATION_JSON always "" (:407). */
  def mutationProjection(df: DataFrame, study: String, profile: String): Seq[Column] =
    Seq(
      lit(profile).as("GENETIC_PROFILE_ID"),
      CnaOps.prefixed(study, colOrEmpty(df, "Tumor_Sample_Barcode")).as("SAMPLE_ID")) ++
      Schemas.mutationColumns.map { case (out, src) => colOrEmpty(df, src).as(out) } :+
      lit("").as("ANNOTATION_JSON")

  /** O16: contiguous global sequence id starting at `start`
    * (mutation/transformer.go:217-247 across batches, :30-52 across files).
    *
    * `monotonically_increasing_id` is non-contiguous by design, and a global
    * `row_number()` window funnels everything through one partition — neither
    * is acceptable. `zipWithIndex` computes per-partition counts in one extra
    * narrow job and assigns contiguous offsets per partition: distributed,
    * no shuffle, order = partition order (file/offset order for a scan).
    *
    * Returns the stamped DataFrame and the handle of its persisted input;
    * close the handle once the result is materialized.
    */
  def withContiguousId(df: DataFrame, idName: String = "MUTATION_EVENT_ID",
      start: Long = 0L): (DataFrame, AutoCloseable) = {
    val staged = stage(df)
    (staged.stamp(start, idName), staged)
  }

  /** `df`'s rows persisted with their per-partition counts: the first half
    * of [[withContiguousId]]. `rowCount` is known as soon as `stage`
    * returns, so a caller stamping several inputs (one per MAF) can compute
    * every start offset on the driver before any stamp runs.
    *
    * The persisted input is owned by this handle, not by a process-wide
    * memo, so concurrent callers never release each other's live inputs.
    * Results of `stamp` stay correct after `close` (the offsets don't
    * change) but re-evaluate the upstream plan when read again. */
  final class Staged private[MutationOps] (df: DataFrame,
      rdd: RDD[InternalRow], counts: Array[Long]) extends AutoCloseable {
    val rowCount: Long = counts.sum

    /** The persisted rows with a non-null long `idName` column prepended,
      * ids running contiguously from `start` in partition order. */
    def stamp(start: Long, idName: String = "MUTATION_EVENT_ID"): DataFrame = {
      val outSchema = StructType(
        StructField(idName, LongType, nullable = false) +: df.schema.fields)
      val bc = df.sparkSession.sparkContext.broadcast(counts.scanLeft(start)(_ + _))
      val stamped = rdd.mapPartitionsWithIndex { case (i, it) =>
        val proj = UnsafeProjection.create(outSchema)
        val idRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        var id = bc.value(i)
        it.map { r =>
          idRow.update(0, id)
          id += 1
          // copy: the projection's output buffer is reused per row
          proj(joined(idRow, r)).copy(): InternalRow
        }
      }
      Bridge.fromInternalRows(df.sparkSession, stamped, outSchema)
    }

    def close(): Unit = rdd.unpersist(blocking = false)
  }

  /** Persist `df` and count its rows per partition, in one job. */
  def stage(df: DataFrame): Staged = {
    // zipWithIndex's structure (per-partition counts in one narrow job,
    // offsets broadcast, ids assigned partition-locally) — but over
    // InternalRows: `df.rdd` would deserialize every row to a boxed Row and
    // createDataFrame would re-encode it; this stays in the unsafe format.
    //
    // Persisted between the count pass and the stamp pass: without it both
    // passes re-evaluate the upstream plan (for the import workload that
    // upstream is a GLOBAL SORT — at 100 TB running it twice is the
    // dominant cost). The copy is required because the scan reuses its
    // UnsafeRow buffer.
    val rdd = Bridge.internalRows(df)
      .mapPartitions(it => it.map(_.copy()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts =
      try rdd.mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
        .collect().sortBy(_._1).map(_._2)
      catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    new Staged(df, rdd, counts)
  }

  /** O13+O14 combined: both tables projected from one id-stamped input (a
    * MAF with `MUTATION_EVENT_ID` prepended by [[Staged.stamp]]) — the
    * reference emits both tables from a single pass
    * (mutation/transformer.go:330-418). */
  def transformMaf(stamped: DataFrame, study: String, profile: String)
      : (DataFrame, DataFrame) = {
    val id = col("MUTATION_EVENT_ID")
    val events = stamped.select(id +: eventProjection(stamped): _*)
    val mutations = stamped.select(id +: mutationProjection(stamped, study, profile): _*)
    (events, mutations)
  }
}
