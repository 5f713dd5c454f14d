package graft.operators

import graft.core.Schemas
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** CNA matrix transforms — O8 (wide→gene-centric pack), O9 (ordered sample
  * list), O11 (unpivot/melt to derived long format), O12 (prefix concat).
  * Reference: cna/transformer.go:464-625.
  *
  * Layout contract (cna/transformer.go:496-498,590-591): column 0 =
  * `Hugo_Symbol` (gene symbol), column 1 = `Entrez_Gene_Id`, columns 2..N =
  * one column per sample. **Source column order is semantic** (SURVEY.md
  * §1.5.1): the i-th comma-separated entry of `VALUES` must align with the
  * i-th sample of `ORDERED_SAMPLE_LIST`. Both are derived from the same
  * `df.columns` slice here, which Spark preserves through projections — and
  * no shuffle ever sits between pack and sink in these plans.
  */
object CnaOps {

  /** Sample columns = everything after the two gene-id columns. */
  def sampleColumns(df: DataFrame): Seq[String] = df.columns.drop(2).toSeq

  /** O12: sampleID = cancerStudy + "_" + barcode (cna/transformer.go:492,598). */
  def prefixed(study: String, c: Column): Column =
    if (study.isEmpty) c.cast("string") else concat(lit(study + "_"), c.cast("string"))

  /** O8: wide gene×sample matrix → `genetic_alteration` rows. One output row
    * per gene: constant study/profile, gene symbol from column 0, and all
    * sample cells comma-joined **in source column order**
    * (cna/transformer.go:511-532). Pure narrow projection — no shuffle, fully
    * codegen'd, scales linearly with input splits.
    *
    * Null cells (absent in TSV but possible via parquet) serialize as "" to
    * keep positional alignment: `concat_ws` drops nulls, which would shift
    * positions, so cells are null-coalesced first.
    */
  def packGeneCentric(df: DataFrame, study: String, profile: String): DataFrame = {
    val samples = sampleColumns(df)
    val geneCol = df.columns.head
    df.select(
      lit(study).as("CANCER_STUDY"),
      lit(profile).as("GENETIC_PROFILE"),
      col(geneCol).cast("string").as("GENE_SYMBOL"),
      concat_ws(",", samples.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
        .as("VALUES"))
  }

  /** O9+O10: `genetic_profile_samples` — a single row whose
    * ORDERED_SAMPLE_LIST is the prefixed sample column *names* in source
    * order (cna/transformer.go:496-508). A metadata-only computation: derived
    * once from the header on the driver, never touching data (the reference
    * recomputes it per batch and drops duplicates via a `samplesSent` flag —
    * O10 — which collapses to compute-once here).
    */
  def sampleList(spark: SparkSession, columns: Seq[String], study: String,
      profile: String): DataFrame =
    spark.createDataFrame(java.util.List.of(sampleListRow(columns, study, profile)),
      Schemas.geneticProfileSamples)

  /** The one row of [[sampleList]]. */
  def sampleListRow(columns: Seq[String], study: String, profile: String): Row =
    Row(study, profile, columns.drop(2)
      .map(c => if (study.isEmpty) c else s"${study}_$c")
      .mkString(","))

  /** O11: unpivot/melt the wide matrix to the derived long format — one row
    * per (sample, gene): `(SAMPLE_ID, CANCER_STUDY, GENE_SYMBOL,
    * GENETIC_PROFILE, ALTERATION)` (cna/transformer.go:567-625).
    *
    * Uses Spark's native unpivot (logical `Expand`), which multiplies rows
    * within a partition — still narrow, no shuffle. The reference emits
    * column-major (sample-outer, :591-606); row order is not semantic for a
    * relational sink, but `withOrder=true` attaches (sample_pos, gene_pos)
    * so a sink that must byte-match the reference ordering can sort.
    */
  def unpivotDerived(df: DataFrame, study: String, profile: String,
      withOrder: Boolean = false): DataFrame = {
    val geneCol = df.columns.head
    val samples = sampleColumns(df)
    val melted = df
      .withColumn("__gene_pos", monotonically_increasing_id())
      .unpivot(
        ids = Array(col(geneCol).cast("string").as("GENE_SYMBOL"), col("__gene_pos")),
        values = samples.map(c => col(c).cast("string").as(c)).toArray,
        variableColumnName = "__sample",
        valueColumnName = "ALTERATION")
    val samplePos = {
      // map sample name -> source position for the optional ordering column
      val m = samples.zipWithIndex.toMap
      val mapCol = map(samples.flatMap(s => Seq(lit(s), lit(m(s)))): _*)
      mapCol(col("__sample"))
    }
    val base = melted.select(
      prefixed(study, col("__sample")).as("SAMPLE_ID"),
      lit(study).as("CANCER_STUDY"),
      col("GENE_SYMBOL"),
      lit(profile).as("GENETIC_PROFILE"),
      coalesce(col("ALTERATION"), lit("")).as("ALTERATION"),
      samplePos.as("__sample_pos"),
      col("__gene_pos"))
    if (withOrder) base
    else base.drop("__sample_pos", "__gene_pos")
  }
}
