package graft.operators

import graft.functions.{QuantizeVector, VectorFunctions => VF}
import graft.sinks.TableLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF cell store lifecycle — the indexing pipeline a 100 TB
  * vector corpus actually runs, as opposed to the fit-and-search-in-one-job
  * registry queries. Same layout as DedupOps' semantic index
  * (SimilarityOps' cell-store helpers): `<path>/store` is a TableLog table
  * of (id, qe, cell) rows range-clustered by `cell` into one file per
  * cell range, with `cell` stats, and `<path>/codebook` a sibling
  * TableLog table whose version the store pins in its `cbv` counter.
  * Every change is a manifest commit, so readers see (store, codebook)
  * pairs that belong together, and a refused change leaves the store
  * and the codebook it pins as they were.
  *
  *   - `build`: train the deterministic Lloyd quantizer
  *     (SimilarityOps.lloydAssign), commit the codebook, then the
  *     assigned vectors pinning it — on an existing store, one new
  *     version of each table replaces the old content.
  *   - `append`: assign NEW vectors with the PINNED codebook (no
  *     retrain) and append them cell-clustered; the standard IVF
  *     maintenance move (centroids drift only when `build` or
  *     `rebalance` runs).
  *   - `probe`: pick the nprobe nearest cells from the codebook on the
  *     driver and rank ONLY those cells — `scan(...).where(cell IN …)`
  *     prunes the store's files by their `cell` stats, so the scan never
  *     opens the other cells' files (asserted in AnnStoreSpec).
  *
  * All math is the exact-integer centroid arithmetic of the oracled
  * kmeans queries, so build→append→probe gives bit-stable results on
  * any cluster layout. */
object AnnStoreOps {

  private def storeTable(path: String) = s"$path/store"
  private def codebookTable(path: String) = s"$path/codebook"

  /** Train on `df` and write the whole store (replacing any previous
    * content of both tables). */
  def build(spark: SparkSession, path: String, df: DataFrame,
      idCol: String, vecCol: String, nlist: Int): Unit = {
    val (assigned, c2) = SimilarityOps.lloydAssign(df, idCol, vecCol, nlist)
    val cbv = SimilarityOps.commitCodebook(spark, codebookTable(path), c2)
    val store = storeTable(path)
    val clustered = SimilarityOps.clusterByCell(assigned, Some(c2.length))
    if (TableLog.latestVersion(store) == 0L)
      TableLog.create(spark, store, clustered, statsCols = Seq("cell"),
        counterPin = Map("cbv" -> cbv))
    else TableLog.rewrite(spark, store, "overwrite", expectRows = _ => None,
      counterSet = Map("cbv" -> cbv))(_ => clustered)
  }

  /** The codebook the store pins, driver-side (nlist rows). */
  def codebook(spark: SparkSession, path: String)
      : Array[(Long, Array[Long], Long)] =
    SimilarityOps.pinnedCodebook(spark, storeTable(path), codebookTable(path))

  /** Assign `df`'s vectors with the pinned codebook and append them to
    * the store, cell-clustered — no retraining. */
  def append(spark: SparkSession, path: String, df: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val quant = df.select(col(idCol),
      QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
    val cents = codebook(spark, path)
    TableLog.append(spark, storeTable(path), SimilarityOps.clusterByCell(
        SimilarityOps.assignToCells(quant, idCol, cents), Some(cents.length)))
  }

  /** Streaming ingestion into the store: every micro-batch of vectors is
    * assigned with the pinned codebook and appended
    * (StreamingOps.runForeachBatch — foreachBatch is the
    * standard escape hatch for sinks with no native streaming writer).
    * With a checkpoint, replayed batches re-append — pair with a
    * batchId-stamped id column or the exact-dedup pass for exactly-once
    * ingest, same as the ClickHouse loading pattern. Drains currently
    * available input. */
  def appendStream(spark: SparkSession, path: String, stream: DataFrame,
      idCol: String, vecCol: String, checkpoint: Option[String] = None): Unit =
    graft.streaming.StreamingOps.runForeachBatch(stream,
      org.apache.spark.sql.streaming.OutputMode.Append(), checkpoint) {
      (batch, _) => append(spark, path, batch, idCol, vecCol)
    }

  /** Balance metric of the current cell layout: max cell rows / mean
    * cell rows (1.0 = perfectly even). */
  def cellSkew(spark: SparkSession, path: String): Double =
    SimilarityOps.cellSkew(spark, storeTable(path))

  /** Re-train the quantizer on the CURRENT corpus and rewrite the whole
    * store. `append` assigns against the codebook frozen at `build`
    * time, so as the ingested distribution drifts, new vectors pile into
    * the few stale cells nearest them — probe work degrades toward a
    * scan of one giant cell. Rebalance is the maintenance move: derive
    * nlist from today's corpus size (`SimilarityOps.nlistFor` — cell
    * COUNT grows with n, target cell size stays constant), re-fit on an
    * md5-deterministic ~20-rows-per-cell sample of the stored quantized
    * vectors (the raw floats are gone; the fit quality contract is the
    * same as semantic dedup's fit-on-sample), assign every vector once
    * and aggregate the full assignment into the new codebook (c2).
    * The codebook commits as a new version of its table, then the store
    * rewrite swings its `cbv` pin to it in the same manifest commit —
    * readers see (old store, old codebook) or (new store, new codebook),
    * never a mix. The rewrite's row audit refuses a store that lost or
    * gained rows (e.g. an append racing the rebalance).
    *
    * Returns (skewBefore, skewAfter) so callers can log the improvement;
    * AnnStoreSpec pins that a drifted corpus at least halves. */
  def rebalance(spark: SparkSession, path: String,
      targetCellRows: Long = 64L): (Double, Double) = {
    val store = storeTable(path)
    val before = cellSkew(spark, path)
    val stored = TableLog.read(spark, store)
    val idCol = stored.columns.find(c => c != "qe" && c != "cell").get
    val quant = stored.select(col(idCol), col("qe"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nlist = SimilarityOps.nlistFor(quant.count(), targetCellRows)
      val (assigned, c2) = SimilarityOps.lloydAssignQuant(
        quant, idCol, nlist, fitSampleTarget = 20L * nlist)
      require(c2.nonEmpty && c2.length <= nlist,
        s"rebalance audit: ${c2.length} codebook cells, expected (0, $nlist]")
      val cbv = SimilarityOps.commitCodebook(spark, codebookTable(path), c2)
      TableLog.rewrite(spark, store, "rebalance",
        counterSet = Map("cbv" -> cbv))(
        _ => SimilarityOps.clusterByCell(assigned, Some(c2.length)))
    } finally quant.unpersist(blocking = false)
    (before, cellSkew(spark, path))
  }

  /** Top-k quantized cosine over the nprobe nearest cells only. */
  def probe(spark: SparkSession, path: String, idCol: String,
      query: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val cells = SimilarityOps.nearestCells(codebook(spark, path), query, nprobe)
    val qv = array(query.map(lit): _*)
    val qn = math.sqrt(query.map(x => x * x).sum.toDouble)
    TableLog.scan(spark, storeTable(path))
      .where(col("cell").isin(cells: _*)) // pruned by the files' cell stats
      .select(col(idCol),
        round(VF.dotLong(col("qe"), qv).cast("double") /
          (sqrt(VF.dotLong(col("qe"), col("qe")).cast("double")) * lit(qn))
          * 1000000).cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col(idCol))
      .limit(k)
  }
}
