package graft.operators

import graft.functions.{VectorFunctions => VF}
import graft.sinks.TableLog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E3 — similarity search over an embedding column (`ArrayType(FloatType)`).
  *
  * Baseline: brute-force cosine top-k — one narrow pass over all vectors
  * (the query vector is a literal folded into the plan; no join, no shuffle
  * except the final k-row ordering, which Spark executes as a per-partition
  * `TakeOrderedAndProject` + driver merge of k-row heaps: exactly the
  * pattern that survives 1000 executors).
  *
  * Scale path: sign-bucket LSH — restrict the scan to vectors sharing the
  * query's hyperplane-sign bucket; with b bits the candidate set shrinks
  * ~2^b×, and the bucket id is an exact (FP-free) partition/filter key that
  * parquet min/max stats can prune on when data is written bucketed.
  */
object SimilarityOps {

  /** Query vector as a plan literal (broadcast-free: it travels in the
    * serialized plan, not as a join side). Works for any literal element
    * type (Float, Long, ...). */
  def vecLit[T](v: Seq[T]): Column = array(v.map(x => lit(x)): _*)

  /** Brute-force cosine top-k. Returns (id, cos) rounded to 6dp, ordered
    * by similarity desc with id tiebreak. */
  def topKCosine(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame =
    df.select(col(idCol),
        round(VF.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** LSH-bucketed ANN: same ranking, but only vectors whose `bits`-bit sign
    * bucket equals the query's. Approximate — recall depends on bits. */
  def topKSignBucket(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, bits: Int): DataFrame = {
    val queryBucket = query.take(bits).map(x => if (x >= 0f) "1" else "0").mkString
    df.where(VF.signBucket(col(vecCol), bits) === lit(queryBucket))
      .select(col(idCol),
        round(VF.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF with TRAINED centroids: k-means (fixed seed) learns `nlist` cells
    * from the data itself — the full IVF build+search loop, vs `topKIvf`
    * which reuses a pre-existing partition label. Train on the embedding
    * column, assign every vector its nearest cell, then probe the `nprobe`
    * cells nearest the query and exact-rank only inside them. At scale the
    * model trains on a sample, the assignment is one narrow pass, and
    * writing the table partitioned by `cell` makes every later query read
    * only probed partitions. Returns (id, cos) like the other ANN paths. */
  def topKIvfKmeans(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nlist: Int, nprobe: Int,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // cached: k-means makes one pass per iteration (plus k-means|| init),
    // and without a cache every pass re-reads + re-converts the vectors
    val feats = df.select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
      .cache()
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("cell")
      // coarse quantizer, not a clustering deliverable: IVF recall needs
      // roughly-balanced cells, which early iterations already give —
      // default 20 iterations triples train time for no search benefit
      .setMaxIter(8)
      .fit(feats)
    // fit is eager and was the multi-pass consumer; release the cache so
    // it doesn't pin the vector table for the session's lifetime (the lazy
    // transform below re-reads the source once — a narrow pass)
    feats.unpersist(blocking = false)
    val assigned = model.transform(feats) // narrow: broadcast centroids
    val queryCells = model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val d2 = c.toArray.zip(query.map(_.toDouble))
          .map { case (a, b) => val d = a - b; d * d }.sum
        (i, d2)
      }
      .sortBy { case (i, d2) => (d2, i) }
      .take(nprobe).map(_._1).toSeq
    assigned
      .where(col("cell").isin(queryCells: _*))
      .select(col(idCol),
        round(VF.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF with a TRAINED quantizer that stays ORACLE-CHECKABLE end to end:
    * deterministic k-means (Lloyd) over 1e3-quantized integer vectors —
    * seeds are the vectors at evenly-spaced id-ranks (rank `j*n/nlist`),
    * every distance is the exact-integer form Σ(c·p_i − s_i)² with ONE
    * final IEEE double division by c² (identical in any engine, see
    * `exactProbeCells`), ties break on lower cell id. Two Lloyd passes,
    * then probe the `nprobe` cells nearest the query and exact-rank inside
    * them by integer-dot cosine. No RNG, no float accumulation ⇒ the whole
    * build+search is reproducible in plain SQL (the DuckDB oracle runs the
    * identical iterations), unlike the MLlib path (`topKIvfKmeans`) whose
    * k-means|| init is seeded-random and float.
    *
    * Scale shape: per pass, assignment is a narrow map (centroids are a
    * driver-collected nlist-row array folded into the plan — IVF codebooks
    * are small by construction) and the recompute is one map-side-combined
    * aggregate of (Σvec, count) per cell. The quantized relation is
    * persisted across the training passes and released before the final
    * scan. The id-rank seeding sorts a single column once; at 100 TB the
    * training input would be a bounded sample (fit-on-sample,
    * assign-everything — the standard IVF build), which this mirrors. */
  /** The deterministic two-pass Lloyd fit extracted from
    * topKIvfLloydExact (same seeds, distances, tie-breaks — the DuckDB
    * oracles retrain it identically): returns the cell assignment
    * relation (`idCol`, `qe`, `cell`) and the aggregated codebook
    * (cell, Σvec, count). Reused by semanticDedupPairs, where the
    * trained cells serve as dedup blocking keys instead of probe
    * targets. */
  /** `fitSampleTarget > 0` = FIT-ON-SAMPLE, ASSIGN-EVERYTHING (the
    * standard IVF build at scale): seeds and both Lloyd passes run over
    * a deterministic md5-bucket sample of ~fitSampleTarget rows
    * (id-keyed, so any SQL oracle selects the identical rows), and only
    * the single final assignment touches the full corpus. With
    * corpus-derived nlist the fit passes are the n·nlist·d term that
    * dominates wall-clock (measured 10.7s of 15s at sf10) — sampling
    * caps them at fitSampleTarget·nlist·d while the blocking/search
    * quality keeps ~fitSampleTarget/nlist points per cell. 0 = fit on
    * everything (exact two-pass Lloyd, the default). */
  /** One (Σvec, count) aggregate pass over an assigned relation —
    * the codebook/centroid recompute, driver-collected (nlist rows). */
  private def recomputeCentroids(assigned: DataFrame)
      : Array[(Long, Array[Long], Long)] =
    assigned.groupBy("cell")
      .agg(graft.functions.VectorSum.vectorSumLong(col("qe")).as("s"),
        count("*").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)

  /** The Lloyd FIT alone: seeds + one refinement pass, over the fit
    * sample when `fitSampleTarget > 0` (see lloydAssign's scaladoc) —
    * returns the c1 centroids without touching the rest of the corpus.
    * Callers that only need the cell BLOCKING (semantic dedup) pair
    * this with one `assignToCells` pass and skip the codebook
    * aggregate entirely. */
  def lloydFit(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, fitSampleTarget: Long = 0L)
      : Array[(Long, Array[Long], Long)] = {
    import graft.functions.QuantizeVector
    val n = df.count()
    require(n >= nlist, s"need at least $nlist vectors, got $n")
    // the sampling filter runs BEFORE quantization so unsampled rows are
    // never touched
    val fitRows = sampleByIdHash(df, idCol, n, fitSampleTarget)
    fitFromQuant(fitRows
      .select(col(idCol), QuantizeVector.quantize(col(vecCol), 1000.0).as("qe")),
      idCol, nlist)
  }

  /** lloydFit over an ALREADY-QUANTIZED (`idCol`, qe) relation — the
    * store-rebalance path, where the persisted cells hold qe and the raw
    * float vectors are gone. Same seeds, same refinement, same sampling
    * idiom (here the filter has no pre-quantization work to skip). */
  def lloydFitQuant(quant: DataFrame, idCol: String,
      nlist: Int, fitSampleTarget: Long = 0L)
      : Array[(Long, Array[Long], Long)] = {
    val n = quant.count()
    require(n >= nlist, s"need at least $nlist vectors, got $n")
    fitFromQuant(
      sampleByIdHash(quant, idCol, n, fitSampleTarget).select(col(idCol), col("qe")),
      idCol, nlist)
  }

  /** lloydAssign from a quantized relation: fit (possibly on a sample),
    * assign everything, aggregate the full-assignment codebook. */
  def lloydAssignQuant(quant: DataFrame, idCol: String,
      nlist: Int, fitSampleTarget: Long = 0L)
      : (DataFrame, Array[(Long, Array[Long], Long)]) = {
    val c1 = lloydFitQuant(quant, idCol, nlist, fitSampleTarget)
    val c2 = recomputeCentroids(assignToCells(quant, idCol, c1))
    (assignToCells(quant, idCol, c1), c2)
  }

  /** md5-bucket sampling (the e10_sample_strata idiom): deterministic in
    * the id alone — no global sort, oracle-identical row selection. */
  private def sampleByIdHash(df: DataFrame, idCol: String,
      n: Long, target: Long): DataFrame = {
    val step = if (target <= 0) 1L else math.max(1L, n / target)
    if (step == 1L) df
    else df.where(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long") % step === 0)
  }

  /** Seeds + one refinement pass over a quantized fit relation. */
  private def fitFromQuant(fitIn: DataFrame, idCol: String, nlist: Int)
      : Array[(Long, Array[Long], Long)] = {
    import org.apache.spark.sql.expressions.Window
    val fit = fitIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = fit.count()
    require(m >= nlist,
      s"fit sample has $m rows < nlist $nlist — raise fitSampleTarget")

    // seeds: the fit relation's vectors at id-ranks j*m/nlist
    val seedRanks = (0 until nlist).map(j => j.toLong * m / nlist).toSet
    val seeds: Array[(Long, Array[Long], Long)] = fit
      .withColumn("r", row_number().over(Window.orderBy(col(idCol))) - 1)
      .where(col("r").isin(seedRanks.toSeq: _*))
      .orderBy("r")
      .collect()
      .zipWithIndex
      .map { case (row, j) => (j.toLong, row.getSeq[Long](1).toArray, 1L) }

    val c1 = recomputeCentroids(assignToCells(fit, idCol, seeds))
    fit.unpersist(blocking = false)
    c1
  }

  def lloydAssign(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, fitSampleTarget: Long = 0L)
      : (DataFrame, Array[(Long, Array[Long], Long)]) = {
    import graft.functions.QuantizeVector
    val c1 = lloydFit(df, idCol, vecCol, nlist, fitSampleTarget)
    val quant = df
      .select(col(idCol), QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
    // the codebook (c2) aggregates the FULL final assignment, so it
    // reflects every vector whether or not the fit was sampled
    val c2 = recomputeCentroids(assignToCells(quant, idCol, c1))
    (assignToCells(quant, idCol, c1), c2)
  }

  /** One Lloyd assignment pass over a quantized (`idCol`, qe) relation:
    * nearest centroid as a pure projection via the codegen
    * `NearestCellLong` expression — one tight O(nlist·dim) primitive
    * loop per row, plan size independent of nlist (the former
    * nlist-element HOF array collapsed under corpus-derived nlist).
    * Centroids stay exact (Σvec, count) integer pairs; distance
    * Σ(c·p−s)²/c² with one double division, ties to the lower cell id
    * (bit-identical to the SQL-retrained oracles). */
  def assignToCells(quant: DataFrame, idCol: String,
      cents: Array[(Long, Array[Long], Long)]): DataFrame =
    quant.select(col(idCol), col("qe"),
      graft.functions.NearestCellLong.nearestCell(col("qe"), cents).as("cell"))

  /** The `nprobe` codebook cells nearest `query` — driver math over the
    * nlist-row codebook, same exact-integer d2 and (d2, cell) order as
    * the assignment pass. */
  def nearestCells(cents: Array[(Long, Array[Long], Long)],
      query: Seq[Long], nprobe: Int): Seq[Long] =
    cents.map { case (cell, sv, c) =>
      var d2 = 0L
      var i = 0
      while (i < sv.length) { val d = c * query(i) - sv(i); d2 += d * d; i += 1 }
      (d2.toDouble / (c * c).toDouble, cell)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq

  def topKIvfLloydExact(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Long], k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val (assigned, c2) = lloydAssign(df, idCol, vecCol, nlist)

    // probe choice on the collected codebook — same exact-integer d2, same
    // (d2, cell) order as the oracle SQL
    val probed = nearestCells(c2, query, nprobe)

    val qv = vecLit(query)
    assigned // candidate membership comes from the SAME assignment c2 aggregated
      .where(col("cell").isin(probed: _*))
      .select(col(idCol),
        round(VF.dotLong(col("qe"), qv).cast("double") /
          (sqrt(VF.dotLong(col("qe"), col("qe")).cast("double")) *
           math.sqrt(query.map(x => x * x).sum.toDouble)) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col(idCol))
      .limit(k)
  }

  /** Previous semanticDedupPairs call's persisted assignment (next-call
    * release, same lifecycle as DedupOps.jaccardPrevCaches). */
  private var semanticPrevCaches: Seq[DataFrame] = Nil

  /** Release the last semantic-dedup call's persisted assignment now
    * instead of on the next call (long-lived-session shutdown hook,
    * same contract as DedupOps.releaseJaccardCaches). */
  def releaseSemanticCaches(): Unit = synchronized {
    semanticPrevCaches.foreach(_.unpersist(blocking = false))
    semanticPrevCaches = Nil
  }

  // ── persisted IVF cell stores (AnnStoreOps' store, DedupOps' semantic
  // index): a TableLog table range-clustered by `cell` with `cell`
  // stats, whose codebook is a sibling TableLog table the store pins by
  // version in its `cbv` counter ──

  /** `df` range-clustered by `cell`: each written file covers a tight
    * cell range, so a `scan(...).where(cell IN (…))` probe opens only
    * the files of the probed cells. `files` fixes the file count (the
    * ANN store writes one file per cell range); by default AQE sizes
    * the partitions. */
  def clusterByCell(df: DataFrame, files: Option[Int] = None): DataFrame =
    files.fold(df.repartitionByRange(col("cell")))(
      df.repartitionByRange(_, col("cell"))).sortWithinPartitions("cell")

  /** A codebook as its one-file table frame (cell, s, c). */
  private[operators] def codebookFrame(spark: SparkSession,
      cents: Array[(Long, Array[Long], Long)]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (cell, s, c) => (cell, s.toSeq, c) }
      .toDF("cell", "s", "c").coalesce(1)
  }

  /** Commit `cents` as the codebook table's whole content — version 1 of
    * a fresh table, else one rewrite replacing the previous codebook —
    * and return the committed version: the `cbv` a store pins. Older
    * versions stay readable for stores still pinning them. */
  def commitCodebook(spark: SparkSession, codebookTable: String,
      cents: Array[(Long, Array[Long], Long)]): Long = {
    val df = codebookFrame(spark, cents)
    if (TableLog.latestVersion(codebookTable) == 0L)
      TableLog.create(spark, codebookTable, df)
    else TableLog.rewrite(spark, codebookTable, "codebook",
      expectRows = _ => None)(_ => df)
  }

  /** The codebook `store` pins (its `cbv` counter; the codebook table's
    * latest version when unpinned), driver-side and sorted by cell. */
  def pinnedCodebook(spark: SparkSession, store: String,
      codebookTable: String): Array[(Long, Array[Long], Long)] = {
    val cbv = TableLog.snapshot(store).flatMap(_.counters.get("cbv"))
      .getOrElse(TableLog.latestVersion(codebookTable))
    TableLog.readVersion(spark, codebookTable, cbv)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
  }

  /** Cell-balance metric of a store: max cell rows / mean cell rows
    * (1.0 = even). Driver-bounded — one count per cell. */
  def cellSkew(spark: SparkSession, store: String): Double = {
    val counts = TableLog.read(spark, store)
      .groupBy("cell").count().collect().map(_.getLong(1))
    counts.max.toDouble * counts.length / counts.sum.toDouble
  }

  /** Data-driven cell count for Lloyd-blocked operators:
    * nlist = clamp(n / targetCellRows, 2, 4096). Within-cell pair work
    * is O(n²/nlist), so holding the TARGET CELL SIZE constant (rather
    * than nlist) keeps pair work linear in n — the parameterization the
    * fixed-nlist form lacks (measured: nlist=8 gave 4.7× time for 3×
    * data). Integer arithmetic only, so any SQL oracle derives the
    * identical value from count(*). */
  def nlistFor(n: Long, targetCellRows: Long = 64L): Int =
    math.max(2L, math.min(4096L, n / targetCellRows)).toInt

  /** semanticDedupPairs with nlist DERIVED from the corpus size (one
    * count job) and the Lloyd fit run on a ~20-rows-per-cell sample
    * (fit-on-sample, assign-everything): the scale-safe default entry
    * point. */
  def semanticDedupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      thresholdMicro: Long, targetCellRows: Long = 64L): DataFrame = {
    val nlist = nlistFor(df.count(), targetCellRows)
    semanticDedupPairs(df, idCol, vecCol, nlist, thresholdMicro,
      fitSampleTarget = nlist.toLong * 20L)
  }

  /** SemDeDup-shaped semantic deduplication: cluster the embedding space
    * with the deterministic Lloyd fit, then compare pairs ONLY within a
    * cluster — the trained cells are the blocking keys that keep the
    * candidate set ~nlist× smaller than all-pairs while catching the
    * near-duplicates that exact/MinHash text dedup misses (paraphrases,
    * re-encodes). Output: (id_a < id_b, cos_micro) pairs with quantized
    * cosine ≥ thresholdMicro — exact integer dots, so fully
    * SQL-oracle-able including the retrained clustering.
    *
    * Scale shape: fit is two map-side-combined passes (fit-on-sample at
    * 100 TB); the pair join shuffles once on `cell` and each cell's pair
    * expansion is local. Within-cell pair work is O(n²/nlist), so nlist
    * must GROW with the corpus to hold cell sizes constant (measured:
    * fixed nlist=8 gives 4.1x time for 3x data at sf1→sf3 — exactly the
    * n²/nlist curve); skewed cells = dense embedding regions; cap them
    * upstream (sample within cell) if a corpus degenerates. */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, thresholdMicro: Long, fitSampleTarget: Long = 0L): DataFrame = {
    // fit + ONE full assignment pass — the blocking needs no codebook,
    // so lloydAssign's c2 aggregate (a second full pass) is skipped
    val c1 = lloydFit(df, idCol, vecCol, nlist, fitSampleTarget)
    val quant = df.select(col(idCol),
      graft.functions.QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
    val cells = assignToCells(quant, idCol, c1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized {
      semanticPrevCaches.foreach(_.unpersist(blocking = false))
      semanticPrevCaches = Seq(cells)
    }
    val a = cells.select(col("cell"), col(idCol).as("id_a"), col("qe").as("qa"))
    val b = cells.select(col("cell"), col(idCol).as("id_b"), col("qe").as("qb"))
    a.join(b, "cell")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_micro",
        round(VF.dotLong(col("qa"), col("qb")).cast("double") /
          (sqrt(VF.dotLong(col("qa"), col("qa")).cast("double")) *
           sqrt(VF.dotLong(col("qb"), col("qb")).cast("double"))) * 1000000)
          .cast("long"))
      .where(col("cos_micro") >= thresholdMicro)
      .select("id_a", "id_b", "cos_micro")
  }

  /** The nprobe cells nearest `query` under EXACT integer centroid math:
    * centroids stay (Σ quantized-vector, count) pairs and the distance is
    * Σ(c·q − s)² / c² — exact integer numerator, so the probe choice is
    * bit-reproducible in any engine. */
  def exactProbeCells(quant: DataFrame, labelCol: String, query: Seq[Long],
      nprobe: Int): DataFrame = {
    val qv = vecLit(query)
    // single-pass element-wise sum aggregate (one long[] per group), not
    // d separate sum(element_at) aggregates
    val centroids = quant.groupBy(col(labelCol))
      .agg(graft.functions.VectorSum.vectorSumLong(col("qe")).as("s"),
        count("*").as("c"))
    centroids
      .select(col(labelCol),
        // Σ(c·q_i − s_i)² / c²  — exact integer numerator
        aggregate(
          zip_with(qv, col("s"), (q, s) => {
            val d = col("c") * q - s; d * d
          }),
          lit(0L), (acc, x) => acc + x).cast("double")
          ./(col("c").cast("double") * col("c").cast("double")).as("d2"))
      .orderBy(col("d2"), col(labelCol))
      .limit(nprobe)
      .select(labelCol)
  }

  /** IVF over EXACT integer centroids: cells come from `labelCol` as in
    * `topKIvf`, but centroids are kept as (Σ quantized-vector, count) —
    * never divided into floats — so the probe choice is bit-reproducible
    * and the whole query is oracle-checkable (`topKIvf`'s float AVG
    * centroids are not hash-stable cross-engine). Same two-stage scale
    * shape — tiny centroid aggregate, broadcast probe filter, fine ranking
    * only inside probed cells. */
  def topKIvfExact(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, query: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    import graft.functions.QuantizeVector
    val qv = vecLit(query)
    val quant = df.select(col(idCol), col(labelCol),
      QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
    val probed = exactProbeCells(quant, labelCol, query, nprobe)
    quant.join(broadcast(probed), labelCol)
      .select(col(idCol),
        round(VF.dotLong(col("qe"), qv).cast("double") /
          (sqrt(VF.dotLong(col("qe"), col("qe")).cast("double")) *
           math.sqrt(query.map(x => x * x).sum.toDouble)) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col(idCol))
      .limit(k)
  }


  /** IVF-style two-stage ANN: coarse quantize by `labelCol` (pre-clustered
    * partition, e.g. k-means cell), pick the `nprobe` labels whose centroid
    * is nearest the query, then exact-rank only within those labels. The
    * centroid table is tiny (one row per label) → computed in one shuffle,
    * auto-broadcast back; the fine scan reads only probed partitions. */
  def topKIvf(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val dim = query.length
    val centroids = df.groupBy(col(labelCol))
      .agg(array((0 until dim).map(i =>
        avg(element_at(col(vecCol), i + 1))): _*).as("centroid"))
    val probed = centroids
      .select(col(labelCol), VF.l2Sq(col("centroid").cast("array<float>"),
        vecLit(query)).as("d2"))
      .orderBy(col("d2"), col(labelCol))
      .limit(nprobe)
      .select(labelCol)
    df.join(broadcast(probed), labelCol)
      .select(col(idCol),
        round(VF.cosine(col(vecCol), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
