package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Incremental-vs-rebuild observability for the persistent dedup index:
  * measures (a) the ONE-TIME index build over the base corpus, (b) the
  * per-batch incremental dedup (sign batch + probe index + append
  * survivors), and (c) what a non-incremental pipeline would redo on
  * every arriving batch — re-signing the whole corpus for candidate
  * pairs. The incremental claim is (b) ≪ (c) and (b) tracking BATCH
  * size while (c) tracks CORPUS size: the probe join still streams the
  * index, but the index carries `bands` longs per document — orders of
  * magnitude less I/O than re-reading and re-shingling the corpus text.
  *
  *   sbt "runMain graft.tools.IncStats /root/testdata/sf0.01 [embed]"
  *
  * Prints one JSON line. Batch = doc_id % 20 == 0 (5% of the corpus),
  * base = the rest, matching a daily-increment:lake ratio better than
  * the registry query's 25% demo batch. With the `embed` arg the same
  * protocol runs the EMBEDDING side (buildEmbedIndex /
  * incrementalEmbedDedup vs re-blocking the corpus with
  * embeddingNearDupsAuto).
  */
object IncStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = args.lift(1).getOrElse("text")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionProfile.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "compact") { runCompact(spark, sfDir); spark.stop(); return }
    if (mode == "bloom") { runBloom(spark, sfDir); spark.stop(); return }
    if (mode != "text") { runVec(spark, sfDir, mode); spark.stop(); return }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = docs.where(col("doc_id") % 20 =!= 0)
    val batch = docs.where(col("doc_id") % 20 === 0)
    val (nBase, nBatch) = (base.count(), batch.count())
    val t = java.nio.file.Files.createTempDirectory("graft_incstats")
      .toString + "/idx"
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (_, buildSec) = timed {
      DedupOps.buildSignatureIndex(spark, t, base, "doc_id", "text",
        bands = 4)
    }
    val (nDup, incSec) = timed {
      DedupOps.incrementalDedup(spark, t, batch, "doc_id", "text",
        bands = 4).where(col("dup")).count()
    }
    // the non-incremental alternative: every batch re-signs the WHOLE
    // corpus (base + batch) to recompute candidate pairs
    val (nPairs, rebuildSec) = timed {
      DedupOps.minhashCandidatePairs(docs, "doc_id", "text", bands = 4)
        .count()
    }
    println(s"""{"sf":"$sfDir","n_base":$nBase,"n_batch":$nBatch,""" +
      s""""build_sec":${f"$buildSec%.3f"},"incremental_sec":${f"$incSec%.3f"},""" +
      s""""rebuild_sec":${f"$rebuildSec%.3f"},"batch_dups":$nDup,""" +
      s""""full_pairs":$nPairs}""")
    spark.stop()
  }

  /** Compaction-benefit probe for the incremental semantic index: build
    * on half the corpus, fragment with 10 incremental batches (each
    * appends its own cell-clustered generation — the shape a continuous
    * ingest leaves), then measure a REPLAYED probe (same txn id → the
    * append inside is skipped, so the index is not mutated between
    * measurements; min of 3) and the snapshot's file count before vs
    * after `compactClustered`. Decisions are collected on both sides —
    * a layout-only rewrite changing any decision would be a bug, and
    * this reports it. */
  private def runCompact(spark: SparkSession, sfDir: String): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.where(col("vec_id") % 2 === 0)
    val t = java.nio.file.Files
      .createTempDirectory("graft_incstats_compact").toString + "/idx"
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    DedupOps.buildSemanticIndex(spark, t, base, "vec_id", "embedding")
    (1 to 19 by 2).foreach { i =>
      DedupOps.incrementalSemanticDedup(spark, t,
        emb.where(col("vec_id") % 20 === i), "vec_id", "embedding",
        400000L, txnId = Some(s"frag#$i")).count()
    }
    val probeBatch = emb.where(col("vec_id") % 20 === 1)
    def probe() = DedupOps.incrementalSemanticDedup(spark, t, probeBatch,
      "vec_id", "embedding", 400000L, txnId = Some("frag#1"))
    def dec() = probe().orderBy("vec_id").collect().map(_.toString).toSeq
    def probeSec() = (1 to 3)
      .map(_ => timed(probe().where(col("dup")).count())._2).min
    val filesBefore = graft.sinks.TableLog.snapshot(t).get.files.size
    val decBefore = dec()
    val before = probeSec()
    graft.sinks.TableLog.compactClustered(spark, t, nFiles = 4,
      clusterCol = "cell")
    val filesAfter = graft.sinks.TableLog.snapshot(t).get.files.size
    val decAfter = dec()
    val after = probeSec()
    println(s"""{"sf":"$sfDir","mode":"compact","files_before":$filesBefore,""" +
      s""""files_after":$filesAfter,"probe_before_sec":${f"$before%.3f"},""" +
      s""""probe_after_sec":${f"$after%.3f"},""" +
      s""""decisions_equal":${decBefore == decAfter}}""")
  }

  /** Bloom point-lookup benefit at the INGEST GRAIN (the bloom's honest
    * domain — saturated big-file blooms are omitted by design): a
    * 64-file TableLog table from a 5% slice, partitioned on the WRONG
    * key for the probe (l_orderkey layout, l_partkey probe — every
    * file's partkey range spans the domain), then a point lookup
    * through `scan` (bloom-pruned) vs the same predicate over the full
    * `read` (range stats blind → all files). Both sides return
    * identical rows; min of 3 each. */
  private def runBloom(spark: SparkSession, sfDir: String): Unit = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .where(col("l_orderkey") % 400 === 0)
    val t = java.nio.file.Files
      .createTempDirectory("graft_incstats_bloom").toString + "/t"
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    graft.sinks.TableLog.create(spark, t,
      li.repartition(64, col("l_orderkey")),
      statsCols = Seq("l_partkey"), bloomStatsCols = Seq("l_partkey"))
    // probe a MIDDLE key: every file's [min,max] partkey range contains
    // the median, so range stats keep ~everything and only the bloom
    // can prune
    val v = li.agg(expr("approx_percentile(l_partkey, 0.5)"))
      .head.getLong(0)
    val snapFiles = graft.sinks.TableLog.snapshot(t).get.files
    val nFiles = snapFiles.size
    val nBloomed = snapFiles.count(_.strStats.exists(
      _.col == "bloom:l_partkey"))
    // files opened: the equality prunes by range and bloom, the
    // one-value range by range stats alone
    val lookup = graft.sinks.TableLog.scan(spark, t)
      .where(col("l_partkey") === v)
    val kept = lookup.inputFiles.length
    val rangeKept = graft.sinks.TableLog.scan(spark, t)
      .where(col("l_partkey").between(v, v)).inputFiles.length
    def point() = lookup.count()
    def full() = graft.sinks.TableLog.read(spark, t)
      .where(col("l_partkey") === v).count()
    val n1 = point(); val n2 = full()
    require(n1 == n2, s"bloom pruning changed the answer: $n1 != $n2")
    val pointSec = (1 to 3).map(_ => timed(point())._2).min
    val fullSec = (1 to 3).map(_ => timed(full())._2).min
    println(s"""{"sf":"$sfDir","mode":"bloom","files":$nFiles,""" +
      s""""files_bloomed":$nBloomed,""" +
      s""""files_bloom_kept":$kept,"files_range_kept":$rangeKept,""" +
      s""""rows":$n1,"point_sec":${f"$pointSec%.3f"},""" +
      s""""full_sec":${f"$fullSec%.3f"}}""")
  }

  private def runVec(spark: SparkSession, sfDir: String,
      mode: String): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.where(col("vec_id") % 20 =!= 0)
    val batch = emb.where(col("vec_id") % 20 === 0)
    val (nBase, nBatch) = (base.count(), batch.count())
    val t = java.nio.file.Files.createTempDirectory(s"graft_incstats_$mode")
      .toString + "/idx"
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val th = if (mode == "embed") 300000L else 400000L
    val (_, buildSec) = timed {
      if (mode == "embed")
        DedupOps.buildEmbedIndex(spark, t, base, "vec_id", "embedding",
          "label")
      else
        DedupOps.buildSemanticIndex(spark, t, base, "vec_id", "embedding")
    }
    val (nDup, incSec) = timed {
      (if (mode == "embed")
        DedupOps.incrementalEmbedDedup(spark, t, batch, "vec_id",
          "embedding", "label", th)
      else
        DedupOps.incrementalSemanticDedup(spark, t, batch, "vec_id",
          "embedding", th))
        .where(col("dup")).count()
    }
    // the non-incremental alternative: re-block/re-fit and re-pair the
    // WHOLE corpus per arriving batch
    val (nPairs, rebuildSec) = timed {
      (if (mode == "embed")
        DedupOps.embeddingNearDupsAuto(emb, "vec_id", "embedding",
          "label", th)
      else
        graft.operators.SimilarityOps.semanticDedupPairsAuto(emb,
          "vec_id", "embedding", th))
        .count()
    }
    println(s"""{"sf":"$sfDir","mode":"$mode","n_base":$nBase,""" +
      s""""n_batch":$nBatch,"build_sec":${f"$buildSec%.3f"},""" +
      s""""incremental_sec":${f"$incSec%.3f"},""" +
      s""""rebuild_sec":${f"$rebuildSec%.3f"},"batch_dups":$nDup,""" +
      s""""full_pairs":$nPairs}""")
  }
}
