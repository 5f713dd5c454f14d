package graft

import graft.operators.{AnnStoreOps, SimilarityOps}
import graft.sinks.TableLog
import org.apache.spark.sql.functions._

/** Lifecycle contract of the persistent cell-clustered ANN store:
  * build trains + writes store/codebook, append assigns with the STORED
  * codebook (no retrain), probe opens only the files of the probed
  * cells and sees appended vectors. */
class AnnStoreSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/ann"

  private def queryVec(sfDir: String): Seq[Long] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") === 0)
      .select(graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0))
      .head.getSeq[Long](0)

  test("build → probe is partition-pruned and ranks by quantized cosine") {
    val path = tmp("graft_ann_build")
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    AnnStoreOps.build(spark, path, emb, "vec_id", "embedding", nlist = 8)
    // codebook persisted: 8 cells, counts sum to corpus size
    val cb = AnnStoreOps.codebook(spark, path)
    assert(cb.length == 8 && cb.map(_._3).sum == emb.count())
    val q = queryVec(sf("0.001"))
    val top = AnnStoreOps.probe(spark, path, "vec_id", q, k = 10, nprobe = 3)
    // the probe opens fewer files than the store holds, and only files
    // whose `cell` range meets a probed cell
    val cells = SimilarityOps.nearestCells(cb, q, 3)
    val files = TableLog.snapshot(s"$path/store").get.files
    val meets = files.filter(f => f.stats.find(_.col == "cell")
        .exists(st => cells.exists(c => c >= st.min && c <= st.max)))
      .map(f => TableLog.lastTwo(f.path)).toSet
    val opened = filesOpened(top)
    assert(opened.nonEmpty && opened.size < files.size,
      s"probe of cells $cells opened ${opened.size} of ${files.size} files")
    assert(opened.toSet.subsetOf(meets), s"$opened vs $meets")
    val rows = top.collect()
    assert(rows.length == 10)
    // the query vector itself lives in a probed cell → rank 1, cos = 1.0
    assert(rows.head.getLong(0) == 0L && rows.head.getLong(1) == 1000000L)
    // scores are non-increasing
    val scores = rows.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("streaming micro-batches append through the stored codebook") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val path = tmp("graft_ann_stream")
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    AnnStoreOps.build(spark, path, emb, "vec_id", "embedding", nlist = 8)
    val before = TableLog.read(spark, s"$path/store").count()
    // two micro-batches: clones of vec 0 under fresh ids
    val v0 = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Long]
    val stream = mem.toDF().select(col("value").as("vec_id"),
      typedLit(v0).as("embedding"))
    // shared checkpoint: the second run resumes at the committed offset
    // instead of replaying the stream from scratch
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_ann_ckpt").toString)
    mem.addData(1000001L)
    AnnStoreOps.appendStream(spark, path, stream, "vec_id", "embedding", ckpt)
    mem.addData(1000002L)
    AnnStoreOps.appendStream(spark, path, stream, "vec_id", "embedding", ckpt)
    assert(TableLog.read(spark, s"$path/store").count() == before + 2)
    val q = queryVec(sf("0.001"))
    val top = AnnStoreOps.probe(spark, path, "vec_id", q, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top.take(3).toSeq ==
      Seq((0L, 1000000L), (1000001L, 1000000L), (1000002L, 1000000L)))
  }

  test("rebalance halves skew on a drifted corpus; store content and probe stay exact") {
    val path = tmp("graft_ann_rebal")
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    AnnStoreOps.build(spark, path, emb, "vec_id", "embedding", nlist = 8)
    // drift: append 2× the corpus from a region the build never saw —
    // every appended vector assigns to the few stale cells nearest the
    // clump, so the layout degenerates toward one giant cell
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val drift = spark.range(1000)
      .select((col("id") + 100000L).as("vec_id"),
        array((0 until dim).map {
          case 0 => lit(40.0f) + (col("id") % 29).cast("float")
          case 1 => lit(40.0f) + (col("id") % 31).cast("float")
          case _ => lit(40.0f)
        }: _*).as("embedding"))
    AnnStoreOps.append(spark, path, drift, "vec_id", "embedding")
    val total = TableLog.read(spark, s"$path/store").count()
    val (before, after) = AnnStoreOps.rebalance(spark, path)
    assert(before > 3.0, s"drift setup should be badly skewed, got $before")
    assert(after <= before / 2,
      s"rebalance should at least halve skew: $before -> $after")
    // content preserved exactly: same row count, same id set
    assert(TableLog.read(spark, s"$path/store").count() == total)
    assert(TableLog.read(spark, s"$path/store")
      .agg(sum("vec_id")).head.getLong(0) ==
      emb.agg(sum("vec_id")).head.getLong(0) +
        (100000L until 101000L).sum)
    // codebook cell count derived from today's corpus, counts cover it
    val cb = AnnStoreOps.codebook(spark, path)
    assert(cb.length <= graft.operators.SimilarityOps.nlistFor(total) &&
      cb.map(_._3).sum == total)
    // probe still exact after the rewrite: a drift-clump query vector
    // finds its exact member at cos 1.0 through the NEW partition pruning
    val q = drift.where(col("vec_id") === 100000L)
      .select(graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0))
      .head.getSeq[Long](0)
    val top = AnnStoreOps.probe(spark, path, "vec_id", q, k = 1, nprobe = 2)
      .collect()
    assert(top.head.getLong(0) == 100000L && top.head.getLong(1) == 1000000L,
      top.mkString(","))
  }

  test("append assigns with the stored codebook; probe finds the new vector") {
    val path = tmp("graft_ann_append")
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    AnnStoreOps.build(spark, path, emb, "vec_id", "embedding", nlist = 8)
    val cbBefore = AnnStoreOps.codebook(spark, path)
    // append an exact copy of vec 0 under a fresh id — it must land in
    // vec 0's cell and probe at cos 1.0
    val clone = emb.where(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    AnnStoreOps.append(spark, path, clone, "vec_id", "embedding")
    // appending never retrains: codebook is byte-identical
    assert(AnnStoreOps.codebook(spark, path).toSeq.map(t =>
      (t._1, t._2.toSeq, t._3)) ==
      cbBefore.toSeq.map(t => (t._1, t._2.toSeq, t._3)))
    val q = queryVec(sf("0.001"))
    val top = AnnStoreOps.probe(spark, path, "vec_id", q, k = 3, nprobe = 2)
      .collect()
    // both the original and the clone score 1.0; ids ascending on ties
    assert(top.map(r => (r.getLong(0), r.getLong(1))).take(2).toSeq ==
      Seq((0L, 1000000L), (999999L, 1000000L)))
  }
}
