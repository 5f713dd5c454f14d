package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of a registry query and time
  * two executions (cold + warm).
  *
  *   sbt "runMain graft.tools.Explain e2_minhash_pairs [/root/testdata/sf0.1]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionProfile.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = name match {
      // dev probes for sub-stages not in the registry
      case "dev:ivf_hits" =>
        // recall@10 probe for the label-IVF baseline vs brute force
        import org.apache.spark.sql.functions.col
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding")).head.getSeq[Float](0)
        val ivf = graft.operators.SimilarityOps
          .topKIvf(emb, "vec_id", "embedding", "label", q, k = 10, nprobe = 3)
          .select(col("vec_id").as("ivf_id"))
        graft.operators.SimilarityOps
          .topKCosine(emb, "vec_id", "embedding", q, k = 10)
          .join(ivf, col("vec_id") === col("ivf_id"), "left_semi")
      case "dev:jaccard_breakdown" =>
        // stage-by-stage timing of the verify pipeline's cache builds
        import org.apache.spark.sql.functions._
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = f
          println(f"[explain] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
          r
        }
        val ds = docs.select(col("doc_id").as("id"),
            graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
          .select(col("id"), array_distinct(
            graft.functions.TextFunctions.shinglesFromTokens(col("__toks"), 3)).as("__sh"))
          .select(col("id"), explode_outer(col("__sh")).as("s"))
          .where(col("s").isNotNull)
          .repartition(col("id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("ds build")(ds.count())
        val perDoc = ds
          .select(col("id"), graft.functions.TextExpressions.md5Halves(col("s")).as("__hh"))
          .select(col("id"), col("__hh.h1").as("h1"), col("__hh.h2").as("h2"))
          .groupBy("id")
          .agg(count(lit(1)).as("n"),
            (min(col("h1")).as("sig0") +: (1 until 4).map(b =>
              min(col("h1") + lit(b.toLong) * col("h2")).as(s"sig$b"))): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("perDoc build")(perDoc.count())
        val sigs = perDoc
          .select(col("id").as("__id"), explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"), col(s"sig$b").as("sig"))): _*)).as("bs"))
          .select(col("__id").as("id"), col("bs.band").as("band"),
            col("bs.sig").as("sig"))
        val pairs = graft.operators.DedupOps.candidatePairsFromSigs(sigs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("pairs build")(pairs.count())
        val sizes = perDoc.select(col("id"), col("n"))
        time("estimate join")(pairs
          .join(sizes.select(col("id").as("id_a"), col("n")), "id_a")
          .agg(coalesce(sum("n"), lit(0L))).head.getLong(0))
        time("full jaccardVerifiedPairs")(
          graft.operators.DedupOps.jaccardVerifiedPairs(docs, "doc_id", "text",
            bands = 4, thresholdMicro = 200000).count())
        spark.emptyDataFrame
      case "dev:semantic_breakdown" =>
        // where the corpus-derived-nlist Lloyd time goes at scale
        import org.apache.spark.sql.functions.col
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = f
          println(f"[explain] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
          r
        }
        val n = emb.count()
        val nlist = graft.operators.SimilarityOps.nlistFor(n)
        println(s"[explain] n=$n nlist=$nlist")
        // replicate lloydAssign stage by stage
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val quant = emb.select(col("vec_id"),
          graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0).as("qe"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("quant cache build")(quant.count())
        val seedRanks = (0 until nlist).map(j => j.toLong * n / nlist).toSet
        val seeds = time("seeds (global window sort + collect)")(quant
          .withColumn("r", row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .where(col("r").isin(seedRanks.toSeq: _*))
          .orderBy("r").collect().zipWithIndex
          .map { case (row, j) => (j.toLong, row.getSeq[Long](1).toArray, 1L) })
        def recompute(assigned: org.apache.spark.sql.DataFrame) =
          assigned.groupBy("cell")
            .agg(graft.functions.VectorSum.vectorSumLong(col("qe")).as("s"),
              count("*").as("c"))
            .collect()
            .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
            .sortBy(_._1)
        val c1 = time("pass1: assign(seeds) + aggregate + collect")(
          recompute(graft.operators.SimilarityOps.assignToCells(quant, "vec_id", seeds)))
        val c2 = time("pass2: assign(c1) + aggregate + collect")(
          recompute(graft.operators.SimilarityOps.assignToCells(quant, "vec_id", c1)))
        println(s"[explain] codebook cells: ${c2.length}")
        quant.unpersist()
        time("semanticDedupPairsAuto end-to-end (own fresh fit)")(
          graft.operators.SimilarityOps.semanticDedupPairsAuto(
            emb, "vec_id", "embedding", 400000).count())
        spark.emptyDataFrame
      case "dev:incembed_breakdown" =>
        // stage timing for incrementalEmbedDedup at scale (r11)
        import org.apache.spark.sql.functions._
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = f
          println(f"[explain] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
          r
        }
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val base = emb.where(col("vec_id") % 20 =!= 0)
        val batch = emb.where(col("vec_id") % 20 === 0)
        val t = java.nio.file.Files.createTempDirectory("graft_embprobe")
          .toString + "/idx"
        time("buildEmbedIndex")(graft.operators.DedupOps.buildEmbedIndex(
          spark, t, base, "vec_id", "embedding", "label"))
        val bits = graft.sinks.TableLog.snapshot(t).get.counters("bits").toInt
        println(s"[explain] bits=$bits")
        val bk = batch.select(col("vec_id").as("id"),
            concat(col("label").cast("string"), lit("|"),
              graft.functions.VectorFunctions.signBucket(col("embedding"), bits)).as("blk"),
            graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0).as("qe"))
          .withColumn("nrm", sqrt(graft.functions.VectorFunctions
            .dotLong(col("qe"), col("qe")).cast("double")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("bk persist")(bk.count())
        val keys = time("keys collect")(bk.select("blk")
          .where(col("blk").isNotNull).distinct()
          .collect().map(_.getString(0)).toSeq)
        println(s"[explain] distinct batch blocks: ${keys.size}")
        val idx = time("scan build")(graft.sinks.TableLog.scan(spark, t)
          .where(col("blk").isin(keys: _*)))
        time("idx scan rows")(println(s"[explain] idx rows: ${idx.count()}"))
        val crossCand = bk.join(idx.select(col("id").as("__iid"),
          col("blk"), col("qe").as("__iqe"), col("nrm").as("__inrm")), Seq("blk"))
          .where(col("__iid") =!= col("id"))
        time("cross candidates")(println(
          s"[explain] cross cand: ${crossCand.count()}"))
        time("cross verify")(println("[explain] cross verified: " +
          crossCand.where(round(graft.functions.VectorFunctions
            .dotLong(col("qe"), col("__iqe")).cast("double") /
            (col("nrm") * col("__inrm")) * 1000000).cast("long") >= 300000)
            .groupBy("id").agg(min("__iid")).count()))
        val b2 = bk.select(col("id").as("__bid"), col("blk"),
          col("qe").as("__bqe"), col("nrm").as("__bnrm"))
        time("within candidates+verify")(println("[explain] within: " +
          bk.join(b2, Seq("blk")).where(col("__bid") < col("id"))
            .where(round(graft.functions.VectorFunctions
              .dotLong(col("qe"), col("__bqe")).cast("double") /
              (col("nrm") * col("__bnrm")) * 1000000).cast("long") >= 300000)
            .groupBy("id").agg(min("__bid")).count()))
        spark.emptyDataFrame
      case "dev:minhash_bands" =>
        graft.operators.DedupOps.minhashBands(
          spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 4)
      case _ =>
        val t0 = System.nanoTime()
        val d = SparkEntry.queries(name)(spark, sfDir)
        println(f"[explain] construction (incl. any driver-side actions): ${(System.nanoTime() - t0) / 1e9}%.2fs")
        d
    }
    df.explain("formatted")
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] run$i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    if (sys.env.contains("SPARK_GRAFT_SHOW") || args.contains("show"))
      df.show(100, truncate = false)
    spark.stop()
  }
}
