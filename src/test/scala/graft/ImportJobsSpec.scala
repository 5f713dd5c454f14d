package graft

import graft.pipelines.Pipelines
import graft.sinks.ParquetSink
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The importer's Spark job budget over the fixture studies: every input
  * file is scanned once, by one job, for all the outputs it feeds; a
  * combined table is copied on the driver, with no job; and a write that
  * fails leaves nothing behind. */
class ImportJobsSpec extends SparkSpec {

  val studies = "src/test/resources/studies"

  /** The fixture studies with a second CNA matrix, under study_b. */
  private def hub(): Path = {
    val tmp = Files.createTempDirectory("graft_jobs")
    for ((st, names) <- Seq(
        "study_a" -> Seq("meta_cna.txt", "data_cna.txt", "meta_mutations.txt",
          "data_mutations.txt"),
        "study_b" -> Seq("meta_mutations.txt", "data_mutations.txt"))) {
      Files.createDirectories(tmp.resolve(st))
      names.foreach(n => Files.copy(Paths.get(s"$studies/$st/$n"), tmp.resolve(s"$st/$n")))
    }
    Files.copy(Paths.get(s"$studies/study_a/data_cna.txt"), tmp.resolve("study_b/data_cna.txt"))
    Files.writeString(tmp.resolve("study_b/meta_cna.txt"),
      "cancer_study_identifier: study_b\nstable_id: gistic\ndata_filename: data_cna.txt\n")
    tmp
  }

  private def localBytesRead: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** `f`'s result, the Spark jobs it ran, and the bytes it read through
    * the local Hadoop filesystem (what a file scan reads). */
  private def measured[T](f: => T): (T, Int, Long) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    val before = localBytesRead
    try {
      val r = f
      val read = localBytesRead - before
      Bridge.waitListenerBusEmpty(spark)
      (r, jobs.get, read)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("each CNA matrix and each MAF is scanned once, by one job, for all its outputs; combine runs no job") {
    val root = hub()
    val cnaFiles = Seq("study_a", "study_b").map(st => root.resolve(s"$st/data_cna.txt"))
    val mafFiles = Seq("study_a", "study_b").map(st => root.resolve(s"$st/data_mutations.txt"))

    val (cna, cnaJobs, cnaRead) = measured(
      Pipelines.convertCna(spark, root.toString, withDerived = true))
    assert(cna.size == 6)
    assert(cnaJobs <= 2, s"convertCna: $cnaJobs jobs for 2 matrices")
    assert(cnaRead == cnaFiles.map(Files.size).sum, s"convertCna read $cnaRead bytes")

    val (mut, mutJobs, mutRead) = measured(Pipelines.convertMutations(spark, root.toString))
    assert(mut.size == 4)
    assert(mutJobs <= 4, s"convertMutations: $mutJobs jobs for 2 MAFs")
    assert(mutRead == mafFiles.map(Files.size).sum, s"convertMutations read $mutRead bytes")

    val gathered = Files.createDirectories(root.resolve("gathered"))
    (cna ++ mut).foreach { o =>
      val p = Paths.get(o)
      Files.move(p, gathered.resolve(p.getFileName))
    }
    val (cnaCombined, cnaCombineJobs, _) = measured(Pipelines.combine(
      spark, gathered.toString, "combined", Pipelines.cnaDerivedSuffixes))
    assert(cnaCombineJobs == 0, s"combine: $cnaCombineJobs jobs for 3 tables")
    val (mutCombined, mutCombineJobs, _) = measured(Pipelines.combine(
      spark, gathered.toString, "combined", Pipelines.mutationSuffixes))
    assert(mutCombineJobs == 0, s"combine: $mutCombineJobs jobs for 2 tables")
    assert((cnaCombined ++ mutCombined).map(spark.read.parquet(_).count()) ==
      Seq(4L, 2L, 12L, 5L, 5L))
  }

  test("a write that fails leaves neither a partial output nor a staging directory") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = Files.createTempDirectory("graft_fail")
    val src = spark.range(0, 1000, 1, 4).select(
      when(col("id") === 900, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    val outs = Seq("a", "b").map(n => dir.resolve(s"t_$n.parquet").toString)
    intercept[Exception](ParquetSink.write(src, outs.map(_ -> ((d: org.apache.spark.sql.DataFrame) => d)),
      singleFile = false))
    assert(Files.list(dir).count() == 0)
    // an existing output is replaced only by a write that succeeded
    ParquetSink.write(spark.range(3).toDF("id"), outs.head, singleFile = true)
    intercept[Exception](ParquetSink.write(src, outs.head, singleFile = true))
    assert(Files.list(dir).iterator().asScala.map(_.toString).toSeq == Seq(outs.head))
    assert(spark.read.parquet(outs.head).count() == 3)

    // a combine whose second input is cut short or is not Parquet at all
    // fails, and the earlier combined output stays as it was
    val hub = Files.createTempDirectory("graft_fail_combine")
    Seq("a", "b").foreach(n => ParquetSink.write(spark.range(5).toDF("id"),
      hub.resolve(s"${n}_t.parquet").toString, singleFile = true))
    val Seq(combined) = Pipelines.combine(spark, hub.toString, "combined", Seq("t"))
    def snapshot() = Files.list(Paths.get(combined)).iterator().asScala.toSeq.sorted
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
    val before = snapshot()
    val Seq(second) = Files.list(hub.resolve("b_t.parquet")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
    val whole = Files.readAllBytes(second)
    for (broken <- Seq(whole.take(whole.length / 2), "not parquet".getBytes)) {
      Files.write(second, broken)
      val e = intercept[Exception](Pipelines.combine(spark, hub.toString, "combined", Seq("t")))
      assert(e.getMessage.contains(second.toString), e.getMessage)
      assert(snapshot() == before)
      assert(!Files.list(hub).iterator().asScala.exists(_.getFileName.toString.contains("staging")))
    }
  }
}
