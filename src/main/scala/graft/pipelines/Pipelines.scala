package graft.pipelines

import graft.core.{Schemas, StudyDiscovery, TsvReader}
import graft.operators.{CnaOps, CombineOps, MutationOps}
import graft.sinks.ParquetSink
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.util.{Failure, Success, Try}

/** The reference's six CLI modes re-expressed as Spark jobs
  * (cmd/cli/main.go:45-109; README.md:3-61):
  * convert-cna, convert-cna-with-derived, convert-mutations,
  * combine-cna, combine-cna-with-derived, combine-mutations.
  *
  * Each input is read by ONE scan that feeds every output derived from
  * it ([[ParquetSink.write]] over the staged-file writer), as the
  * reference tees each batch to its writers: a CNA matrix is one job
  * writing `genetic_alterations` (and `derived`), a MAF is one job
  * writing `mutation_event` and `mutation` from its id-stamped rows.
  * What the header alone determines (`genetic_profile_samples`) is
  * written on the driver, with no job, and so is a combined table: its
  * inputs' column chunks are copied into one file, never decoded.
  *
  * Those writes are independent of each other (the only cross-file
  * state, the `MUTATION_EVENT_ID` offsets, is computed on the driver
  * before any file is stamped), so each call submits them concurrently,
  * from `min(writes, defaultParallelism)` threads the call creates and
  * joins itself. Spark's scheduler only overlaps jobs that are
  * submitted concurrently; one driver thread walking the files leaves
  * the slots idle between its small jobs. The threads are created
  * inside the call, so they inherit the caller's SparkContext local
  * properties (job group, scheduler pool, job description, any caller
  * tags). Returned paths keep discovery order whatever order the writes
  * finish in.
  */
object Pipelines {

  /** convert-cna[-with-derived] (cmd/cli/main.go:111-151): per discovered CNA
    * matrix file, write genetic_alteration (+ derived) from one scan and
    * genetic_profile_samples from the header, all files concurrently.
    * Fails like the reference (cna/transformer.go:36-38): after the first
    * failure no further write starts; the call waits for the writes in
    * flight, then rethrows the first failure in discovery order.
    */
  def convertCna(spark: SparkSession, rootDir: String,
      withDerived: Boolean = false, singleFile: Boolean = true): Seq[String] = {
    val files = StudyDiscovery.findCnaFiles(rootDir).map { f =>
      val (study, profile) = (f.cancerStudyId, f.geneticProfileId)
      val Seq(alterations, samples, derived) =
        Seq("genetic_alterations", "genetic_profile_samples", "derived")
          .map(ParquetSink.derivePath(f.path, _))
      val tee = Seq[(String, DataFrame => DataFrame)](
        alterations -> (CnaOps.packGeneCentric(_, study, profile))) ++
        (if (withDerived)
          Seq(derived -> (CnaOps.unpivotDerived(_: DataFrame, study, profile)))
        else Nil)
      // the header is read inside the pool: an unreadable file fails its
      // own writes, in discovery order
      val writes = Seq[() => Unit](
        () => ParquetSink.write(TsvReader.readTsv(spark, f.path), tee, singleFile),
        () => ParquetSink.writeRows(spark, samples, Schemas.geneticProfileSamples,
          Seq(CnaOps.sampleListRow(TsvReader.headerColumns(f.path), study, profile))))
      (alterations +: samples +: tee.tail.map(_._1), writes)
    }
    runAllOrThrow(spark, files.flatMap(_._2))
    files.flatMap(_._1)
  }

  /** convert-mutations (cmd/cli/main.go:396-424): per discovered MAF, write
    * mutation_event + mutation with MUTATION_EVENT_ID contiguous across files
    * (mutation/transformer.go:30-52). Per-file failure tolerance: failures
    * are collected and reported, in discovery order, after all files
    * process, like the reference (:44-49,60-71).
    *
    * Cross-file contiguity without serializing the files: every MAF is
    * staged concurrently (its one scan, persisted, with its row count from
    * the same job), the per-file offsets are computed on the driver over
    * the files that staged, and then every file's stamped rows are written
    * to both outputs by one job per file, concurrently — restoring the file
    * parallelism the reference gives up (SURVEY.md §3.2). A file that fails
    * to stage takes no ids.
    */
  def convertMutations(spark: SparkSession, rootDir: String,
      singleFile: Boolean = true): Seq[String] = {
    val files = StudyDiscovery.findMutationFiles(rootDir)
    val staged = runConcurrently(spark, failFast = false)(files.map { f =>
      () => MutationOps.stage(TsvReader.readTsv(spark, f.path))
    })
    try {
      val offsets = staged.scanLeft(0L)((off, s) => off + s.fold(_ => 0L, _.rowCount))
      val outs = files.map(f => Seq("mutation_event", "mutation")
        .map(ParquetSink.derivePath(f.path, _)))
      val writes = files.indices.filter(staged(_).isSuccess)
      val written = runConcurrently(spark, failFast = false)(writes.map { i =>
        val (study, profile) = (files(i).cancerStudyId, files(i).geneticProfileId)
        val tables = Seq[DataFrame => DataFrame](
          MutationOps.transformMaf(_, study, profile)._1,
          MutationOps.transformMaf(_, study, profile)._2)
        () => ParquetSink.write(staged(i).get.stamp(offsets(i)), outs(i).zip(tables),
          singleFile)
      })
      val failed = (staged.zipWithIndex.collect { case (Failure(e), i) => i -> e } ++
        writes.zip(written).collect { case (i, Failure(e)) => i -> e })
        .sortBy(_._1)
      failed.foreach { case (i, e) =>
        System.err.println(s"[convert-mutations] ${files(i).path} failed: ${e.getMessage}")
      }
      if (failed.nonEmpty) {
        val paths = failed.map(p => files(p._1).path).distinct
        throw new RuntimeException(
          s"convert-mutations: ${paths.size} file(s) failed: ${paths.mkString(", ")}")
      }
      writes.flatMap(outs)
    } finally staged.foreach(_.foreach(_.close()))
  }

  /** combine-* (cmd/cli/main.go:153-196,538-559): per table kind, glob the
    * per-study parquet files and union-all them into one combined file,
    * excluding the output itself from the inputs: column chunks are copied
    * on the driver ([[CombineOps.concat]]), so no Spark job runs. The table
    * kinds are combined concurrently and fail like [[convertCna]]. */
  def combine(spark: SparkSession, dir: String, outputBase: String,
      suffixes: Seq[String]): Seq[String] = {
    val outs = suffixes.map(suffix => suffix -> ParquetSink.combinedPath(dir, outputBase, suffix))
    runAllOrThrow(spark, outs.map { case (suffix, out) => () =>
      val inputs = CombineOps.inputs(s"$dir/*_$suffix.parquet", out)
      ParquetSink.writeOneFile(out)(CombineOps.concat(spark, inputs, _))
    })
    outs.map(_._2)
  }

  val cnaSuffixes = Seq("genetic_alterations", "genetic_profile_samples")
  val cnaDerivedSuffixes: Seq[String] = cnaSuffixes :+ "derived"
  val mutationSuffixes = Seq("mutation_event", "mutation")

  /** Runs `tasks` with fail-fast semantics and rethrows the first failure
    * in task order once no task is running. */
  private def runAllOrThrow(spark: SparkSession, tasks: Seq[() => Unit]): Unit =
    runConcurrently(spark, failFast = true)(tasks).collectFirst { case Failure(e) => throw e }

  /** Runs `tasks` on `min(tasks.size, defaultParallelism)` threads created
    * here, so each inherits the caller's local properties, and returns
    * when all of them have finished. Tasks start in order; results come
    * back in task order. With `failFast`, no task starts once one has
    * failed, so the results cover only a prefix of `tasks`. */
  private def runConcurrently[T](spark: SparkSession, failFast: Boolean)(
      tasks: Seq[() => T]): Seq[Try[T]] = {
    val results = Array.fill[Option[Try[T]]](tasks.size)(None)
    val next = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val width = math.min(tasks.size, spark.sparkContext.defaultParallelism)
    val threads = (1 to width).map { n =>
      val t = new Thread(() => {
        var i = 0
        while (!stop.get && { i = next.getAndIncrement(); i < tasks.size }) {
          val r = try Success(tasks(i)()) catch { case e: Throwable => Failure(e) }
          if (failFast && r.isFailure) stop.set(true)
          results(i) = Some(r)
        }
      }, s"graft-pipelines-$n")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch { case e: InterruptedException => stop.set(true); throw e }
    results.toSeq.flatten
  }
}
