package graft.pipelines

import graft.core.{StudyDiscovery, TsvReader}
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
  * Every output table is independent of the others (the only cross-file
  * state, the `MUTATION_EVENT_ID` offsets, is computed on the driver
  * before any file is stamped), so each call submits its output writes
  * concurrently, from `min(outputs, defaultParallelism)` threads the call
  * creates and joins itself. Spark's scheduler only overlaps jobs that are
  * submitted concurrently; one driver thread walking the files leaves the
  * slots idle between its small jobs. The threads are created inside the
  * call, so they inherit the caller's SparkContext local properties (job
  * group, scheduler pool, job description, any caller tags). Returned
  * paths keep discovery order whatever order the writes finish in.
  */
object Pipelines {

  /** convert-cna[-with-derived] (cmd/cli/main.go:111-151): per discovered CNA
    * matrix file, write genetic_alteration + genetic_profile_samples
    * (+ derived), all outputs of all files concurrently. Fails like the
    * reference (cna/transformer.go:36-38): after the first failure no
    * further write starts; the call waits for the writes in flight, then
    * rethrows the first failure in discovery order.
    */
  def convertCna(spark: SparkSession, rootDir: String,
      withDerived: Boolean = false, singleFile: Boolean = true): Seq[String] = {
    val writes = StudyDiscovery.findCnaFiles(rootDir).flatMap { f =>
      // header read on first use, inside the pool: an unreadable file
      // fails its own writes, in discovery order
      lazy val df = TsvReader.readTsv(spark, f.path)
      val (study, profile) = (f.cancerStudyId, f.geneticProfileId)
      val tables = Seq[(String, () => DataFrame)](
        "genetic_alterations" -> (() => CnaOps.packGeneCentric(df, study, profile)),
        "genetic_profile_samples" ->
          (() => CnaOps.sampleList(spark, df.columns.toSeq, study, profile))) ++
        (if (withDerived)
          Seq("derived" -> (() => CnaOps.unpivotDerived(df, study, profile)))
        else Nil)
      tables.map { case (suffix, out) => ParquetSink.derivePath(f.path, suffix) -> out }
    }
    runAllOrThrow(spark, writes.map { case (path, out) =>
      () => ParquetSink.write(out(), path, singleFile) })
    writes.map(_._1)
  }

  /** convert-mutations (cmd/cli/main.go:396-424): per discovered MAF, write
    * mutation_event + mutation with MUTATION_EVENT_ID contiguous across files
    * (mutation/transformer.go:30-52). Per-file failure tolerance: failures
    * are collected and reported, in discovery order, after all files
    * process, like the reference (:44-49,60-71).
    *
    * Cross-file contiguity without serializing the files: every MAF is
    * staged concurrently (persisted, with its row count from the same job),
    * the per-file offsets are computed on the driver over the files that
    * staged, and then every file's two outputs are stamped and written
    * concurrently — restoring the file parallelism the reference gives up
    * (SURVEY.md §3.2). A file that fails to stage takes no ids.
    */
  def convertMutations(spark: SparkSession, rootDir: String,
      singleFile: Boolean = true): Seq[String] = {
    val files = StudyDiscovery.findMutationFiles(rootDir)
    val staged = runConcurrently(spark, failFast = false)(files.map { f =>
      () => MutationOps.stage(TsvReader.readMaf(spark, f.path))
    })
    try {
      val offsets = staged.scanLeft(0L)((off, s) => off + s.fold(_ => 0L, _.rowCount))
      val writes = files.indices.flatMap { i =>
        val f = files(i)
        staged(i).toOption.toSeq.flatMap { s =>
          val (events, mutations) = MutationOps.transformMaf(
            s.stamp(offsets(i)), f.cancerStudyId, f.geneticProfileId)
          Seq("mutation_event" -> events, "mutation" -> mutations).map {
            case (suffix, df) => (i, ParquetSink.derivePath(f.path, suffix), df)
          }
        }
      }
      val written = runConcurrently(spark, failFast = false)(writes.map {
        case (_, path, df) => () => ParquetSink.write(df, path, singleFile)
      })
      val failed = (staged.zipWithIndex.collect { case (Failure(e), i) => i -> e } ++
        writes.zip(written).collect { case ((i, _, _), Failure(e)) => i -> e })
        .sortBy(_._1)
      failed.foreach { case (i, e) =>
        System.err.println(s"[convert-mutations] ${files(i).path} failed: ${e.getMessage}")
      }
      if (failed.nonEmpty) {
        val paths = failed.map(p => files(p._1).path).distinct
        throw new RuntimeException(
          s"convert-mutations: ${paths.size} file(s) failed: ${paths.mkString(", ")}")
      }
      writes.map(_._2)
    } finally staged.foreach(_.foreach(_.close()))
  }

  /** combine-* (cmd/cli/main.go:153-196,538-559): per table kind, glob the
    * per-study parquet files and union-all into one combined file, excluding
    * the output itself from the inputs. The table kinds are combined
    * concurrently and fail like [[convertCna]]. */
  def combine(spark: SparkSession, dir: String, outputBase: String,
      suffixes: Seq[String], singleFile: Boolean = true): Seq[String] = {
    val outs = suffixes.map(suffix => suffix -> ParquetSink.combinedPath(dir, outputBase, suffix))
    runAllOrThrow(spark, outs.map { case (suffix, out) => () =>
      ParquetSink.write(
        CombineOps.combineGlob(spark, s"$dir/*_$suffix.parquet", out), out, singleFile)
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
