package graft.sinks

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.graft.ParquetWrite
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

/** O18a/O18c — parquet output tables + output path derivation
  * (reference: cna/writer.go:14-58; cna/transformer.go:266-297;
  * cmd/cli/main.go:198-237,561-579).
  *
  * A table read from data is written by the staged-file writer
  * ([[WriteStats.writeStaged]]), the one TableLog commits through: ONE
  * Spark job writes all the tables [[write]] is handed from one pass
  * over the source's rows — the reference tees each read batch to 2–3
  * writer goroutines (cna/transformer.go:72-264,
  * mutation/transformer.go:76-170) — each into a hidden staging
  * directory beside its output path. Only once the job has succeeded
  * does each staging directory replace its output (overwrite), so a
  * failed write leaves neither a partial output nor a staging
  * directory. There is no `_SUCCESS` marker. An output with no rows
  * still gets one empty file, so its schema stays readable. A one-file
  * table the driver writes itself ([[writeRows]], a combined table) is
  * published through the same staging directory ([[writeOneFile]]).
  *
  * Snappy like the reference (cna/writer.go:27). `singleFile=true`
  * reproduces the reference's one-file-per-table layout — correct for
  * study-sized outputs; at 100 TB leave it false and let each input
  * partition write its split.
  */
object ParquetSink {

  /** Write each `(path, rows)` of `outs` from ONE scan of `src`: `rows`
    * is a narrow plan (projections, unpivot) over `src`'s rows, bound
    * once on the driver and evaluated inside the write tasks. */
  def write(src: DataFrame, outs: Seq[(String, DataFrame => DataFrame)],
      singleFile: Boolean): Unit = {
    val spark = src.sparkSession
    val staged = outs.map { case (path, rows) =>
      (path, stagingDir(path), WriteStats.rowGen(spark, src.schema)(rows)) }
    try {
      val written = WriteStats.writeStaged(spark, {
        val rdd = src.queryExecution.toRdd
        if (singleFile && rdd.getNumPartitions > 1) rdd.coalesce(1) else rdd
      }, staged.map { case (_, dir, gen) => WriteStats.Output(dir, gen) })
      staged.zip(written).foreach { case ((path, dir, gen), files) =>
        WriteStats.dropLosers(dir, files)
        if (files.isEmpty) writeFile(spark, s"$dir/$partFile", gen.schema, Nil)
        publish(dir, path)
      }
    } finally staged.foreach { case (_, dir, _) => FileUtils.deleteQuietly(new File(dir)) }
  }

  /** The one-table [[write]]: `df`'s rows as they are. */
  def write(df: DataFrame, path: String, singleFile: Boolean): Unit =
    write(df, Seq(path -> ((d: DataFrame) => d)), singleFile)

  /** Write `rows` of `schema` as the one-file table at `path`, from the
    * driver — no Spark job (a table known before any data is read). */
  def writeRows(spark: SparkSession, path: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
    writeOneFile(path)(writeFile(spark, _, schema,
      rows.map(toRow(_).asInstanceOf[InternalRow])))
  }

  /** Publish the one-file table at `path` that `writeTo` writes, from the
    * driver, into the file it is handed: the file sits in a hidden staging
    * directory that replaces `path` only once `writeTo` has returned, so a
    * failure leaves neither a partial output nor a staging directory. */
  def writeOneFile(path: String)(writeTo: String => Unit): Unit = {
    val dir = stagingDir(path)
    try {
      Files.createDirectories(Paths.get(dir))
      writeTo(s"$dir/$partFile")
      publish(dir, path)
    } finally FileUtils.deleteQuietly(new File(dir))
  }

  private val partFile = "part-00000.parquet"

  private def writeFile(spark: SparkSession, file: String, schema: StructType,
      rows: Seq[InternalRow]): Unit = {
    val w = ParquetWrite.factory(spark, schema).open(file, 0, 0)
    try rows.foreach(w.write) finally w.close()
  }

  /** A fresh hidden sibling of `path`: Spark's listing and the combine
    * globs skip it. */
  private def stagingDir(path: String): String = {
    val p = Paths.get(path).toAbsolutePath.normalize
    p.resolveSibling(s".${p.getFileName}.staging-${UUID.randomUUID()}").toString
  }

  /** Replace whatever is at `path` with the staged directory. */
  private def publish(dir: String, path: String): Unit = {
    FileUtils.deleteQuietly(new File(path))
    Files.move(Paths.get(dir), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  /** O18c: per-study output path — `<studyDir>_<dataFileBase>_<suffix>.parquet`
    * (cna/transformer.go:266-297). */
  def derivePath(dataFilePath: String, suffix: String): String = {
    val p = Paths.get(dataFilePath)
    val studyDir = Option(p.getParent).map(_.getFileName.toString).getOrElse("")
    val base = p.getFileName.toString.replaceAll("\\.txt$", "")
    val dir = Option(p.getParent).map(_.toString).getOrElse(".")
    s"$dir/${studyDir}_${base}_$suffix.parquet"
  }

  /** Combined output path — `<base>_<suffix>.parquet` (cmd/cli/main.go:561-579). */
  def combinedPath(outputDir: String, base: String, suffix: String): String =
    s"$outputDir/${base}_$suffix.parquet"
}
