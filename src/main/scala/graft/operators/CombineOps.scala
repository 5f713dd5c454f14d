package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.SeekableInputStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ParquetRead
import org.apache.spark.sql.types.StructType

import java.nio.file.{FileSystems, Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** O18b — parquet combine: N per-study tables → one file, union-all
  * (reference: cna/reader_parquet.go:87-143).
  *
  * The reference streams file-by-file through one channel, assumes schema
  * compatibility by position from the first batch, loads each file fully into
  * memory (:60 `ReadTable` — a scale bug), and silently truncates on read
  * error (:132-137 — a correctness bug). Here the combine runs on the
  * driver and decodes no value: every input data file's footer is read and
  * checked before anything is written, and then each input row group's
  * column chunks are copied byte-for-byte into one file, with their column
  * index, offset index and bloom filter. No Spark job runs. The combined
  * file keeps one row group per input row group, and its rows are the
  * inputs' rows in sorted input-path order (the reference's glob order).
  * Its footer carries the first input's key-value metadata, with Spark's
  * row-metadata schema made nullable, as a Spark scan of the inputs reads
  * it; each column keeps the inputs' Parquet repetition.
  *
  * Contract: the inputs are the same table written with the same Parquet
  * settings, as every table this importer writes is. Each data file must
  * match the first one:
  *  - by column name, with the same Spark type, in any column order;
  *  - for each Parquet leaf column, matched by path, in its primitive
  *    type, logical annotation, repetition and nesting levels.
  * An input that does not is refused, naming its file, and nothing is
  * written. A truncated or non-Parquet file fails the same way.
  */
object CombineOps {

  /** The tables matching `pattern` (a glob over one directory's entries),
    * sorted, without `exclude` (the reference writes its combined file next
    * to the inputs and must self-exclude — cna/reader_parquet.go:101-108).
    * Paths compare normalized and absolute, so `dir/` and `dir` name the
    * same output. */
  def inputs(pattern: String, exclude: String): Seq[String] = {
    val p = Paths.get(pattern)
    val matcher = FileSystems.getDefault.getPathMatcher(
      "glob:" + p.getFileName.toString)
    val excluded = Paths.get(exclude).toAbsolutePath.normalize
    val stream = Files.list(p.getParent)
    try stream.iterator().asScala
      .filter(f => matcher.matches(f.getFileName))
      .filterNot(_.toAbsolutePath.normalize == excluded)
      .map(_.toString)
      .toSeq.sorted
    finally stream.close()
  }

  /** Write the rows of `tables` (parquet files or directories of them), in
    * order, as the one parquet file `out`, by copying their column chunks.
    * A directory's data files are taken in name order; names starting with
    * `.` or `_` are not data. */
  def concat(spark: SparkSession, tables: Seq[String], out: String): Unit = {
    require(tables.nonEmpty, "combine: no input paths")
    val conf = spark.sessionState.newHadoopConf()
    val files = tables.flatMap { t =>
      val root = new Path(t)
      val fs = root.getFileSystem(conf)
      if (!fs.getFileStatus(root).isDirectory) Seq(root)
      else {
        val data = fs.listStatus(root).map(_.getPath)
          .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
          .sortBy(_.getName).toSeq
        require(data.nonEmpty, s"combine: $t holds no parquet file")
        data
      }
    }
    val options = HadoopReadOptions.builder(conf).build()
    // each reader keeps its stream, which the copy reads the chunks from
    val opened = ArrayBuffer.empty[(ParquetFileReader, SeekableInputStream)]
    try {
      files.foreach { f =>
        val in = HadoopInputFile.fromPath(f, conf)
        val stream = in.newStream()
        opened += (try ParquetFileReader.open(in, options, stream)
          catch { case e: Throwable => stream.close(); throw e }) -> stream
      }
      val first = opened.head._1.getFooter
      val schema = first.getFileMetaData.getSchema
      val columns = schema.getColumns.asScala.toSeq
      def byName(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
      val sparkSchema = ParquetRead.footerSchema(spark, files.head, first)
      files.zip(opened).tail.foreach { case (f, (r, _)) =>
        val s = ParquetRead.footerSchema(spark, f, r.getFooter)
        require(byName(s) == byName(sparkSchema),
          s"combine: $f has columns ${s.simpleString}, but ${files.head} has " +
            sparkSchema.simpleString)
        // the Spark schema may come from Spark's row metadata, so the
        // Parquet columns are checked on their own: a column the first
        // file lacks would be dropped by the copy
        val other = r.getFileMetaData.getSchema
        require(other.getColumns.size == columns.size,
          s"combine: $f has ${other.getColumns.size} parquet columns, but " +
            s"${files.head} has ${columns.size}")
        columns.foreach { c =>
          val path = c.getPath
          val o = if (other.containsPath(path)) Some(other.getColumnDescription(path)) else None
          require(o.exists(o => o.getPrimitiveType == c.getPrimitiveType &&
              o.getMaxDefinitionLevel == c.getMaxDefinitionLevel &&
              o.getMaxRepetitionLevel == c.getMaxRepetitionLevel),
            s"combine: $f stores column ${path.mkString(".")} as " +
              s"${o.fold("nothing")(_.getPrimitiveType.toString)}, but ${files.head} " +
              s"stores it as ${c.getPrimitiveType}")
        }
      }
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(new Path(out), conf), schema,
        ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
        ParquetWriter.MAX_PADDING_SIZE_DEFAULT, null, ParquetProperties.builder().build())
      try {
        w.start()
        for ((r, stream) <- opened; block <- r.getRowGroups.asScala) {
          val chunks = block.getColumns.asScala.map(c => c.getPath -> c).toMap
          w.startBlock(block.getRowCount)
          columns.foreach { c =>
            val chunk = chunks(ColumnPath.get(c.getPath: _*))
            w.appendColumnChunk(c, stream, chunk, r.readBloomFilter(chunk),
              r.readColumnIndex(chunk), r.readOffsetIndex(chunk))
          }
          w.endBlock()
        }
        val (key, json) = ParquetRead.rowMetadata(sparkSchema)
        w.end((first.getFileMetaData.getKeyValueMetaData.asScala.toMap + (key -> json)).asJava)
      } finally w.close()
    } finally opened.foreach(_._1.close())
  }
}
