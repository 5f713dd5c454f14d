package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Executor-side single-file parquet READING over Spark's own reader
  * stack (`ParquetFileFormat.buildReaderWithPartitionValues`,
  * private[sql] — hence this package): the native streaming source's
  * PartitionReaders open exactly the files a micro-batch's manifest
  * delta names, with the same schema-evolution clipping (absent
  * required columns read as null), rebase handling, and vectorized
  * decode as any batch scan. The closure is built ON THE DRIVER
  * (it captures the session's resolved Hadoop+SQL conf and broadcasts
  * it) and is task-shippable; vectorized output (`ColumnarBatch`
  * smuggled through the row iterator — the FileScanRDD contract) is
  * unrolled here so consumers see plain `InternalRow`s. */
final class ParquetReadFactory(
    reader: PartitionedFile => Iterator[InternalRow])
    extends Serializable {

  def open(absPath: String, length: Long): Iterator[InternalRow] = {
    val pf = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(absPath), 0L, length,
      Array.empty[String], 0L, length)
    reader(pf).asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch =>
        import scala.jdk.CollectionConverters._
        b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }
  }
}

object ParquetRead {
  /** Build on the DRIVER: `requiredSchema` names the (physical)
    * columns to decode, in output order; files lacking a required
    * column serve typed nulls for it (Spark's standard clipping). */
  def factory(spark: SparkSession, requiredSchema: StructType)
      : ParquetReadFactory = {
    val fmt = new ParquetFileFormat
    val rdr = fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = requiredSchema,
      partitionSchema = new StructType(),
      requiredSchema = requiredSchema,
      filters = Nil,
      // rows, not ColumnarBatch: the PartitionReader contract here is
      // row-based (the vectorized path still decodes columnar and
      // serves row views — same decode cost)
      options = Map(
        org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())
    new ParquetReadFactory(rdr)
  }

  /** The Spark schema of the parquet file `file` from its `footer`, read
    * on the DRIVER — no job, unlike the inference of a schema-less
    * `spark.read.parquet`: Spark's row-metadata schema when the writer
    * left one, else the converted Parquet schema. */
  def footerSchema(spark: SparkSession, file: Path, footer: ParquetMetadata)
      : StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Spark's row-metadata footer entry for a file of `schema` as a Spark
    * scan of it reads (and a Spark write of that scan would record) it:
    * every field nullable. */
  def rowMetadata(schema: StructType): (String, String) =
    ParquetReadSupport.SPARK_METADATA_KEY -> schema.asNullable.json
}
