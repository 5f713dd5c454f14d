package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ParquetRead

import java.nio.file.{FileSystems, Files, Paths}
import scala.jdk.CollectionConverters._

/** O18b — parquet combine: N per-study files → one table, union-all
  * (reference: cna/reader_parquet.go:87-143).
  *
  * The reference streams file-by-file through one channel, assumes schema
  * compatibility by position from the first batch, loads each file fully into
  * memory (:60 `ReadTable` — a scale bug), and silently truncates on read
  * error (:132-137 — a correctness bug). Here every input's schema is read
  * from its footer on the driver (no job, no inference pass), the inputs must
  * agree by name (a mismatch is refused naming the file), and all of them
  * are read by ONE scan over that declared schema — partition-parallel,
  * row-group-at-a-time through the vectorized reader; any read failure fails
  * the job.
  */
object CombineOps {

  /** Combine explicit paths (parquet files or directories of them). */
  def combine(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "combine: no input paths")
    val schemas = paths.map(p => p -> ParquetRead.footerSchema(spark, p))
    val (first, schema) = schemas.head
    def byName(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    schemas.tail.foreach { case (p, s) =>
      require(byName(s) == byName(schema),
        s"combine: $p has columns ${s.simpleString}, but $first has " +
          schema.simpleString)
    }
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Combine a glob, excluding the output path from the inputs (the
    * reference writes its combined file next to the inputs and must
    * self-exclude — cna/reader_parquet.go:101-108). Matching is driver-side
    * file listing (metadata, not data); paths compare normalized and
    * absolute, so `dir/` and `dir` name the same output. */
  def combineGlob(spark: SparkSession, pattern: String, excludePath: String = "")
      : DataFrame = {
    val p = Paths.get(pattern)
    val matcher = FileSystems.getDefault.getPathMatcher(
      "glob:" + p.getFileName.toString)
    val exclude = Paths.get(excludePath).toAbsolutePath.normalize
    val stream = Files.list(p.getParent)
    val files =
      try stream.iterator().asScala
        .filter(f => matcher.matches(f.getFileName))
        .filterNot(_.toAbsolutePath.normalize == exclude)
        .map(_.toString)
        .toSeq.sorted
      finally stream.close()
    combine(spark, files)
  }
}
