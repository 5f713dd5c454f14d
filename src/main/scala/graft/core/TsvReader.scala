package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

/** O1/O2/O3 — TSV scan with all-string header-derived schema and
  * `#`-comment skipping (reference: cna/reader.go:15-55, mutation/reader.go:15-69).
  *
  * The reference infers a schema by reading the first non-comment line and
  * typing every column utf8 (cna/reader.go:22-26); we do the same with a
  * driver-side one-line read (metadata work, O(1) per file) and hand Spark an
  * explicit all-string schema so the distributed CSV scan never runs schema
  * inference (which would be a second full pass over 100 TB).
  */
object TsvReader {

  /** O3: header-only schema inference. Reads the first line that is not
    * `#`-prefixed, splits on the delimiter, types every column string. The
    * header is decoded as UTF-8, the charset Spark reads the data cells in,
    * whatever the platform default. A file with no such line, or a blank
    * one, has no schema and is rejected naming `path`. */
  def headerColumns(path: String, delimiter: Char = '\t'): Seq[String] = {
    val r = new BufferedReader(
      new InputStreamReader(new FileInputStream(path), StandardCharsets.UTF_8))
    try {
      Iterator
        .continually(r.readLine())
        .takeWhile(_ != null)
        .find(l => !l.startsWith("#"))
        .filter(_.trim.nonEmpty)
        .map(_.split(delimiter).toSeq)
        .getOrElse(throw new IllegalArgumentException(s"$path: no header line"))
    } finally r.close()
  }

  /** O1/O2: chunked TSV scan — `#`-prefixed comment lines skipped
    * (mutation/reader.go:66 `csv.WithComment('#')`), so the scan's header
    * is the line [[headerColumns]] reads, then all columns string. The
    * reference's 100-row Arrow chunking (cna/reader.go:51) is an execution
    * detail; Spark's vectorized CSV reader batches internally. */
  def readTsv(spark: SparkSession, path: String, delimiter: String = "\t"): DataFrame =
    spark.read
      .option("sep", delimiter)
      .option("header", "true")
      .option("comment", "#")
      .schema(Schemas.allStringSchema(headerColumns(path, delimiter.head)))
      .csv(path)
}
