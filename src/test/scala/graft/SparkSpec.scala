package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String) = s"/root/testdata/sf$dir"

  /** The data files the optimized plan of `df` opens, per scan (a
    * file two scans read counts twice), as `<set dir>/<file>`. */
  def filesOpened(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.toSeq
        case _ => Nil
      }
    }.flatten.map(graft.sinks.TableLog.lastTwo)

  /** How many data files the optimized plan of `df` opens. */
  def filesScanned(df: DataFrame): Int = filesOpened(df).size

  /** A pending KEY sidecar on `keyCol`, built the way production
    * builds one: a CDC batch deleting `keys`, applied onto a table
    * whose `rowLevelMode` is `mor` (the upsert's blind-write form).
    * Returns the committed version. */
  /** Run `f` with `table` declared `rowLevelMode` `mode`, then restore
    * its spec — two write-spec commits — for a spec that needs one
    * commit shape on a table whose own routes are the other's. */
  def underMode[A](table: String, mode: String)(f: => A): A = {
    import graft.sinks.TableLog
    val was = TableLog.writeSpec(table)
    TableLog.setWriteSpec(table, was.copy(rowLevelMode = mode))
    try f finally { TableLog.setWriteSpec(table, was); () }
  }

  def keyDelete(table: String, keyCol: String, keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.lit
    import graft.sinks.TableLog
    require(TableLog.writeSpec(table).rowLevelMode == TableLog.Mor,
      s"$table: a key sidecar needs rowLevelMode = mor")
    TableLog.applyCdc(spark, table, keys.select(keyCol)
      .withColumn(TableLog.changeTypeCol, lit("delete"))
      .withColumn(TableLog.changeVersionCol, lit(1L)), keyCol)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SessionProfile.tune(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", // static conf; keep out of the repo
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
