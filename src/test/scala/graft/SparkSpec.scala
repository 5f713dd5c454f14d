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
