package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.sinks.TableLog

/** Native-streaming-read throughput: drains the SAME n-row table
  * through `readStream.table` under the reader's three projection
  * shapes and reports rows/s for each —
  *
  *   identity   — physical names are the logical names, no pending
  *                vectors: rows pass through as the vectorized
  *                reader's views, zero per-row work
  *   renamed    — a column rename after the files were written forces
  *                the true non-identity projection (r17: a codegen'd
  *                UnsafeProjection into one reused buffer; before,
  *                row.copy() + GenericInternalRow per row)
  *
  * (The deletion-vector positional filter shares this reader but is a
  * ROW-LEVEL-scan concern — the data stream refuses row-changing
  * commits, so no vector ever reaches it.) Each shape drains via Trigger.AvailableNow into a count-only
  * foreachBatch (no sink write cost), twice, taking the faster drain
  * (JIT/codegen warm). Row counts are asserted before any number is
  * reported.
  *
  *   sbt "runMain graft.tools.StreamReadStats [n] [files]"  (default 4M / 16)
  *
  * Prints one JSON line.
  */
object StreamReadStats {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(4000000L)
    val files = args.lift(1).map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionProfile.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    val root = java.nio.file.Files
      .createTempDirectory("graft_srs").toString
    val cat = "srs"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.sql(s"CREATE NAMESPACE $cat.b")

    def mkTable(name: String): String = {
      spark.sql(s"CREATE TABLE $cat.b.$name (k BIGINT, v BIGINT, " +
        "s STRING) TBLPROPERTIES ('statsCols' = 'k')")
      val path = s"$root/b/$name"
      TableLog.append(spark, path,
        spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v"),
          concat(lit("payload-"), col("id") % 1000).as("s"))
          .repartition(files))
      path
    }

    // count-only drain; returns (seconds, rows)
    def drainDf(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val rows = new java.util.concurrent.atomic.AtomicLong
      val ck = java.nio.file.Files
        .createTempDirectory("graft_srs_ck").toString
      val t0 = System.nanoTime()
      val q = df
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          rows.addAndGet(df.count()); () }
        .start()
      assert(q.awaitTermination(600000), "drain must terminate")
      ((System.nanoTime() - t0) / 1e9, rows.get())
    }
    def drain(name: String): (Double, Long) =
      drainDf(spark.readStream.table(s"$cat.b.$name"))

    def best(name: String, expect: Long): Double =
      (1 to 2).map { _ =>
        val (sec, rows) = drain(name)
        assert(rows == expect, s"$name drained $rows, expected $expect")
        sec
      }.min

    // identity
    val tIdent = mkTable("ident")
    val secIdent = best("ident", n)

    // renamed: same data, then a rename commits AFTER the files
    mkTable("ren")
    spark.sql(s"ALTER TABLE $cat.b.ren RENAME COLUMN v TO v2")
    val secRen = best("ren", n)

    // DV-filtered BATCH read: ~1% of rows vectored, so every scan
    // pays the DvContains codegen filter (the batch face all readers
    // share; the data STREAM never sees vectors — it refuses
    // row-changing commits). Timed as two counted morScans, min.
    val tDv = mkTable("dvt")
    TableLog.setWriteSpec(tDv,
      TableLog.writeSpec(tDv).copy(rowLevelMode = TableLog.Mor))
    TableLog.delete(spark, tDv, col("k") % 100 === 0)
    val dvLive = n - (n + 99) / 100
    val secDv = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val c = TableLog.read(spark, tDv).count()
      assert(c == dvLive, s"dv read $c, expected $dvLive")
      (System.nanoTime() - t0) / 1e9
    }.min

    // changes-feed stream: the __changes face's reader splices
    // _change_type/_change_version per row (GenericInternalRow copy —
    // the typed-CDC cost); n insert links drained via AvailableNow
    spark.sql(s"CREATE TABLE $cat.b.ch (k BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val chPath = s"$root/b/ch"
    TableLog.enableCdcFeed(chPath)
    TableLog.append(spark, chPath,
      spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v"),
        concat(lit("payload-"), col("id") % 1000).as("s"))
        .repartition(files))
    val secCh = best("ch__changes", n)

    // vanilla-session readChangeFeed on the table ITSELF (round 19):
    // the scan builder serves the changes stream with the
    // data ++ all-metadata row shape — measures the wider splice
    // (_version/_file/_pos on top of the CDC pair) vs the __changes
    // face's flat schema
    val secRcf = (1 to 2).map { _ =>
      val (sec, rows) = drainDf(spark.readStream
        .option("readChangeFeed", "true").table(s"$cat.b.ch"))
      assert(rows == n, s"rcf drained $rows, expected $n")
      sec
    }.min

    val mrs = (sec: Double, rows: Long) => (rows / sec / 1e6)
    println(f"""{"metric":"stream_read_mrows_per_sec","n":$n,"files":$files,""" +
      f""""identity":${mrs(secIdent, n)}%.2f,"renamed":${mrs(secRen, n)}%.2f,""" +
      f""""dv_filtered_batch":${mrs(secDv, dvLive)}%.2f,""" +
      f""""changes_feed":${mrs(secCh, n)}%.2f,""" +
      f""""rcf_vanilla":${mrs(secRcf, n)}%.2f,""" +
      f""""identity_sec":$secIdent%.2f,"renamed_sec":$secRen%.2f,""" +
      f""""dv_sec":$secDv%.2f,"changes_sec":$secCh%.2f,""" +
      f""""rcf_sec":$secRcf%.2f}""")
    spark.stop()
  }
}
