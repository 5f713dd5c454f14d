package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sinks.TableLog

/** WriteDelta sidecar-proliferation observability (round-19 directive):
  * a `rowLevelMode='mor'` MERGE lands one deletion-vector shard per
  * TASK, so a wide statement adds O(tasks) sidecars and a merge-heavy
  * lifecycle accumulates O(statements × tasks) of them until
  * `morFold`/`morMaintain` runs. This measures the real curve:
  * `statements` catalog MERGEs of `keysPerStmt` scattered keys over a
  * `files`-file table, recording after each statement the pending
  * sidecar count/bytes from the manifest and a timed full-table read —
  * then the same read after `morFold`. The decision input for
  * commit-time folding: if read time grows with shard count while
  * bytes stay tiny, folding at the source is warranted.
  *
  *   sbt "runMain graft.tools.DeltaShardStats [files] [rowsPerFile] [statements]"
  *   (defaults: 32 × 100000 × 20)
  *
  * Prints one JSON line.
  */
object DeltaShardStats {
  def main(args: Array[String]): Unit = {
    val files = args.lift(0).map(_.toInt).getOrElse(32)
    val rowsPerFile = args.lift(1).map(_.toLong).getOrElse(100000L)
    val statements = args.lift(2).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionProfile.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dshard_wh").toString
    val cat = "graft_ds"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(spark)
    spark.sql(s"CREATE NAMESPACE $cat.ds")
    spark.sql(s"CREATE TABLE $cat.ds.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/ds/t"
    val n = files * rowsPerFile
    TableLog.append(spark, path,
      spark.range(n).select($"id".as("k"), ($"id" % 97).as("v"))
        .repartitionByRange(files, $"k"))

    def readSec(): Double = timed(
      spark.sql(s"SELECT count(*) AS c, sum(v) AS s FROM $cat.ds.t")
        .collect())._2
    val keysPerStmt = 2000
    var shardsPerStmt = List.empty[Int]
    var readCurve = List.empty[Double]
    (0 until statements).foreach { i =>
      val before = TableLog.snapshot(path).get.dels.size
      // scattered keys, shifted per statement so every MERGE touches
      // rows across the whole key domain (all files, many tasks)
      spark.range(keysPerStmt)
        .select(($"id" * (n / keysPerStmt) + i + 1).as("k"),
          lit(-1L - i).as("v"))
        .createOrReplaceTempView("ds_src")
      spark.sql(s"""MERGE INTO $cat.ds.t t USING ds_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
      shardsPerStmt ::= (TableLog.snapshot(path).get.dels.size - before)
      if ((i + 1) % 5 == 0) readCurve ::= readSec()
    }
    val s1 = TableLog.snapshot(path).get
    val pendingShards = s1.dels.size
    val pendingBytes = s1.dels.map(_.file.bytes.max(0L)).sum
    val readBefore = readSec()
    val (_, foldSec) = timed(TableLog.morFold(spark, path))
    val foldedShards = TableLog.snapshot(path).get.dels.size
    val readAfter = readSec()

    println(s"""{"tool":"DeltaShardStats","files":$files,"rows":$n""" +
      s""","statements":$statements,"keys_per_stmt":$keysPerStmt""" +
      s""","shards_per_stmt":[${shardsPerStmt.reverse.mkString(",")}]""" +
      s""","read_curve_every5":[${readCurve.reverse.map(d =>
        f"$d%.3f").mkString(",")}]""" +
      s""","pending_shards":$pendingShards""" +
      s""","pending_bytes":$pendingBytes""" +
      s""","read_before_fold":${f"$readBefore%.3f"}""" +
      s""","fold_sec":${f"$foldSec%.3f"}""" +
      s""","folded_shards":$foldedShards""" +
      s""","read_after_fold":${f"$readAfter%.3f"}}""")
    spark.stop()
  }
}
