package graft

import java.nio.file.{Files, Path, Paths}

import graft.sinks.TableLog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Write-time commit stats: every manifest entry is measured by the task
  * that writes its file, in the write job itself. The contract under
  * test: the entries equal what the per-commit aggregate passes used to
  * compute (same formulas, recomputed here over the written files), a
  * batch commit costs ONE Spark job, CHECK constraints audit exactly
  * the rows written, and a refused write leaves the table untouched. */
class WriteStatsSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private val M = TableLog.bloomM
  private val K = TableLog.bloomK

  private def bloomPos(c: Column, i: Int): Column =
    pmod(xxhash64(lit(i), c), lit(M.toLong)).cast("int")

  /** The manifest entries the aggregate passes would have recorded for
    * `files`: per-file `min`/`max` of `cast("long")`/`cast("string")`,
    * `count` for null counts, `collect_set` of the bloom positions —
    * one grouped pass over the written files. */
  private def recompute(t: String, files: Seq[TableLog.FileEntry],
      statsCols: Seq[String], strCols: Seq[String],
      bloomCols: Seq[String], derived: Seq[(String, Column)])
      : Map[String, TableLog.FileEntry] = {
    val aggs: Seq[Column] = count(lit(1)) +:
      (statsCols.flatMap(c => Seq(min(col(c).cast("long")),
        max(col(c).cast("long")), count(col(c)))) ++
        strCols.flatMap(c => Seq(min(col(c).cast("string")),
          max(col(c).cast("string")))) ++
        derived.flatMap { case (_, e) =>
          Seq(min(e.cast("long")), max(e.cast("long"))) } ++
        bloomCols.flatMap(c => (0 until K).map(i =>
          collect_set(bloomPos(col(c), i)))))
    val byName = files.map(f => f.path.split("/").last -> f.path).toMap
    spark.read.parquet(files.map(f => s"$t/${f.path}"): _*)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val rel = byName(r.getString(0).split("/").last)
        val rows = r.getLong(1)
        var o = 2
        val longs = statsCols.flatMap { c =>
          val st = if (r.isNullAt(o)) None
            else Some(TableLog.FileStat(c, r.getLong(o), r.getLong(o + 1),
              rows - r.getLong(o + 2)))
          o += 3; st
        }
        val strs = strCols.flatMap { c =>
          val st = if (r.isNullAt(o)) None
            else Some(TableLog.FileStrStat(c, r.getString(o),
              r.getString(o + 1)))
          o += 2; st
        }
        val ders = derived.flatMap { case (n, _) =>
          val st = if (r.isNullAt(o)) None
            else Some(TableLog.FileStat(n, r.getLong(o), r.getLong(o + 1)))
          o += 2; st
        }
        val blooms = bloomCols.flatMap { c =>
          val pos = (0 until K).flatMap(i => r.getSeq[Int](o + i)).distinct
          o += K
          if (pos.size.toDouble / M > TableLog.bloomMaxFill) None
          else {
            val bits = new java.util.BitSet(M)
            pos.foreach(bits.set)
            Some(TableLog.FileStrStat(s"bloom:$c", java.util.Base64
              .getEncoder.encodeToString(bits.toByteArray), s"$M,$K"))
          }
        }
        rel -> TableLog.FileEntry(rel, longs ++ ders, strs ++ blooms,
          bytes = Files.size(Paths.get(t, rel)), rows = rows)
      }.toMap
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** Every path under `t` with its size (−1 for a directory). */
  private def listing(t: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(t)
    val s = Files.walk(root)
    try s.iterator().asScala.map((p: Path) => root.relativize(p).toString ->
      (if (Files.isDirectory(p)) -1L else Files.size(p))).toMap
    finally s.close()
  }

  test("write-time stats equal a DataFrame recompute with the aggregate " +
      "formulas: empty batch, all-null, int/short/date, negatives, " +
      "empty and multi-byte UTF-8, strings over 4 KB, saturated bloom, " +
      "derived stat") {
    // four contiguous 10k-row slices (one file each): k spans negative
    // and positive values, and its 10k distinct values per file fill a
    // bloom past bloomMaxFill, so that bloom must be omitted
    val df = spark.range(-20000L, 20000L, 1L, 4).selectExpr(
      "id AS k",
      "CAST(id % 7 AS int) AS vi",
      "CAST(id % 3 AS short) AS vs",
      "date_add(DATE'2020-01-01', CAST(id % 400 AS int)) AS d",
      "timestamp_seconds(id * 3600) AS ts",
      "IF(id % 2 = 0, id, NULL) AS maybe",
      "CAST(NULL AS long) AS allnull",
      "CASE WHEN id % 1000 = 0 THEN repeat('ü', 2500) " +
        "WHEN id % 11 = 0 THEN '' " +
        "WHEN id % 7 = 0 THEN concat('é→', id) " +
        "ELSE concat('s', id) END AS s",
      "CAST(NULL AS string) AS snull",
      "concat('t', id % 50) AS tag")
    // a DATE does not cast to long (the aggregate formula refused it
    // too): it is covered as a derived stat below; a TIMESTAMP casts
    val statsCols = Seq("k", "vi", "vs", "ts", "maybe", "allnull")
    val strCols = Seq("s", "snull", "tag")
    val bloomCols = Seq("k", "tag")
    val t = tmp("graft_ws_parity")
    TableLog.create(spark, t, df, statsCols = statsCols,
      strStatsCols = strCols, bloomStatsCols = bloomCols)
    def check(files: Seq[TableLog.FileEntry],
        derived: Seq[(String, Column)]): Unit = {
      val want = recompute(t, files, statsCols, strCols, bloomCols, derived)
      assert(want.keySet == files.map(_.path).toSet)
      files.foreach { f =>
        assert(f.copy(ver = 0L) == want(f.path),
          s"write-time entry differs from the recompute for ${f.path}")
      }
    }
    val s1 = TableLog.snapshot(t).get
    assert(s1.files.size == 4 && s1.rows == 40000L)
    check(s1.files, Nil)
    // the shapes the recompute must have covered
    s1.files.foreach { f =>
      assert(!f.stats.exists(_.col == "allnull"),
        "an all-null column records no range stat")
      assert(f.stats.find(_.col == "maybe").exists(_.nulls == f.rows / 2))
      assert(!f.strStats.exists(_.col == "snull"))
      assert(!f.strStats.exists(_.col == "bloom:k"),
        "a saturated bloom is omitted")
      assert(f.strStats.exists(_.col == "bloom:tag"))
      assert(f.strStats.find(_.col == "s")
        .exists(_.max == "ü" * 2500), "a >4 KB string max is exact")
      assert(f.strStats.find(_.col == "s").exists(_.min == ""))
    }
    assert(s1.files.exists(_.stats.find(_.col == "k").exists(_.min < 0)))
    // an empty batch commits a version with no file
    TableLog.append(spark, t, df.where("k > 1000000"),
      statsCols = statsCols, strStatsCols = strCols,
      bloomStatsCols = bloomCols)
    val s2 = TableLog.snapshot(t).get
    assert(s2.version == s1.version + 1)
    assert(s2.files.map(_.path) == s1.files.map(_.path))
    assert(s2.rows == 40000L)
    // a derived stat rides the same write job
    val derived = Seq("kz" -> (col("k") * 2 + col("vi")),
      "dd" -> unix_date(col("d")))
    TableLog.rewriteImpl(spark, t, "compact", n => Some(n), None, Map.empty,
      None, Nil, derived)(_.repartition(3, col("k")))
    val s3 = TableLog.snapshot(t).get
    assert(s3.files.nonEmpty && s3.files.forall(_.stats.exists(_.col == "kz")))
    check(s3.files, derived)
    assert(TableLog.read(spark, t).count() == 40000L)
  }

  test("append and create run exactly ONE Spark job with stats, string " +
      "stats, bloom and a CHECK; deleteDv <= 4 and mergeUpsert <= 9; " +
      "bloom point lookups read the files the recomputed blooms admit") {
    val t = tmp("graft_ws_jobs")
    // `k`: an unclustered long key (every file spans its whole domain)
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi, 1L, 4).selectExpr(
        "id", "id % 1000 AS amount", "concat('t', id DIV 100) AS tag",
        "id * 2654435761 % 8000 AS k")
    val stats = Seq("id", "amount")
    val strStats = Seq("tag")
    val bloom = Seq("tag", "k")
    assert(jobsOf(TableLog.create(spark, t, batch(0, 4000), stats,
      strStats, bloomStatsCols = bloom)) == 1)
    TableLog.addCheckConstraint(spark, t, "amount_nonneg", "amount >= 0")
    assert(jobsOf(TableLog.append(spark, t, batch(4000, 8000), stats,
      strStatsCols = strStats, bloomStatsCols = bloom)) == 1)
    // bloom point lookups, on the string and on the long bloom column,
    // prune to exactly the files whose blooms, as the aggregate formula
    // computes them from each file's own rows, may contain the probe;
    // the probe is hashed on the driver, so a lookup is the read's job
    val snap = TableLog.snapshot(t).get
    for ((c, probes, rows) <- Seq(
        ("tag", Seq[Any]("t17", "t55", "t79", "t_absent"), 100L),
        ("k", Seq[Any](42L, 4242L, 7999L, 123456L), 1L))) {
      val perFile =
        spark.read.parquet(snap.files.map(f => s"$t/${f.path}"): _*)
          .groupBy(input_file_name()).agg(
            collect_set(bloomPos(col(c), 0)),
            (1 until K).map(i => collect_set(bloomPos(col(c), i))): _*)
          .collect().map(r => TableLog.lastTwo(r.getString(0)) ->
            (0 until K).flatMap(i => r.getSeq[Int](1 + i)).toSet).toMap
      probes.foreach { v =>
        val probe = spark.range(1).select((0 until K).map(i =>
          bloomPos(lit(v), i)): _*).head()
        val pos = (0 until K).map(probe.getInt)
        val want = snap.files.map(f => TableLog.lastTwo(f.path)).filter { f =>
          perFile(f).size.toDouble / M > TableLog.bloomMaxFill ||
            pos.forall(perFile(f).contains)
        }.toSet
        def q = TableLog.scan(spark, t).where(col(c) === v)
        assert(filesOpened(q).toSet == want, s"bloom lookup of $c = $v")
        assert(jobsOf(q.collect()) == 1, s"bloom lookup of $c = $v")
        val found = if (v == "t_absent" || v == 123456L) 0L else rows
        assert(q.count() == found)
      }
    }
    val deleteJobs = jobsOf(TableLog.delete(spark, t,
      col("id") < 3000 && pmod(col("id"), lit(7L)) === 3))
    assert(deleteJobs <= 4, s"delete ran $deleteJobs jobs")
    // upserts of existing keys and of new ones, one typed partition each
    def upserts(lo: Long, hi: Long) = spark.range(lo, hi, 1L, 1).as[Long]
      .map(id => (id, id % 1000 + 1, s"t${id / 100}", id * 2654435761L % 8000))
      .toDF("id", "amount", "tag", "k")
    val mergeJobs = jobsOf(TableLog.mergeUpsert(spark, t,
      upserts(7500, 8000).unionByName(upserts(8000, 8500)), Seq("id")))
    // the source's aggregate and CHECK, the deletion vector's collect,
    // the matched count and the write — adaptive execution runs their
    // stages as separate jobs
    assert(mergeJobs <= 9, s"mergeUpsert ran $mergeJobs jobs")
    val live = 8500L - (0L until 3000L).count(_ % 7 == 3)
    assert(TableLog.read(spark, t).count() == live)
  }

  test("append audits the rows it writes: a nondeterministic source " +
      "is checked on the evaluation that is committed") {
    val t = tmp("graft_ws_nondet")
    TableLog.create(spark, t, spark.range(10).selectExpr("id AS k",
      "id AS v"), statsCols = Seq("k"))
    TableLog.addCheckConstraint(spark, t, "v_nonneg", "v >= 0")
    val v0 = TableLog.latestVersion(t)
    // valid on a key's first evaluation, invalid on every later one
    WriteStatsSpec.seen.clear()
    val flip = udf { (k: Long) =>
      if (WriteStatsSpec.seen.add(k)) k else -1L - k
    }.asNondeterministic()
    val src = spark.range(100, 200, 1L, 2).select($"id".as("k"),
      flip($"id").as("v"))
    // the append evaluates the source once, in its write job, and
    // audits that evaluation: whatever commits satisfies the CHECK
    TableLog.append(spark, t, src, statsCols = Seq("k"))
    assert(TableLog.latestVersion(t) == v0 + 1)
    assert(TableLog.read(spark, t).where($"v" < 0).count() == 0L,
      "rows violating the CHECK were committed")
    // every later evaluation of the same keys is invalid: the append
    // is refused and the table stays at its version, byte-identical
    val before = listing(t)
    val e = intercept[IllegalArgumentException](
      TableLog.append(spark, t, src, statsCols = Seq("k")))
    assert(e.getMessage.contains("violates CHECK constraint 'v_nonneg'"))
    assert(e.getMessage.contains("100 row(s)"))
    assert(TableLog.latestVersion(t) == v0 + 1)
    assert(listing(t) == before)
  }

  test("a refused or failed write leaves the table byte-identical") {
    val t = tmp("graft_ws_refused")
    TableLog.create(spark, t, spark.range(100).selectExpr("id AS k",
      "id % 10 AS v", "concat('t', id % 5) AS tag"),
      statsCols = Seq("k"), bloomStatsCols = Seq("tag"))
    TableLog.addCheckConstraint(spark, t, "v_small", "v < 10")
    val before = listing(t)
    val v0 = TableLog.latestVersion(t)
    // refused by a CHECK the write job counted
    val e = intercept[IllegalArgumentException](TableLog.append(spark, t,
      spark.range(100, 200, 1L, 4).selectExpr("id AS k", "id % 20 AS v",
        "concat('t', id % 5) AS tag"),
      statsCols = Seq("k"), bloomStatsCols = Seq("tag")))
    assert(e.getMessage.contains("violates CHECK constraint 'v_small'"))
    assert(TableLog.latestVersion(t) == v0)
    assert(listing(t) == before)
    assert(TableLog.read(spark, t).count() == 100L)
    // refused by a row audit that runs after the write job returned
    val eRw = intercept[IllegalArgumentException](
      TableLog.rewrite(spark, t, "bad")(_.limit(10)))
    assert(eRw.getMessage.contains("rewrite audit failed"))
    assert(TableLog.latestVersion(t) == v0)
    assert(listing(t) == before)
    // a write job that fails part-way through a file (no CHECK: the
    // source is evaluated by the write job only)
    val tf = tmp("graft_ws_failed")
    TableLog.create(spark, tf, spark.range(100).selectExpr("id AS k",
      "id % 10 AS v"), statsCols = Seq("k"))
    val beforeF = listing(tf)
    val boom = udf { (k: Long) =>
      if (k == 250L) throw new IllegalStateException("boom") else k % 10
    }.asNondeterministic()
    intercept[Exception](TableLog.append(spark, tf,
      spark.range(200, 300, 1L, 1).select($"id".as("k"),
        boom($"id").as("v")), statsCols = Seq("k")))
    assert(TableLog.latestVersion(tf) == 1L)
    assert(listing(tf) == beforeF)
  }
}

object WriteStatsSpec {
  /** Keys the nondeterministic source has produced (tasks run in this
    * JVM under the local master). */
  val seen: java.util.Set[Long] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
}
