package graft

import java.nio.file.{Files, Paths}

import graft.catalog.GraftCatalog
import graft.sinks.TableLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The table owns its write spec: the stats a table declares at create
  * (long ranges, string ranges, blooms) are measured by EVERY write
  * face, whoever calls it, because each write reads the spec from its
  * base snapshot; the spec follows renames and drops, refuses columns
  * the table lacks, and the stat lists `append` still accepts only
  * check it. */
class WriteSpecSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private val CAT = "wscat"

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_ws_wh").toString
    spark.conf.set(s"spark.sql.catalog.$CAT", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$CAT.warehouse", wh)
    wh
  }

  /** Rows `lo until hi`: `k` the key, `v` a small payload, `tag` one of
    * 40 strings (a bloom far below its fill cap per file). */
  private def rows(lo: Long, hi: Long, parts: Int = 2): DataFrame =
    spark.range(lo, hi, 1L, parts).select($"id".as("k"),
      ($"id" % 100).as("v"), concat(lit("t"), $"id" % 40).as("tag"))

  /** Each face's NEW data files (paths absent before it ran) that lack
    * a declared stat — `k`'s range, `tag`'s range, `tag`'s bloom. */
  private final class Faces(t: String) {
    val missing = scala.collection.mutable.ArrayBuffer[String]()
    private var seen = live
    private def live: Set[String] =
      TableLog.snapshot(t).map(_.files.map(_.path).toSet).getOrElse(Set())
    def apply(face: String)(run: => Any): Unit = {
      run
      val s = TableLog.snapshot(t).get
      val bare = s.files.filterNot(f => seen(f.path)).filterNot(f =>
        f.stats.exists(_.col == "k") && f.strStats.exists(_.col == "tag") &&
          f.strStats.exists(_.col == "bloom:tag"))
      if (bare.nonEmpty) missing += s"$face (${bare.size} file(s))"
      seen = s.files.map(_.path).toSet
    }
  }

  test("every write face keeps every declared stat") {
    val t = tmp("graft_ws_faces")
    TableLog.create(spark, t, rows(0, 1000), statsCols = Seq("k"),
      strStatsCols = Seq("tag"), bloomStatsCols = Seq("tag"))
    val face = new Faces(t)
    face("append")(TableLog.append(spark, t, rows(1000, 2000)))
    face("rewrite")(TableLog.rewrite(spark, t, "compact")(_.repartition(2)))
    face("compact")(TableLog.compact(spark, t, 1L << 30))
    TableLog.append(spark, t, rows(2000, 2100, 1))
    TableLog.append(spark, t, rows(2100, 2200, 1))
    face("compactSmall")(TableLog.compactSmall(spark, t, 1L << 30))
    face("compactClustered")(TableLog.compactClustered(spark, t, 2, "k"))
    face("zOrder")(TableLog.zOrder(spark, t, 2, "k", (0L, 4095L),
      "v", (0L, 99L)))
    face("zOrderMaintain") {
      TableLog.append(spark, t, rows(2200, 2300, 1))
      TableLog.append(spark, t, rows(2300, 2400, 1))
      TableLog.zOrderMaintain(spark, t)
    }
    // the row-level verbs on the copy-on-write table
    face("delete")(TableLog.delete(spark, t, col("k").between(0L, 9L)))
    face("delete (string IN)")(TableLog.delete(spark, t,
      col("tag").isin("t13")))
    face("update")(TableLog.update(spark, t, col("k").between(200L, 220L),
      Map("v" -> lit(-3L))))
    def changes(lo: Long, hi: Long) = rows(lo, hi, 1)
      .withColumn(TableLog.changeTypeCol, lit("insert"))
      .withColumn(TableLog.changeVersionCol, lit(1L))
    // the upserts on a copy-on-write table, then every row-level
    // verb on the same table declared mor
    face("mergeUpsert")(TableLog.mergeUpsert(spark, t, rows(300, 320, 1)
      .withColumn("v", lit(-4L)), Seq("k")))
    face("applyCdc")(TableLog.applyCdc(spark, t, changes(320, 340), "k"))
    val cowSpec = TableLog.writeSpec(t)
    TableLog.setWriteSpec(t, cowSpec.copy(rowLevelMode = TableLog.Mor))
    face("delete (mor)")(TableLog.delete(spark, t, $"k" % 97 === 5))
    face("update (mor)")(TableLog.update(spark, t, $"k" % 89 === 3,
      Map("v" -> lit(-1L))))
    face("key sidecar (mor)")(keyDelete(t, "k", Seq(20L, 21L).toDF("k")))
    face("mergeUpsert (mor)")(TableLog.mergeUpsert(spark, t,
      rows(340, 360, 1).withColumn("v", lit(-6L)), Seq("k")))
    face("applyCdc (mor)")(TableLog.applyCdc(spark, t,
      changes(360, 380), "k"))
    face("morMaintain")(TableLog.morMaintain(spark, t, maxSidecars = 0))
    TableLog.setWriteSpec(t, cowSpec)
    face("replaceWhere")(TableLog.replaceWhere(spark, t,
      $"k".between(400L, 450L), rows(400, 451, 1)))
    face("appendStream") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, Long, String)]
      mem.addData((5000L, 1L, "t1"), (5001L, 2L, "t2"))
      TableLog.appendStream(spark, t, mem.toDF().toDF("k", "v", "tag"),
        "ws", checkpoint = Some(Files.createTempDirectory("graft_ws_ck")
          .toString))
    }
    TableLog.registerSqlTable(spark, "ws_view", t)
    try {
      face("SQL UPDATE")(TableLog.sql(spark,
        "UPDATE ws_view SET v = v + 1 WHERE k BETWEEN 500 AND 520"))
      face("SQL DELETE")(TableLog.sql(spark,
        "DELETE FROM ws_view WHERE k BETWEEN 600 AND 610"))
      rows(700, 720, 1).createOrReplaceTempView("ws_src")
      face("SQL MERGE")(TableLog.sql(spark, "MERGE INTO ws_view t " +
        "USING ws_src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
      face("SQL INSERT")(TableLog.sql(spark,
        "INSERT INTO ws_view VALUES (9000, 1, 't9')"))
    } finally TableLog.unregisterSqlTable(spark, "ws_view")
    assert(face.missing.isEmpty,
      s"faces that wrote files without a declared stat: ${face.missing}")
    // the declared stats still prune the reads
    val s = TableLog.snapshot(t).get
    assert(s.spec.longCols == Seq("k") && s.spec.bloomCols == Seq("tag"))
    assert(s.files.size > 1 &&
      filesScanned(TableLog.scan(spark, t).where($"k" === 9000L)) <
        s.files.size)
  }

  test("the DSv2 write paths measure the catalog table's spec: row-level " +
      "DELETE/UPDATE/MERGE (copy-on-write and delta) and the streaming " +
      "sink") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.ns")
    for (mode <- Seq("cow", "mor")) {
      spark.sql(s"CREATE TABLE $CAT.ns.$mode (k BIGINT, v BIGINT, " +
        "tag STRING) TBLPROPERTIES ('statsCols' = 'k', 'strStatsCols' = " +
        s"'tag', 'bloomStatsCols' = 'tag', 'rowLevelMode' = '$mode')")
      val t = s"$wh/ns/$mode"
      TableLog.append(spark, t, rows(0, 1000))
      val face = new Faces(t)
      face(s"$mode DELETE")(spark.sql(
        s"DELETE FROM $CAT.ns.$mode WHERE k % 50 = 7"))
      face(s"$mode UPDATE")(spark.sql(
        s"UPDATE $CAT.ns.$mode SET v = -1 WHERE k % 60 = 11"))
      rows(990, 1010, 1).createOrReplaceTempView("ws_dsv2_src")
      face(s"$mode MERGE")(spark.sql(s"MERGE INTO $CAT.ns.$mode t " +
        "USING ws_dsv2_src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
      face(s"$mode streaming sink") {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val mem = MemoryStream[(Long, Long, String)]
        val q = mem.toDF().toDF("k", "v", "tag").writeStream
          .option("checkpointLocation",
            Files.createTempDirectory("graft_ws_sck").toString)
          .toTable(s"$CAT.ns.$mode")
        try {
          mem.addData((7000L, 1L, "t3"), (7001L, 2L, "t4"))
          q.processAllAvailable()
        } finally q.stop()
      }
      assert(face.missing.isEmpty,
        s"faces that wrote files without a declared stat: ${face.missing}")
      spark.sql(s"DROP TABLE $CAT.ns.$mode")
    }
  }

  test("the spec follows renames and drops, refuses unknown columns, and " +
      "a mismatched append list is refused with the table untouched") {
    val t = tmp("graft_ws_evolve")
    TableLog.create(spark, t, rows(0, 400, 4).repartitionByRange(4, $"k"),
      statsCols = Seq("k"), strStatsCols = Seq("tag"),
      bloomStatsCols = Seq("tag"))
    // a RENAME renames the column inside the spec in the same commit;
    // the next append measures it under the new name, and a scan on
    // the new name prunes old and new files alike
    val vRen = TableLog.renameColumn(spark, t, "k", "key")
    assert(TableLog.snapshotAt(t, vRen).get.spec.longCols == Seq("key"))
    TableLog.append(spark, t, rows(400, 500, 1).withColumnRenamed("k", "key"))
    val s1 = TableLog.snapshot(t).get
    assert(s1.files.filter(_.ver > vRen).forall(_.stats.exists(_.col == "key")))
    val hit = TableLog.scan(spark, t).where($"key" === 450L)
    assert(filesScanned(hit) == 1 && hit.count() == 1)
    assert(filesScanned(TableLog.scan(spark, t).where($"key" === 5L)) == 1)
    // a DROP removes the column from the spec
    TableLog.dropColumn(spark, t, "tag")
    val s2 = TableLog.snapshot(t).get
    assert(s2.spec.strCols.isEmpty && s2.spec.bloomCols.isEmpty &&
      s2.spec.longCols == Seq("key"))
    // a spec naming a column the table lacks is refused, naming both
    val e1 = intercept[IllegalArgumentException](
      TableLog.setWriteSpec(t, TableLog.WriteSpec(Seq("nope"))))
    assert(e1.getMessage.contains(t) && e1.getMessage.contains("nope"))
    val e2 = intercept[IllegalArgumentException](TableLog.create(spark,
      tmp("graft_ws_bad"), rows(0, 10), statsCols = Seq("missing")))
    assert(e2.getMessage.contains("missing"))
    // setWriteSpec is one metadata commit the next write honours
    val vSet = TableLog.setWriteSpec(t, TableLog.WriteSpec(Seq("key", "v")))
    assert(TableLog.latestVersion(t) == vSet &&
      TableLog.snapshot(t).get.files == s2.files)
    TableLog.append(spark, t, rows(500, 520, 1).drop("tag")
      .withColumnRenamed("k", "key"))
    assert(TableLog.snapshot(t).get.files.filter(_.ver > vSet)
      .forall(f => Seq("key", "v").forall(c => f.stats.exists(_.col == c))))
    // a mismatched append list is refused before anything is written
    def listing(): Seq[(String, Long)] = {
      val s = Files.walk(Paths.get(t))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toSeq.sorted
      } finally s.close()
    }
    val before = listing()
    val e3 = intercept[IllegalArgumentException](TableLog.append(spark, t,
      rows(600, 610, 1).drop("tag").withColumnRenamed("k", "key"),
      statsCols = Seq("v")))
    assert(e3.getMessage.contains(t) && e3.getMessage.contains("stats=[v]") &&
      e3.getMessage.contains("stats=[key,v]"), e3.getMessage)
    assert(listing() == before, "a refused append must leave the table " +
      "byte-identical")
    // the same list as a set passes
    TableLog.append(spark, t, rows(600, 610, 1).drop("tag")
      .withColumnRenamed("k", "key"), statsCols = Seq("v", "key"))
  }

  // ── rowLevelMode: the write spec picks every row-level commit ──────

  test("rowLevelMode cow (the default): a SQL DELETE with a non-range " +
      "predicate rewrites only the pruned files and leaves no deletion " +
      "vector") {
    val t = tmp("graft_ws_route_cow")
    TableLog.create(spark, t, spark.range(0L, 4000L, 1L, 4)
      .select($"id".as("x"), ($"id" % 7).as("v")), statsCols = Seq("x"))
    TableLog.registerSqlTable(spark, "route_cow", t)
    val before = TableLog.snapshot(t).get
    TableLog.sql(spark, "DELETE FROM route_cow WHERE x % 2 = 0 AND x < 1000")
    val after = TableLog.snapshot(t).get
    assert(after.spec.rowLevelMode == TableLog.Cow)
    assert(!after.dels.exists(_.keyCol == TableLog.DvKeyCol),
      "a cow table must not write a deletion vector")
    // the one file holding x < 1000 is rewritten, three carry
    assert(before.files.map(_.path).count(after.files.map(_.path).toSet) == 3)
    assert(after.action == "delete" && after.rows == 3500)
    assert(TableLog.read(spark, t).where($"x" < 1000).count() == 500)
    // with no range conjunct every file is rewritten, still no vector
    TableLog.sql(spark, "DELETE FROM route_cow WHERE x % 2 = 0")
    val all = TableLog.snapshot(t).get
    assert(all.dels.isEmpty && all.rows == 2000)
    assert(TableLog.read(spark, t).where($"x" % 2 === 0).count() == 0)
  }

  test("rowLevelMode mor: an update matching more than maxDvPositions " +
      "rows commits copy-on-write with the right rows") {
    val t = tmp("graft_ws_route_bulk")
    TableLog.create(spark, t, rows(0, 1000, 4), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor, maxDvPositions = 10)
    val v = TableLog.update(spark, t, $"v" % 3 === 0,
      Map("tag" -> lit("bulk")))
    val s = TableLog.snapshot(t).get
    assert(v == 2 && s.action == "update", s"got ${s.action}")
    assert(s.dels.isEmpty, "the over-cap update must land as COW")
    val want = rows(0, 1000).select($"k", $"v",
      when($"v" % 3 === 0, lit("bulk")).otherwise($"tag").as("tag"))
    val got = TableLog.read(spark, t)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(s.rows == 1000)
    // under the cap the same table takes the deletion vector
    TableLog.update(spark, t, $"k" === 7L, Map("v" -> lit(-1L)))
    assert(TableLog.snapshot(t).get.action == "update_dv")
  }

  test("a Scala-created mor table takes WriteDelta for a catalog DELETE") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.route")
    val path = s"$wh/route/scala_mor"
    TableLog.create(spark, path, rows(0, 1000), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor)
    val before = TableLog.snapshot(path).get
    spark.sql(s"DELETE FROM $CAT.route.scala_mor WHERE k % 10 = 3")
    val after = TableLog.snapshot(path).get
    assert(after.action == "write_delta_delete", s"got ${after.action}")
    assert(after.files.map(_.path) == before.files.map(_.path),
      "WriteDelta rewrites no data file")
    assert(after.dels.exists(_.keyCol == TableLog.DvKeyCol))
    assert(spark.sql(s"SELECT count(*) FROM $CAT.route.scala_mor")
      .as[Long].head() == 900)
    spark.sql(s"DROP TABLE $CAT.route.scala_mor")
  }

  test("ALTER TABLE SET TBLPROPERTIES ('rowLevelMode'='mor') commits one " +
      "version; VERSION AS OF the prior version reports cow") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.route")
    spark.sql(s"CREATE TABLE $CAT.route.alt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/route/alt"
    TableLog.append(spark, path, spark.range(100).select($"id".as("k"),
      $"id".as("v")))
    val v0 = TableLog.latestVersion(path)
    spark.sql(s"ALTER TABLE $CAT.route.alt SET TBLPROPERTIES " +
      "('rowLevelMode' = 'mor')")
    assert(TableLog.latestVersion(path) == v0 + 1)
    assert(TableLog.snapshot(path).get.action == "write_spec")
    def mode(sql: String) = spark.sql(sql).as[(String, String)].collect()
      .toMap.get("rowLevelMode")
    assert(mode(s"SHOW TBLPROPERTIES $CAT.route.alt").contains("mor"))
    val cat = GraftCatalog.catalogOf(spark, CAT).get
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("route"), "alt")
    assert(cat.loadTable(ident, v0.toString).properties()
      .get("rowLevelMode") == "cow")
    assert(!new String(Files.readAllBytes(
      Paths.get(path, "_catalog.properties"))).contains("rowLevelMode"),
      "the mode is versioned in the manifest, never in the sidecar")
    // the declared mode routes the next statement: a deletion vector
    spark.sql(s"DELETE FROM $CAT.route.alt WHERE k % 10 = 3")
    assert(TableLog.snapshot(path).get.action == "write_delta_delete")
    // UNSET returns the table to cow, again one version
    val v1 = TableLog.latestVersion(path)
    spark.sql(s"ALTER TABLE $CAT.route.alt UNSET TBLPROPERTIES ('rowLevelMode')")
    assert(TableLog.latestVersion(path) == v1 + 1 &&
      TableLog.writeSpec(path).rowLevelMode == TableLog.Cow)
    spark.sql(s"DROP TABLE $CAT.route.alt")
  }

  test("a morKey table property or DDL option is refused, naming rowLevelMode") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.route")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e1 = intercept[Exception](spark.sql(s"CREATE TABLE $CAT.route.mk " +
      "(k BIGINT) TBLPROPERTIES ('morKey' = 'k')"))
    assert(msgs(e1).exists(m => m.contains("morKey") &&
      m.contains("rowLevelMode")), msgs(e1))
    assert(!Files.exists(Paths.get(wh, "route", "mk", "_log")))
    spark.sql(s"CREATE TABLE $CAT.route.mk2 (k BIGINT)")
    val e2 = intercept[Exception](spark.sql(s"ALTER TABLE $CAT.route.mk2 " +
      "SET TBLPROPERTIES ('morKey' = 'k')"))
    assert(msgs(e2).exists(_.contains("rowLevelMode")), msgs(e2))
    assert(TableLog.latestVersion(s"$wh/route/mk2") == 1)
    assert(!new String(Files.readAllBytes(Paths.get(wh, "route", "mk2",
      "_catalog.properties"))).contains("morKey"))
    val loc = tmp("graft_ws_route_opt")
    val e3 = intercept[Exception](TableLog.sql(spark,
      s"CREATE TABLE route_mk USING graft LOCATION '$loc' " +
        "OPTIONS (morKey 'k') AS SELECT id AS k FROM range(10)"))
    assert(msgs(e3).exists(_.contains("rowLevelMode")), msgs(e3))
    assert(TableLog.latestVersion(loc) == 0)
    spark.sql(s"DROP TABLE $CAT.route.mk2")
  }
}
