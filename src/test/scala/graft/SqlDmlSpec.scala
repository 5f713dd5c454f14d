package graft

import graft.plans.{GraftDmlCommand, GraftSqlParser}
import graft.sinks.TableLog
import org.apache.spark.sql.functions._

/** The SQL DML face: UPDATE / DELETE / MERGE text over registered log
  * tables routes to the TableLog faces — same stats-pruned commits,
  * same audits — and the registered view refreshes so SELECT sees the
  * new version. Untranslatable shapes on a registered target fail
  * loudly; unregistered targets pass through. */
class SqlDmlSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  test("UPDATE/DELETE/MERGE text commit through the faces; view refreshes; prunes stay minimal") {
    val t = tmp("graft_sqldml")
    TableLog.create(spark, t, spark.range(4000)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        concat(lit("c"), ($"id" % 3)).as("tag"))
      .repartitionByRange(8, $"k").sortWithinPartitions("k"),
      statsCols = Seq("k"))
    TableLog.registerSqlTable(spark, "dml_lake", t)
    val before = TableLog.snapshot(t).get

    // UPDATE: narrow range on the k-clustered table — the commit must
    // rewrite ONLY the stat-overlapping file (copy-on-write update)
    val uv = TableLog.sql(spark,
      "UPDATE dml_lake SET v = v + 100 WHERE k BETWEEN 600 AND 640")
    assert(uv.head.getLong(0) == 2)
    val afterU = TableLog.snapshot(t).get
    val carried = before.files.map(_.path).toSet
      .intersect(afterU.files.map(_.path).toSet)
    assert(carried.size == 7,
      s"a one-file update must carry 7 of 8 files, carried ${carried.size}")
    // SELECT through plain SQL sees the refreshed view
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_lake WHERE v >= 100")
      .head.getLong(0) == 41)

    // DELETE long range
    TableLog.sql(spark, "DELETE FROM dml_lake WHERE k >= 3900")
    assert(TableLog.read(spark, t).count() == 3900)
    // DELETE string IN-list prunes by the string stats
    TableLog.sql(spark, "DELETE FROM dml_lake WHERE tag IN ('c2')")
    assert(TableLog.read(spark, t).where($"tag" === "c2").count() == 0)
    val n2 = TableLog.read(spark, t).count()

    // MERGE canonical upsert
    spark.range(100, 110).select($"id".as("k"), lit(999L).as("v"),
      lit("cm").as("tag")).createOrReplaceTempView("dml_src")
    TableLog.sql(spark,
      """MERGE INTO dml_lake USING dml_src ON dml_lake.k = dml_src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TableLog.read(spark, t).where($"v" === 999).count() == 10)
    // keys 101/104/107 carried tag c2 and were deleted above — they
    // re-enter through the NOT MATCHED branch
    assert(TableLog.read(spark, t).count() == n2 + 3)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_lake WHERE tag = 'cm'")
      .head.getLong(0) == 10)

    // untranslatable shapes on a REGISTERED target fail loudly
    val e1 = intercept[UnsupportedOperationException](TableLog.sql(spark,
      "UPDATE dml_lake SET v = 0")) // no WHERE
    assert(e1.getMessage.contains("UPDATE"))
    // a NON-RANGE predicate executes with exact SQL semantics; on this
    // default (copy-on-write) table it rewrites only the pruned files
    // and leaves no deletion vector
    val nBefore = TableLog.read(spark, t).count()
    val (hit, miss) = TableLog.snapshot(t).get.files.partition(
      _.stats.find(_.col == "k").forall(_.max > 3500))
    val expectDel = TableLog.read(spark, t)
      .where($"v" % 2 === 0 && $"k" > 3500).count()
    assert(expectDel > 0 && miss.nonEmpty)
    TableLog.sql(spark,
      "DELETE FROM dml_lake WHERE v % 2 = 0 AND k > 3500")
    assert(TableLog.read(spark, t).count() == nBefore - expectDel)
    val kept = TableLog.snapshot(t).get.files.map(_.path).toSet
    assert(miss.forall(f => kept(f.path)) && !hit.exists(f => kept(f.path)),
      "exactly the files that can hold k > 3500 are rewritten")
    assert(!TableLog.snapshot(t).get.dels.exists(_.keyCol == "__pos__"))
    val e3 = intercept[UnsupportedOperationException](TableLog.sql(spark,
      """MERGE INTO dml_lake USING dml_src ON dml_lake.k = dml_src.k
        |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(e3.getMessage.contains("MERGE"))
    // nondeterministic predicates refuse (the matched set must be the
    // set the read-side filter hides)
    val eNd = intercept[Exception](TableLog.sql(spark,
      "DELETE FROM dml_lake WHERE rand() < 0.5"))
    assert(eNd.getMessage.contains("deterministic"))
    // an UNREGISTERED name passes through to Spark untouched
    intercept[Exception](TableLog.sql(spark,
      "DELETE FROM some_other_view WHERE k = 1"))
  }

  test("rowLevelMode mor routing: UPDATE/MERGE/DELETE text commits deletion vectors and key sidecars, zero rewrites") {
    val t = tmp("graft_sqldml_mor")
    // UNCLUSTERED in k: COW would rewrite everything, MOR must not
    TableLog.create(spark, t, spark.range(2000)
      .select($"id".as("k"), ($"id" % 7).as("v"))
      .repartition(6, $"v"), statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    TableLog.registerSqlTable(spark, "dml_mor", t)
    val before = TableLog.snapshot(t).get

    TableLog.sql(spark,
      "UPDATE dml_mor SET v = v + 100 WHERE k BETWEEN 300 AND 900")
    TableLog.sql(spark, "DELETE FROM dml_mor WHERE k IN (10, 20, 30)")
    spark.range(1990, 2010).select($"id".as("k"), lit(999L).as("v"))
      .createOrReplaceTempView("dml_mor_src")
    TableLog.sql(spark,
      """MERGE INTO dml_mor USING dml_mor_src ON dml_mor.k = dml_mor_src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val after = TableLog.snapshot(t).get
    assert(before.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "all three MOR-routed statements must carry every base file")
    assert(after.dels.nonEmpty)
    // content: 2000 − 3 deleted + 10 inserted (2000..2009)
    assert(TableLog.read(spark, t).count() == 2007)
    assert(TableLog.read(spark, t).where($"k".isin(10, 20, 30)).count() == 0)
    assert(TableLog.read(spark, t).where($"v" === 999).count() == 20)
    assert(TableLog.read(spark, t)
      .where($"k".between(300, 900) && $"v" < 100).count() == 0)
    // a RANGE delete on a mor table is a deletion vector too
    TableLog.sql(spark, "DELETE FROM dml_mor WHERE k BETWEEN 0 AND 4")
    assert(before.files.map(_.path).toSet
      .subsetOf(TableLog.snapshot(t).get.files.map(_.path).toSet))
    assert(TableLog.read(spark, t).count() == 2002)
    // view refresh held throughout
    assert(TableLog.sql(spark, "SELECT count(*) AS n FROM dml_mor")
      .head.getLong(0) == 2002)
  }

  test("CALL layout verbs: zorder / hilbert_order cluster from SQL text and the maintained spec sticks") {
    val t = tmp("graft_sqldml_layout")
    TableLog.create(spark, t, spark.range(65536)
      .select(($"id" / 256).cast("long").as("a"), ($"id" % 256).as("b"),
        ($"id" % 7).as("v")))
    TableLog.registerSqlTable(spark, "layout_t", t)
    TableLog.sql(spark,
      "CALL hilbert_order('layout_t', 5, 'a', 0, 255, 'b', 0, 255)")
    val snap = TableLog.snapshot(t).get
    assert(snap.files.forall(_.stats.exists(_.col.startsWith("h2|"))),
      "the SQL verb must stamp the hilbert spec")
    // the declarative face box-prunes through the registered view
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM layout_t " +
        "WHERE a BETWEEN 0 AND 40 AND b BETWEEN 64 AND 100")
      .head.getLong(0) == 41L * 37L)
    // the z twin from text on a second table
    val tz = tmp("graft_sqldml_layoutz")
    TableLog.create(spark, tz, spark.range(4096)
      .select(($"id" / 64).cast("long").as("a"), ($"id" % 64).as("b")))
    TableLog.registerSqlTable(spark, "layout_tz", tz)
    TableLog.sql(spark,
      "CALL zorder('layout_tz', 3, 'a', 0, 63, 'b', 0, 63)")
    assert(TableLog.snapshot(tz).get.files.forall(
      _.stats.exists(_.col.startsWith("z2|"))))
  }

  test("GraftSqlParser (the injected-parser path) rewrites DML to commands; everything else delegates") {
    val t = tmp("graft_sqldml_p")
    TableLog.create(spark, t, spark.range(100)
      .select($"id".as("k"), ($"id" % 5).as("v")),
      statsCols = Seq("k"))
    TableLog.registerSqlTable(spark, "dml_lake_p", t)
    val parser = new GraftSqlParser(spark,
      org.apache.spark.sql.graft.Bridge.sqlParser(spark))
    val plan = parser.parsePlan(
      "UPDATE dml_lake_p SET v = v + 1 WHERE k BETWEEN 10 AND 20")
    assert(plan.isInstanceOf[GraftDmlCommand])
    // executing the parsed command commits and refreshes, like spark.sql
    org.apache.spark.sql.graft.Bridge.ofRows(spark, plan).collect()
    assert(TableLog.read(spark, t)
      .where($"k".between(10, 20) && $"v" >= 1).count() == 11)
    // a SELECT delegates untouched
    val sel = parser.parsePlan("SELECT 1 AS one")
    assert(!sel.isInstanceOf[GraftDmlCommand])
    // DML on an unregistered name delegates untouched
    val other = parser.parsePlan("DELETE FROM not_registered WHERE k = 1")
    assert(!other.isInstanceOf[GraftDmlCommand])
    // the newer verbs rewrite through the same injected path: INSERT,
    // CTAS, CALL, and AS OF/TVF reads all claim on registered names
    assert(parser.parsePlan("INSERT INTO dml_lake_p VALUES (999, 0)")
      .isInstanceOf[GraftDmlCommand])
    assert(parser.parsePlan("CREATE TABLE ctas_p USING graft LOCATION " +
      s"'${tmp("graft_sqldml_ctas_p")}' AS SELECT 1 AS k")
      .isInstanceOf[GraftDmlCommand])
    assert(parser.parsePlan("CALL mor_maintain('dml_lake_p', 0)")
      .isInstanceOf[GraftDmlCommand])
    assert(!parser.parsePlan("CALL mor_maintain('not_registered', 0)")
      .isInstanceOf[GraftDmlCommand])
    // this round's verbs claim through the same path
    assert(parser.parsePlan("CALL mor_fold('dml_lake_p')")
      .isInstanceOf[GraftDmlCommand])
    assert(parser.parsePlan(
      "CALL merge_branch('dml_lake_p', '/tmp/nowhere', 'k')")
      .isInstanceOf[GraftDmlCommand])
    assert(parser.parsePlan(
      "CALL hilbert_order('dml_lake_p', 4, 'k', 0, 99, 'v', 0, 4)")
      .isInstanceOf[GraftDmlCommand])
    assert(!parser.parsePlan("CALL mor_fold('not_registered')")
      .isInstanceOf[GraftDmlCommand])
    val asOf = parser.parsePlan(
      "SELECT count(*) FROM dml_lake_p VERSION AS OF 1")
    assert(org.apache.spark.sql.graft.Bridge.ofRows(spark, asOf)
      .head.getLong(0) == 100)
  }

  test("INSERT INTO text appends through the face; VERSION/TIMESTAMP AS OF reads history from text") {
    val t = tmp("graft_sqldml_ins")
    TableLog.create(spark, t, spark.range(10)
      .select($"id".as("k"), ($"id" * 2).as("v")),
      statsCols = Seq("k"))
    TableLog.registerSqlTable(spark, "dml_ins", t)
    val v0 = TableLog.latestVersion(t)
    // VALUES source, positional alignment + cast to the table's types
    val r1 = TableLog.sql(spark,
      "INSERT INTO dml_ins VALUES (100, 1), (101, 3)").head.getLong(0)
    assert(r1 == v0 + 1)
    assert(TableLog.read(spark, t).count() == 12)
    // the view refreshed: SELECT sees the insert
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_ins").head.getLong(0) == 12)
    // SELECT source + explicit (permuted) column list
    TableLog.sql(spark,
      "INSERT INTO dml_ins (v, k) SELECT 7, 200")
    assert(TableLog.read(spark, t).where($"k" === 200 && $"v" === 7)
      .count() == 1)
    // the new files carry k stats (the registration's statsCols applied)
    val snap = TableLog.snapshot(t).get
    assert(snap.files.filter(_.ver > v0)
      .forall(_.stats.exists(_.col == "k")))
    // VERSION AS OF: the pre-insert version from text alone
    assert(TableLog.sql(spark,
      s"SELECT count(*) AS n FROM dml_ins VERSION AS OF $v0")
      .head.getLong(0) == 10)
    // …and it composes (joins/filters over the pinned scan)
    assert(TableLog.sql(spark,
      s"SELECT sum(v) AS s FROM dml_ins VERSION AS OF $v0 WHERE k < 5")
      .head.getLong(0) == (0L until 5L).map(_ * 2).sum)
    // TIMESTAMP AS OF: now() resolves to the latest version
    val nowIso = java.time.Instant.now().plusSeconds(1).toString
    assert(TableLog.sql(spark,
      s"SELECT count(*) AS n FROM dml_ins TIMESTAMP AS OF '$nowIso'")
      .head.getLong(0) == 13)
    // refusals: partial column list (no defaults), arity mismatch,
    // INSERT OVERWRITE
    val e1 = intercept[UnsupportedOperationException](TableLog.sql(spark,
      "INSERT INTO dml_ins (k) VALUES (1)"))
    assert(e1.getMessage.contains("every table column"))
    val e2 = intercept[Exception](TableLog.sql(spark,
      "INSERT INTO dml_ins VALUES (1, 2, 3)").collect())
    assert(e2.getMessage.contains("columns"))
    // INSERT into an unregistered name passes through untouched
    intercept[Exception](TableLog.sql(spark,
      "INSERT INTO not_registered_ins VALUES (1)").collect())
    assert(TableLog.read(spark, t).count() == 13)
    // INSERT OVERWRITE = whole-table replace (standard semantics for
    // an unpartitioned target), history keeps the old version
    val vPre = TableLog.latestVersion(t)
    val vOw = TableLog.sql(spark,
      "INSERT OVERWRITE dml_ins VALUES (7, 70), (8, 80)").head.getLong(0)
    assert(vOw == vPre + 1)
    assert(TableLog.read(spark, t).count() == 2)
    assert(TableLog.sql(spark,
      "SELECT sum(v) AS s FROM dml_ins").head.getLong(0) == 150)
    assert(TableLog.readVersion(spark, t, vPre).count() == 13,
      "the pre-overwrite version must stay readable")
  }

  test("table_changes('<view>', vFrom, vTo): the CDC read as a SQL table-valued function") {
    val t = tmp("graft_sqldml_tvf")
    TableLog.create(spark, t, spark.range(100)
      .select($"id".as("k"), ($"id" * 2).as("v")),
      statsCols = Seq("k"))                                   // v1
    TableLog.registerSqlTable(spark, "dml_tvf", t)
    TableLog.sql(spark, "INSERT INTO dml_tvf VALUES (200, 1), (201, 2)") // v2
    TableLog.sql(spark, "DELETE FROM dml_tvf WHERE k BETWEEN 0 AND 9")   // v3
    // the v1→v3 multiset delta from text alone: inserts tagged
    // 'insert', the delete-rewritten rows' old images tagged 'delete'
    val ch = TableLog.sql(spark,
      "SELECT _change_type, count(*) AS n, sum(k) AS sk " +
        "FROM table_changes('dml_tvf', 1, 3) " +
        "GROUP BY _change_type ORDER BY _change_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // deletes: the rewritten file's removed rows = the whole first
    // file's old image; inserts: its remainder + the two new rows.
    // The multiset identity is the pin: removed − added on the common
    // keys nets to exactly the 10 deleted rows, +2 inserted
    val added = TableLog.sql(spark,
      "SELECT k FROM table_changes('dml_tvf', 1, 3) " +
        "WHERE _change_type = 'insert'")
    val removed = TableLog.sql(spark,
      "SELECT k FROM table_changes('dml_tvf', 1, 3) " +
        "WHERE _change_type = 'delete'")
    assert(ch.getOrElse("insert", 0L) - 2 ==
      ch.getOrElse("delete", 0L) - 10,
      s"multiset identity must hold: $ch")
    assert(removed.where($"k" < 10).count() == 10)
    assert(added.where($"k" >= 200).count() == 2)
    assert(added.where($"k" < 10).count() == 0,
      "deleted keys must not reappear on the insert side")
    // composing with a filter and the live view still works
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_tvf").head.getLong(0) == 92)
    // unregistered names pass through (and fail as Spark would)
    intercept[Exception](TableLog.sql(spark,
      "SELECT * FROM table_changes('nope_tvf', 1, 2)").collect())
    // DESCRIBE HISTORY / DETAIL as TVFs: queryable, joinable SQL
    val hist = TableLog.sql(spark,
      "SELECT version, action FROM table_history('dml_tvf') " +
        "ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(hist.map(_._2).toSeq == Seq("create", "append", "delete"))
    val det = TableLog.sql(spark,
      "SELECT version, rows, pending_sidecars FROM table_detail('dml_tvf')")
      .head
    assert(det.getLong(0) == 3 && det.getLong(1) == 92 &&
      det.getLong(2) == 0)
    // tags listing from SQL, joinable with history
    TableLog.tagVersion(t, "gold", 2)
    assert(TableLog.sql(spark,
      "SELECT h.action FROM table_tags('dml_tvf') g " +
        "JOIN table_history('dml_tvf') h ON g.version = h.version " +
        "WHERE g.tag = 'gold'").head.getString(0) == "append")
    // tag names work as change-interval endpoints
    TableLog.tagVersion(t, "start", 1)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM table_changes('dml_tvf', 'start', 3) " +
        "WHERE _change_type = 'delete' AND k < 10").head.getLong(0)
      == 10)
    intercept[RuntimeException](TableLog.sql(spark,
      "SELECT * FROM table_changes('dml_tvf', 'no_such_tag', 3)"))
  }

  test("CREATE TABLE … USING graft AS SELECT: DDL from text creates, registers, and the whole face works") {
    val loc = tmp("graft_sqldml_ctas")
    val v = TableLog.sql(spark,
      s"CREATE TABLE lake_ctas USING graft LOCATION '$loc' " +
        "OPTIONS (statsCols 'k') AS SELECT id AS k, id * 2 AS v " +
        "FROM range(100)").head.getLong(0)
    assert(v == 1)
    // the created files carry the OPTIONS' stat columns
    assert(TableLog.snapshot(loc).get.files
      .forall(_.stats.exists(_.col == "k")))
    // the registration is live for the WHOLE face: SELECT, DML, AS OF
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM lake_ctas").head.getLong(0) == 100)
    TableLog.sql(spark, "DELETE FROM lake_ctas WHERE k BETWEEN 0 AND 9")
    assert(TableLog.read(spark, loc).count() == 90)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM lake_ctas VERSION AS OF 1")
      .head.getLong(0) == 100)
    assert(TableLog.sql(spark,
      "SELECT max(version) AS mv FROM table_history('lake_ctas')")
      .head.getLong(0) == 2)
    // IF NOT EXISTS on an existing log: no new version, still registers
    assert(TableLog.sql(spark,
      s"CREATE TABLE IF NOT EXISTS lake_ctas USING graft " +
        s"LOCATION '$loc' AS SELECT 1 AS k, 2 AS v").head.getLong(0) ==
      TableLog.latestVersion(loc))
    assert(TableLog.read(spark, loc).count() == 90)
    // without IF NOT EXISTS, creating over an existing log refuses
    intercept[Exception](TableLog.sql(spark,
      s"CREATE TABLE lake_ctas2 USING graft LOCATION '$loc' " +
        "AS SELECT 1 AS k"))
    // refusals: missing LOCATION, unknown OPTION, PARTITIONED BY
    val e1 = intercept[UnsupportedOperationException](TableLog.sql(spark,
      "CREATE TABLE nloc USING graft AS SELECT 1 AS k"))
    assert(e1.getMessage.contains("LOCATION"))
    val e2 = intercept[UnsupportedOperationException](TableLog.sql(spark,
      s"CREATE TABLE bopt USING graft LOCATION '${loc}_x' " +
        "OPTIONS (bogus 'y') AS SELECT 1 AS k"))
    assert(e2.getMessage.contains("bogus"))
    val e3 = intercept[UnsupportedOperationException](TableLog.sql(spark,
      s"CREATE TABLE bpart USING graft LOCATION '${loc}_y' " +
        "PARTITIONED BY (k) AS SELECT 1 AS k"))
    assert(e3.getMessage.contains("PARTITIONED"))
    // REPLACE TABLE: one full-rewrite commit, history preserved
    val vPre = TableLog.latestVersion(loc)
    val vRep = TableLog.sql(spark,
      s"REPLACE TABLE lake_ctas USING graft LOCATION '$loc' " +
        "OPTIONS (statsCols 'k') AS SELECT id AS k, id AS v " +
        "FROM range(7)").head.getLong(0)
    assert(vRep == vPre + 1)
    assert(TableLog.read(spark, loc).count() == 7)
    assert(TableLog.readVersion(spark, loc, vPre).count() == 90,
      "the pre-replace version must stay readable")
    // plain REPLACE on a fresh location refuses; OR CREATE creates
    intercept[RuntimeException](TableLog.sql(spark,
      s"REPLACE TABLE rep_fresh USING graft LOCATION '${loc}_r' " +
        "AS SELECT 1 AS k"))
    assert(TableLog.sql(spark,
      s"CREATE OR REPLACE TABLE rep_fresh USING graft " +
        s"LOCATION '${loc}_r2' AS SELECT 1 AS k").head.getLong(0) == 1)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM rep_fresh").head.getLong(0) == 1)
    // DROP TABLE: external semantics — view + registration gone, the
    // commit log and bytes stay; PURGE refuses with the path
    val eP = intercept[UnsupportedOperationException](TableLog.sql(spark,
      "DROP TABLE rep_fresh PURGE"))
    assert(eP.getMessage.contains("EXTERNAL"))
    TableLog.sql(spark, "DROP TABLE rep_fresh")
    intercept[Exception](TableLog.sql(spark,
      "SELECT count(*) FROM rep_fresh").collect())
    assert(TableLog.read(spark, s"${loc}_r2").count() == 1,
      "DROP must leave the log and its bytes")
    // a dropped name passes through on the next DROP (unregistered)
    intercept[Exception](TableLog.sql(spark,
      "DROP TABLE rep_fresh").collect())
    // re-register resurrects
    TableLog.registerSqlTable(spark, "rep_fresh", s"${loc}_r2")
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM rep_fresh").head.getLong(0) == 1)
  }

  test("CALL procedures: maintenance and tag verbs from SQL text") {
    val t = tmp("graft_sqldml_call")
    TableLog.create(spark, t, spark.range(2000)
      .select($"id".as("k")).repartitionByRange(2, $"k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    TableLog.registerSqlTable(spark, "call_t", t)
    // accumulate debt: MOR sidecars + small appends
    keyDelete(t, "k", Seq(10L).toDF("k"))
    keyDelete(t, "k", Seq(20L).toDF("k"))
    // mor_fold collapses the window-adjacent burst to one entry
    TableLog.sql(spark, "CALL mor_fold('call_t')")
    assert(TableLog.snapshot(t).get.dels.size == 1)
    TableLog.sql(spark, "INSERT INTO call_t VALUES (5000), (5001)")
    val preFiles = TableLog.snapshot(t).get.files.size
    // mor_maintain retires the sidecar
    TableLog.sql(spark, "CALL mor_maintain('call_t', 0)")
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    // compact_small packs the tail
    TableLog.sql(spark, "CALL compact_small('call_t', 10485760)")
    assert(TableLog.snapshot(t).get.files.size <= preFiles)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM call_t").head.getLong(0) == 2000)
    // tag + delete_tag round-trip, visible through the TVF
    TableLog.sql(spark, "CALL tag('call_t', 'gold', 1)")
    assert(TableLog.sql(spark,
      "SELECT version FROM table_tags('call_t') WHERE tag = 'gold'")
      .head.getLong(0) == 1)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM call_t VERSION AS OF 'gold'")
      .head.getLong(0) == 2000)
    TableLog.sql(spark, "CALL delete_tag('call_t', 'gold')")
    assert(TableLog.tags(t).isEmpty)
    // vacuum_keep drops history
    TableLog.sql(spark, "CALL vacuum_keep('call_t', 1)")
    intercept[Exception](TableLog.readVersion(spark, t, 1).count())
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM call_t").head.getLong(0) == 2000)
    // vacuum_feed retires feed links below the floor and records it
    TableLog.enableCdcFeed(t)
    TableLog.sql(spark, "INSERT INTO call_t VALUES (6000)")
    TableLog.sql(spark, "INSERT INTO call_t VALUES (6001)")
    TableLog.sql(spark, "CALL vacuum_feed('call_t', 1)")
    assert(TableLog.feedFloor(t) == TableLog.latestVersion(t),
      "vacuum_feed must record the retention floor")
    // unknown procedures and unregistered views pass through
    intercept[Exception](TableLog.sql(spark,
      "CALL not_a_proc('call_t', 1)").collect())
    intercept[Exception](TableLog.sql(spark,
      "CALL mor_maintain('not_registered_call', 0)").collect())
  }

  test("DELETE with an IN-subquery predicate rides the positional " +
      "fallback: zero rewrites, exact rows") {
    val t = tmp("graft_sqldml_subq")
    TableLog.create(spark, t, spark.range(2000)
      .select($"id".as("k"), ($"id" % 7).as("v"))
      .repartitionByRange(4, $"k"), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor)
    TableLog.registerSqlTable(spark, "subq_t", t)
    Seq(3L, 700L, 1500L, 99999L).toDF("k")
      .createOrReplaceTempView("subq_src")
    val before = TableLog.snapshot(t).get
    // Spark itself evaluates the subquery; the mor table commits the
    // matched positions
    TableLog.sql(spark,
      "DELETE FROM subq_t WHERE k IN (SELECT k FROM subq_src)")
    val after = TableLog.snapshot(t).get
    assert(after.files.map(_.path) == before.files.map(_.path),
      "subquery delete must land as a deletion vector, zero rewrites")
    assert(after.dels.nonEmpty)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM subq_t").head.getLong(0) == 1997)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM subq_t WHERE k IN (3, 700, 1500)")
      .head.getLong(0) == 0)
  }

  test("CALL restore / clone: time-travel ACTIONS from SQL text") {
    val t = tmp("graft_sqldml_restore")
    TableLog.create(spark, t, spark.range(100).select($"id".as("k")),
      statsCols = Seq("k"))                                       // v1
    TableLog.registerSqlTable(spark, "rst_t", t)
    def count(): Long = TableLog.sql(spark,
      "SELECT count(*) AS n FROM rst_t").head.getLong(0)
    TableLog.sql(spark, "INSERT INTO rst_t VALUES (1000)")        // v2
    TableLog.sql(spark, "CALL tag('rst_t', 'base', 1)")
    TableLog.sql(spark, "INSERT INTO rst_t VALUES (1001)")        // v3
    assert(count() == 102)
    // restore by VERSION: a NEW commit carrying v2's file list, and
    // the registered view refreshes to see it
    TableLog.sql(spark, "CALL restore('rst_t', 2)")
    assert(count() == 101)
    assert(TableLog.latestVersion(t) == 4,
      "restore must land as a new commit, not rewrite history")
    // restore by TAG (string second argument resolves through tags)
    TableLog.sql(spark, "CALL restore('rst_t', 'base')")
    assert(count() == 100)
    // an unresolvable version refuses loudly
    intercept[Exception](TableLog.sql(spark,
      "CALL restore('rst_t', 99)"))
    // clone: zero-copy working copy at the current version; the
    // clone then diverges without touching the source
    val dst = tmp("graft_sqldml_clone")
    TableLog.sql(spark, s"CALL clone('rst_t', '$dst')")
    assert(TableLog.snapshot(dst).get.rows == 100)
    TableLog.append(spark, dst, Seq(7L).toDF("k"),
      statsCols = Seq("k"))
    assert(TableLog.snapshot(dst).get.rows == 101)
    assert(TableLog.snapshot(t).get.rows == 100,
      "a clone's append must not touch the source")
  }

  test("registrations are SESSION-scoped: one session's DML never touches another session's table") {
    val tA = tmp("graft_sqldml_sessA")
    val tB = tmp("graft_sqldml_sessB")
    val sessionB = spark.newSession()
    TableLog.create(spark, tA, spark.range(100).toDF("k"),
      statsCols = Seq("k"))
    TableLog.create(spark, tB, spark.range(100).toDF("k"),
      statsCols = Seq("k"))
    // the SAME view name registered to DIFFERENT tables in two
    // sessions — a global registry would let the later registration
    // hijack the earlier session's DML onto the wrong table
    TableLog.registerSqlTable(spark, "dml_shared", tA)
    TableLog.registerSqlTable(sessionB, "dml_shared", tB)
    TableLog.sql(spark, "DELETE FROM dml_shared WHERE k BETWEEN 0 AND 49")
    assert(TableLog.read(spark, tA).count() == 50,
      "session A's delete must hit A's table")
    assert(TableLog.read(spark, tB).count() == 100,
      "session B's table must be untouched by session A's DML")
    TableLog.sql(sessionB, "DELETE FROM dml_shared WHERE k BETWEEN 0 AND 9")
    assert(TableLog.read(spark, tB).count() == 90)
    assert(TableLog.read(spark, tA).count() == 50)
    // a session that never registered the name gets the pass-through
    // (the statement fails on the unknown relation instead of silently
    // mutating someone else's table)
    val sessionC = spark.newSession()
    intercept[Exception](
      TableLog.sql(sessionC, "DELETE FROM dml_shared WHERE k = 1")
        .collect())
    assert(TableLog.read(spark, tA).count() == 50)
    assert(TableLog.read(spark, tB).count() == 90)
  }

  test("non-integral predicates route positionally — EXACT SQL " +
      "semantics, never the truncating cast") {
    val t = tmp("graft_sqldml_typed")
    TableLog.create(spark, t, spark.range(100)
      .select($"id".as("k"), ($"id" + 0.5).as("price")),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    TableLog.registerSqlTable(spark, "dml_typed", t)
    // price = 50 under cast-to-long range semantics would have deleted
    // every row in [50.0, 51.0) — i.e. id 50 (price 50.5). Spark
    // evaluates SQL equality: NO row has price exactly 50, so
    // this is a committed NOTHING — a no-op at the current version.
    val v0 = TableLog.latestVersion(t)
    TableLog.sql(spark, "DELETE FROM dml_typed WHERE price = 50")
    assert(TableLog.latestVersion(t) == v0, "exact equality matches nothing")
    assert(TableLog.read(spark, t).count() == 100)
    // ...and exact fractional equality deletes exactly one row
    TableLog.sql(spark, "DELETE FROM dml_typed WHERE price = 50.5")
    assert(TableLog.read(spark, t).count() == 99)
    assert(TableLog.read(spark, t).where($"k" === 50).count() == 0)
    // fractional BETWEEN updates positionally (new image + vector)
    TableLog.sql(spark,
      "UPDATE dml_typed SET k = 0 WHERE price BETWEEN 1 AND 2")
    assert(TableLog.read(spark, t).where($"k" === 0).count() == 2,
      "price in {0.5..}: 1.5 matches; plus the original k=0 row")
    // a predicate on a column the table doesn't have still fails
    // loudly — now from analysis, naming the column
    val e3 = intercept[Exception](
      TableLog.sql(spark, "DELETE FROM dml_typed WHERE kk = 5"))
    assert(e3.getMessage.contains("kk"))
    // integral predicates prune the manifest by the long stats
    TableLog.sql(spark, "DELETE FROM dml_typed WHERE k BETWEEN 90 AND 200")
    assert(TableLog.read(spark, t).count() == 89)
  }

  test("domain-endpoint strict inequalities are match-nothing no-ops, not wrap-around deletes") {
    val t = tmp("graft_sqldml_wrap")
    TableLog.create(spark, t, spark.range(100).toDF("k"),
      statsCols = Seq("k"))
    TableLog.registerSqlTable(spark, "dml_wrap", t)
    val v0 = TableLog.latestVersion(t)
    // k > Long.MaxValue matches nothing; the naive lo = max+1 WRAPS to
    // Long.MinValue and would delete every row
    val r1 = TableLog.sql(spark,
      "DELETE FROM dml_wrap WHERE k > 9223372036854775807").head.getLong(0)
    assert(r1 == v0, "match-nothing delete must not commit")
    assert(TableLog.read(spark, t).count() == 100)
    val r2 = TableLog.sql(spark,
      "DELETE FROM dml_wrap WHERE k < -9223372036854775808").head.getLong(0)
    assert(r2 == v0)
    // empty BETWEEN and contradictory conjunctions: same no-op
    assert(TableLog.sql(spark,
      "DELETE FROM dml_wrap WHERE k BETWEEN 5 AND 1").head.getLong(0) == v0)
    assert(TableLog.sql(spark,
      "UPDATE dml_wrap SET k = 0 WHERE k > 50 AND k < 40")
      .head.getLong(0) == v0)
    assert(TableLog.read(spark, t).count() == 100)
    assert(TableLog.latestVersion(t) == v0)
  }

  test("bulk positional DELETE past maxDvPositions commits via " +
      "copy-on-write with identical results") {
    val t = tmp("graft_sqldml_bulkdv")
    TableLog.create(spark, t, spark.range(1000)
      .select($"id".as("k"), ($"id" % 10).as("v")),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor, maxDvPositions = 10)
    // a tiny per-commit vector cap, declared in the write spec
    TableLog.registerSqlTable(spark, "dml_bulk", t)
    // non-range predicate → positional route; 100 matched > 10 → COW
    val v = TableLog.sql(spark,
      "DELETE FROM dml_bulk WHERE v % 3 = 1").head.getLong(0)
    assert(v == 2)
    val s = TableLog.snapshot(t).get
    assert(s.dels.isEmpty, "over-cap DELETE must land as COW, no sidecar")
    assert(s.rows == 700L, "audit count must track the rewrite")
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_bulk").head.getLong(0) == 700)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_bulk WHERE v % 3 = 1")
      .head.getLong(0) == 0)
    // an UNDER-cap positional delete on the same registration still
    // takes the zero-rewrite vector path
    val filesBefore = TableLog.snapshot(t).get.files.map(_.path)
    TableLog.sql(spark, "DELETE FROM dml_bulk WHERE v % 7 = 2 AND k < 10")
    assert(TableLog.snapshot(t).get.files.map(_.path) == filesBefore)
    assert(TableLog.snapshot(t).get.dels.exists(_.keyCol == "__pos__"))
    // ...and the bulk UPDATE twin takes the same copy-on-write step
    val live = TableLog.read(spark, t).count()
    TableLog.sql(spark, "UPDATE dml_bulk SET v = 0 WHERE v % 3 = 0")
    assert(TableLog.read(spark, t).count() == live)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_bulk WHERE v IN (3, 6, 9)")
      .head.getLong(0) == 0)
  }

  test("CREATE TABLE OPTIONS carry maxDvPositions into the registration") {
    val loc = tmp("graft_sqldml_bulkopt")
    TableLog.sql(spark,
      s"""CREATE TABLE dml_bulkopt USING graft LOCATION '$loc'
         |OPTIONS (statsCols 'k', rowLevelMode 'mor', maxDvPositions '10')
         |AS SELECT id AS k, id % 10 AS v FROM range(1000)""".stripMargin)
    TableLog.sql(spark, "DELETE FROM dml_bulkopt WHERE v % 3 = 1")
    val s = TableLog.snapshot(loc).get
    assert(s.dels.isEmpty && s.rows == 700L,
      "OPTIONS-declared cap must route the bulk delete to COW")
  }

  test("CALL replace_where: predicate overwrite from text alone — " +
      "one atomic commit, stat-pruned rewrite, refusals for " +
      "nondeterminism / schema drift / violating new rows") {
    val t = tmp("graft_sqldml_rw")
    TableLog.create(spark, t, spark.range(8000)
      .select($"id".as("k"), ($"id" % 7).as("v"))
      .repartitionByRange(8, $"k").sortWithinPartitions("k"),
      statsCols = Seq("k"))
    TableLog.registerSqlTable(spark, "dml_rw", t)
    val before = TableLog.snapshot(t).get

    // happy path: recompute the [1200,1800) slice from a SELECT source
    val v = TableLog.sql(spark,
      "CALL replace_where('dml_rw', 'k >= 1200 AND k < 1800', " +
        "'SELECT id AS k, CAST(42 AS BIGINT) AS v FROM range(1200, 1500)')")
      .head.getLong(0)
    assert(v == before.version + 1, "replace_where must be ONE commit")
    val after = TableLog.snapshot(t).get
    assert(after.rows == 8000L - 600 + 300)
    // stat-pruned: only the one overlapping file left the manifest
    assert((before.files.map(_.path).toSet --
      after.files.map(_.path).toSet).size == 1,
      "the rewrite set must track the replaced slice")
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_rw WHERE v = 42")
      .head.getLong(0) == 300)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_rw WHERE k >= 1500 AND k < 1800")
      .head.getLong(0) == 0, "the replaced slice must not resurrect")

    // a registered-VIEW source works too (and column order may differ:
    // alignment is by name)
    spark.sql("SELECT CAST(41 AS BIGINT) AS v, id AS k FROM range(2200, 2300)")
      .createOrReplaceTempView("rw_src")
    TableLog.sql(spark,
      "CALL replace_where('dml_rw', 'k >= 2200 AND k < 2400', 'rw_src')")
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM dml_rw WHERE v = 41")
      .head.getLong(0) == 100)

    val filesNow = TableLog.snapshot(t).get.files.map(_.path).toSet
    // nondeterministic predicate refuses BEFORE any file is written
    val eNd = intercept[Exception](TableLog.sql(spark,
      "CALL replace_where('dml_rw', 'rand() < 0.5', 'rw_src')"))
    assert(eNd.getMessage.contains("deterministic"), eNd.getMessage)
    // unknown predicate column refuses (analysis, loud)
    intercept[Exception](TableLog.sql(spark,
      "CALL replace_where('dml_rw', 'nope > 3', 'rw_src')"))
    // schema drift refuses: missing column, then type drift
    val eMiss = intercept[UnsupportedOperationException](
      TableLog.sql(spark, "CALL replace_where('dml_rw', 'k < 0', " +
        "'SELECT id AS k FROM range(10)')"))
    assert(eMiss.getMessage.contains("missing table column v"))
    val eTyp = intercept[UnsupportedOperationException](
      TableLog.sql(spark, "CALL replace_where('dml_rw', 'k < 0', " +
        "'SELECT id AS k, CAST(1 AS INT) AS v FROM range(10)')"))
    assert(eTyp.getMessage.contains("is int, table has bigint"))
    // new rows violating the predicate abort with the table untouched
    val eViol = intercept[Exception](TableLog.sql(spark,
      "CALL replace_where('dml_rw', 'k >= 5000 AND k < 5100', " +
        "'SELECT id AS k, CAST(9 AS BIGINT) AS v FROM range(5000, 5200)')"))
    assert(eViol.getMessage.contains("do NOT satisfy"), eViol.getMessage)
    assert(TableLog.snapshot(t).get.files.map(_.path).toSet == filesNow,
      "every refusal must leave the table untouched")
    assert(TableLog.sql(spark, "SELECT count(*) AS n FROM dml_rw")
      .head.getLong(0) == 8000L - 600 + 300 - 200 + 100)
  }
}
