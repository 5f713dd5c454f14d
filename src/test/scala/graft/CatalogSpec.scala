package graft

import graft.catalog.{GraftCatalog, GraftTable}
import graft.plans.{GraftLogRelation, ResolveGraftCatalogReads}
import graft.sinks.TableLog
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** The DSv2 TableCatalog face: `graft.<ns>.<table>` names resolve
  * through Spark's own CatalogManager — DDL, INSERT, SELECT, native
  * time travel — with reads substituted to the GraftLogRelation leaf
  * so catalog queries prune exactly like `TableLog.scan`. */
class CatalogSpec extends SparkSpec {

  import spark.implicits._

  private val CAT = "graftcat"

  private lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_wh")
      .toString
    spark.conf.set(s"spark.sql.catalog.$CAT",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$CAT.warehouse", wh)
    ResolveGraftCatalogReads.install(spark)
    wh
  }

  test("DDL + INSERT + SELECT lifecycle through the catalog") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE $CAT.bronze")
    assert(spark.sql(s"SHOW NAMESPACES IN $CAT").collect()
      .map(_.getString(0)).contains("bronze"))
    spark.sql(s"CREATE TABLE $CAT.bronze.events (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    assert(spark.sql(s"SHOW TABLES IN $CAT.bronze").collect()
      .map(_.getString(1)).contains("events"))
    val path = s"$wh/bronze/events"
    // CREATE committed version 1: schema recorded, zero files
    val v1 = TableLog.snapshot(path).get
    assert(v1.version == 1 && v1.files.isEmpty && v1.rows == 0)
    assert(v1.schema.struct.fieldNames.toSeq == Seq("k", "v"))
    // an empty catalog table still SELECTs (zero rows, right schema)
    assert(spark.sql(s"SELECT * FROM $CAT.bronze.events").count() == 0)

    spark.sql(s"INSERT INTO $CAT.bronze.events " +
      "SELECT id, id % 7 FROM range(1000)")
    spark.sql(s"INSERT INTO $CAT.bronze.events VALUES (1000, 3), (1001, 5)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.bronze.events")
      .as[Long].head() == 1002)
    // the property-declared stat column was derived on every insert
    val s3 = TableLog.snapshot(path).get
    assert(s3.version == 3 && s3.files.nonEmpty)
    assert(s3.files.forall(_.stats.exists(_.col == "k")))

    // INSERT OVERWRITE = whole-table replace, history intact
    spark.sql(s"INSERT OVERWRITE $CAT.bronze.events " +
      "SELECT id, id % 3 FROM range(50)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.bronze.events")
      .as[Long].head() == 50)
    assert(TableLog.snapshot(path).get.version == 4)
    // native time travel: the pre-overwrite version is readable
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $CAT.bronze.events VERSION AS OF 3")
      .as[Long].head() == 1002)
    // ... and by TAG name
    TableLog.tagVersion(path, "pre_overwrite", 3)
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.bronze.events " +
      "VERSION AS OF 'pre_overwrite'").as[Long].head() == 1002)

    // RENAME moves the directory; the old name is gone
    spark.sql(s"ALTER TABLE $CAT.bronze.events RENAME TO bronze.events2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.bronze.events2")
      .as[Long].head() == 50)
    intercept[Exception](
      spark.sql(s"SELECT * FROM $CAT.bronze.events").collect())

    // MANAGED drop: bytes are deleted
    spark.sql(s"DROP TABLE $CAT.bronze.events2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/bronze/events2")))
    assert(spark.sql(s"SHOW TABLES IN $CAT.bronze").collect().isEmpty)
  }

  test("catalog reads prune at the manifest exactly like TableLog.scan") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.prune")
    spark.sql(s"CREATE TABLE $CAT.prune.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    // 8 single-file commits, each one exact 500-key block
    (0 until 8).foreach { i =>
      val lo = i * 500
      spark.sql(s"INSERT INTO $CAT.prune.t " +
        s"SELECT id, id % 7 FROM range($lo, ${lo + 500}, 1, 1)")
    }
    val full = spark.sql(s"SELECT * FROM $CAT.prune.t")
    // the substitution happened: no V2 scan relation survives
    assert(full.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s }.isEmpty,
      "catalog read must substitute to the GraftLogRelation path")
    assert(filesScanned(full) == 8)
    val q = spark.sql(s"SELECT * FROM $CAT.prune.t WHERE k BETWEEN 600 AND 700")
    assert(filesScanned(q) == 1,
      "catalog read must prune files from the manifest stats")
    assert(q.count() == 101)
    // whole-table count answers from the MANIFEST (zero-IO plan)
    val cnt = spark.sql(s"SELECT count(*) AS n FROM $CAT.prune.t")
    assert(cnt.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "metadata-only count must answer from the manifest")
    assert(cnt.as[Long].head() == 4000)
    // joins through the catalog reach the dynamic-prune path: a small
    // dim joined on k opens only the matching file
    val dim = Seq(42L, 77L).toDF("k")
    dim.createOrReplaceTempView("cat_dim")
    val j = spark.sql(
      s"SELECT t.k, t.v FROM $CAT.prune.t t JOIN cat_dim d ON t.k = d.k")
    assert(filesScanned(j) == 1, "dyn join prune must apply to catalog reads")
    assert(j.count() == 2)
    spark.sql(s"DROP TABLE $CAT.prune.t")
  }

  test("V1Scan fallback (rule off) reads the same rows, unpruned") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.fb")
    spark.sql(s"CREATE TABLE $CAT.fb.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql(s"INSERT INTO $CAT.fb.t SELECT id, id % 7 FROM range(300)")
    val on = spark.sql(s"SELECT * FROM $CAT.fb.t WHERE k < 10 ORDER BY k")
      .collect()
    spark.conf.set(ResolveGraftCatalogReads.CONF_KEY, "false")
    try {
      val df = spark.sql(s"SELECT * FROM $CAT.fb.t WHERE k < 10 ORDER BY k")
      // substitution off: the V2 relation stays and plans via V1Scan
      assert(df.queryExecution.optimizedPlan.collect {
        case s: DataSourceV2ScanRelation => s }.nonEmpty)
      assert(df.collect().toSeq == on.toSeq)
    } finally spark.conf.set(ResolveGraftCatalogReads.CONF_KEY, "true")
    spark.sql(s"DROP TABLE $CAT.fb.t")
  }

  test("MOR sidecars and TIMESTAMP AS OF apply to catalog reads") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.mor")
    spark.sql(s"CREATE TABLE $CAT.mor.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/mor/t"
    spark.sql(s"INSERT INTO $CAT.mor.t SELECT id, id FROM range(100)")
    Thread.sleep(20)
    val cut = java.time.Instant.now()
    Thread.sleep(20)
    // zero-rewrite MOR update through the Scala face on the SAME table
    TableLog.update(spark, path, col("k").between(10, 19),
      Map("v" -> lit(-1L)))
    val got = spark.sql(
      s"SELECT count(*) AS n FROM $CAT.mor.t WHERE v = -1").as[Long].head()
    assert(got == 10, "catalog read must resolve MOR sidecars")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.mor.t")
      .as[Long].head() == 100)
    // TIMESTAMP AS OF the pre-update instant sees the old values
    val asOf = spark.sql(s"SELECT count(*) AS n FROM $CAT.mor.t " +
      s"TIMESTAMP AS OF '$cut' WHERE v = -1").as[Long].head()
    assert(asOf == 0, "TIMESTAMP AS OF must pin the pre-update snapshot")
    // the DataFrameReader option faces route through the same
    // loadTable overloads (Spark-native time travel, no SQL text)
    assert(spark.read.option("versionAsOf", "2").table(s"$CAT.mor.t")
      .where($"v" === -1L).count() == 0)
    assert(spark.read.option("timestampAsOf", cut.toString)
      .table(s"$CAT.mor.t").where($"v" === -1L).count() == 0)
    assert(spark.read.table(s"$CAT.mor.t")
      .where($"v" === -1L).count() == 10)
    spark.sql(s"DROP TABLE $CAT.mor.t")
  }

  test("CTAS through the catalog; properties validate at CREATE") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.ctas")
    spark.sql(s"CREATE TABLE $CAT.ctas.t TBLPROPERTIES ('statsCols'='k') " +
      "AS SELECT id AS k, id % 5 AS v FROM range(200)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.ctas.t")
      .as[Long].head() == 200)
    // ATOMIC CTAS (StagingTableCatalog): data files stage uncommitted
    // and version 1 publishes schema + files + stats in ONE commit —
    // no reader window on an empty table
    assert(TableLog.snapshot(s"$wh/ctas/t").get.version == 1)
    assert(TableLog.snapshot(s"$wh/ctas/t").get.rows == 200)
    assert(TableLog.snapshot(s"$wh/ctas/t").get.files
      .forall(_.stats.exists(_.col == "k")))
    // REPLACE TABLE AS SELECT = ONE history-preserving overwrite
    // commit (the non-staged exec would drop-and-recreate, erasing
    // history)
    spark.sql(s"REPLACE TABLE $CAT.ctas.t " +
      "TBLPROPERTIES ('statsCols'='k') " +
      "AS SELECT id AS k, id % 3 AS v FROM range(50)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.ctas.t")
      .as[Long].head() == 50)
    assert(TableLog.snapshot(s"$wh/ctas/t").get.version == 2)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $CAT.ctas.t VERSION AS OF 1")
      .as[Long].head() == 200,
      "the pre-replace version must stay readable")
    // CREATE OR REPLACE on a fresh name lands as v1
    spark.sql(s"CREATE OR REPLACE TABLE $CAT.ctas.fresh " +
      "AS SELECT id AS k FROM range(10)")
    assert(TableLog.snapshot(s"$wh/ctas/fresh").get.version == 1)
    spark.sql(s"DROP TABLE $CAT.ctas.fresh")
    // a stat column that is not in the schema refuses at CREATE
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $CAT.ctas.bad (a BIGINT) " +
        "TBLPROPERTIES ('statsCols' = 'nope')"))
    assert(e.getMessage.contains("nope"))
    // PARTITIONED BY refuses with zOrder guidance
    val p = intercept[Exception](spark.sql(
      s"CREATE TABLE $CAT.ctas.part (a BIGINT, b BIGINT) " +
        "PARTITIONED BY (b)"))
    assert(p.getMessage.contains("zOrder"))
    spark.sql(s"DROP TABLE $CAT.ctas.t")
  }

  test("UPDATE/DELETE/MERGE/CALL/TVF SQL over catalog identifiers") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.dml")
    spark.sql(s"CREATE TABLE $CAT.dml.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/dml/t"
    spark.sql(s"INSERT INTO $CAT.dml.t SELECT id, id % 7 FROM range(1000)")

    // UPDATE routes to the stats-pruned COW face
    TableLog.sql(spark, s"UPDATE $CAT.dml.t SET v = 99 " +
      "WHERE k BETWEEN 100 AND 109")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.dml.t WHERE v = 99")
      .as[Long].head() == 10)
    // DELETE
    TableLog.sql(spark, s"DELETE FROM $CAT.dml.t WHERE k BETWEEN 0 AND 49")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.dml.t")
      .as[Long].head() == 950)
    // MERGE upsert from a temp-view source
    Seq((100L, -5L), (5000L, -6L)).toDF("k", "v")
      .createOrReplaceTempView("cat_dml_src")
    TableLog.sql(spark, s"MERGE INTO $CAT.dml.t t USING cat_dml_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT v FROM $CAT.dml.t WHERE k = 100")
      .as[Long].head() == -5)
    assert(spark.sql(s"SELECT v FROM $CAT.dml.t WHERE k = 5000")
      .as[Long].head() == -6)
    // a non-range predicate on a catalog target executes with exact
    // SQL semantics; this default (cow) table takes the copy-on-write
    // commit and keeps no deletion vector
    val nB = spark.sql(s"SELECT count(*) AS n FROM $CAT.dml.t")
      .as[Long].head()
    val expDel = spark.sql(
      s"SELECT count(*) AS n FROM $CAT.dml.t WHERE v % 2 = 0")
      .as[Long].head()
    val fB = TableLog.snapshot(path).get.files.map(_.path)
    TableLog.sql(spark, s"DELETE FROM $CAT.dml.t WHERE v % 2 = 0")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.dml.t")
      .as[Long].head() == nB - expDel)
    assert(!TableLog.snapshot(path).get.files.map(_.path).exists(fB.toSet),
      "a cow delete rewrites every file the predicate keeps")
    assert(TableLog.snapshot(path).get.dels.isEmpty)

    // CALL procedures accept the dotted identifier as the table arg
    val vBefore = TableLog.latestVersion(path)
    TableLog.sql(spark, s"CALL compact_small('$CAT.dml.t', ${64L << 20})")
    assert(TableLog.latestVersion(path) >= vBefore)
    // TVFs: history + changes over the catalog name
    val hist = TableLog.sql(spark,
      s"SELECT * FROM table_history('$CAT.dml.t')")
    assert(hist.count() >= 4)
    // v3 → v4 is the DELETE of k 0..49: the manifest delta's removed
    // minus re-added rows nets to exactly the 50 deleted rows
    val ch = TableLog.sql(spark,
      s"SELECT * FROM table_changes('$CAT.dml.t', 3, 4)")
    val dels = ch.where($"_change_type" === "delete").count()
    val ins = ch.where($"_change_type" === "insert").count()
    assert(dels - ins == 50)

    // MOR routing from table properties: zero base-file rewrites
    spark.sql(s"CREATE TABLE $CAT.dml.m (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    spark.sql(s"INSERT INTO $CAT.dml.m SELECT id, id FROM range(100)")
    val mPath = s"$wh/dml/m"
    val baseFiles = TableLog.snapshot(mPath).get.files.map(_.path).toSet
    TableLog.sql(spark, s"UPDATE $CAT.dml.m SET v = -1 WHERE k = 7")
    val after = TableLog.snapshot(mPath).get
    assert(baseFiles.subsetOf(after.files.map(_.path).toSet),
      "rowLevelMode property must route UPDATE to the zero-rewrite MOR commit")
    assert(after.dels.nonEmpty)
    assert(spark.sql(s"SELECT v FROM $CAT.dml.m WHERE k = 7")
      .as[Long].head() == -1)
    spark.sql(s"DROP TABLE $CAT.dml.t")
    spark.sql(s"DROP TABLE $CAT.dml.m")
  }

  test("metadata columns: _version and _file resolve, prune, and " +
      "survive MOR/schema-op cohorts") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.meta")
    spark.sql(s"CREATE TABLE $CAT.meta.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql(s"INSERT INTO $CAT.meta.t " +
      "SELECT id, id FROM range(0, 1000, 1, 2)")      // v2: two files
    spark.sql(s"INSERT INTO $CAT.meta.t " +
      "SELECT id, id FROM range(1000, 1500, 1, 1)")   // v3: one file
    // hidden from SELECT * (Spark's own metadata-column contract)
    assert(spark.sql(s"SELECT * FROM $CAT.meta.t").columns.toSeq ==
      Seq("k", "v"))
    // per-row _version = the committing manifest version
    val byVer = spark.sql(s"SELECT _version, count(*) AS n " +
      s"FROM $CAT.meta.t GROUP BY _version ORDER BY _version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byVer == Seq((2L, 1000L), (3L, 500L)))
    // _file matches the manifest's physical entries
    val files = spark.sql(s"SELECT DISTINCT _file FROM $CAT.meta.t")
      .as[String].collect()
    assert(files.length == 3 && files.forall(_.nonEmpty))
    val manifest = TableLog.snapshot(s"$wh/meta/t").get.files
      .map(_.path.split('/').last).toSet
    assert(files.map(_.split('/').last).toSet == manifest)
    // a _version filter prunes EXACTLY from the manifest: only the
    // commit-3 file opens
    val q = spark.sql(s"SELECT k FROM $CAT.meta.t WHERE _version = 3")
    assert(filesScanned(q) == 1,
      "_version predicate must prune to exactly that commit's files")
    assert(q.count() == 500)
    // max(_version) answers from the manifest — zero-IO plan
    val mx = spark.sql(s"SELECT max(_version) AS mv FROM $CAT.meta.t")
    assert(mx.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "max(_version) must answer from the manifest")
    assert(mx.as[Long].head() == 3)
    // schema-op cohort: a column rename must not disturb the metadata
    spark.sql(s"ALTER TABLE $CAT.meta.t RENAME COLUMN v TO w")
    assert(spark.sql(s"SELECT _version, count(*) AS n FROM $CAT.meta.t " +
      "GROUP BY _version ORDER BY _version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1000L), (3L, 500L)))

    // MOR: metadata attaches AT THE SCAN, below the sidecar anti-join
    // (above a shuffle input_file_name goes blank — this pins it lives
    // in the right place). Updated rows carry the update's version;
    // untouched rows keep their original commit.
    spark.sql(s"CREATE TABLE $CAT.meta.m (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    spark.sql(s"INSERT INTO $CAT.meta.m SELECT id, id FROM range(100)")
    TableLog.sql(spark, s"UPDATE $CAT.meta.m SET v = -1 " +
      "WHERE k BETWEEN 7 AND 9")
    val mor = spark.sql(s"SELECT _version, count(*) AS n " +
      s"FROM $CAT.meta.m GROUP BY _version ORDER BY _version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(mor == Seq((2L, 97L), (3L, 3L)),
      s"MOR rows must carry scan-level metadata, got $mor")
    assert(spark.sql(s"SELECT count(DISTINCT _file) AS n FROM $CAT.meta.m")
      .as[Long].head() >= 2)

    // V1 fallback (rule off): same metadata through the pruned V1Scan
    spark.conf.set(ResolveGraftCatalogReads.CONF_KEY, "false")
    try {
      val fb = spark.sql(s"SELECT _version, count(*) AS n " +
        s"FROM $CAT.meta.t GROUP BY _version ORDER BY _version").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fb == Seq((2L, 1000L), (3L, 500L)))
    } finally spark.conf.set(ResolveGraftCatalogReads.CONF_KEY, "true")
    spark.sql(s"DROP TABLE $CAT.meta.t")
    spark.sql(s"DROP TABLE $CAT.meta.m")
  }

  test("writeStream.toTable: native streaming sink — one commit per " +
      "epoch, exactly-once across restart, stats derived") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.stream")
    spark.sql(s"CREATE TABLE $CAT.stream.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/stream/t"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ck").toString
    def count() = spark.sql(s"SELECT count(*) AS n FROM $CAT.stream.t")
      .as[Long].head()
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt).toTable(s"$CAT.stream.t")
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      assert(count() == 2)
      val v1 = TableLog.latestVersion(path)
      mem.addData((3L, 30L))
      q.processAllAvailable()
      assert(count() == 3)
      assert(TableLog.latestVersion(path) == v1 + 1,
        "each epoch must be exactly ONE append commit")
      val snap = TableLog.snapshot(path).get
      assert(snap.files.nonEmpty &&
        snap.files.forall(_.stats.exists(_.col == "k")),
        "property-declared stats must derive on streaming appends")
      assert(snap.txn.exists(_.contains("#")),
        "epoch commits must be txn-stamped for idempotence")
    } finally q.stop()
    // RESTART from the same checkpoint: the replayed epoch finds its
    // txn committed and skips — no duplicate rows
    val q2 = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt).toTable(s"$CAT.stream.t")
    try {
      mem.addData((4L, 40L))
      q2.processAllAvailable()
      assert(count() == 4,
        "a replayed epoch must not double-append (txn idempotence)")
    } finally q2.stop()
    // streamed files carry manifest stats: reads prune through the
    // substitution path exactly like batch-written files
    val pruned = spark.sql(s"SELECT * FROM $CAT.stream.t WHERE k = 3")
    assert(filesScanned(pruned) <
      TableLog.snapshot(path).get.files.size)
    assert(pruned.count() == 1)
    // Complete mode (truncate per epoch) refuses loudly
    spark.sql(s"CREATE TABLE $CAT.stream.agg (k BIGINT, n BIGINT) ")
    val memc = MemoryStream[(Long, Long)]
    val qc = memc.toDF().toDF("k", "v").groupBy($"k")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckc").toString)
      .toTable(s"$CAT.stream.agg")
    try {
      memc.addData((1L, 1L))
      val e = intercept[Exception](qc.processAllAvailable())
      assert(e.getMessage.contains("Complete") ||
        Option(e.getCause).exists(_.getMessage.contains("Complete")))
    } finally qc.stop()
    spark.sql(s"DROP TABLE $CAT.stream.t")
    spark.sql(s"DROP TABLE $CAT.stream.agg")
  }

  test("readStream.table: native streaming read — manifest-version " +
      "offsets, exactly-once restart, layout commits skipped, " +
      "change commits refuse") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.sread")
    spark.sql(s"CREATE TABLE $CAT.sread.bronze (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql(s"CREATE TABLE $CAT.sread.silver (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val bronze = s"$wh/sread/bronze"
    val silver = s"$wh/sread/silver"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_srck")
      .toString
    def silverCount() = spark.sql(
      s"SELECT count(*) AS n FROM $CAT.sread.silver").as[Long].head()
    spark.sql(s"INSERT INTO $CAT.sread.bronze VALUES (1, 10), (2, 20)")
    def mkQuery() = spark.readStream.table(s"$CAT.sread.bronze")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$CAT.sread.silver")
    val q = mkQuery()
    try {
      q.processAllAvailable()
      assert(silverCount() == 2, "startingVersion=earliest delivers " +
        "the pre-stream rows")
      spark.sql(s"INSERT INTO $CAT.sread.bronze VALUES (3, 30)")
      spark.sql(s"INSERT INTO $CAT.sread.bronze VALUES (4, 40)")
      q.processAllAvailable()
      assert(silverCount() == 4, "tail appends flow through")
    } finally q.stop()
    // RESTART from the same checkpoint: offsets replay exactly-once
    spark.sql(s"INSERT INTO $CAT.sread.bronze VALUES (5, 50)")
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      assert(silverCount() == 5,
        "a restart must deliver exactly the unseen versions")
    } finally q2.stop()
    // LAYOUT commit (compaction) is skipped — no re-delivery
    TableLog.compact(spark, bronze, 1L << 30)
    val q3 = mkQuery()
    try {
      q3.processAllAvailable()
      assert(silverCount() == 5, "compaction must not re-deliver rows")
    } finally q3.stop()
    // ROW-CHANGING commit refuses with guidance...
    TableLog.delete(spark, bronze, col("k").between(1, 1))
    spark.sql(s"INSERT INTO $CAT.sread.bronze VALUES (6, 60)")
    val q4 = mkQuery()
    val e = intercept[Exception] {
      try { q4.processAllAvailable() } finally q4.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("skipChangeCommits")),
      s"delete must fail the stream with guidance, got: ${msgs(e)}")
    // ...and skipChangeCommits steps over it, still delivering appends
    val q5 = spark.readStream
      .option("skipChangeCommits", "true")
      .table(s"$CAT.sread.bronze")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$CAT.sread.silver")
    try {
      q5.processAllAvailable()
      assert(silverCount() == 6,
        "skipChangeCommits must skip the delete, deliver the append")
    } finally q5.stop()
    // maxFilesPerTrigger paces a fresh catch-up into multiple epochs —
    // each a separate silver commit (the admission-control pin)
    spark.sql(s"CREATE TABLE $CAT.sread.silver2 (k BIGINT, v BIGINT)")
    val silver2 = s"$wh/sread/silver2"
    val q6 = spark.readStream
      .option("skipChangeCommits", "true")
      .option("maxFilesPerTrigger", "1")
      .table(s"$CAT.sread.bronze")
      .writeStream.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_srck2").toString)
      .toTable(s"$CAT.sread.silver2")
    try {
      q6.processAllAvailable()
      val n2 = spark.sql(s"SELECT count(*) AS n FROM $CAT.sread.silver2")
        .as[Long].head()
      // the stream is the append-only CHANGE LOG: all 6 ever-appended
      // rows — the skipped delete commit never propagates (the
      // documented skipChangeCommits contract), and the skipped
      // compaction re-delivers nothing
      assert(n2 == 6,
        s"paced catch-up must deliver every appended row once, got $n2")
      assert(TableLog.latestVersion(silver2) > 2,
        "maxFilesPerTrigger=1 must split the catch-up into epochs")
    } finally q6.stop()
    assert(TableLog.snapshot(silver).get.files
      .forall(_.stats.exists(_.col == "k")),
      "silver stats derive on streamed appends end-to-end")
    spark.sql(s"DROP TABLE $CAT.sread.bronze")
    spark.sql(s"DROP TABLE $CAT.sread.silver")
    spark.sql(s"DROP TABLE $CAT.sread.silver2")
  }

  test("graft.ns.t__changes: the CDC subscription face — batch read " +
      "plus readStream with typed deletes and exactly-once restart") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.cdcs")
    spark.sql(s"CREATE TABLE $CAT.cdcs.t (k BIGINT, v BIGINT)")
    val path = s"$wh/cdcs/t"
    TableLog.enableCdcFeed(path)
    spark.sql(s"INSERT INTO $CAT.cdcs.t VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $CAT.cdcs.t VALUES (3, 30)")
    TableLog.delete(spark, path, col("k") === 2L)
    // batch: the whole published feed as a read-only table
    val batch = spark.sql(s"SELECT _change_type, count(*) AS n " +
      s"FROM $CAT.cdcs.t__changes GROUP BY _change_type ORDER BY 1")
      .as[(String, Long)].collect().toSeq
    assert(batch == Seq(("delete", 1L), ("insert", 3L)),
      s"batch feed read must see typed changes, got $batch")
    // an existing table WITHOUT a feed refuses with guidance
    spark.sql(s"CREATE TABLE $CAT.cdcs.nofeed (k BIGINT)")
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $CAT.cdcs.nofeed__changes").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no change feed")))
    // STREAM: the row-level CDC subscription, sunk into another
    // catalog table (memory sinks can't recover a checkpoint)
    spark.sql(s"CREATE TABLE $CAT.cdcs.sink (k BIGINT, v BIGINT, " +
      "_change_type STRING, _change_version BIGINT)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_chg")
      .toString
    def drain(): Unit = {
      val q = spark.readStream.table(s"$CAT.cdcs.t__changes")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$CAT.cdcs.sink")
      assert(q.awaitTermination(120000))
    }
    drain()
    val got = spark.sql("SELECT k, v, _change_type, _change_version " +
      s"FROM $CAT.cdcs.sink ORDER BY _change_version, _change_type, k")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._3)) ==
      Seq((1L, "insert"), (2L, "insert"), (3L, "insert"),
        (2L, "delete")),
      s"stream must deliver typed changes in version order, got $got")
    assert(got.map(_._4) == got.map(_._4).sorted,
      "_change_version must ride each row")
    // restart: only NEW changes deliver (exactly-once)
    spark.sql(s"INSERT INTO $CAT.cdcs.t VALUES (4, 40)")
    drain()
    val n2 = spark.sql(s"SELECT count(*) AS n FROM $CAT.cdcs.sink")
      .as[Long].head()
    assert(n2 == 5, s"restart must deliver exactly the new insert, $n2")
    spark.sql(s"DROP TABLE $CAT.cdcs.t")
    spark.sql(s"DROP TABLE $CAT.cdcs.sink")
    spark.sql(s"DROP TABLE $CAT.cdcs.nofeed")
  }

  test("_pos metadata column: row index within the physical file, " +
      "stable below deletion vectors — the (_file,_pos) row identity") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.posm")
    spark.sql(s"CREATE TABLE $CAT.posm.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/posm/t"
    TableLog.append(spark, path,
      spark.range(100).select($"id".as("k"), ($"id" % 9).as("v"))
        .repartitionByRange(2, $"k"))
    TableLog.append(spark, path,
      spark.range(100, 150).select($"id".as("k"), ($"id" % 9).as("v")))
    // dense per-file indexing: min 0, max n-1 in every file
    val perFile = spark.sql(s"SELECT _file, count(*) AS n, " +
      s"CAST(min(_pos) AS BIGINT) AS mn, CAST(max(_pos) AS BIGINT) " +
      s"AS mx FROM $CAT.posm.t GROUP BY _file")
      .as[(String, Long, Long, Long)].collect()
    assert(perFile.nonEmpty &&
      perFile.forall { case (_, n, mn, mx) => mn == 0 && mx == n - 1 },
      s"per-file _pos must be dense 0..n-1, got ${perFile.toSeq}")
    val before = spark.sql(
      s"SELECT k, _file, _pos FROM $CAT.posm.t")
      .as[(Long, String, Long)].collect().toSet
    // a positional delete removes rows WITHOUT moving survivors:
    // their (_file,_pos) identities are untouched
    TableLog.delete(spark, path,
      org.apache.spark.sql.functions.col("k") % 10 === 3)
    val after = spark.sql(
      s"SELECT k, _file, _pos FROM $CAT.posm.t")
      .as[(Long, String, Long)].collect().toSet
    assert(after.subsetOf(before),
      "survivor identities must be unchanged by a DV delete")
    assert(before.diff(after).map(_._1) ==
      before.map(_._1).filter(_ % 10 == 3),
      "exactly the vectored rows vanish")
    spark.sql(s"DROP TABLE $CAT.posm.t")
  }

  test("delta row-level DML (rowLevelMode='mor', SupportsDelta): " +
      "DELETE/UPDATE/MERGE commit deletion vectors + new images, " +
      "ZERO data-file rewrites, composing across statements") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rld")
    // bad mode refuses at CREATE, not at the first DML
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE $CAT.rld.bad (k BIGINT) " +
        "TBLPROPERTIES ('rowLevelMode' = 'sideways')")
    }
    spark.sql(s"CREATE TABLE $CAT.rld.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/rld/t"
    TableLog.append(spark, path,
      spark.range(4000).select($"id".as("k"), ($"id" % 10).as("v"))
        .repartitionByRange(4, $"k"),
      statsCols = Seq("k"))
    val before = TableLog.snapshot(path).get
    assert(before.files.size == 4)
    def count() = spark.sql(s"SELECT count(*) AS n FROM $CAT.rld.t")
      .as[Long].head()
    // DELETE: merge-on-read — every data file carries by reference,
    // the only new artifact is the deletion-vector sidecar
    spark.sql(s"DELETE FROM $CAT.rld.t WHERE k >= 1000 AND k < 1100")
    val afterDel = TableLog.snapshot(path).get
    assert(count() == 3900)
    assert(afterDel.rows == 3900, "manifest rows must stay exact")
    assert(afterDel.files.map(_.path).toSet ==
      before.files.map(_.path).toSet,
      "a MOR delete must rewrite ZERO data files")
    assert(afterDel.dels.nonEmpty &&
      afterDel.dels.forall(_.keyCol == "__pos__"),
      "the delete must commit as a deletion-vector sidecar")
    // SECOND delete composes with the pending vector: the scan
    // filters already-deleted positions, so rows stay exact and
    // nothing resurrects (the positional address space is stable)
    spark.sql(s"DELETE FROM $CAT.rld.t WHERE k >= 1050 AND k < 1200")
    assert(count() == 3800)
    assert(TableLog.snapshot(path).get.rows == 3800,
      "overlapping MOR deletes must not double-count")
    // UPDATE: delete+insert — old files untouched, one new image file
    spark.sql(s"UPDATE $CAT.rld.t SET v = -1 WHERE k = 2000")
    val afterUpd = TableLog.snapshot(path).get
    assert(spark.sql(s"SELECT v FROM $CAT.rld.t WHERE k = 2000")
      .as[Long].head() == -1L)
    assert(count() == 3800, "update must not change row count")
    assert(afterUpd.rows == 3800)
    assert(before.files.map(_.path).toSet
      .subsetOf(afterUpd.files.map(_.path).toSet),
      "original files must survive a MOR update untouched")
    assert(afterUpd.files.size == before.files.size + 1,
      "the update's new image lands as one new data file")
    assert(afterUpd.files.forall(_.stats.exists(_.col == "k")),
      "new image files must derive the declared stats")
    // MERGE: matched rows update (delete+insert), unmatched insert
    spark.range(3).select(($"id" * 1000).as("k"), lit(777L).as("v"))
      .createOrReplaceTempView("rld_src")
    spark.sql(s"""MERGE INTO $CAT.rld.t t USING rld_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $CAT.rld.t " +
      "WHERE k IN (0, 1000, 2000)").as[Long].head() == 3 * 777L)
    assert(count() == 3801)
    assert(TableLog.snapshot(path).get.rows == 3801)
    // a no-match DELETE commits nothing
    val v0 = TableLog.latestVersion(path)
    spark.sql(s"DELETE FROM $CAT.rld.t WHERE k = 99999999")
    assert(TableLog.latestVersion(path) == v0,
      "no-match delete must not commit")
    // full relational replay pins exact semantics end-to-end
    val want = spark.range(4000)
      .select($"id".as("k"), ($"id" % 10).as("v"))
      .where(!($"k" >= 1000 && $"k" < 1200))
      .select($"k", when($"k" === 2000, -1L).otherwise($"v").as("v"))
      .select($"k",
        when($"k" === 0 || $"k" === 2000, 777L).otherwise($"v").as("v"))
      .union(Seq((1000L, 777L)).toDF("k", "v"))
      .orderBy("k").collect().toSeq
    val got = spark.sql(s"SELECT k, v FROM $CAT.rld.t ORDER BY k")
      .collect().toSeq
    assert(got == want, "delta DML replay must match the relational " +
      "specification exactly")
    // materialization retires the vectors; results unchanged
    TableLog.morMaintain(spark, path, maxSidecars = 0)
    assert(TableLog.snapshot(path).get.dels.isEmpty)
    assert(spark.sql(s"SELECT k, v FROM $CAT.rld.t ORDER BY k")
      .collect().toSeq == want,
      "materializing the vectors must not change results")
    spark.sql(s"DROP TABLE $CAT.rld.t")
  }

  test("metadata-only DELETE (SupportsDeleteV2): exact whole-file " +
      "coverage drops files with ZERO reads/writes; boundary ranges " +
      "and uncounted nulls fall back to the row-level path") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.md")
    spark.sql(s"CREATE TABLE $CAT.md.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/md/t"
    // four appends with EXACT 1000-key file boundaries (range
    // repartitioning samples, so its boundaries are approximate — a
    // straddling boundary would silently route every case to the
    // fallback and this test would pin nothing)
    (0 until 4).foreach(i => TableLog.append(spark, path,
      spark.range(i * 1000L, (i + 1) * 1000L)
        .select($"id".as("k"), ($"id" % 10).as("v")).coalesce(1),
      statsCols = Seq("k")))
    val before = TableLog.snapshot(path).get
    assert(before.files.size == 4)
    assert(before.files.forall(f => f.rows == 1000 &&
      f.stats.exists(st => st.col == "k" && st.nulls == 0)),
      "write-time row counts and null counts must be recorded")
    def count() = spark.sql(s"SELECT count(*) AS n FROM $CAT.md.t")
      .as[Long].head()
    // a range covering file 0 EXACTLY: metadata-only drop
    val md0 = TableLog.metadataDeletes.get()
    spark.sql(s"DELETE FROM $CAT.md.t WHERE k < 1000")
    assert(TableLog.metadataDeletes.get() == md0 + 1,
      "exact coverage must take the metadata-only path")
    val s1 = TableLog.snapshot(path).get
    assert(s1.files.size == 3 && s1.rows == 3000 && count() == 3000)
    assert(s1.files.map(_.path).toSet.subsetOf(
      before.files.map(_.path).toSet), "no file may be rewritten")
    assert(s1.dels.isEmpty)
    // a BOUNDARY range falls back (here: the COW group rewrite)
    spark.sql(s"DELETE FROM $CAT.md.t WHERE k >= 1200 AND k < 1800")
    assert(TableLog.metadataDeletes.get() == md0 + 1,
      "a straddling range must NOT take the metadata path")
    assert(count() == 2400 && TableLog.snapshot(path).get.rows == 2400)
    // an uncounted-null hazard falls back: the file's range satisfies
    // the predicate but a NULL row must survive a SQL DELETE
    TableLog.append(spark, path,
      Seq((Option.empty[Long], 77L), (Some(9000L), 88L))
        .toDF("k", "v").coalesce(1), statsCols = Seq("k"))
    spark.sql(s"DELETE FROM $CAT.md.t WHERE k >= 9000")
    assert(TableLog.metadataDeletes.get() == md0 + 1,
      "a file with nulls must NOT drop whole")
    assert(count() == 2401, "the NULL row must survive the delete")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.md.t " +
      "WHERE k IS NULL").as[Long].head() == 1)
    // TRUNCATE rides the same face: drop-all, zero reads
    spark.sql(s"TRUNCATE TABLE $CAT.md.t")
    assert(TableLog.metadataDeletes.get() == md0 + 2)
    assert(count() == 0 && TableLog.snapshot(path).get.rows == 0)
    spark.sql(s"DROP TABLE $CAT.md.t")
  }

  test("metadata-only DELETE composes with pending deletion vectors: " +
      "dropped files' live counts subtract the vectored positions") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.mdv")
    spark.sql(s"CREATE TABLE $CAT.mdv.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/mdv/t"
    (0 until 2).foreach(i => TableLog.append(spark, path,
      spark.range(i * 1000L, (i + 1) * 1000L)
        .select($"id".as("k"), ($"id" % 10).as("v")).coalesce(1),
      statsCols = Seq("k")))
    // positional delete leaves a pending vector over file 0's rows
    spark.sql(s"DELETE FROM $CAT.mdv.t WHERE k % 100 = 7") // 20 rows
    assert(TableLog.snapshot(path).get.dels.nonEmpty)
    assert(TableLog.snapshot(path).get.rows == 1980)
    // now drop file 0 whole: live rows removed = 1000 − 10 vectored
    val md0 = TableLog.metadataDeletes.get()
    spark.sql(s"DELETE FROM $CAT.mdv.t WHERE k < 1000")
    assert(TableLog.metadataDeletes.get() == md0 + 1,
      "exact coverage over a vectored file must stay metadata-only")
    val s1 = TableLog.snapshot(path).get
    assert(s1.rows == 990, s"990 live rows expected, got ${s1.rows}")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.mdv.t")
      .as[Long].head() == 990)
    spark.sql(s"DROP TABLE $CAT.mdv.t")
  }

  test("metadata-only DELETE prunes deletion vectors whose every " +
      "target file was dropped (no orphaned sidecar survives)") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.mdo")
    spark.sql(s"CREATE TABLE $CAT.mdo.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/mdo/t"
    (0 until 2).foreach(i => TableLog.append(spark, path,
      spark.range(i * 1000L, (i + 1) * 1000L)
        .select($"id".as("k"), ($"id" % 10).as("v")).coalesce(1),
      statsCols = Seq("k")))
    // a vector confined ENTIRELY to file 0 (its string-stat file-key
    // range fences only that file)...
    spark.sql(s"DELETE FROM $CAT.mdo.t WHERE k < 1000 AND k % 100 = 7")
    val withDv = TableLog.snapshot(path).get
    assert(withDv.dels.nonEmpty && withDv.rows == 1990)
    // ...orphans when file 0 drops whole: the entry must vanish from
    // the manifest instead of being read (and byte-counted toward a
    // morMaintain rewrite) forever
    val md0 = TableLog.metadataDeletes.get()
    spark.sql(s"DELETE FROM $CAT.mdo.t WHERE k < 1000")
    assert(TableLog.metadataDeletes.get() == md0 + 1,
      "the drop must stay metadata-only")
    val s1 = TableLog.snapshot(path).get
    assert(s1.dels.isEmpty,
      s"orphaned deletion vector must be pruned, got ${s1.dels}")
    assert(s1.rows == 1000 && spark.sql(
      s"SELECT count(*) AS n FROM $CAT.mdo.t").as[Long].head() == 1000)
    // a vector that still fences a SURVIVING file is NOT pruned
    spark.sql(s"DELETE FROM $CAT.mdo.t WHERE k % 100 = 7") // 10 rows
    assert(TableLog.snapshot(path).get.dels.nonEmpty)
    TableLog.append(spark, path,
      spark.range(2000L, 3000L).select($"id".as("k"),
        ($"id" % 10).as("v")).coalesce(1), statsCols = Seq("k"))
    val md1 = TableLog.metadataDeletes.get()
    spark.sql(s"DELETE FROM $CAT.mdo.t WHERE k >= 2000")
    assert(TableLog.metadataDeletes.get() == md1 + 1)
    val s2 = TableLog.snapshot(path).get
    assert(s2.dels.nonEmpty,
      "a vector fencing a surviving file must carry forward")
    assert(s2.rows == 990 && spark.sql(
      s"SELECT count(*) AS n FROM $CAT.mdo.t").as[Long].head() == 990)
    spark.sql(s"DROP TABLE $CAT.mdo.t")
  }

  test("COW row-level rewrite prunes deletion vectors whose every " +
      "fenced file it replaced") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.cdo")
    spark.sql(s"CREATE TABLE $CAT.cdo.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/cdo/t"
    (0 until 2).foreach(i => TableLog.append(spark, path,
      spark.range(i * 1000L, (i + 1) * 1000L)
        .select($"id".as("k"), ($"id" % 10).as("v")).coalesce(1),
      statsCols = Seq("k")))
    // a vector confined to file 0, via the engine face under `mor`
    // (the table's own rowLevelMode is 'cow', so vanilla DML takes
    // ReplaceData)
    underMode(path, TableLog.Mor)(TableLog.delete(spark, path,
      col("k") < 1000 && col("k") % 100 === 7)) // 10 rows
    assert(TableLog.snapshot(path).get.dels.nonEmpty)
    assert(TableLog.snapshot(path).get.rows == 1990)
    // a straddling vanilla DELETE rewrites BOTH files (not exact
    // coverage, so the metadata-only path cannot fire): the vector's
    // only fenced file is gone and its positions were applied in the
    // rewrite — the entry must not be carried forward
    val md0 = TableLog.metadataDeletes.get()
    spark.sql(s"DELETE FROM $CAT.cdo.t WHERE k >= 500 AND k < 1500")
    assert(TableLog.metadataDeletes.get() == md0,
      "the straddling shape must take the COW rewrite")
    val s1 = TableLog.snapshot(path).get
    assert(s1.dels.isEmpty,
      s"orphaned vector must be pruned by the rewrite, got ${s1.dels}")
    // 1990 − (1000 live rows in [500,1500) minus the 5 already
    // vector-deleted there) = 995
    assert(s1.rows == 995 && spark.sql(
      s"SELECT count(*) AS n FROM $CAT.cdo.t").as[Long].head() == 995)
    // k%100=7 survivors: the vector deleted {7..907}, the rewrite
    // {1007..1407} — only {1507..1907} remain
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.cdo.t " +
      "WHERE k % 100 = 7").as[Long].head() == 5,
      "vector-deleted rows must stay deleted through the rewrite")
    spark.sql(s"DROP TABLE $CAT.cdo.t")
  }

  test("vacuum sweeps crashed row-level staging orphans (rl-/rld-) " +
      "while referenced deletion-vector shards survive") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.vrl")
    spark.sql(s"CREATE TABLE $CAT.vrl.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
    val path = s"$wh/vrl/t"
    (0 until 2).foreach(i => TableLog.append(spark, path,
      spark.range(i * 1000L, (i + 1) * 1000L)
        .select($"id".as("k"), ($"id" % 10).as("v")).coalesce(1),
      statsCols = Seq("k")))
    // a real delta DML leaves ONE REFERENCED DV sidecar: the per-task
    // rld- shards fold into a single data/<set>/ file at commit
    // (round 19), and vacuum must keep it by reference like any
    // manifest entry
    spark.sql(s"DELETE FROM $CAT.vrl.t WHERE k % 100 = 7") // 20 rows
    val dvPaths = TableLog.snapshot(path).get.dels.map(_.file.path)
    assert(dvPaths.size == 1, s"expected the folded sidecar, $dvPaths")
    // a driver crash mid-write leaves unmanifested staging files that
    // abort() never got to delete — both the group-rewrite (rl-) and
    // delta (rld-) shapes
    spark.range(99).toDF("k")
      .write.parquet(s"$path/data/rl-deadc0de")
    spark.range(42).toDF("k")
      .write.parquet(s"$path/data/rld-deadbeef")
    def count() = spark.sql(s"SELECT count(*) AS n FROM $CAT.vrl.t")
      .as[Long].head()
    assert(count() == 1980, "orphans must be invisible to reads")
    val deleted = TableLog.vacuum(spark, path, olderThanMs = 0L)
    assert(deleted.exists(_.startsWith("data/rl-deadc0de")),
      s"rl- orphan must be swept, got $deleted")
    assert(deleted.exists(_.startsWith("data/rld-deadbeef")),
      s"rld- orphan must be swept, got $deleted")
    // the emptied dir's mtime was refreshed by the deletions, so the
    // dir itself goes on the NEXT sweep (files are what cost bytes)
    val orphanDir = java.nio.file.Paths.get(path, "data/rl-deadc0de")
    if (java.nio.file.Files.exists(orphanDir)) {
      val s = java.nio.file.Files.list(orphanDir)
      try assert(!s.iterator().hasNext,
        "no files may remain under the swept orphan dir")
      finally s.close()
      TableLog.vacuum(spark, path, olderThanMs = 0L)
    }
    assert(!java.nio.file.Files.exists(orphanDir))
    dvPaths.foreach(p => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, p)),
      s"referenced DV shard $p must survive the sweep"))
    assert(count() == 1980, "reads identical after the sweep")
    spark.sql(s"DROP TABLE $CAT.vrl.t")
  }

  test("metadata columns on a STREAMING read refuse with guidance " +
      "(Spark never prunes them into the stream's scan)") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.smet")
    spark.sql(s"CREATE TABLE $CAT.smet.t (k BIGINT)")
    TableLog.append(spark, s"$wh/smet/t",
      spark.range(10).select($"id".as("k")))
    graft.plans.ResolveGraftCatalogReads.install(spark)
    val ck = java.nio.file.Files.createTempDirectory("smet_ck").toString
    val q = spark.readStream.table(s"$CAT.smet.t")
      .select($"k", $"_pos")
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("noop").start()
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q.awaitTermination(120000) }
    assert(e.getMessage.contains("batch-only"),
      s"expected the metadata-column refusal, got: ${e.getMessage}")
    // the same projection through the BATCH face works: per-file
    // dense 0..n-1 indexing across however many files the append cut
    val batch = spark.sql(s"SELECT _file, _pos FROM $CAT.smet.t")
      .as[(String, Long)].collect()
    assert(batch.length == 10, "batch _pos must stay served")
    batch.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (0L until g.length.toLong),
        s"per-file _pos must be dense, got ${g.toSeq}")
    }
    spark.sql(s"DROP TABLE $CAT.smet.t")
  }

  test("delta row-level DML on a CDC-feed table publishes typed " +
      "changes: vectored old images as deletes, new images as inserts") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rldc")
    spark.sql(s"CREATE TABLE $CAT.rldc.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('rowLevelMode' = 'mor')")
    val path = s"$wh/rldc/t"
    TableLog.enableCdcFeed(path)
    TableLog.append(spark, path,
      spark.range(100).select($"id".as("k"), ($"id" % 5).as("v")))
    spark.sql(s"DELETE FROM $CAT.rldc.t WHERE k % 10 = 3") // 10 rows
    spark.sql(s"UPDATE $CAT.rldc.t SET v = 99 WHERE k = 44") // del+ins
    val ch = spark.sql(s"SELECT _change_type, CAST(count(*) AS BIGINT)" +
      s" AS n FROM $CAT.rldc.t__changes GROUP BY _change_type")
      .as[(String, Long)].collect().toMap
    assert(ch.getOrElse("insert", 0L) == 101,
      s"100 appended + 1 update new image, got $ch")
    assert(ch.getOrElse("delete", 0L) == 11,
      s"10 deleted + 1 update old image, got $ch")
    // the update's typed pair carries exact old/new images
    val upd = spark.sql(s"SELECT _change_type, v FROM " +
      s"$CAT.rldc.t__changes WHERE k = 44 ORDER BY _change_version, " +
      "_change_type").as[(String, Long)].collect().toSeq
    assert(upd.contains(("delete", 4L)) && upd.contains(("insert", 99L)),
      s"expected old image v=4 delete + new image v=99 insert, got $upd")
    spark.sql(s"DROP TABLE $CAT.rldc.t")
  }

  test("delta row-level DML auto-maintains past the pending-sidecar " +
      "policy (post-commit: its own positions stay valid, the NEXT " +
      "statement starts from a materialized table)") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rlm")
    spark.sql(s"CREATE TABLE $CAT.rlm.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('rowLevelMode' = 'mor')")
    val path = s"$wh/rlm/t"
    TableLog.append(spark, path,
      spark.range(500).select($"id".as("k"), ($"id" % 7).as("v")))
    spark.conf.set("spark.graft.rowLevel.maxPendingDvSidecars", "1")
    try {
      spark.sql(s"DELETE FROM $CAT.rlm.t WHERE k % 50 = 3")  // 10 rows
      // the statement's per-task shards FOLD to one sidecar at commit
      // (round 19), so a single statement sits AT the 1-sidecar bound
      // — pending, valid, no forced maintenance yet
      assert(TableLog.snapshot(path).get.dels.size == 1,
        "one statement = one folded sidecar, at the bound")
      assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlm.t")
        .as[Long].head() == 490)
      assert(TableLog.snapshot(path).get.rows == 490)
      // the SECOND statement pushes the COUNT past the policy at tiny
      // bytes: the post-commit guard FOLDS (one sidecar, zero
      // data-file rewrites) instead of materializing
      val filesBefore = TableLog.snapshot(path).get.files
        .map(_.path).toSet
      spark.sql(s"DELETE FROM $CAT.rlm.t WHERE k % 50 = 4")
      val afterFold = TableLog.snapshot(path).get
      assert(afterFold.dels.size == 1,
        "a count-only trip must FOLD the vectors, not materialize")
      assert(afterFold.files.map(_.path).toSet == filesBefore,
        "the fold must rewrite zero data files")
      assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlm.t")
        .as[Long].head() == 480)
      assert(afterFold.rows == 480)
      // the BYTES bound still takes the materializing rewrite: with a
      // 1-byte budget the next statement's guard retires everything
      spark.conf.set("spark.graft.rowLevel.maxPendingDvBytes", "1")
      spark.sql(s"DELETE FROM $CAT.rlm.t WHERE k % 50 = 5")
      assert(TableLog.snapshot(path).get.dels.isEmpty,
        "past the bytes bound the commit must retire the vectors")
      assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlm.t")
        .as[Long].head() == 470)
      assert(TableLog.snapshot(path).get.rows == 470)
    } finally {
      spark.conf.unset("spark.graft.rowLevel.maxPendingDvSidecars")
      spark.conf.unset("spark.graft.rowLevel.maxPendingDvBytes")
    }
    spark.sql(s"DROP TABLE $CAT.rlm.t")
  }

  test("group-based (cow) row-level DML composes with PENDING " +
      "deletion vectors: the rewrite filters them (no resurrect), " +
      "manifest rows stay exact; KEY sidecars self-heal in-statement") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rlp")
    spark.sql(s"CREATE TABLE $CAT.rlp.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/rlp/t"
    TableLog.append(spark, path,
      spark.range(2000).select($"id".as("k"), ($"id" % 10).as("v"))
        .repartitionByRange(2, $"k"),
      statsCols = Seq("k"))
    // a positional MOR delete leaves a pending vector over file 1
    underMode(path, TableLog.Mor)(TableLog.delete(spark, path,
      org.apache.spark.sql.functions.col("k") % 100 === 7))
    assert(TableLog.snapshot(path).get.dels.nonEmpty)
    assert(TableLog.snapshot(path).get.rows == 1980)
    // the group rewrite scans THROUGH the vector: k=107 is already
    // deleted and must not resurrect; k in [100,200) minus the
    // vectored k=107 go now — and the rows arithmetic must subtract
    // the vectored positions of the replaced group, not its raw count
    spark.sql(s"DELETE FROM $CAT.rlp.t WHERE k >= 100 AND k < 200")
    val s1 = TableLog.snapshot(path).get
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlp.t")
      .as[Long].head() == 1881)
    assert(s1.rows == 1881,
      s"manifest rows must stay exact under pending vectors, got ${s1.rows}")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlp.t " +
      "WHERE k % 100 = 7").as[Long].head() == 0,
      "vectored rows must stay deleted — inside the rewritten group " +
        "(not resurrected by the rewrite) and outside it (vector " +
        "still pending)")
    // UPDATE through the same framework, vectors still pending
    spark.sql(s"UPDATE $CAT.rlp.t SET v = -5 WHERE k = 1507")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlp.t " +
      "WHERE v = -5").as[Long].head() == 0,
      "k=1507 is vectored-deleted; the update must not resurrect it")
    assert(TableLog.snapshot(path).get.rows == 1881)
    spark.sql(s"UPDATE $CAT.rlp.t SET v = -5 WHERE k = 1506")
    assert(spark.sql(s"SELECT v FROM $CAT.rlp.t WHERE k = 1506")
      .as[Long].head() == -5L)
    assert(TableLog.snapshot(path).get.rows == 1881)
    // KEY sidecars (anti-join MOR) SELF-HEAL: the statement runs a
    // gated morMaintain (materializing the pending key AND positional
    // sidecars) and then lands against the maintained snapshot
    underMode(path, TableLog.Mor)(keyDelete(path, "k", Seq(300L).toDF("k")))
    spark.sql(s"DELETE FROM $CAT.rlp.t WHERE k = 400")
    val s2 = TableLog.snapshot(path).get
    assert(s2.dels.isEmpty,
      "the self-heal must materialize every pending sidecar")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rlp.t " +
      "WHERE k IN (300, 400)").as[Long].head() == 0,
      "both the MOR-deleted and the statement-deleted key must be gone")
    assert(s2.rows == 1879,
      s"manifest rows must stay exact through the self-heal, got ${s2.rows}")
    spark.sql(s"DROP TABLE $CAT.rlp.t")
  }

  test("readStream.table maxBytesPerTrigger: byte-budget admission " +
      "splits the catch-up into epochs") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.sbyte")
    spark.sql(s"CREATE TABLE $CAT.sbyte.b (k BIGINT)")
    spark.sql(s"CREATE TABLE $CAT.sbyte.s (k BIGINT)")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO $CAT.sbyte.b VALUES ($i)"))
    val q = spark.readStream
      .option("maxBytesPerTrigger", "1") // < any file: 1 version/epoch
      .table(s"$CAT.sbyte.b")
      .writeStream.option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_sbk").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$CAT.sbyte.s")
    try assert(q.awaitTermination(120000)) finally q.stop()
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.sbyte.s")
      .as[Long].head() == 4, "paced drain still delivers everything")
    assert(TableLog.latestVersion(s"$wh/sbyte/s") > 3,
      "a 1-byte budget must admit one version per epoch")
    spark.sql(s"DROP TABLE $CAT.sbyte.b")
    spark.sql(s"DROP TABLE $CAT.sbyte.s")
  }

  test("__changes stream options: startingVersion=latest subscribes " +
      "to NEW changes only; maxFilesPerTrigger paces the catch-up") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.chop")
    spark.sql(s"CREATE TABLE $CAT.chop.t (k BIGINT)")
    val path = s"$wh/chop/t"
    TableLog.enableCdcFeed(path)
    spark.sql(s"INSERT INTO $CAT.chop.t VALUES (1)")
    spark.sql(s"INSERT INTO $CAT.chop.t VALUES (2)")
    def drainTo(name: String, opts: Map[String, String],
        ckpt: String): Unit = {
      var r = spark.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table(s"$CAT.chop.t__changes")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    def tmpCk(n: String) = java.nio.file.Files
      .createTempDirectory(n).toString
    // latest: the published history is skipped
    drainTo("chop_latest", Map("startingVersion" -> "latest"),
      tmpCk("graft_chl"))
    assert(spark.sql("SELECT count(*) AS n FROM chop_latest")
      .as[Long].head() == 0)
    // paced catch-up from earliest still delivers everything
    drainTo("chop_paced", Map("maxFilesPerTrigger" -> "1"),
      tmpCk("graft_chp"))
    assert(spark.sql("SELECT count(*) AS n FROM chop_paced")
      .as[Long].head() == 2)
    spark.sql(s"DROP TABLE $CAT.chop.t")
  }

  test("readStream.table startingVersion: latest skips history, a " +
      "number delivers FROM it, vacuumed offsets fail with restart " +
      "guidance") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.ssv")
    spark.sql(s"CREATE TABLE $CAT.ssv.b (k BIGINT)")
    val bronze = s"$wh/ssv/b"
    spark.sql(s"INSERT INTO $CAT.ssv.b VALUES (1)") // v2
    spark.sql(s"INSERT INTO $CAT.ssv.b VALUES (2)") // v3
    def drainTo(name: String, opts: Map[String, String]): Unit = {
      var r = spark.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table(s"$CAT.ssv.b")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(s"graft_$name").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    // latest: existing history skipped — nothing delivered
    drainTo("ssv_latest", Map("startingVersion" -> "latest"))
    assert(spark.sql("SELECT count(*) AS n FROM ssv_latest")
      .as[Long].head() == 0)
    // numeric: deliver FROM that version inclusive
    drainTo("ssv_v3", Map("startingVersion" -> "3"))
    assert(spark.sql("SELECT k FROM ssv_v3").as[Long].collect()
      .toSeq == Seq(2L))
    // timestamp: deliver FROM the first version committed at or
    // after the instant (v3's own stamp opens at v3)
    val ts3 = TableLog.history(spark, bronze)
      .where($"version" === 3).select($"ts_ms").as[Long].head()
    drainTo("ssv_ts", Map("startingTimestamp" -> ts3.toString))
    assert(spark.sql("SELECT k FROM ssv_ts").as[Long].collect()
      .toSeq == Seq(2L))
    intercept[Exception](drainTo("ssv_mx",
      Map("startingTimestamp" -> ts3.toString,
        "startingVersion" -> "3")))
    // an offset below the vacuum floor fails with restart guidance
    (1 to 12).foreach(i =>
      spark.sql(s"INSERT INTO $CAT.ssv.b VALUES (${10 + i})"))
    TableLog.vacuum(spark, bronze, keepVersions = 3)
    val e = intercept[Exception](
      drainTo("ssv_old", Map("startingVersion" -> "2")))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("vacuumed")),
      s"vacuumed offset must fail with guidance, got ${msgs(e)}")
    spark.sql(s"DROP TABLE $CAT.ssv.b")
  }

  test("startingTag on the data stream AND the __changes stream: " +
      "exclusive — deliver strictly after the tagged snapshot") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.stag")
    spark.sql(s"CREATE TABLE $CAT.stag.b (k BIGINT)")
    val bronze = s"$wh/stag/b"
    TableLog.enableCdcFeed(bronze)
    spark.sql(s"INSERT INTO $CAT.stag.b VALUES (1)") // v2
    TableLog.tagVersion(bronze, "seeded", 2L)
    spark.sql(s"INSERT INTO $CAT.stag.b VALUES (2)") // v3
    def drainTo(src: String, name: String,
        opts: Map[String, String]): Unit = {
      var r = spark.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table(src)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(s"graft_$name").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    // data stream: only the post-tag insert arrives
    drainTo(s"$CAT.stag.b", "stag_data",
      Map("startingTag" -> "seeded"))
    assert(spark.sql("SELECT k FROM stag_data").as[Long].collect()
      .toSeq == Seq(2L))
    // changes stream: same cut, typed rows
    drainTo(s"$CAT.stag.b__changes", "stag_ch",
      Map("startingTag" -> "seeded"))
    assert(spark.sql("SELECT k, _change_type FROM stag_ch")
      .as[(Long, String)].collect().toSeq == Seq((2L, "insert")))
    // unknown tags and conflicting options fail loudly
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e1 = intercept[Exception](drainTo(s"$CAT.stag.b", "stag_bad",
      Map("startingTag" -> "nope")))
    assert(msgs(e1).exists(_.contains("not found")))
    val e2 = intercept[Exception](drainTo(s"$CAT.stag.b", "stag_both",
      Map("startingTag" -> "seeded", "startingVersion" -> "1")))
    assert(msgs(e2).exists(_.contains("mutually exclusive")))
    spark.sql(s"DROP TABLE $CAT.stag.b")
  }

  test("readChangeFeed on the table itself (extension session): " +
      "typed rows, exactly-once across stop/restart, batch face, " +
      "and refusals") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rcf")
    spark.sql(s"CREATE TABLE $CAT.rcf.b (k BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $CAT.rcf.s (k BIGINT, v BIGINT, " +
      "_change_type STRING, _change_version BIGINT)")
    val path = s"$wh/rcf/b"
    TableLog.enableCdcFeed(path)
    spark.sql(s"INSERT INTO $CAT.rcf.b VALUES (1, 10), (2, 20)") // v2
    // the extension session shares the context; catalog confs are
    // per-session and must be re-declared
    val s2 = GraftSessions.withExtensions(spark)
    s2.conf.set(s"spark.sql.catalog.$CAT",
      classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$CAT.warehouse", wh)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_rcf").toString
    def drain(): Unit = {
      val q = s2.readStream.option("readChangeFeed", "true")
        .table(s"$CAT.rcf.b")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$CAT.rcf.s")
      assert(q.awaitTermination(120000))
    }
    drain() // run 1: the insert wave, typed
    assert(spark.sql(s"SELECT k, _change_type FROM $CAT.rcf.s " +
      "ORDER BY k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "insert"), (2L, "insert")))
    // a COW delete (typed capture) + another insert land mid-stream
    TableLog.delete(spark, path, col("k").between(1L, 1L))          // v3
    spark.sql(s"INSERT INTO $CAT.rcf.b VALUES (3, 30)")     // v4
    drain() // RESTART from the checkpoint: exactly the unseen versions
    val afterTwo = spark.sql(s"SELECT _change_type, k FROM $CAT.rcf.s " +
      "ORDER BY _change_version, k").as[(String, Long)].collect().toSeq
    assert(afterTwo == Seq(("insert", 1L), ("insert", 2L),
      ("delete", 1L), ("insert", 3L)), s"got $afterTwo")
    drain() // run 3: nothing new — exactly-once means no re-delivery
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rcf.s")
      .as[Long].head() == 4)
    // the PLAIN data stream still refuses the row-changing commit,
    // now pointing at readChangeFeed
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val ePlain = intercept[Exception] {
      val q = s2.readStream.table(s"$CAT.rcf.b")
        .writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_rcfp").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    }
    assert(msgs(ePlain).exists(_.contains("readChangeFeed")),
      s"plain-stream refusal must point at the option, got ${msgs(ePlain)}")
    // batch face: the whole feed so far as one typed frame
    val batch = s2.read.option("readChangeFeed", "true")
      .table(s"$CAT.rcf.b")
      .groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(batch == Map("insert" -> 3L, "delete" -> 1L), s"got $batch")
    // no feed → analysis-time refusal with guidance
    spark.sql(s"CREATE TABLE $CAT.rcf.p (k BIGINT)")
    val eNoFeed = intercept[Exception](
      s2.read.option("readChangeFeed", "true").table(s"$CAT.rcf.p"))
    assert(msgs(eNoFeed).exists(_.contains("no change feed")),
      s"got ${msgs(eNoFeed)}")
    Seq("b", "s", "p").foreach(t =>
      spark.sql(s"DROP TABLE $CAT.rcf.$t"))
  }

  test("predicate overwrite (writeTo.overwrite = replaceWhere): one " +
      "atomic commit, file pruning, new-row enforcement, refusals") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rw")
    spark.sql(s"CREATE TABLE $CAT.rw.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/rw/t"
    // three exact-boundary files: [0,1000) [1000,2000) [2000,3000)
    (0 until 3).foreach(i => TableLog.append(spark, path,
      spark.range(i * 1000L, (i + 1) * 1000L)
        .select($"id".as("k"), ($"id" % 10).as("v")).coalesce(1),
      statsCols = Seq("k")))
    val before = TableLog.snapshot(path).get
    val v0 = before.version
    // replace the middle slice with recomputed rows — ONE commit
    spark.range(1000L, 1500L).select($"id".as("k"), lit(999L).as("v"))
      .writeTo(s"$CAT.rw.t")
      .overwrite($"k" >= 1000 && $"k" < 2000)
    val s1 = TableLog.snapshot(path).get
    assert(s1.version == v0 + 1, "replaceWhere must be ONE commit")
    assert(s1.action == "replace")
    assert(s1.rows == 2500 && spark.sql(
      s"SELECT count(*) AS n FROM $CAT.rw.t").as[Long].head() == 2500)
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rw.t " +
      "WHERE v = 999").as[Long].head() == 500)
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rw.t " +
      "WHERE k >= 1500 AND k < 2000").as[Long].head() == 0,
      "unreplaced rows of the slice must be gone")
    // file pruning: the disjoint files carry over by reference
    val untouched = before.files.map(_.path).filter(p =>
      s1.files.map(_.path).contains(p))
    assert(untouched.size == 2,
      s"disjoint files must not rewrite, carried: $untouched")
    // new rows violating the predicate refuse (they'd be invisible
    // to the predicate that owns the slice), table untouched
    val e = intercept[Exception] {
      spark.range(0L, 10L).select(($"id" + 5000).as("k"),
        lit(1L).as("v"))
        .writeTo(s"$CAT.rw.t").overwrite($"k" < 100)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("do NOT satisfy")), msgs(e))
    assert(TableLog.snapshot(path).get.version == s1.version)
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rw.t")
      .as[Long].head() == 2500)
    // an empty replacement = pure predicate delete through the same face
    spark.range(0).select($"id".as("k"), $"id".as("v"))
      .writeTo(s"$CAT.rw.t").overwrite($"k" >= 2000)
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rw.t")
      .as[Long].head() == 1500)
    // NULL-predicate rows are KEPT, like a SQL DELETE
    TableLog.append(spark, path,
      Seq((Option.empty[Long], 5L)).toDF("k", "v").coalesce(1),
      statsCols = Seq("k"))
    spark.range(0).select($"id".as("k"), $"id".as("v"))
      .writeTo(s"$CAT.rw.t").overwrite($"k" < 500)
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.rw.t " +
      "WHERE k IS NULL").as[Long].head() == 1,
      "NULL rows must survive a predicate overwrite")
    spark.sql(s"DROP TABLE $CAT.rw.t")
  }

  test("bounded batch CDC read: startingVersion/endingVersion and " +
      "tag forms open exactly the window; frontier overrun refuses") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rcb")
    spark.sql(s"CREATE TABLE $CAT.rcb.t (k BIGINT, v BIGINT)")
    val path = s"$wh/rcb/t"
    TableLog.enableCdcFeed(path)
    spark.sql(s"INSERT INTO $CAT.rcb.t VALUES (1, 10), (2, 20)") // v2
    TableLog.tagVersion(path, "wave1", 2L)
    TableLog.delete(spark, path, col("k").between(1L, 1L))              // v3
    spark.sql(s"INSERT INTO $CAT.rcb.t VALUES (3, 30)")         // v4
    def rows(opts: (String, String)*): Seq[(String, Long, Long)] = {
      var r = spark.read
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table(s"$CAT.rcb.t__changes")
        .select($"_change_type", $"k", $"_change_version")
        .as[(String, Long, Long)].collect().toSeq
        .sortBy(t => (t._3, t._2))
    }
    // unbounded = the whole published feed
    assert(rows() == Seq(("insert", 1L, 2L), ("insert", 2L, 2L),
      ("delete", 1L, 3L), ("insert", 3L, 4L)))
    // inclusive start
    assert(rows("startingVersion" -> "3") ==
      Seq(("delete", 1L, 3L), ("insert", 3L, 4L)))
    // inclusive end
    assert(rows("endingVersion" -> "2") ==
      Seq(("insert", 1L, 2L), ("insert", 2L, 2L)))
    // a closed window
    assert(rows("startingVersion" -> "3", "endingVersion" -> "3") ==
      Seq(("delete", 1L, 3L)))
    // startingTag is EXCLUSIVE (the consumer already holds wave1),
    // endingTag INCLUSIVE (catch up TO the tagged state)
    assert(rows("startingTag" -> "wave1") ==
      Seq(("delete", 1L, 3L), ("insert", 3L, 4L)))
    assert(rows("endingTag" -> "wave1") ==
      Seq(("insert", 1L, 2L), ("insert", 2L, 2L)))
    // 'latest' start = nothing yet; schema intact
    assert(rows("startingVersion" -> "latest").isEmpty)
    // TIMESTAMP windows: strictly monotonic commit stamps make the
    // resolution exact — startingTimestamp INCLUSIVE from the first
    // version committed at or after the instant, endingTimestamp
    // INCLUSIVE through the newest at or before it
    val tsOf = TableLog.history(spark, path)
      .select($"version", $"ts_ms").as[(Long, Long)].collect().toMap
    assert(rows("startingTimestamp" -> tsOf(3L).toString,
        "endingTimestamp" -> tsOf(3L).toString) ==
      Seq(("delete", 1L, 3L)), "[ts(v3), ts(v3)] must be v3 alone")
    assert(rows("startingTimestamp" -> (tsOf(3L) + 1).toString) ==
      Seq(("insert", 3L, 4L)),
      "a start strictly after v3's stamp must open at v4")
    assert(rows("endingTimestamp" -> (tsOf(3L) - 1).toString) ==
      Seq(("insert", 1L, 2L), ("insert", 2L, 2L)))
    // a future start is the empty window ("from now"), never an error
    assert(rows("startingTimestamp" ->
      (tsOf(4L) + 3600000L).toString).isEmpty)
    // option pairs refuse
    val eMx = intercept[Exception](rows("startingTimestamp" -> "1",
      "startingVersion" -> "2"))
    assert(eMx.getMessage.contains("mutually exclusive"))
    // ...and the STREAM takes startingTimestamp too: from v3's stamp,
    // an AvailableNow drain delivers exactly v3 + v4
    val tsCk = java.nio.file.Files
      .createTempDirectory("graft_rcbt").toString
    spark.sql(s"CREATE TABLE IF NOT EXISTS $CAT.rcb.tsink " +
      "(k BIGINT, v BIGINT, _change_type STRING, " +
      "_change_version BIGINT)")
    val qTs = spark.readStream
      .option("startingTimestamp", tsOf(3L).toString)
      .table(s"$CAT.rcb.t__changes")
      .writeStream.option("checkpointLocation", tsCk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$CAT.rcb.tsink")
    assert(qTs.awaitTermination(120000))
    val tsRows = spark.sql(s"SELECT _change_type, k, _change_version " +
      s"FROM $CAT.rcb.tsink ORDER BY _change_version, k")
      .as[(String, Long, Long)].collect().toSeq
    assert(tsRows == Seq(("delete", 1L, 3L), ("insert", 3L, 4L)),
      s"got $tsRows")
    spark.sql(s"DROP TABLE $CAT.rcb.tsink")
    // an end past the published frontier refuses loudly
    val e = intercept[Exception](rows("endingVersion" -> "99"))
    assert(e.getMessage.contains("exceeds the published"),
      e.getMessage)
    // the same bounds compose with readChangeFeed on the table ITSELF
    // (the analyzer rule forwards the scan options)
    val s2 = GraftSessions.withExtensions(spark)
    s2.conf.set(s"spark.sql.catalog.$CAT", classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$CAT.warehouse", wh)
    val viaOpt = s2.read.option("readChangeFeed", "true")
      .option("startingVersion", "3").table(s"$CAT.rcb.t")
      .selectExpr("_change_type", "k", "_change_version")
      .as[(String, Long, Long)].collect().toSeq.sortBy(t => (t._3, t._2))
    assert(viaOpt == Seq(("delete", 1L, 3L), ("insert", 3L, 4L)),
      s"got $viaOpt")
    // vacuumFeed records a durable retention floor: an EXPLICIT
    // numeric window reaching below it refuses loudly (the caller
    // named versions that are gone), while the optionless default and
    // 'earliest' clamp to the floor — "all RETAINED changes" stays
    // expressible after a vacuum
    TableLog.vacuumFeed(path, keepVersions = 2) // floor = v3
    assert(TableLog.feedFloor(path) == 3L)
    assert(rows() == Seq(("delete", 1L, 3L), ("insert", 3L, 4L)),
      "optionless batch read must clamp to the retention floor")
    assert(rows("startingVersion" -> "earliest") ==
      Seq(("delete", 1L, 3L), ("insert", 3L, 4L)))
    val eFloor = intercept[Exception](rows("startingVersion" -> "2"))
    assert(eFloor.getMessage.contains("no longer servable"),
      eFloor.getMessage)
    assert(rows("startingVersion" -> "3") ==
      Seq(("delete", 1L, 3L), ("insert", 3L, 4L)))
    // the changes STREAM fences on the same floor: a fresh consumer
    // from earliest would silently miss the retired versions
    val eStream = intercept[Exception] {
      val q = spark.readStream.table(s"$CAT.rcb.t__changes")
        .writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_rcbf").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    }
    assert(msgsOf(eStream).exists(_.contains("retired links below")),
      s"got ${msgsOf(eStream)}")
    // ...and a stream starting AT the floor drains fine
    val okCk = java.nio.file.Files
      .createTempDirectory("graft_rcbo").toString
    val q2 = spark.readStream.option("startingVersion", "3")
      .table(s"$CAT.rcb.t__changes")
      .writeStream.format("noop")
      .option("checkpointLocation", okCk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000))
    // readChangeFeed on the VANILLA session (no GraftExtensions, just
    // ResolveGraftCatalogReads.install — this spec's shared session):
    // the optimizer substitution re-points the batch read at the
    // change feed, the CDC columns resolving as METADATA columns — no
    // sibling session involved. Options compose; the optionless
    // default clamps to the floor like the __changes face.
    val viaInstall = spark.read.option("readChangeFeed", "true")
      .table(s"$CAT.rcb.t")
      .selectExpr("_change_type", "k", "_change_version")
      .as[(String, Long, Long)].collect().toSeq.sortBy(t => (t._3, t._2))
    assert(viaInstall == Seq(("delete", 1L, 3L), ("insert", 3L, 4L)),
      s"got $viaInstall")
    val viaInstallWin = spark.read.option("readChangeFeed", "true")
      .option("startingVersion", "4").table(s"$CAT.rcb.t")
      .selectExpr("_change_type", "k")
      .as[(String, Long)].collect().toSeq
    assert(viaInstallWin == Seq(("insert", 3L)), s"got $viaInstallWin")
    // change rows WITHOUT referencing the CDC columns: count = feed
    // rows (the option changes what the read IS)
    assert(spark.read.option("readChangeFeed", "true")
      .table(s"$CAT.rcb.t").count() == 2L)
    // the CDC columns refuse on a PLAIN read — they mean nothing
    // without the option
    val eNoOpt = intercept[Exception](
      spark.read.table(s"$CAT.rcb.t").selectExpr("_change_type")
        .collect())
    assert(msgsOf(eNoOpt).exists(_.contains("readChangeFeed")),
      s"got ${msgsOf(eNoOpt)}")
    // streaming readChangeFeed needs NO extensions since round 19
    // (the scan builder itself serves the changes stream) — the
    // vanilla-session streaming face has its own dedicated test; here
    // just pin that the stream fences on the SAME retention floor as
    // the __changes face (exactly-once story preserved)
    val ePlainStream = intercept[Exception] {
      val q = spark.readStream.option("readChangeFeed", "true")
        .table(s"$CAT.rcb.t")
        .writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_rcbs").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    }
    assert(msgsOf(ePlainStream).exists(_.contains("retired links below")),
      s"got ${msgsOf(ePlainStream)}")
    spark.sql(s"DROP TABLE $CAT.rcb.t")
  }

  test("streaming readChangeFeed on the VANILLA session: the scan " +
      "builder serves the changes stream — typed rows, exactly-once " +
      "across restart, no GraftExtensions, no sibling session") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rcv")
    spark.sql(s"CREATE TABLE $CAT.rcv.b (k BIGINT, v BIGINT)")
    val path = s"$wh/rcv/b"
    TableLog.enableCdcFeed(path)
    spark.sql(s"INSERT INTO $CAT.rcv.b VALUES (1, 10), (2, 20)") // v2
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_rcv_ck").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_rcv_out").toString
    def drain(): Unit = {
      // the CDC columns resolve as METADATA columns of the table
      // (StreamingRelationV2.metadataOutput) — no analyzer re-point
      val q = spark.readStream.option("readChangeFeed", "true")
        .table(s"$CAT.rcv.b")
        .selectExpr("k", "v", "_change_type", "_change_version")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    drain() // run 1: the insert wave, typed
    assert(spark.read.parquet(out).selectExpr("k", "_change_type")
      .as[(Long, String)].collect().toSeq.sortBy(_._1) ==
      Seq((1L, "insert"), (2L, "insert")))
    // a typed delete + an insert land mid-stream
    TableLog.delete(spark, path, col("k").between(1L, 1L))          // v3
    spark.sql(s"INSERT INTO $CAT.rcv.b VALUES (3, 30)")     // v4
    drain() // RESTART from the checkpoint: exactly the unseen versions
    val afterTwo = spark.read.parquet(out)
      .selectExpr("_change_type", "k", "_change_version")
      .as[(String, Long, Long)].collect().toSeq
      .sortBy(t => (t._3, t._2)).map(t => (t._1, t._2))
    assert(afterTwo == Seq(("insert", 1L), ("insert", 2L),
      ("delete", 1L), ("insert", 3L)), s"got $afterTwo")
    drain() // run 3: nothing new — exactly-once, no re-delivery
    assert(spark.read.parquet(out).count() == 4)
    // round-20 SHAPE PIN (ADVICE r19): the vanilla streaming face
    // serves WIDER rows positionally and relies on the analyzer's
    // exactly-two-shapes behavior — a plan referencing ANY metadata
    // column gets data ++ ALL metadata columns appended in
    // metadataColumns() order (never a referenced-only subset, never
    // a reorder). The resolved schema never crosses the
    // MicroBatchStream API, so a Spark version change that broke this
    // would misalign columns silently at runtime — this pin fails
    // loudly instead. Reference ONE metadata column; demand the full
    // appended shape.
    val narrow = spark.readStream.option("readChangeFeed", "true")
      .table(s"$CAT.rcv.b").selectExpr("_change_version")
    val relOut = narrow.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.streaming
          .StreamingRelationV2 => r.metadataOutput.map(_.name)
    }
    assert(relOut.isDefined, "analyzed plan must keep the V2 relation")
    val wideOut = narrow.queryExecution.analyzed.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.child.output.map(_.name)
    }
    assert(wideOut.contains(Seq("k", "v",
      "_version", "_file", "_pos", "_change_type", "_change_version")),
      s"the analyzer must append ALL metadata columns in " +
        s"metadataColumns() order below the projection — the " +
        s"positional-prefix reader contract depends on it; got $wideOut")
    // BATCH readChangeFeed on a session with NO installed rule (fresh
    // newSession: empty experimental optimizations): the V1 scan
    // itself serves the feed — typed rows, window options compose
    val s3 = spark.newSession()
    s3.conf.set(s"spark.sql.catalog.$CAT",
      classOf[GraftCatalog].getName)
    s3.conf.set(s"spark.sql.catalog.$CAT.warehouse", wh)
    assert(s3.experimental.extraOptimizations.isEmpty,
      "the no-install premise must hold")
    val noInstall = s3.read.option("readChangeFeed", "true")
      .table(s"$CAT.rcv.b")
      .selectExpr("_change_type", "k", "_change_version")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      .sorted
    assert(noInstall == Seq(("delete", 1L), ("insert", 1L),
      ("insert", 2L), ("insert", 3L)), s"got $noInstall")
    val noInstallWin = s3.read.option("readChangeFeed", "true")
      .option("startingVersion", "4").table(s"$CAT.rcv.b")
      .selectExpr("_change_type", "k")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(noInstallWin == Seq(("insert", 3L)), s"got $noInstallWin")
    // count without referencing the CDC columns = feed rows
    assert(s3.read.option("readChangeFeed", "true")
      .table(s"$CAT.rcv.b").count() == 4L)
    // the OTHER metadata columns mean nothing on feed rows — refuse
    val eAlien = intercept[Exception](
      s3.read.option("readChangeFeed", "true").table(s"$CAT.rcv.b")
        .selectExpr("_file").collect())
    assert(msgsOf(eAlien).exists(_.contains("not servable")),
      s"got ${msgsOf(eAlien)}")
    // no feed → loud refusal with guidance (scan-builder timing)
    spark.sql(s"CREATE TABLE $CAT.rcv.p (k BIGINT)")
    val eNoFeed = intercept[Exception] {
      val q = spark.readStream.option("readChangeFeed", "true")
        .table(s"$CAT.rcv.p")
        .writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_rcv_nf").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    }
    assert(msgsOf(eNoFeed).exists(_.contains("no change feed")),
      s"got ${msgsOf(eNoFeed)}")
    Seq("b", "p").foreach(t => spark.sql(s"DROP TABLE $CAT.rcv.$t"))
  }

  private def msgsOf(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ msgsOf(t.getCause)

  test("streaming readChangeFeed REFUSES when a data column shadows a " +
      "CDC metadata column (the positional wide-row contract cannot " +
      "hold; the reader would overwrite the data slot)") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rcsh")
    spark.sql(s"CREATE TABLE $CAT.rcsh.shadow (k BIGINT, _version BIGINT)")
    val path = s"$wh/rcsh/shadow"
    TableLog.enableCdcFeed(path)
    spark.sql(s"INSERT INTO $CAT.rcsh.shadow VALUES (1, 10)")
    val eShadow = intercept[Exception] {
      val q = spark.readStream.option("readChangeFeed", "true")
        .table(s"$CAT.rcsh.shadow")
        .selectExpr("k", "_change_type")
        .writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_rcsh_ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    }
    assert(msgsOf(eShadow).exists(
      _.contains("shadow the CDC metadata columns")),
      s"got ${msgsOf(eShadow)}")
    assert(msgsOf(eShadow).exists(_.contains("[_version]")),
      s"the refusal must name the shadowing column; got " +
        s"${msgsOf(eShadow)}")
    spark.sql(s"DROP TABLE $CAT.rcsh.shadow")
  }

  test("readStream.table with Trigger.AvailableNow: drain-and-stop, " +
      "exactly-once across separate runs") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.savail")
    spark.sql(s"CREATE TABLE $CAT.savail.b (k BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $CAT.savail.s (k BIGINT, v BIGINT)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_srav")
      .toString
    spark.sql(s"INSERT INTO $CAT.savail.b VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $CAT.savail.b VALUES (3, 30)")
    def drain(): Unit = {
      val q = spark.readStream.table(s"$CAT.savail.b")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$CAT.savail.s")
      assert(q.awaitTermination(120000),
        "AvailableNow must drain and terminate on its own")
    }
    def count() = spark.sql(s"SELECT count(*) AS n FROM $CAT.savail.s")
      .as[Long].head()
    drain()
    assert(count() == 3, "first drain delivers the whole frontier")
    // nothing new: a second drain terminates without delivering
    drain()
    assert(count() == 3)
    spark.sql(s"INSERT INTO $CAT.savail.b VALUES (4, 40)")
    drain()
    assert(count() == 4, "a later drain delivers exactly the new commit")
    spark.sql(s"DROP TABLE $CAT.savail.b")
    spark.sql(s"DROP TABLE $CAT.savail.s")
  }

  test("readStream.table streams across PRE-START column renames " +
      "(per-file physical projection) and refuses mid-stream ones") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.sread2")
    spark.sql(s"CREATE TABLE $CAT.sread2.b (k BIGINT, txt STRING)")
    spark.sql(s"INSERT INTO $CAT.sread2.b VALUES (1, 'a'), (2, 'b')")
    // metadata-only rename: the two files above still STORE 'txt'
    spark.sql(s"ALTER TABLE $CAT.sread2.b RENAME COLUMN txt TO body")
    spark.sql(s"INSERT INTO $CAT.sread2.b VALUES (3, 'c')")
    val q = spark.readStream.table(s"$CAT.sread2.b")
      .writeStream.format("memory").queryName("sread2_mem")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_srck3").toString)
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT k, body FROM sread2_mem ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"pre-rename files must project old physical names, got $got")
      // a rename committed MID-STREAM cannot be projected into the
      // pinned schema — the batch fails with restart guidance
      spark.sql(s"ALTER TABLE $CAT.sread2.b RENAME COLUMN body TO txt2")
      spark.sql(s"INSERT INTO $CAT.sread2.b VALUES (4, 'd')")
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val e = intercept[Exception](q.processAllAvailable())
      assert(msgs(e).exists(_.contains("restart the stream")),
        s"mid-stream rename must refuse with guidance, got ${msgs(e)}")
    } finally q.stop()
    spark.sql(s"DROP TABLE $CAT.sread2.b")
  }

  test("the write spec is visible: SHOW TBLPROPERTIES and detail read " +
      "it from the manifest, VERSION AS OF shows that version's spec, " +
      "and the sidecar keeps only the other keys") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.spec")
    spark.sql(s"CREATE TABLE $CAT.spec.t (k BIGINT, tag STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'bloomStatsCols' = 'tag', " +
      "'team' = 'qa')")
    val path = s"$wh/spec/t"
    def props(sql: String): Map[String, String] = spark.sql(sql)
      .as[(String, String)].collect().toMap
    val p1 = props(s"SHOW TBLPROPERTIES $CAT.spec.t")
    assert(p1.get("statsCols").contains("k") &&
      p1.get("bloomStatsCols").contains("tag") &&
      p1.get("rowLevelMode").contains("cow") && p1.get("team").contains("qa"))
    // the spec keys live in the version-1 manifest, not the sidecar
    val side = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_catalog.properties")))
    assert(side.contains("team") && !side.contains("statsCols") &&
      !side.contains("rowLevelMode"), side)
    assert(TableLog.latestVersion(path) == 1 &&
      TableLog.snapshot(path).get.spec.longCols == Seq("k"))
    // ALTER on the spec keys is ONE setWriteSpec commit
    spark.sql(s"ALTER TABLE $CAT.spec.t SET TBLPROPERTIES " +
      "('strStatsCols' = 'tag', 'rowLevelMode' = 'mor')")
    spark.sql(s"ALTER TABLE $CAT.spec.t UNSET TBLPROPERTIES ('bloomStatsCols')")
    assert(TableLog.latestVersion(path) == 3)
    val p3 = props(s"SHOW TBLPROPERTIES $CAT.spec.t")
    assert(p3.get("strStatsCols").contains("tag") &&
      p3.get("rowLevelMode").contains("mor") && !p3.contains("bloomStatsCols"))
    val d = TableLog.detail(spark, path).select("write_spec").as[String]
      .head()
    assert(d.contains("str=[tag]") && d.contains("rowLevelMode=mor") &&
      d.contains("bloom=[]"), d)
    // VERSION AS OF loads that version's spec
    val cat = GraftCatalog.catalogOf(spark, CAT).get
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("spec"), "t")
    val v1 = cat.loadTable(ident, "1").properties()
    assert(v1.get("bloomStatsCols") == "tag" &&
      v1.get("rowLevelMode") == "cow" && v1.get("team") == "qa")
    assert(cat.loadTable(ident, "3").properties().get("rowLevelMode") == "mor")
    // a stat key naming a missing column is refused, the spec untouched
    intercept[Exception](spark.sql(s"ALTER TABLE $CAT.spec.t SET " +
      "TBLPROPERTIES ('statsCols' = 'nope')"))
    assert(TableLog.latestVersion(path) == 3)
    spark.sql(s"DROP TABLE $CAT.spec.t")
  }

  test("ALTER TABLE properties and RENAME COLUMN route to the log") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.alt")
    spark.sql(s"CREATE TABLE $CAT.alt.t (k BIGINT, txt STRING)")
    spark.sql(s"INSERT INTO $CAT.alt.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $CAT.alt.t SET TBLPROPERTIES " +
      "('statsCols' = 'k')")
    // the new property drives the NEXT insert's stats
    spark.sql(s"INSERT INTO $CAT.alt.t VALUES (3, 'c')")
    val snap = TableLog.snapshot(s"$wh/alt/t").get
    assert(snap.files.exists(_.stats.exists(_.col == "k")))
    // metadata-only column rename through the schema-op machinery
    spark.sql(s"ALTER TABLE $CAT.alt.t RENAME COLUMN txt TO body")
    val rows = spark.sql(s"SELECT body FROM $CAT.alt.t ORDER BY k")
      .as[String].collect()
    assert(rows.toSeq == Seq("a", "b", "c"))
    spark.sql(s"DROP TABLE $CAT.alt.t")
  }

  test("row-level DELETE/UPDATE/MERGE through Spark's OWN framework " +
      "(SupportsRowLevelOperations — no graft parser, no registered " +
      "views): group-based COW with by-reference carry") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.rl")
    spark.sql(s"CREATE TABLE $CAT.rl.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/rl/t"
    // 4 range-disjoint files so group narrowing is observable
    TableLog.append(spark, path,
      spark.range(4000).select($"id".as("k"), ($"id" % 10).as("v"))
        .repartitionByRange(4, $"k"),
      statsCols = Seq("k"))
    val before = TableLog.snapshot(path).get
    assert(before.files.size == 4)
    def count() = spark.sql(s"SELECT count(*) AS n FROM $CAT.rl.t")
      .as[Long].head()
    // DELETE: the interior range touches ONE group; the other three
    // carry over BY REFERENCE (same paths in the next manifest)
    spark.sql(s"DELETE FROM $CAT.rl.t WHERE k >= 1000 AND k < 1100")
    val afterDel = TableLog.snapshot(path).get
    assert(count() == 3900)
    assert(afterDel.rows == 3900, "manifest rows must stay exact")
    val carried = before.files.map(_.path).toSet
      .intersect(afterDel.files.map(_.path).toSet)
    assert(carried.size == 3,
      s"3 untouched groups must carry by reference, carried=$carried")
    assert(afterDel.files.forall(_.stats.exists(_.col == "k")),
      "rewritten groups must re-derive the declared stats")
    // UPDATE through the same framework
    spark.sql(s"UPDATE $CAT.rl.t SET v = -1 WHERE k = 2000")
    assert(spark.sql(s"SELECT v FROM $CAT.rl.t WHERE k = 2000")
      .as[Long].head() == -1L)
    assert(count() == 3900, "update must not change row count")
    assert(TableLog.snapshot(path).get.rows == 3900)
    // MERGE: matched rows update, unmatched insert
    spark.range(3).select(($"id" * 1000).as("k"), lit(777L).as("v"))
      .createOrReplaceTempView("rl_src")
    spark.sql(s"""MERGE INTO $CAT.rl.t t USING rl_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    // k=0 and k=2000 matched (updated); k=1000 was deleted → insert
    assert(spark.sql(s"SELECT sum(v) AS s FROM $CAT.rl.t " +
      "WHERE k IN (0, 1000, 2000)").as[Long].head() == 3 * 777L)
    assert(count() == 3901)
    assert(TableLog.snapshot(path).get.rows == 3901)
    // a no-match DELETE plans zero groups and commits nothing
    val v0 = TableLog.latestVersion(path)
    spark.sql(s"DELETE FROM $CAT.rl.t WHERE k = 99999999")
    assert(TableLog.latestVersion(path) == v0,
      "no-match delete must not commit")
    assert(count() == 3901)
    // full relational replay pins exact semantics end-to-end
    val want = spark.range(4000)
      .select($"id".as("k"), ($"id" % 10).as("v"))
      .where(!($"k" >= 1000 && $"k" < 1100))
      .select($"k", when($"k" === 2000, -1L).otherwise($"v").as("v"))
      .select($"k",
        when($"k" === 0 || $"k" === 2000, 777L).otherwise($"v").as("v"))
      .union(Seq((1000L, 777L)).toDF("k", "v"))
      .orderBy("k").collect().toSeq
    assert(spark.sql(s"SELECT k, v FROM $CAT.rl.t ORDER BY k")
      .collect().toSeq == want)
    spark.sql(s"DROP TABLE $CAT.rl.t")
  }

  test("ALTER TABLE ADD COLUMNS / DROP COLUMN route to the log — " +
      "metadata-only, with the re-add-after-drop fence") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.alt2")
    spark.sql(s"CREATE TABLE $CAT.alt2.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $CAT.alt2.t VALUES (1, 10), (2, 20)")
    val path = s"$wh/alt2/t"
    val filesBefore = TableLog.snapshot(path).get.files.map(_.path)
    // additive ADD: pure metadata, old rows read the column as null
    spark.sql(s"ALTER TABLE $CAT.alt2.t ADD COLUMNS (tag STRING)")
    assert(TableLog.snapshot(path).get.files.map(_.path) == filesBefore,
      "ADD COLUMNS must rewrite no data file")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.alt2.t " +
      "WHERE tag IS NULL").as[Long].head() == 2)
    spark.sql(s"INSERT INTO $CAT.alt2.t VALUES (3, 30, 'x')")
    assert(spark.sql(s"SELECT tag FROM $CAT.alt2.t WHERE k = 3")
      .as[String].head() == "x")
    // non-nullable adds refuse (unsatisfiable on existing rows)
    val eNn = intercept[Exception](spark.sql(
      s"ALTER TABLE $CAT.alt2.t ADD COLUMNS (must BIGINT NOT NULL)"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eNn).exists(_.contains("non-nullable")))
    // DROP: pure metadata; the column vanishes from reads
    val filesPreDrop = TableLog.snapshot(path).get.files.map(_.path)
    spark.sql(s"ALTER TABLE $CAT.alt2.t DROP COLUMN v")
    assert(TableLog.snapshot(path).get.files.map(_.path) == filesPreDrop,
      "DROP COLUMN must rewrite no data file")
    assert(!spark.sql(s"SELECT * FROM $CAT.alt2.t").columns.contains("v"))
    // RE-ADD after drop: the dead incarnation's stored values must
    // NOT resurrect — the drop op's version fence nulls them
    spark.sql(s"ALTER TABLE $CAT.alt2.t ADD COLUMNS (v BIGINT)")
    val got = spark.sql(s"SELECT k, v FROM $CAT.alt2.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq
    assert(got == Seq((1L, None), (2L, None), (3L, None)),
      s"re-added column must read null everywhere, got $got")
    spark.sql(s"INSERT INTO $CAT.alt2.t VALUES (4, 'y', 99)")
    assert(spark.sql(s"SELECT v FROM $CAT.alt2.t WHERE k = 4")
      .as[Long].head() == 99L)
    spark.sql(s"DROP TABLE $CAT.alt2.t")
  }

  test("ALTER TABLE ALTER COLUMN TYPE routes to the log: lossless " +
      "widening is metadata-only; narrowing refuses with guidance") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.alt3")
    spark.sql(s"CREATE TABLE $CAT.alt3.t (k BIGINT, n INT, x FLOAT)")
    spark.sql(s"INSERT INTO $CAT.alt3.t VALUES " +
      "(1, 10, CAST(1.5 AS FLOAT)), (2, 20, CAST(2.25 AS FLOAT))")
    val path = s"$wh/alt3/t"
    val filesBefore = TableLog.snapshot(path).get.files.map(_.path)
    spark.sql(s"ALTER TABLE $CAT.alt3.t ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"ALTER TABLE $CAT.alt3.t ALTER COLUMN x TYPE DOUBLE")
    assert(TableLog.snapshot(path).get.files.map(_.path) == filesBefore,
      "lossless widening must rewrite no data file")
    val sch = spark.table(s"$CAT.alt3.t").schema
    assert(sch("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(sch("x").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // old files' narrower physical values read exactly through the
    // widened schema; new writes land wide
    spark.sql(s"INSERT INTO $CAT.alt3.t VALUES " +
      "(3, 3000000000, CAST(0.125 AS DOUBLE))")
    val got = spark.sql(
      s"SELECT k, n, x FROM $CAT.alt3.t ORDER BY k")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10L, 1.5), (2L, 20L, 2.25),
      (3L, 3000000000L, 0.125)), s"got $got")
    // narrowing refuses, nothing commits: Spark's own analyzer gate
    // (Cast.canUpCast) fires first on SQL text; the log face carries
    // its own guidance for direct callers and any analyzer drift
    val v0 = TableLog.latestVersion(path)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $CAT.alt3.t ALTER COLUMN n TYPE INT"))
    assert(msgs(e).exists(_.contains("NOT_SUPPORTED_CHANGE_COLUMN")),
      s"narrowing must refuse, got ${msgs(e)}")
    val e2 = intercept[Exception](TableLog.widenColumnType(spark, path,
      "n", org.apache.spark.sql.types.IntegerType))
    assert(msgs(e2).exists(_.contains("not a lossless widening")),
      s"the log face must refuse narrowing with guidance, got ${msgs(e2)}")
    // cross-family via the log face (long -> double is lossy) refuses
    val e3 = intercept[Exception](TableLog.widenColumnType(spark, path,
      "n", org.apache.spark.sql.types.DoubleType))
    assert(msgs(e3).exists(_.contains("not a lossless widening")))
    assert(TableLog.latestVersion(path) == v0)
    spark.sql(s"DROP TABLE $CAT.alt3.t")
  }

  test("vanilla row-level DELETE self-heals pending KEY sidecars: " +
      "gated morMaintain, exact rows, maintenance visible in history") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.heal")
    spark.sql(s"CREATE TABLE $CAT.heal.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/heal/t"
    TableLog.append(spark, path,
      spark.range(2000).select($"id".as("k"), ($"id" % 10).as("v"))
        .repartitionByRange(4, $"k"),
      statsCols = Seq("k"))
    // a pending KEY merge-on-read sidecar (a CDC apply of deletes
    // under `mor`) — previously a hard refusal for the vanilla
    // row-level path
    underMode(path, TableLog.Mor)(keyDelete(path, "k",
      spark.range(10).select(($"id" * 100).as("k"))))
    val pre = TableLog.snapshot(path).get
    assert(pre.dels.exists(_.keyCol == "k"),
      "setup must leave a pending KEY sidecar")
    assert(spark.sql(s"SELECT count(*) AS n FROM $CAT.heal.t")
      .as[Long].head() == 1990)
    // EXPLAIN is side-effect-free: the self-heal commit is deferred
    // to execution, so a read-only plan of the statement must not
    // mutate the table (and a cancelled statement leaves no commit)
    val vPre = TableLog.latestVersion(path)
    spark.sql(s"EXPLAIN EXTENDED DELETE FROM $CAT.heal.t " +
      "WHERE k >= 500 AND k < 600").collect()
    assert(TableLog.latestVersion(path) == vPre,
      "EXPLAIN of a row-level DELETE must not commit the self-heal")
    assert(TableLog.snapshot(path).get.dels.exists(_.keyCol == "k"),
      "the pending KEY sidecar must survive EXPLAIN")
    // the DELETE self-heals (one mor_materialize commit) and lands
    spark.sql(s"DELETE FROM $CAT.heal.t WHERE k >= 500 AND k < 600")
    val after = TableLog.snapshot(path).get
    assert(after.dels.isEmpty,
      "self-heal must clear every pending sidecar")
    val actions = TableLog.history(spark, path)
      .orderBy("version").select("action").as[String].collect().toSeq
    assert(actions.contains("mor_materialize"),
      s"the maintenance commit must be visible in history, got $actions")
    assert(actions.indexOf("mor_materialize") < actions.length - 1 &&
      actions.last == "delete",
      s"maintenance must precede the delete commit, got $actions")
    // exact surviving rows: 2000 − 10 MOR-deleted − the 99 range rows
    // not already MOR-deleted (k=500 was MOR-deleted)
    val want = spark.range(2000)
      .select($"id".as("k"), ($"id" % 10).as("v"))
      .where(!($"k" % 100 === 0 && $"k" < 1000))
      .where(!($"k" >= 500 && $"k" < 600))
      .orderBy("k").collect().toSeq
    assert(spark.sql(s"SELECT k, v FROM $CAT.heal.t ORDER BY k")
      .collect().toSeq == want)
    assert(after.rows == want.size, "manifest rows must stay exact")
    spark.sql(s"DROP TABLE $CAT.heal.t")
  }

  test("row-level self-heal refuses past the auto-maintain gate " +
      "with guidance, and the table is left untouched") {
    val wh = warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $CAT.heal2")
    spark.sql(s"CREATE TABLE $CAT.heal2.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val path = s"$wh/heal2/t"
    TableLog.append(spark, path,
      spark.range(1000).select($"id".as("k"), $"id".as("v")),
      statsCols = Seq("k"))
    underMode(path, TableLog.Mor)(keyDelete(path, "k", Seq(3L, 7L).toDF("k")))
    val v0 = TableLog.latestVersion(path)
    spark.conf.set("spark.graft.rowLevel.maxAutoMaintainBytes", "1")
    try {
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val e = intercept[Exception](
        spark.sql(s"DELETE FROM $CAT.heal2.t WHERE k < 100"))
      assert(msgs(e).exists(_.contains("auto-materialization gate")),
        s"gate refusal must carry guidance, got ${msgs(e)}")
      assert(TableLog.latestVersion(path) == v0,
        "a refused statement must commit nothing")
    } finally
      spark.conf.unset("spark.graft.rowLevel.maxAutoMaintainBytes")
    spark.sql(s"DROP TABLE $CAT.heal2.t")
  }
}
