package graft

import graft.sinks.TableLog
import org.apache.spark.sql.functions._

/** The commit-log table format's contract: every writer succeeds (CAS
  * retry, no lease), outcomes are serializable, readers never observe
  * partial state, and crashes leave only invisible garbage. */
class TableLogSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  /** `scan` of `t` filtered by `cond`. */
  private def scanWhere(t: String, cond: org.apache.spark.sql.Column) =
    TableLog.scan(spark, t).where(cond)

  /** Data files of `t` that `scanWhere(t, cond)` opens (the delete
    * sidecars a merge-on-read scan anti-joins are not counted). */
  private def dataFilesScanned(t: String,
      cond: org.apache.spark.sql.Column): Int = {
    val data = TableLog.snapshot(t).get.files
      .map(f => TableLog.lastTwo(f.path)).toSet
    filesOpened(scanWhere(t, cond)).count(data)
  }

  test("create/append/read: versions increment, content is the union") {
    val t = tmp("graft_log_basic")
    val v1 = TableLog.create(spark, t, spark.range(100).toDF("id"))
    assert(v1 == 1)
    val v2 = TableLog.append(spark, t, spark.range(100, 150).toDF("id"))
    assert(v2 == 2)
    assert(TableLog.read(spark, t).count() == 150)
    assert(TableLog.snapshot(t).get.rows == 150)
    // time travel: the old version remains readable
    assert(TableLog.readVersion(spark, t, 1).count() == 100)
  }

  test("two concurrent appends race through the LOG: both commit, serialized") {
    val t = tmp("graft_log_race")
    TableLog.create(spark, t, spark.range(1000).toDF("id"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val threads = Seq(1000L, 2000L).map { off =>
      new Thread(() => {
        start.await()
        try results.add(Right(TableLog.append(spark, t,
          spark.range(off, off + 500).toDF("id"))))
        catch { case e: Throwable => results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toSeq
    assert(rs.forall(_.isRight), s"both writers must succeed: $rs")
    // serialized: the two commits took versions 2 and 3, in some order
    assert(rs.flatMap(_.toOption).sorted == Seq(2L, 3L))
    // both appends are present exactly once
    val back = TableLog.read(spark, t)
    assert(back.count() == 2000)
    assert(back.select(countDistinct($"id")).head.getLong(0) == 2000)
  }

  test("concurrent compact + append: serializable, nothing lost") {
    val t = tmp("graft_log_rw")
    TableLog.create(spark, t,
      spark.range(10000).toDF("id").repartition(16))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      start.await()
      try TableLog.compact(spark, t, targetBytes = 1L << 30)
      catch { case e: Throwable => errs.add(e) }
    })
    val appender = new Thread(() => {
      start.await()
      try TableLog.append(spark, t, spark.range(10000, 10500).toDF("id"))
      catch { case e: Throwable => errs.add(e) }
    })
    Seq(compactor, appender).foreach(_.start())
    start.countDown()
    Seq(compactor, appender).foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(errs.asScala.isEmpty, s"no writer may fail: ${errs.asScala.toSeq}")
    val back = TableLog.read(spark, t)
    assert(back.count() == 10500, "append must survive the compaction")
    assert(back.select(countDistinct($"id")).head.getLong(0) == 10500)
    assert(TableLog.latestVersion(t) == 3)
  }

  test("compaction through the log shrinks files, keeps rows; audit blocks a bad rewrite") {
    val t = tmp("graft_log_compact")
    TableLog.create(spark, t, spark.range(5000).toDF("id").repartition(16))
    assert(TableLog.snapshot(t).get.files.size == 16)
    TableLog.compact(spark, t, targetBytes = 1L << 30)
    val s = TableLog.snapshot(t).get
    assert(s.files.size < 4 && s.rows == 5000)
    assert(TableLog.read(spark, t).count() == 5000)
    // a rewrite that loses rows must not commit
    val before = TableLog.latestVersion(t)
    val ex = intercept[IllegalArgumentException] {
      TableLog.rewrite(spark, t, "bad")(df => df.limit(10))
    }
    assert(ex.getMessage.contains("audit failed"))
    assert(TableLog.latestVersion(t) == before, "failed audit must not commit")
  }

  test("crash garbage is invisible; vacuum reclaims it") {
    val t = tmp("graft_log_crash")
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    // simulate a writer that died before commit: orphan data files and a
    // temp manifest on disk
    spark.range(999).toDF("id").write.parquet(s"$t/data/orphan-set")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_log", ".tmp-deadwriter"),
      "version=2\n".getBytes)
    assert(TableLog.read(spark, t).count() == 100, "garbage must be invisible")
    assert(TableLog.latestVersion(t) == 1)
    // olderThanMs = 0: the test IS the no-concurrent-writer case
    val deleted = TableLog.vacuum(spark, t, olderThanMs = 0L)
    assert(deleted.exists(_.startsWith("data/orphan-set")), s"got $deleted")
    assert(deleted.contains("_log/.tmp-deadwriter"))
    assert(TableLog.read(spark, t).count() == 100)
    // vacuum with retention drops old versions' exclusive files
    TableLog.compact(spark, t, 1L << 30)
    val oldFiles = TableLog.snapshotAt(t, 1).get.files
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0L)
    assert(TableLog.snapshotAt(t, 1).isEmpty, "retired manifest dropped")
    oldFiles.foreach(f => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(t, f.path)),
      s"version-1-only file ${f.path} must be reclaimed"))
    assert(TableLog.read(spark, t).count() == 100)
  }

  test("vacuum never reclaims an in-flight writer's young files; a raced commit retries, no data lost") {
    val t = tmp("graft_log_vacuum_race")
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    // simulate an IN-FLIGHT append: data files written, temp manifest
    // written, the referencing commit not yet linked — exactly the
    // window the old age-blind vacuum destroyed
    spark.range(500).toDF("id").write.parquet(s"$t/data/inflight-set")
    val tmpManifest = java.nio.file.Paths.get(t, "_log", ".tmp-inflight")
    java.nio.file.Files.write(tmpManifest, "version=2\n".getBytes)
    // default staleness: young files and young temp manifests SURVIVE
    val deleted = TableLog.vacuum(spark, t)
    assert(!deleted.exists(_.startsWith("data/inflight-set")),
      s"vacuum reclaimed a live writer's data files: $deleted")
    assert(java.nio.file.Files.exists(tmpManifest),
      "vacuum reclaimed a live writer's temp manifest")
    // the in-flight writer can still commit and its data is intact
    // (real append path: writes files, then links its manifest)
    TableLog.append(spark, t, spark.range(100, 150).toDF("id"))
    assert(TableLog.read(spark, t).count() == 150)
    // a vacuum LOOP at the default staleness racing real appends: the
    // age guard keeps every in-flight file, all appends land intact
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sweeper = new Thread(() => {
      while (!stop.get()) TableLog.vacuum(spark, t)
    })
    sweeper.start()
    try (0 until 3).foreach { i =>
      TableLog.append(spark, t,
        spark.range(1000L + i * 10, 1000L + i * 10 + 10).toDF("id"))
    } finally { stop.set(true); sweeper.join() }
    assert(TableLog.read(spark, t).count() == 180,
      "every append must survive a concurrent vacuum loop")
  }

  test("all-null long stats column: append succeeds stat-less, reads stay exact") {
    val t = tmp("graft_log_nullstats")
    // file 1: real id range; sparse column fully NULL — the old getLong
    // path NPE'd here instead of omitting the stat
    TableLog.create(spark, t,
      spark.range(100).toDF("id")
        .withColumn("sparse", lit(null).cast("long")).coalesce(1),
      statsCols = Seq("id", "sparse"))
    val s1 = TableLog.snapshot(t).get
    assert(s1.files.forall(_.stats.exists(_.col == "id")), "id stat recorded")
    assert(s1.files.forall(!_.stats.exists(_.col == "sparse")),
      "all-null column must omit its stat, not crash or fake a range")
    // file 2: sparse has values — its stat IS recorded
    TableLog.append(spark, t,
      spark.range(100, 200).toDF("id")
        .withColumn("sparse", col("id") * 2).coalesce(1),
      statsCols = Seq("id", "sparse"))
    // stat-less file is always kept (absence never drops data), so a
    // range read over sparse stays exact across the mixed table
    assert(dataFilesScanned(t, col("sparse").between(0, 1000)) == 2)
    assert(scanWhere(t, col("sparse").between(200, 210)).count() == 6)
    assert(TableLog.read(spark, t).count() == 200)
  }

  test("string prune compares in UTF-8 byte order: supplementary-plane values never lose rows") {
    val t = tmp("graft_log_utf8")
    // one file spanning ["A", 🙂]: Spark computed min/max in UTF-8
    // binary order, where "￿" (EF BF BF) < 🙂 (F0 9F 99 82); Java
    // String order says "￿" > 🙂 (surrogate D83D), so a UTF-16
    // prune wrongly skips the file and silently drops the matching row
    TableLog.create(spark, t,
      Seq((1L, "A"), (2L, "￿"), (3L, "🙂")).toDF("id", "s")
        .coalesce(1),
      strStatsCols = Seq("s"))
    val st = TableLog.snapshot(t).get.files.head.strStats.find(_.col == "s").get
    assert(st.min == "A" && st.max == "🙂",
      s"Spark stats are UTF-8 ordered: $st")
    // the poisoned prune: value inside the UTF-8 range, outside UTF-16's
    assert(dataFilesScanned(t, col("s") === "￿") == 1,
      "file must be kept: \\uffff is within [A, U+1F642] in UTF-8 order")
    assert(scanWhere(t, col("s").isin("￿")).count() == 1)
    // and the comparator itself, on the exact disagreement pair
    assert(TableLog.utf8Leq("￿", "🙂"))
    assert(!TableLog.utf8Leq("🙂", "￿"))
    // pruning still prunes: a disjoint probe opens nothing
    assert(dataFilesScanned(t, col("s") === "0") == 0)
  }

  test("mergeUpsert audit is real: manifest rows == base − matched + source") {
    val t = tmp("graft_log_merge_audit")
    TableLog.create(spark, t,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"))
    // 3 matched + 2 new → 10 − 3 + 5 = 12; the audit recomputes matched
    // against the snapshot the rewrite read, so a wrong row count would
    // refuse to commit rather than publish
    TableLog.mergeUpsert(spark, t,
      Seq((1L, "A"), (2L, "B"), (3L, "C"), (90L, "X"), (91L, "Y"))
        .toDF("k", "v"), Seq("k"))
    val s = TableLog.snapshot(t).get
    assert(s.action == "merge" && s.rows == 12)
    assert(TableLog.read(spark, t).count() == 12)
    // all-matched and none-matched boundaries
    TableLog.mergeUpsert(spark, t,
      Seq((90L, "X2"), (91L, "Y2")).toDF("k", "v"), Seq("k"))
    assert(TableLog.snapshot(t).get.rows == 12)
    TableLog.mergeUpsert(spark, t, Seq((200L, "z")).toDF("k", "v"), Seq("k"))
    assert(TableLog.snapshot(t).get.rows == 13)
  }

  test("commit primitive is pluggable: the conditional-PUT mock carries the full contract") {
    import graft.sinks.CommitPrimitive
    val t = tmp("graft_log_condput")
    // per-TABLE swap: concurrent writers on other tables stay on the
    // default primitive (the r10 advice point against a global var)
    TableLog.setCommitPrimitive(t, CommitPrimitive.ConditionalPut)
    try {
      // lifecycle: create / append / merge / compact / time travel
      TableLog.create(spark, t, spark.range(100).toDF("id"))
      TableLog.append(spark, t, spark.range(100, 150).toDF("id"))
      assert(TableLog.read(spark, t).count() == 150)
      assert(TableLog.readVersion(spark, t, 1).count() == 100)
      // racing writers: both succeed, serialized — the contract the
      // primitive must carry regardless of implementation
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
      val threads = Seq(1000L, 2000L).map { off =>
        new Thread(() => {
          start.await()
          try results.add(Right(TableLog.append(spark, t,
            spark.range(off, off + 500).toDF("id"))))
          catch { case e: Throwable => results.add(Left(e)) }
        })
      }
      threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val rs = results.asScala.toSeq
      assert(rs.forall(_.isRight), s"both writers must succeed: $rs")
      assert(rs.flatMap(_.toOption).sorted == Seq(3L, 4L))
      assert(TableLog.read(spark, t).count() == 1150)
      TableLog.compact(spark, t, 1L << 30)
      assert(TableLog.read(spark, t).count() == 1150)
    } finally TableLog.clearCommitPrimitive(t)
  }

  test("delta manifests: append cost is O(appended files); checkpoints bound replay; retention keeps chains whole") {
    val t = tmp("graft_log_delta")
    TableLog.create(spark, t, spark.range(10).toDF("id").coalesce(1))   // v1 full
    (1 until 25).foreach { i =>                                          // v2..v25
      TableLog.append(spark, t,
        spark.range(i * 10L, i * 10L + 10).toDF("id").coalesce(1))
    }
    assert(TableLog.read(spark, t).count() == 250)
    def manifestLines(v: Long) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_log", f"v$v%08d.manifest")).size
    // the structural claim: a delta manifest's size tracks the APPEND
    // (one file), not the table (growing file count) — v25's manifest
    // is no bigger than v15's despite 10 more files in the table
    assert(manifestLines(15) == manifestLines(25),
      s"delta manifest grew with table size: v15=${manifestLines(15)} v25=${manifestLines(25)}")
    // checkpoint versions (10, 20) carry the full list; their neighbors don't
    assert(manifestLines(20) > manifestLines(19) + 10,
      s"v20 must be a checkpoint: ${manifestLines(20)} vs ${manifestLines(19)}")
    // resolution is exact at, before, and after a checkpoint
    assert(TableLog.readVersion(spark, t, 9).count() == 90)
    assert(TableLog.readVersion(spark, t, 10).count() == 100)
    assert(TableLog.readVersion(spark, t, 11).count() == 110)
    assert(TableLog.snapshotAt(t, 23).get.files.size == 23)
    // append-only change feed inside a delta run reads the deltas
    // directly (no snapshot resolution) and is exact
    val (af, rf) = TableLog.changedFiles(t, 21, 24)
    assert(rf.isEmpty && af.size == 3)
    val (aDf, rDf) = TableLog.readChanges(spark, t, 21, 24)
    assert(rDf.count() == 0 && aDf.count() == 30)
    // retention is checkpoint-granular: keepVersions=3 would drop to
    // v23, but v23 is a delta chained to the v20 checkpoint — vacuum
    // keeps v20..v25 so every retained version still resolves
    TableLog.vacuum(spark, t, keepVersions = 3, olderThanMs = 0L)
    assert(TableLog.snapshotAt(t, 20).isDefined, "floor checkpoint retained")
    assert(TableLog.readVersion(spark, t, 23).count() == 230)
    assert(TableLog.snapshotAt(t, 19).isEmpty, "pre-checkpoint manifests dropped")
    assert(TableLog.read(spark, t).count() == 250)
    // a rewrite commits a fresh checkpoint; life continues after it
    TableLog.compact(spark, t, 1L << 30)                                // v26 full
    TableLog.append(spark, t, spark.range(250L, 260L).toDF("id"))       // v27 delta
    assert(TableLog.read(spark, t).count() == 260)
    val (af2, rf2) = TableLog.changedFiles(t, 26, 27)
    assert(rf2.isEmpty && af2.nonEmpty)
  }

  test("manifest column stats skip files on read; absent stats never drop data") {
    val t = tmp("graft_log_skip")
    // range layout → tight per-file id ranges; stats recorded at commit
    TableLog.create(spark, t,
      spark.range(10000).toDF("id").repartitionByRange(8, col("id")),
      statsCols = Seq("id"))
    val s = TableLog.snapshot(t).get
    assert(s.files.size == 8 &&
      s.files.forall(_.stats.exists(_.col == "id")), s.files.toString)
    // global coverage: stat ranges union to [0, 9999]
    assert(s.files.flatMap(_.stats).map(_.min).min == 0L &&
      s.files.flatMap(_.stats).map(_.max).max == 9999L)
    // a 1/8-width range predicate opens ~1 file, not 8
    val slice = col("id").between(2000, 2999)
    val kept = dataFilesScanned(t, slice)
    assert(kept <= 2, s"expected ≤2 of 8 files kept, got $kept")
    assert(scanWhere(t, slice).count() == 1000)
    // disjoint range → zero files, empty result, same schema
    val disjoint = col("id").between(50000, 60000)
    assert(dataFilesScanned(t, disjoint) == 0)
    assert(scanWhere(t, disjoint).count() == 0)
    // an append WITHOUT stats: its files always stay in the pruned set,
    // so the filtered read stays exact even on a mixed-stats table
    TableLog.append(spark, t, spark.range(2500, 2600).toDF("id"))
    assert(dataFilesScanned(t, slice) > kept)
    assert(scanWhere(t, slice).count() == 1100)
    // compact with stats re-establishes skipping over the merged layout
    TableLog.compact(spark, t, 1L << 18)
    assert(TableLog.snapshot(t).get.files.forall(_.stats.nonEmpty))
    assert(scanWhere(t, slice).count() == 1100)
  }

  test("txn-id appends are idempotent; streaming ingest is exactly-once") {
    val t = tmp("graft_log_stream")
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    // a replayed batch (same txn id) commits once, no matter how often
    // the at-least-once layer re-delivers it
    val v = TableLog.append(spark, t, spark.range(100, 200).toDF("id"),
      txnId = Some("ingest#7"))
    assert(TableLog.append(spark, t, spark.range(100, 200).toDF("id"),
      txnId = Some("ingest#7")) == v, "replay must return the committed version")
    assert(TableLog.read(spark, t).count() == 200)
    assert(TableLog.latestVersion(t) == v)
    assert(TableLog.committedTxnVersion(t, "ingest#7").contains(v))
    // end-to-end: MemoryStream micro-batches land as txn-stamped commits
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Long]
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_log_ckpt").toString)
    mem.addData(1000L, 1001L)
    TableLog.appendStream(spark, t, mem.toDF().select(col("value").as("id")),
      "s1", ckpt)
    mem.addData(1002L)
    TableLog.appendStream(spark, t, mem.toDF().select(col("value").as("id")),
      "s1", ckpt)
    assert(TableLog.read(spark, t).count() == 203)
    // each batch's txn id is recorded in its manifest
    assert(TableLog.committedTxnVersion(t, "s1#0").isDefined)
    assert(TableLog.committedTxnVersion(t, "s1#1").isDefined)
    // simulated replay of batch 0 (crash before checkpoint advance):
    // the handler path skips, content unchanged
    TableLog.append(spark, t, spark.range(1000, 1002).toDF("id"),
      txnId = Some("s1#0"))
    assert(TableLog.read(spark, t).count() == 203)
  }

  test("mergeUpsert: latest wins, new keys append, duplicate source keys refused") {
    val t = tmp("graft_log_merge")
    TableLog.create(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    TableLog.mergeUpsert(spark, t,
      Seq((2L, "B2"), (9L, "new")).toDF("k", "v"), Seq("k"))
    val back = TableLog.read(spark, t).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    val ex = intercept[IllegalArgumentException] {
      TableLog.mergeUpsert(spark, t,
        Seq((5L, "x"), (5L, "y")).toDF("k", "v"), Seq("k"))
    }
    assert(ex.getMessage.contains("duplicate keys"))
  }

  test("zOrder through the log clusters both dimensions, content intact") {
    val t = tmp("graft_log_zorder")
    TableLog.create(spark, t, spark.range(20000)
      .select((col("id") % 200).as("a"), (col("id") / 200).as("b"))
      .repartition(8))
    TableLog.zOrder(spark, t, nFiles = 8, "a", (0L, 199L), "b", (0L, 99L))
    val back = TableLog.read(spark, t)
    assert(back.count() == 20000)
    // per-file span on `a` shrinks under the global range (clustered)
    val spans = back.groupBy(input_file_name().as("f"))
      .agg((max("a") - min("a")).as("span")).agg(avg("span")).head.getDouble(0)
    assert(spans < 0.6 * 199, s"z-ordered span too wide: $spans")
  }

  test("readChanges: manifest diff is an exact multiset delta, O(changed files)") {
    val t = tmp("graft_log_cdc")
    TableLog.create(spark, t, spark.range(1000).toDF("id"))           // v1
    TableLog.append(spark, t, spark.range(1000, 1200).toDF("id"))     // v2
    // append-only interval: removed is EMPTY (the incremental-refresh
    // fast path — the feed reads only the appended files)
    val (a12, r12) = TableLog.readChanges(spark, t, 1, 2)
    assert(r12.count() == 0)
    assert(a12.agg(min("id"), max("id"), count(lit(1))).head.toSeq
      == Seq(1000L, 1199L, 200L))
    val (addedF, removedF) = TableLog.changedFiles(t, 1, 2)
    assert(removedF.isEmpty && addedF.nonEmpty)
    assert(addedF.size < TableLog.snapshot(t).get.files.size)
    // across a REWRITE (compact): the identity v3 = v1 − removed + added
    // must hold as row multisets even though files were rewritten
    TableLog.compact(spark, t, 1L << 30)                              // v3
    val (a13, r13) = TableLog.readChanges(spark, t, 1, 3)
    val v1 = TableLog.readVersion(spark, t, 1)
    val v3 = TableLog.readVersion(spark, t, 3)
    assert(v1.unionAll(a13).exceptAll(r13).exceptAll(v3).count() == 0)
    assert(v3.exceptAll(v1.unionAll(a13).exceptAll(r13)).count() == 0)
  }

  test("schema evolution: manifest schema, nulls in old files, per-version pin") {
    val t = tmp("graft_log_evo")
    TableLog.create(spark, t, spark.range(10).toDF("id"))                      // v1 (id)
    TableLog.append(spark, t, Seq((100L, "x"), (101L, "y")).toDF("id", "tag")) // v2 +tag
    val back = TableLog.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(back.where(col("tag").isNull).count() == 10)
    assert(back.where(col("tag").isNotNull).count() == 2)
    // each version keeps ITS schema: time travel reads v1 without tag
    assert(TableLog.readVersion(spark, t, 1).schema.fieldNames.toSeq == Seq("id"))
    // an append may OMIT an evolved column — it reads back as null
    TableLog.append(spark, t, Seq(200L).toDF("id"))                            // v3
    assert(TableLog.read(spark, t)
      .where(col("id") === 200 && col("tag").isNull).count() == 1)
    // rewrites carry the evolved schema through
    TableLog.compact(spark, t, 1L << 30)                                       // v4
    assert(TableLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(TableLog.read(spark, t).count() == 13)
    // a NON-widening type change is refused, and the refused append
    // publishes nothing (int under a long column is legal narrowing
    // input — see the widening test — but string is not)
    val before = TableLog.latestVersion(t)
    val e = intercept[RuntimeException] {
      TableLog.append(spark, t,
        Seq(1).toDF("id").select(col("id").cast("string").as("id")))
    }
    assert(e.getMessage.contains("schema evolution"))
    assert(TableLog.latestVersion(t) == before)
  }

  test("type widening: metadata-only commit, old files upcast on read") {
    val t = tmp("graft_log_widen")
    // v1: int ids + float score, with long stats on id
    TableLog.create(spark, t, spark.range(100).toDF("id")
      .select(col("id").cast("int").as("id"),
        (col("id") * 0.5).cast("float").as("score")),
      statsCols = Seq("id"))
    // v2: long ids + double scores — schema widens, NO file rewrite
    val v1Files = TableLog.snapshot(t).get.files.map(_.path).toSet
    TableLog.append(spark, t,
      Seq((5000000000L, 2.25), (5000000001L, 3.5)).toDF("id", "score"),
      statsCols = Seq("id"))
    val s2 = TableLog.snapshot(t).get
    assert(v1Files.subsetOf(s2.files.map(_.path).toSet),
      "widening must not rewrite existing data files")
    val back = TableLog.read(spark, t)
    assert(back.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(back.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(back.count() == 102)
    assert(back.agg(sum("id")).head.getLong(0) ==
      (0L until 100).sum + 5000000000L + 5000000001L)
    // time travel: v1 keeps its narrow schema
    assert(TableLog.readVersion(spark, t, 1).schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // narrow input AFTER widening: int rows land under the long schema
    TableLog.append(spark, t,
      Seq(700).toDF("id").select(col("id").cast("int").as("id")),
      statsCols = Seq("id"))
    assert(TableLog.read(spark, t).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(TableLog.read(spark, t).where(col("id") === 700L).count() == 1)
    // stat pruning stays correct across mixed narrow/wide files
    val pruned = scanWhere(t, col("id").between(0L, 10L))
      .agg(count(lit(1))).head.getLong(0)
    assert(pruned == 11) // ids 0..10 from v1; 700 and the 5e9s pruned out
    // a LOSSY change stays refused: long -> double loses >2^53
    val before = TableLog.latestVersion(t)
    intercept[RuntimeException] {
      TableLog.append(spark, t,
        Seq(1.5).toDF("id").select(col("id").cast("double").as("id")))
    }
    assert(TableLog.latestVersion(t) == before)
  }

  test("string stats: categorical skipping prunes files, odd chars round-trip") {
    val t = tmp("graft_log_cat")
    // range layout on cat → each file covers a tight string range;
    // 'x;y:z' exercises the manifest URL-encoding
    val cats = Seq("alpha", "beta", "gamma", "delta", "x;y:z=w")
    val df = spark.range(1000).toDF("id")
      .withColumn("cat", element_at(
        typedLit(cats), (col("id") % cats.size).cast("int") + 1))
    TableLog.create(spark, t, df.repartitionByRange(5, col("cat")),
      strStatsCols = Seq("cat"))
    val total = TableLog.snapshot(t).get.files.size
    val kept = dataFilesScanned(t, col("cat").isin("alpha"))
    assert(kept < total, s"no pruning: $total files, kept $kept")
    // content: pruned read == full filter, including the odd-char value
    for (want <- Seq(Seq("alpha"), Seq("x;y:z=w"), Seq("beta", "gamma"))) {
      val pruned = scanWhere(t, col("cat").isin(want: _*))
        .agg(count(lit(1)), sum("id")).head
      val full = TableLog.read(spark, t).where(col("cat").isin(want: _*))
        .agg(count(lit(1)), sum("id")).head
      assert(pruned == full, s"IN $want: $pruned != $full")
    }
    // a later append WITHOUT string stats: its files have no range for
    // cat, so every IN-read must keep (not skip) them
    TableLog.append(spark, t, Seq((5000L, "alpha")).toDF("id", "cat"))
    assert(scanWhere(t, col("cat").isin("alpha"))
      .where(col("id") === 5000L).count() == 1)
  }

  test("long IN stats: cell-style skipping prunes files, absent stats keep") {
    val t = tmp("graft_log_longin")
    val df = spark.range(1000).toDF("id")
      .withColumn("cell", col("id") % 8)
    TableLog.create(spark, t, df.repartitionByRange(8, col("cell")),
      statsCols = Seq("cell"))
    val total = TableLog.snapshot(t).get.files.size
    val kept = dataFilesScanned(t, col("cell").isin(3L))
    assert(kept < total, s"no pruning: $total files, kept $kept")
    for (want <- Seq(Seq(3L), Seq(0L, 7L), Seq(42L))) {
      val pruned = scanWhere(t, col("cell").isin(want: _*))
        .agg(count(lit(1)), sum("id")).head
      val full = TableLog.read(spark, t).where(col("cell").isin(want: _*))
        .agg(count(lit(1)), sum("id")).head
      assert(pruned == full, s"IN $want: $pruned != $full")
    }
    // stat-less append: its files must be kept by every IN-read
    TableLog.append(spark, t, Seq((5000L, 3L)).toDF("id", "cell"))
    assert(scanWhere(t, col("cell").isin(3L))
      .where(col("id") === 5000L).count() == 1)
  }

  test("maintained aggregate: O(delta) refresh == full recompute; replay skips") {
    val root = java.nio.file.Files.createTempDirectory("graft_log_mv")
    val (src, mv) = (s"$root/src", s"$root/mv")
    def fullAgg() = TableLog.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    def mvRows() = TableLog.read(spark, mv)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def fullRows() = fullAgg()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rows = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", i))
    TableLog.create(spark, src, rows.toDF("id", "k", "v"))
    TableLog.maintainAgg(spark, src, mv, Seq("k"), Seq("v")) // bootstrap
    assert(mvRows() == fullRows())
    // append-only delta: new keys and existing keys
    TableLog.append(spark, src,
      Seq((200L, "a", 7L), (201L, "c", 9L)).toDF("id", "k", "v"))
    TableLog.maintainAgg(spark, src, mv, Seq("k"), Seq("v"))
    assert(mvRows() == fullRows())
    // a merge MOVES every 'c' row to 'a': group c's count reaches zero
    // and must leave the mv
    TableLog.mergeUpsert(spark, src,
      Seq((201L, "a", 9L)).toDF("id", "k", "v"), Seq("id"))
    TableLog.maintainAgg(spark, src, mv, Seq("k"), Seq("v"))
    assert(mvRows() == fullRows())
    assert(!mvRows().exists(_._1 == "c"))
    // already current: no new mv version; a replayed maintain is a no-op
    val v = TableLog.latestVersion(mv)
    TableLog.maintainAgg(spark, src, mv, Seq("k"), Seq("v"))
    assert(TableLog.latestVersion(mv) == v)
  }

  test("vacuum aborts on an unreadable RETAINED manifest instead of deleting") {
    val t = tmp("graft_log_vabort")
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    TableLog.append(spark, t, spark.range(100, 200).toDF("id"))
    TableLog.append(spark, t, spark.range(200, 300).toDF("id"))
    val dataBefore = TableLog.read(spark, t).count()
    // corrupt v2 the way a hand-copied partial manifest looks: no end=true
    val p2 = java.nio.file.Paths.get(t, "_log", "v00000002.manifest")
    val lines = java.nio.file.Files.readString(p2)
    java.nio.file.Files.writeString(p2,
      lines.replace("end=true\n", ""))
    // v2's adds would silently drop out of the referenced set and its
    // delta chain would replay against the wrong base — the vacuum must
    // fail loudly BEFORE deleting anything, not proceed destructively
    val ex = intercept[RuntimeException] {
      TableLog.vacuum(spark, t, olderThanMs = 0)
    }
    assert(ex.getMessage.contains("v2"))
    // nothing was deleted: restore the manifest, everything still reads
    java.nio.file.Files.writeString(p2, lines)
    assert(TableLog.read(spark, t).count() == dataBefore)
  }

  test("a txn committed before a clone's fork, replayed into the clone, " +
      "is not appended again") {
    val src = tmp("graft_log_creplay_src")
    def batch(lo: Long) = spark.range(lo, lo + 10).select($"id".as("k"))
    TableLog.append(spark, src, batch(0), txnId = Some("ingest#1"))   // v1
    TableLog.append(spark, src, batch(10), txnId = Some("ingest#2"))  // v2
    val br = tmp("graft_log_creplay_br")
    assert(TableLog.cloneTable(spark, src, br) == 2)
    // the clone's log starts at v2: no retained manifest names
    // ingest#1, but the carried txn index puts it below the frontier
    assert(TableLog.append(spark, br, batch(0),
      txnId = Some("ingest#1")) <= 2)
    assert(TableLog.append(spark, br, batch(10),
      txnId = Some("ingest#2")) == 2)
    assert(TableLog.latestVersion(br) == 2)
    assert(TableLog.read(spark, br).count() == 20)
  }

  test("vacuum floors at the earliest EXISTING manifest: clones and re-widened windows") {
    val src = tmp("graft_log_cvac_src")
    TableLog.create(spark, src, spark.range(100).select($"id".as("k"))
      .coalesce(1), statsCols = Seq("k"))                          // v1
    TableLog.append(spark, src, spark.range(100, 200)
      .select($"id".as("k")).coalesce(1), statsCols = Seq("k"))    // v2
    val dst = tmp("graft_log_cvac_dst")
    assert(TableLog.cloneTable(spark, src, dst) == 2) // log starts at v2
    // DEFAULT-window vacuum on a fresh clone: nothing below the fork
    // exists — the floor must land on the fork manifest, not crash
    // replaying a missing v1
    TableLog.vacuum(spark, dst, olderThanMs = 0)
    assert(TableLog.read(spark, dst).count() == 200)
    // preview takes the same floor
    val (pv, pf) = TableLog.vacuumPreview(dst)
    assert(pv.isEmpty && pf.isEmpty)
    // evolve past a checkpoint so a narrow vacuum really drops
    // manifests, then RE-VACUUM WIDER: the requested floor is below
    // every existing manifest — must floor at the earliest existing
    (1 to 8).foreach(i => TableLog.append(spark, dst,
      spark.range(200L + i * 10, 210L + i * 10).select($"id".as("k"))
        .coalesce(1), statsCols = Seq("k")))              // v3..v10
    TableLog.vacuum(spark, dst, keepVersions = 1, olderThanMs = 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dst, "_log", "v00000002.manifest")),
      "narrow vacuum should have dropped the fork manifest")
    TableLog.vacuum(spark, dst, keepVersions = 1000, olderThanMs = 0)
    assert(TableLog.read(spark, dst).count() == 280)
    assert(TableLog.vacuumPreview(dst, keepVersions = 1000)._1.isEmpty)
  }

  test("vacuumPreview aborts on an unreadable RETAINED manifest (mirrors vacuum)") {
    val t = tmp("graft_log_pvabort")
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    TableLog.append(spark, t, spark.range(100, 200).toDF("id"))
    TableLog.append(spark, t, spark.range(200, 300).toDF("id"))
    val p2 = java.nio.file.Paths.get(t, "_log", "v00000002.manifest")
    val lines = java.nio.file.Files.readString(p2)
    java.nio.file.Files.writeString(p2, lines.replace("end=true\n", ""))
    // a lenient preview would under-build `referenced` and report
    // still-referenced files as reclaimable — it must abort like the
    // sweep it claims to dry-run
    val ex = intercept[RuntimeException](TableLog.vacuumPreview(t))
    assert(ex.getMessage.contains("v2"))
    java.nio.file.Files.writeString(p2, lines)
    assert(TableLog.vacuumPreview(t)._2.isEmpty)
  }

  test("update on a mor table: scattered update = new images + deletion vector, ZERO rewrites; fence, travel, compaction, no key guards") {
    val t = tmp("graft_log_umor")
    val df = spark.range(1000).select($"id".as("k"), ($"id" % 7).as("v"),
      lit("a").as("tag"))
    // UNCLUSTERED in k: every file spans the whole key range — the COW
    // update would rewrite all of them; MOR must rewrite none
    TableLog.create(spark, t, df.repartition(4, $"v"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    val before = TableLog.snapshot(t).get
    TableLog.update(spark, t, col("k").between(100, 899),
      Map("v" -> ($"v" + 100), "tag" -> lit("u")))
    val after = TableLog.snapshot(t).get
    assert(before.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "every base file must carry by reference — zero rewrites")
    assert(after.rows == 1000 && after.dels.nonEmpty)
    // content == updateWhere semantics, set RHS reading the pre-image
    val expected = df.select($"k",
      when($"k".between(100, 899), $"v" + 100).otherwise($"v").as("v"),
      when($"k".between(100, 899), lit("u")).otherwise($"tag").as("tag"))
    assert(TableLog.read(spark, t).exceptAll(expected).isEmpty &&
      expected.exceptAll(TableLog.read(spark, t)).isEmpty)
    // version fence: a LATER append under an updated key survives
    TableLog.append(spark, t, Seq((500L, 0L, "late")).toDF("k", "v", "tag"))
    assert(TableLog.read(spark, t).where($"k" === 500).count() == 2)
    // time travel: v1 is the pre-update image
    assert(TableLog.readVersion(spark, t, 1)
      .where($"tag" === "u").count() == 0)
    // compact() materializes the sidecar away, content unchanged
    TableLog.compact(spark, t, 1L << 26)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).where($"tag" === "u").count() == 800)
    // NO KEY GUARDS: positions address rows exactly, so rows sharing
    // a value across the predicate boundary update independently
    val t2 = tmp("graft_log_umor2")
    TableLog.create(spark, t2, spark.range(200)
      .select($"id", ($"id" % 100).as("kk")), statsCols = Seq("id"),
      rowLevelMode = TableLog.Mor)
    TableLog.update(spark, t2, col("id").between(0, 49),
      Map("id" -> ($"id" + 1000L)))
    assert(TableLog.read(spark, t2).where($"id" >= 1000).count() == 50)
    assert(TableLog.read(spark, t2).count() == 200)
    // …and a NULL in any column is just a value
    val t3 = tmp("graft_log_umor3")
    TableLog.create(spark, t3, spark.range(10).select($"id",
      when($"id" === 5, lit(null)).otherwise($"id").as("k")),
      rowLevelMode = TableLog.Mor)
    TableLog.update(spark, t3, col("id").between(0, 9),
      Map("id" -> ($"id" + 100L)))
    assert(TableLog.read(spark, t3).where($"id" >= 100).count() == 10)
    // silent type widening refused, exactly like the COW update
    val e3 = intercept[IllegalArgumentException](TableLog.update(
      spark, t, col("k").between(0, 10), Map("v" -> ($"v" + lit(0.5)))))
    assert(e3.getMessage.contains("cast the expression"))
  }

  test("mergeMor: upsert = source files + key sidecar, ZERO rewrites; latest-wins; accounting; compaction") {
    val t = tmp("graft_log_mmor")
    val base = spark.range(1000).select($"id".as("k"), ($"id" % 7).as("v"))
    TableLog.create(spark, t, base.repartition(4, $"v"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    val before = TableLog.snapshot(t).get
    // bimodal source: an update band inside the domain + inserts past it
    val src = spark.range(500, 1500).select($"id".as("k"),
      lit(999L).as("v"))
    TableLog.mergeUpsert(spark, t, src, Seq("k"))
    val after = TableLog.snapshot(t).get
    assert(after.action == "merge_mor")
    assert(before.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "every base file must carry by reference — zero rewrites")
    assert(after.rows == 1500)
    assert(TableLog.read(spark, t).count() == 1500)
    assert(TableLog.read(spark, t).where($"v" === 999).count() == 1000)
    assert(TableLog.read(spark, t)
      .where($"k" < 500 && $"v" === 999).count() == 0,
      "unmatched snapshot rows must be untouched")
    // guards: duplicate and NULL source keys refused (latest-wins
    // would be ambiguous / unaddressable)
    intercept[IllegalArgumentException](
      TableLog.mergeUpsert(spark, t, src.unionAll(src), Seq("k")))
    intercept[IllegalArgumentException](TableLog.mergeUpsert(spark, t,
      Seq((Option.empty[Long], 1L)).toDF("k", "v"), Seq("k")))
    // second merge stacks (two sidecar cohorts), then compaction
    // materializes both away
    TableLog.mergeUpsert(spark, t, spark.range(700, 720)
      .select($"id".as("k"), lit(111L).as("v")), Seq("k"))
    assert(TableLog.read(spark, t).where($"v" === 111).count() == 20)
    assert(TableLog.read(spark, t).count() == 1500)
    TableLog.compact(spark, t, 1L << 26)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).count() == 1500)
    assert(TableLog.read(spark, t).where($"v" === 111).count() == 20)
  }

  test("applyCdcMor: CDC apply with zero rewrites equals the COW apply; exactly-once; compaction") {
    val t = tmp("graft_log_acmor")
    val svCow = tmp("graft_log_acmor_cow")
    val svMor = tmp("graft_log_acmor_mor")
    TableLog.enableCdcFeed(t)
    TableLog.create(spark, t, spark.range(500)
      .select($"id".as("k"), ($"id" % 5).as("v"))
      .repartitionByRange(4, $"k"), statsCols = Seq("k"))          // v1
    TableLog.append(spark, t, spark.range(500)
      .select($"id".as("k"), ($"id" % 5 + 100).as("v"))
      .repartitionByRange(4, $"k"), statsCols = Seq("k"))          // v2
    TableLog.delete(spark, t, col("k").between(100, 199))                 // v3
    val feed = TableLog.readFeed(spark, t, withVersion = true)
    // COW reference: whole feed in one apply
    TableLog.applyCdc(spark, svCow, feed, "k")
    // MOR: bootstrap batch, the silver table declares mor, then the
    // mutation batch commits as a sidecar
    TableLog.applyCdc(spark, svMor,
      feed.where($"_change_version" === 1), "k")
    TableLog.setWriteSpec(svMor,
      TableLog.writeSpec(svMor).copy(rowLevelMode = TableLog.Mor))
    val before = TableLog.snapshot(svMor).get
    TableLog.applyCdc(spark, svMor,
      feed.where($"_change_version" >= 2), "k",
      txnId = Some("acm#2"))
    val after = TableLog.snapshot(svMor).get
    assert(before.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "the MOR apply must not rewrite any silver file")
    assert(after.dels.nonEmpty)
    // same final keyed state as the COW apply
    val cow = TableLog.read(spark, svCow)
    val mor = TableLog.read(spark, svMor)
    assert(mor.count() == 400) // 500 − deleted range
    assert(cow.exceptAll(mor).isEmpty && mor.exceptAll(cow).isEmpty)
    // exactly-once: replaying the batch under the same txn is a no-op
    assert(TableLog.applyCdc(spark, svMor,
      feed.where($"_change_version" >= 2), "k",
      txnId = Some("acm#2")) == after.version)
    assert(TableLog.snapshot(svMor).get.version == after.version)
    // compaction materializes the sidecar; content unchanged
    TableLog.compact(spark, svMor, 1L << 26)
    assert(TableLog.snapshot(svMor).get.dels.isEmpty)
    assert(TableLog.read(spark, svMor).exceptAll(cow).isEmpty)
  }

  test("updateMor/mergeMor CDC capture: silver materializes from the feed alone") {
    val t = tmp("graft_log_mor_cdc")
    val sv = tmp("graft_log_mor_cdc_sv")
    TableLog.enableCdcFeed(t)
    TableLog.create(spark, t, spark.range(100)
      .select($"id".as("k"), ($"id" % 5).as("v")).coalesce(2),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)                    // v1
    TableLog.update(spark, t, col("k").between(10, 59),
      Map("v" -> ($"v" + 100)))              // v2
    TableLog.mergeUpsert(spark, t, spark.range(90, 120)
      .select($"id".as("k"), lit(777L).as("v")), Seq("k"))        // v3
    TableLog.applyCdc(spark, sv,
      TableLog.readFeed(spark, t, withVersion = true), "k")
    val b = TableLog.read(spark, t)
    val s = TableLog.read(spark, sv)
    assert(s.count() == 120)
    assert(b.exceptAll(s).isEmpty && s.exceptAll(b).isEmpty,
      "silver from the feed must equal the bronze state")
  }

  test("cumulative counters: atomic with the commit, O(1) read, replay-safe") {
    val t = tmp("graft_log_counters")
    TableLog.create(spark, t, spark.range(10).toDF("id"),
      counterDelta = Map("docs" -> 10L))
    TableLog.append(spark, t, spark.range(10, 14).toDF("id"),
      counterDelta = Map("docs" -> 4L, "batches" -> 1L))
    // commitStats is a manifest lookup — rows and counters per version
    assert(TableLog.commitStats(t, 1).contains((10L, Map("docs" -> 10L))))
    assert(TableLog.commitStats(t, 2)
      .contains((14L, Map("docs" -> 14L, "batches" -> 1L))))
    // a txn-replayed append contributes its delta ONCE; reading the
    // returned version witnesses the original accounting byte-identically
    val v = TableLog.append(spark, t, spark.range(14, 16).toDF("id"),
      txnId = Some("b#1"), counterDelta = Map("docs" -> 2L))
    val replay = TableLog.append(spark, t, spark.range(14, 16).toDF("id"),
      txnId = Some("b#1"), counterDelta = Map("docs" -> 2L))
    assert(replay == v)
    assert(TableLog.snapshot(t).get.counters("docs") == 16L)
    // counters ride delta manifests AND survive snapshot resolution off
    // a checkpoint; an append that names no counters changes none
    TableLog.append(spark, t, spark.range(16, 17).toDF("id"))
    assert(TableLog.snapshot(t).get.counters ==
      Map("docs" -> 16L, "batches" -> 1L))
    // rewrites (compact) preserve counters verbatim
    TableLog.compact(spark, t, targetBytes = 1L << 20)
    assert(TableLog.snapshot(t).get.counters ==
      Map("docs" -> 16L, "batches" -> 1L))
    assert(TableLog.read(spark, t).count() == 17)
  }

  test("change feed: appends delivered exactly once, layout rewrites not re-delivered") {
    val t = tmp("graft_feed_basic")
    TableLog.enableFeed(t)
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    TableLog.append(spark, t, spark.range(100, 150).toDF("id"))
    // layout-only: redistributes already-delivered rows, must add nothing
    TableLog.compact(spark, t, 1L << 30)
    TableLog.append(spark, t, spark.range(150, 160).toDF("id"))
    val feed = TableLog.readFeed(spark, t)
    assert(feed.count() == 160)
    assert(feed.select(countDistinct($"id")).head.getLong(0) == 160)
  }

  test("change feed: hard links keep the feed readable across table vacuum") {
    val t = tmp("graft_feed_vacuum")
    TableLog.enableFeed(t)
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    TableLog.append(spark, t, spark.range(100, 150).toDF("id"))
    TableLog.compact(spark, t, 1L << 30)
    TableLog.append(spark, t, spark.range(150, 160).toDF("id"))
    // drops v1/v2 manifests and the pre-compaction ORIGINALS of every
    // feed-linked file from the first two appends
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0)
    // the links pin the inodes: a lagging consumer keeps reading
    assert(TableLog.readFeed(spark, t).count() == 160)
    assert(TableLog.read(spark, t).count() == 160)
    // feed retention is its own policy: retiring old links leaves the
    // table intact, and markers survive so healing can't re-link
    val retired = TableLog.vacuumFeed(t, keepVersions = 1)
    assert(retired.nonEmpty)
    TableLog.publishFeed(t) // must NOT resurrect retired versions
    assert(TableLog.readFeed(spark, t).count() == 10)
    assert(TableLog.read(spark, t).count() == 160)
  }

  test("change feed: crash mid-publish heals under the same names") {
    val t = tmp("graft_feed_heal")
    TableLog.enableFeed(t)
    TableLog.create(spark, t, spark.range(50).toDF("id"))
    TableLog.append(spark, t, spark.range(50, 80).toDF("id"))
    // simulate a crash between v2's links and its marker: marker gone,
    // one link gone
    val feedDir = java.nio.file.Paths.get(t, "_feed")
    assert(java.nio.file.Files.deleteIfExists(
      feedDir.resolve("_done_v000000002")))
    import scala.jdk.CollectionConverters._
    val v2links = java.nio.file.Files.list(feedDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("v000000002_")).toSeq
    assert(v2links.nonEmpty)
    java.nio.file.Files.delete(v2links.head)
    // healing re-creates the missing link under the SAME name — a
    // consumer's seen-path log stays valid, nothing double-delivers
    TableLog.publishFeed(t)
    val feed = TableLog.readFeed(spark, t)
    assert(feed.count() == 80)
    assert(feed.select(countDistinct($"id")).head.getLong(0) == 80)
  }

  test("change feed: data-changing rewrites refused on feed-enabled tables") {
    val t = tmp("graft_feed_guard")
    TableLog.enableFeed(t)
    TableLog.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](TableLog.mergeUpsert(
      spark, t, Seq((2L, "B")).toDF("k", "v"), Seq("k")))
    assert(e.getMessage.contains("append-only"))
    // layout maintenance is still allowed
    TableLog.compact(spark, t, 1L << 30)
    assert(TableLog.readFeed(spark, t).count() == 2)
  }

  test("change feed: initial-snapshot start for histories a backfill can't represent") {
    val t = tmp("graft_feed_snapstart")
    TableLog.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    TableLog.mergeUpsert(spark, t,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    TableLog.enableFeed(t)
    // the history holds a merge: per-version backfill must refuse rather
    // than silently skip rows
    val e = intercept[RuntimeException](TableLog.publishFeed(t))
    assert(e.getMessage.contains("merge"))
    // the failed backfill left v1's links behind: a snapshot start now
    // would double-deliver them, so it must refuse until the feed is
    // reset through the sanctioned escape
    intercept[IllegalArgumentException](TableLog.publishInitialSnapshot(t))
    TableLog.disableFeed(t)
    TableLog.enableFeed(t)
    TableLog.publishInitialSnapshot(t)
    assert(TableLog.readFeed(spark, t).count() == 3)
    TableLog.append(spark, t, Seq((4L, "d")).toDF("k", "v"))
    val feed = TableLog.readFeed(spark, t).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(feed == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("change feed streaming: bronze→silver chained exactly-once") {
    val bronze = tmp("graft_feed_bronze")
    val silver = tmp("graft_feed_silver")
    TableLog.enableFeed(bronze)
    TableLog.create(spark, bronze, spark.range(100).toDF("id"))
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_feed_ckpt").toString)
    // the whole bronze→silver incremental pipeline: the bronze feed as a
    // stream, exactly-once-appended into silver
    def drain(): Unit = TableLog.appendStream(spark, silver,
      TableLog.changeFeedStream(spark, bronze), "b2s", ckpt)
    drain()
    assert(TableLog.read(spark, silver).count() == 100)
    // re-run with the same checkpoint: nothing new, nothing re-delivered
    drain()
    assert(TableLog.read(spark, silver).count() == 100)
    // new bronze data flows through incrementally
    TableLog.append(spark, bronze, spark.range(100, 130).toDF("id"))
    drain()
    val s = TableLog.read(spark, silver)
    assert(s.count() == 130)
    assert(s.select(countDistinct($"id")).head.getLong(0) == 130)
  }

  test("typed CDC feed: deletes captured as typed rows, silver derives state, healing idempotent") {
    val t = tmp("graft_cdc_feed")
    TableLog.enableCdcFeed(t)
    def rows(a: Long, b: Long) =
      spark.range(a, b).select($"id", ($"id" * 2).as("v"))
    TableLog.create(spark, t,
      rows(0, 100).repartitionByRange(4, $"id"), statsCols = Seq("id"))
    TableLog.append(spark, t,
      rows(100, 150).repartitionByRange(2, $"id"), statsCols = Seq("id"))
    // the CDC feed is what legalizes this delete on a feed-enabled table
    TableLog.delete(spark, t, col("id").between(40, 120))
    val feed = TableLog.readFeed(spark, t)
    assert(feed.where($"_change_type" === "insert").count() == 150)
    assert(feed.where($"_change_type" === "delete").count() == 81)
    // SILVER state from the feed alone — no bronze access, no predicate
    def state() = {
      val f = TableLog.readFeed(spark, t)
      f.where($"_change_type" === "insert").drop("_change_type")
        .exceptAll(f.where($"_change_type" === "delete").drop("_change_type"))
    }
    assert(state().count() == 69)
    assert(state().exceptAll(TableLog.read(spark, t)).isEmpty &&
      TableLog.read(spark, t).exceptAll(state()).isEmpty)
    // healing: crash between the delete's capture links and its marker —
    // marker gone, one capture link gone; publishFeed re-creates the
    // missing link under the SAME name, nothing double-delivers
    val fd = java.nio.file.Paths.get(t, "_feed")
    assert(java.nio.file.Files.deleteIfExists(fd.resolve("_done_v000000003")))
    import scala.jdk.CollectionConverters._
    val cdcLinks = java.nio.file.Files.list(fd).iterator().asScala
      .filter(_.getFileName.toString.startsWith("v000000003_cdc_")).toSeq
    assert(cdcLinks.nonEmpty)
    java.nio.file.Files.delete(cdcLinks.head)
    // the no-spark overload cannot heal a delete capture: loud, not silent
    val e = intercept[RuntimeException](TableLog.publishFeed(t))
    assert(e.getMessage.contains("SparkSession"))
    TableLog.publishFeed(spark, t)
    assert(TableLog.readFeed(spark, t)
      .where($"_change_type" === "delete").count() == 81)
    assert(state().count() == 69)
    // idempotent replay with everything published: no-op
    assert(TableLog.publishFeed(spark, t).isEmpty)
    // vacuuming the table's originals never breaks the feed (links pin
    // inodes), and the derived state still matches the live table
    TableLog.append(spark, t,
      rows(150, 160).repartitionByRange(1, $"id"), statsCols = Seq("id"))
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0)
    assert(state().count() == 79)
    assert(state().exceptAll(TableLog.read(spark, t)).isEmpty)
    // non-CDC feed tables still refuse deletes (the plain contract holds)
    val t2 = tmp("graft_cdc_plain")
    TableLog.enableFeed(t2)
    TableLog.create(spark, t2, rows(0, 10))
    intercept[IllegalArgumentException](
      TableLog.delete(spark, t2, col("id").between(0, 5)))
    // and the plain feed's read face carries NO _change_type column
    assert(!TableLog.readFeed(spark, t2).columns.contains("_change_type"))
  }

  test("deleteWhere: rewrites only overlapping files, carries the rest by reference") {
    val t = tmp("graft_log_delw")
    // 8 range-clustered files over [0, 8000)
    TableLog.create(spark, t,
      spark.range(8000).toDF("k").repartitionByRange(8, $"k"),
      statsCols = Seq("k"))
    val before = TableLog.snapshot(t).get
    val untouchedBefore = before.files.filterNot(f =>
      f.stats.exists(s => s.col == "k" && s.max >= 2000 && s.min <= 2999))
    assert(untouchedBefore.size >= 5, "fixture: most files must not overlap")
    val v = TableLog.delete(spark, t, col("k").between(2000, 2999))
    val after = TableLog.snapshot(t).get
    // semantics: exactly the range is gone
    assert(after.rows == 7000)
    assert(TableLog.read(spark, t).count() == 7000)
    assert(TableLog.read(spark, t).where($"k".between(2000, 2999)).count() == 0)
    assert(TableLog.read(spark, t).agg(sum($"k")).head.getLong(0) ==
      (0L until 8000L).filterNot(k => k >= 2000 && k <= 2999).sum)
    // mechanics: non-overlapping files carry over with IDENTICAL paths
    // (never read, never copied), and the commit is a delta manifest
    val afterPaths = after.files.map(_.path).toSet
    untouchedBefore.foreach(f => assert(afterPaths.contains(f.path),
      s"untouched file ${f.path} must survive by reference"))
    assert(before.files.map(_.path).toSet.intersect(afterPaths) ==
      untouchedBefore.map(_.path).toSet)
    // time travel: the pre-delete version still reads complete
    assert(TableLog.readVersion(spark, t, v - 1).count() == 8000)
    // no-op delete (no file can contain a match): no commit at all
    assert(TableLog.delete(spark, t, col("k").between(90000, 99000)) == v)
    assert(TableLog.latestVersion(t) == v)
  }

  test("deleteWhere: an entirely-deleted rewrite input manifests no stat-less zero-row file") {
    val t = tmp("graft_log_zerorow")
    TableLog.create(spark, t,
      spark.range(4000).toDF("k").repartitionByRange(4, $"k"),
      statsCols = Seq("k"))
    val before = TableLog.snapshot(t).get
    assert(before.files.size == 4)
    // pick an INTERIOR file and delete exactly its range: the rewrite
    // reads that one file and filters every row away — Spark's writer
    // still creates the task's part file eagerly, and (pre-fix) the
    // resulting ZERO-ROW file landed in the manifest with NO stats
    // (the per-file stats agg groups by input_file_name, in which an
    // empty file has no group). A stat-less entry is kept by every
    // pruner, silently defeating all future stat prunes and breaking
    // the disjoint-range no-op contract below.
    val f1 = before.files.find { f =>
      val s = f.stats.find(_.col == "k").get
      s.min <= 1500 && 1500 <= s.max
    }.get
    val st = f1.stats.find(_.col == "k").get
    assert(st.min > 0 && st.max < 3999, "fixture: interior file")
    val v = TableLog.delete(spark, t, col("k").between(st.min, st.max))
    val after = TableLog.snapshot(t).get
    assert(v == before.version + 1)
    // the fully-deleted file is gone and NOTHING replaced it — zero-row
    // part files never reach the manifest
    assert(!after.files.map(_.path).contains(f1.path))
    assert(after.files.size == 3)
    // every surviving entry carries a k stat (no stat-less survivors)…
    assert(after.files.forall(_.stats.exists(_.col == "k")),
      s"stat-less entries: ${after.files.filter(_.stats.isEmpty).map(_.path)}")
    // …and is footer-verified non-empty on disk
    val hconf = spark.sessionState.newHadoopConf()
    after.files.foreach { f =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$t/${f.path}"), hconf))
      val n = try rdr.getRecordCount finally rdr.close()
      assert(n > 0, s"zero-row file ${f.path} reached the manifest")
    }
    // semantics intact
    val expected = (0L until 4000L).filterNot(k => k >= st.min && k <= st.max)
    assert(after.rows == expected.size)
    assert(TableLog.read(spark, t).count() == expected.size)
    assert(TableLog.read(spark, t).agg(sum($"k")).head.getLong(0) ==
      expected.sum)
    // the no-op contract SURVIVES the all-deleted rewrite: a
    // disjoint-range delete finds no candidate file and commits nothing
    assert(TableLog.delete(spark, t, col("k").between(1000000, 2000000)) == v)
    assert(TableLog.latestVersion(t) == v)
  }

  test("direct staged write: empty writes and zero-row tasks leave no " +
      "manifested file, and every staged parquet file is manifested") {
    val mk = () => spark.range(5000).selectExpr(
      "id AS k", "CAST(id % 9 AS int) AS v",
      "concat('p', id % 4) AS s").repartition(4, $"k")
    val tD = tmp("graft_log_direct")
    TableLog.create(spark, tD, mk(),
      statsCols = Seq("k", "v"), strStatsCols = Seq("s"))
    assert(TableLog.snapshot(tD).get.files.size == 4)
    assert(TableLog.read(spark, tD).count() == 5000L)
    // an EMPTY append adds no file and leaves rows unchanged (files
    // open lazily on their first row: an empty task writes nothing)
    TableLog.append(spark, tD, mk().where("k < 0"),
      statsCols = Seq("k", "v"), strStatsCols = Seq("s"))
    assert(TableLog.snapshot(tD).get.rows == 5000L)
    assert(TableLog.snapshot(tD).get.files.forall(_.rows > 0L))
    // a group rewrite whose tasks filter everything away (delete of a
    // whole range-clustered file's span) manifests no zero-row file —
    // range-partitioned table, delete WELL past the ~2500 boundary so
    // at least the low files empty entirely whatever the sampled split
    val tR = tmp("graft_log_direct_r")
    TableLog.create(spark, tR, spark.range(5000).selectExpr(
      "id AS k", "CAST(id % 9 AS int) AS v")
      .repartitionByRange(4, $"k"), statsCols = Seq("k", "v"))
    TableLog.delete(spark, tR, col("k").between(0, 2999))
    assert(TableLog.read(spark, tR).count() == 2000L)
    assert(TableLog.snapshot(tR).get.files.forall(_.rows > 0L))
    // no unmanifested garbage beyond CAS-loser class: every on-disk
    // parquet under data/ is referenced by some version's manifest
    import scala.jdk.CollectionConverters._
    Seq(tD, tR).foreach { t =>
      val referenced = (1L to TableLog.latestVersion(t)).flatMap(v =>
        TableLog.snapshotAt(t, v).toSeq.flatMap(s =>
          s.files.map(_.path) ++ s.dels.map(_.file.path))).toSet
      val onDisk = java.nio.file.Files
        .walk(java.nio.file.Paths.get(t, "data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Paths.get(t).relativize(p).toString)
        .toSet
      assert(onDisk == referenced,
        s"direct-write leak/loss at $t: onDisk-only=${(onDisk --
          referenced).take(4)}, referenced-only=${(referenced --
          onDisk).take(4)}")
    }
  }

  test("morMaintain: bounded sidecars — no-op within bounds, targeted materialization past them, byte-identical reads") {
    val t = tmp("graft_log_mormaint")
    TableLog.create(spark, t,
      spark.range(8000).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartitionByRange(8, $"k").sortWithinPartitions("k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    val v0 = TableLog.latestVersion(t)
    // three scattered MOR deletes — zero rewrites, three sidecars
    Seq(10L, 2010L, 4010L).foreach { key =>
      keyDelete(t, "k", Seq(key).toDF("k"))
    }
    val snapBefore = TableLog.snapshot(t).get
    assert(snapBefore.dels.size == 3)
    assert(snapBefore.files.map(_.path).toSet ==
      TableLog.snapshotAt(t, v0).get.files.map(_.path).toSet,
      "MOR deletes must not rewrite data files")
    val before = TableLog.read(spark, t).orderBy("k").collect().toSeq
    assert(before.size == 7997)
    // the read pays anti-joins while sidecars are pending
    assert(TableLog.read(spark, t).queryExecution.optimizedPlan
      .toString.contains("LeftAnti"))
    val d0 = TableLog.detail(spark, t).head
    assert(d0.getLong(4) == 3 && d0.getLong(8) > 0,
      "detail must report pending sidecar count and bytes")
    // within bounds: no commit
    assert(TableLog.morMaintain(spark, t, maxSidecars = 3) ==
      snapBefore.version)
    // past the bound: materialize — ONLY the three fenced-and-
    // overlapping files rewrite (keys 10/2010/4010 live in three of
    // the eight range-clustered files); the rest carry by reference
    val v = TableLog.morMaintain(spark, t, maxSidecars = 2)
    assert(v == snapBefore.version + 1)
    val after = TableLog.snapshot(t).get
    assert(after.dels.isEmpty, "sidecars must be retired")
    assert(after.rows == snapBefore.rows)
    val carried = snapBefore.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    assert(carried.size == 5,
      s"exactly the 5 non-overlapping files must carry by reference, " +
        s"got ${carried.size}")
    // reads are byte-identical and the plan returns to sidecar-free
    // shape (no anti-joins)
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == before)
    assert(!TableLog.read(spark, t).queryExecution.optimizedPlan
      .toString.contains("LeftAnti"))
    val d1 = TableLog.detail(spark, t).head
    assert(d1.getLong(4) == 0 && d1.getLong(8) == 0)
    // maintenance after maintenance: a clean table is always a no-op
    assert(TableLog.morMaintain(spark, t, maxSidecars = 0) == v)
    // time travel still reads the pre-maintenance version complete
    assert(TableLog.readVersion(spark, t, snapBefore.version)
      .count() == 7997)
  }

  test("morMaintain: string-keyed sidecars prune by string stats — only the hit file rewrites") {
    val t = tmp("graft_log_mormaint_str")
    TableLog.create(spark, t,
      spark.range(4000).select(
        concat(lit("k"), lpad($"id".cast("string"), 5, "0")).as("name"),
        ($"id" * 2).as("v"))
        .repartitionByRange(4, $"name").sortWithinPartitions("name"),
      strStatsCols = Seq("name"), rowLevelMode = TableLog.Mor)
    keyDelete(t, "name",
      Seq("k00010", "k00011").toDF("name"))
    val snapBefore = TableLog.snapshot(t).get
    // one commit, but the key frame's partitioning may split the
    // sidecar into several part files — each is its own entry
    assert(snapBefore.dels.nonEmpty)
    val before = TableLog.read(spark, t).orderBy("name").collect().toSeq
    assert(before.size == 3998)
    val v = TableLog.morMaintain(spark, t, maxSidecars = 0)
    val after = TableLog.snapshot(t).get
    assert(after.dels.isEmpty)
    // both deleted keys live in the first string-range file; the
    // other three carry by reference under the string-stat
    // disjointness proof
    val carried = snapBefore.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    assert(carried.size == 3,
      s"string-stat pruning must carry 3 of 4 files, got ${carried.size}")
    assert(TableLog.read(spark, t).orderBy("name").collect().toSeq ==
      before)
    assert(TableLog.morMaintain(spark, t, maxSidecars = 0) == v)
  }

  test("morMaintain after mixed MOR mutation stacks: reads identical before/after, history intact") {
    val t = tmp("graft_log_mormaint_mix")
    TableLog.create(spark, t,
      spark.range(6000).select($"id".as("k"), ($"id" % 13).as("v"))
        .repartitionByRange(6, $"k").sortWithinPartitions("k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    val rnd = new scala.util.Random(42)
    // three rounds of mixed merge-on-read mutations at scattered keys
    (1 to 3).foreach { i =>
      val delKeys = Seq.fill(4)(rnd.nextLong(6000).abs)
      keyDelete(t, "k", delKeys.toDF("k"))
      val lo = rnd.nextLong(5000).abs
      TableLog.update(spark, t, col("k").between(lo, lo + 50),
        Map("v" -> lit(100L + i)))
    }
    val snapBefore = TableLog.snapshot(t).get
    assert(snapBefore.dels.size >= 6,
      s"fixture: mutations must stack sidecars, got ${snapBefore.dels.size}")
    val before = TableLog.read(spark, t).orderBy("k").collect().toSeq
    val agg = TableLog.read(spark, t).agg(sum($"v"), count(lit(1))).head
    val v = TableLog.morMaintain(spark, t, maxSidecars = 2)
    val after = TableLog.snapshot(t).get
    assert(after.dels.isEmpty)
    assert(after.rows == snapBefore.rows)
    // byte-identical reads after retiring the whole stack
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == before)
    val agg2 = TableLog.read(spark, t).agg(sum($"v"), count(lit(1))).head
    assert(agg.getLong(0) == agg2.getLong(0) &&
      agg.getLong(1) == agg2.getLong(1))
    // every pre-maintenance version still time-travels complete
    (1L to snapBefore.version).foreach { ver =>
      assert(TableLog.readVersion(spark, t, ver).count() ==
        TableLog.snapshotAt(t, ver).get.rows)
    }
    assert(TableLog.latestVersion(t) == v)
  }

  test("maintain: one policy call runs the enabled ticks in dependency order") {
    val t = tmp("graft_log_maintain")
    TableLog.create(spark, t,
      spark.range(4000).toDF("k").repartitionByRange(4, $"k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    // accumulate all three kinds of debt: MOR sidecars, small files,
    // history
    keyDelete(t, "k", Seq(10L, 2010L).toDF("k"))
    (0 until 3).foreach(i => TableLog.append(spark, t,
      Seq(10000L + i).toDF("k"), statsCols = Seq("k")))
    val before = TableLog.read(spark, t).orderBy("k").collect().toSeq
    val pre = TableLog.snapshot(t).get
    assert(pre.dels.nonEmpty)
    val v = TableLog.maintain(spark, t, TableLog.MaintainPolicy(
      smallFileBytes = Some(64L << 10),
      maxSidecars = Some(0),
      vacuumKeepVersions = Some(1)))
    val after = TableLog.snapshot(t).get
    assert(after.dels.isEmpty, "sidecars materialized")
    assert(after.files.size < pre.files.size + 3,
      "small appends bin-packed")
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq ==
      before, "maintenance must be invisible to reads")
    assert(TableLog.latestVersion(t) == v)
    // history vacuumed to the floor checkpoint
    intercept[Exception](TableLog.readVersion(spark, t, 1).count())
  }

  test("publishBranch: write-audit-publish — branch commits fast-forward into src, zero-copy, ff-only") {
    import java.nio.file.{Files, Paths}
    val src = tmp("graft_log_wap_src")
    val br = tmp("graft_log_wap_br")
    TableLog.create(spark, src,
      spark.range(1000).toDF("k").repartitionByRange(2, $"k"),
      statsCols = Seq("k"))                                       // v1
    TableLog.append(spark, src, spark.range(1000, 1500).toDF("k"),
      statsCols = Seq("k"))                                       // v2
    val fork = TableLog.cloneTable(spark, src, br)
    assert(fork == 2)
    // WRITE on the branch: every face is available; src is untouched
    TableLog.append(spark, br, spark.range(2000, 2200).toDF("k"),
      statsCols = Seq("k"))                                       // v3
    TableLog.delete(spark, br, col("k").between(0, 99))                   // v4
    assert(TableLog.read(spark, src).count() == 1500)
    assert(TableLog.latestVersion(src) == fork)
    // AUDIT on the branch before anything is visible
    assert(TableLog.read(spark, br).count() == 1600)
    // PUBLISH: fast-forward src to the branch head
    val v = TableLog.publishBranch(spark, src, br)
    assert(v == 4 && TableLog.latestVersion(src) == 4)
    assert(TableLog.read(spark, src).count() == 1600)
    assert(TableLog.read(spark, src).where($"k" < 100).count() == 0)
    // zero-copy: a published data file shares its inode with the
    // branch's
    val newFile = TableLog.snapshot(src).get.files
      .filter(_.ver > fork).head
    assert(Files.getAttribute(Paths.get(src, newFile.path), "unix:ino")
      == Files.getAttribute(Paths.get(br, newFile.path), "unix:ino"))
    // the published history time-travels on src
    assert(TableLog.readVersion(spark, src, fork).count() == 1500)
    // a merged branch cannot re-publish (fast-forward only)
    intercept[IllegalArgumentException](
      TableLog.publishBranch(spark, src, br))
    // divergence: src advances while a branch holds work → refused,
    // with the re-clone instruction
    val br2 = tmp("graft_log_wap_br2")
    TableLog.cloneTable(spark, src, br2)
    TableLog.append(spark, br2, spark.range(3000, 3010).toDF("k"),
      statsCols = Seq("k"))
    TableLog.append(spark, src, spark.range(4000, 4010).toDF("k"),
      statsCols = Seq("k"))
    val e = intercept[IllegalArgumentException](
      TableLog.publishBranch(spark, src, br2))
    assert(e.getMessage.contains("fast-forward"))
    // a branch with no new commits publishes as a no-op
    val br3 = tmp("graft_log_wap_br3")
    val f3 = TableLog.cloneTable(spark, src, br3)
    assert(TableLog.publishBranch(spark, src, br3) == f3)
  }

  test("a clone carries its source's txn index: after publishBranch a " +
      "replayed pre-fork batch still skips") {
    val src = tmp("graft_log_wap_txn_src")
    val br = tmp("graft_log_wap_txn_br")
    TableLog.append(spark, src, spark.range(10).toDF("k"),
      txnId = Some("ingest#1"))                                   // v1
    TableLog.append(spark, src, spark.range(10, 20).toDF("k"),
      txnId = Some("ingest#2"))                                   // v2
    TableLog.cloneTable(spark, src, br)
    TableLog.append(spark, br, spark.range(20, 30).toDF("k"))     // v3
    assert(TableLog.publishBranch(spark, src, br) == 3)
    // the stream replays both pre-fork batches: each finds its commit
    assert(TableLog.append(spark, src, spark.range(10).toDF("k"),
      txnId = Some("ingest#1")) == 1)
    assert(TableLog.append(spark, src, spark.range(10, 20).toDF("k"),
      txnId = Some("ingest#2")) == 2)
    assert(TableLog.read(spark, src).count() == 30)
    // its next batch is new
    assert(TableLog.append(spark, src, spark.range(30, 40).toDF("k"),
      txnId = Some("ingest#3")) == 4)
    assert(TableLog.read(spark, src).count() == 40)
  }

  test("mergeBranch: three-way merge folds branch changes into an advanced src; conflicts refuse") {
    import java.nio.file.{Files, Paths}
    val src = tmp("graft_log_m3_src")
    val br = tmp("graft_log_m3_br")
    // 4 exact 250-key files so delete rewrites are file-predictable
    TableLog.create(spark, src,
      spark.range(0L, 1000L, 1L, 4).toDF("k"), statsCols = Seq("k"))
    val fork = TableLog.cloneTable(spark, src, br)
    // src ADVANCES (this is exactly what publishBranch refuses)…
    TableLog.append(spark, src, spark.range(10000, 10100).toDF("k"),
      statsCols = Seq("k"))
    // …while the branch deletes a range (rewrites file 0) and appends
    TableLog.delete(spark, br, col("k").between(0, 49))
    TableLog.append(spark, br, spark.range(20000, 20200).toDF("k"),
      statsCols = Seq("k"))
    intercept[IllegalArgumentException](
      TableLog.publishBranch(spark, src, br)) // ff-only refuses
    val v = TableLog.mergeBranch(spark, src, br)
    assert(v == TableLog.latestVersion(src))
    val snap = TableLog.snapshot(src).get
    assert(snap.action == "merge_branch")
    // contents: base − branch delete + src append + branch append
    assert(snap.rows == 1000 - 50 + 100 + 200)
    val ks = TableLog.read(spark, src).as[Long].collect().toSet
    assert(ks == ((50L until 1000L) ++ (10000L until 10100L) ++
      (20000L until 20200L)).toSet)
    // branch files restamped to the merge version and zero-copy linked
    val merged = snap.files.filter(_.ver == v)
    assert(merged.nonEmpty)
    merged.filter(f => Files.exists(Paths.get(br, f.path))).foreach { f =>
      assert(Files.getAttribute(Paths.get(src, f.path), "unix:ino") ==
        Files.getAttribute(Paths.get(br, f.path), "unix:ino"))
    }
    // pre-merge src history still time-travels
    assert(TableLog.readVersion(spark, src, fork).count() == 1000)

    // CONFLICT: both sides rewrite the SAME base file
    val src2 = tmp("graft_log_m3_src2")
    val br2 = tmp("graft_log_m3_br2")
    TableLog.create(spark, src2,
      spark.range(0L, 1000L, 1L, 4).toDF("k"), statsCols = Seq("k"))
    TableLog.cloneTable(spark, src2, br2)
    TableLog.delete(spark, src2, col("k").between(0, 9))
    TableLog.delete(spark, br2, col("k").between(40, 49))
    val c = intercept[Exception](TableLog.mergeBranch(spark, src2, br2))
    assert(c.getMessage.contains("CONFLICT"))

    // keyCol: overlapping added key ranges refuse; disjoint merge fine
    val src3 = tmp("graft_log_m3_src3")
    val br3 = tmp("graft_log_m3_br3")
    TableLog.create(spark, src3, spark.range(100).toDF("k"),
      statsCols = Seq("k"))
    TableLog.cloneTable(spark, src3, br3)
    TableLog.append(spark, src3, spark.range(500, 600).toDF("k"),
      statsCols = Seq("k"))
    TableLog.append(spark, br3, spark.range(550, 650).toDF("k"),
      statsCols = Seq("k"))
    val k = intercept[Exception](
      TableLog.mergeBranch(spark, src3, br3, keyCol = Some("k")))
    assert(k.getMessage.contains("overlap"))
    // without the key contract the same merge is a legal union
    assert(TableLog.mergeBranch(spark, src3, br3) > 0)
    assert(TableLog.read(spark, src3).count() == 300)
  }

  test("mergeBranch on a table with PRE-FORK schema ops: history carries once, renamed reads stay correct") {
    val src = tmp("graft_log_m3ops_src")
    val br = tmp("graft_log_m3ops_br")
    TableLog.create(spark, src,
      spark.range(100).select($"id".as("k"), $"id".as("old")),
      statsCols = Seq("k"))
    // pre-fork rename: physical files carry 'old', reads resolve 'w'
    TableLog.renameColumn(spark, src, "old", "w")
    val opsBefore = TableLog.snapshot(src).get.schemaOps
    assert(opsBefore.size == 1)
    TableLog.cloneTable(spark, src, br)
    TableLog.append(spark, src,
      spark.range(200, 210).select($"id".as("k"), $"id".as("w")),
      statsCols = Seq("k"))
    TableLog.append(spark, br,
      spark.range(300, 310).select($"id".as("k"), $"id".as("w")),
      statsCols = Seq("k"))
    TableLog.mergeBranch(spark, src, br)
    val merged = TableLog.snapshot(src).get
    // the gate carries the COMPLETE op list forward; the merge commit
    // must contribute NO duplicate (a doubled rename op would
    // double-inverse-apply and break physical resolution)
    assert(merged.schemaOps == opsBefore,
      s"schema ops must carry exactly once, got ${merged.schemaOps}")
    // pre-fork files still resolve 'w' from physical 'old'; both
    // sides' post-fork appends read natively
    assert(TableLog.read(spark, src).where($"k" < 100)
      .select(sum($"w")).as[Long].head() == (0L until 100).sum)
    assert(TableLog.read(spark, src).count() == 120)
  }

  test("mergeBranch: sidecar and schema guards refuse; morMaintain unblocks; counters merge additively") {
    val src = tmp("graft_log_m3g_src")
    val br = tmp("graft_log_m3g_br")
    TableLog.create(spark, src,
      spark.range(0L, 400L, 1L, 2).select($"id".as("k"), $"id".as("v")),
      statsCols = Seq("k"), counterDelta = Map("ing" -> 400L),
      rowLevelMode = TableLog.Mor)
    TableLog.cloneTable(spark, src, br)
    TableLog.append(spark, src,
      spark.range(1000, 1100).select($"id".as("k"), $"id".as("v")),
      statsCols = Seq("k"), counterDelta = Map("ing" -> 100L))
    // a pending MOR sidecar on the branch refuses with the maintain hint
    TableLog.update(spark, br, col("k").between(10, 19),
      Map("v" -> org.apache.spark.sql.functions.lit(-1L)))
    val e = intercept[IllegalArgumentException](
      TableLog.mergeBranch(spark, src, br))
    assert(e.getMessage.contains("morMaintain"))
    // materializing converts it into file rewrites the merge audits
    TableLog.morMaintain(spark, br, maxSidecars = 0)
    TableLog.append(spark, br,
      spark.range(2000, 2050).select($"id".as("k"), $"id".as("v")),
      statsCols = Seq("k"), counterDelta = Map("ing" -> 50L))
    val v = TableLog.mergeBranch(spark, src, br)
    val snap = TableLog.snapshot(src).get
    assert(snap.rows == 400 + 100 + 50)
    // the branch's MOR update rode in via its materialized rewrite
    assert(TableLog.read(spark, src).where($"v" === -1L).count() == 10)
    // counters: src delta and branch delta both land
    assert(snap.counters("ing") == 400L + 100L + 50L)
    // schema guard: a src RENAME since the fork refuses a later merge
    val br4 = tmp("graft_log_m3g_br4")
    TableLog.cloneTable(spark, src, br4)
    TableLog.append(spark, br4,
      spark.range(3000, 3010).select($"id".as("k"), $"id".as("v")),
      statsCols = Seq("k"))
    TableLog.renameColumn(spark, src, "v", "w")
    val s = intercept[IllegalArgumentException](
      TableLog.mergeBranch(spark, src, br4))
    assert(s.getMessage.contains("schema"))
  }

  test("publishBranch racing a writer: stops at a consistent prefix, never a torn table") {
    import java.nio.file.Path
    val src = tmp("graft_log_wap_race_src")
    val br = tmp("graft_log_wap_race_br")
    TableLog.create(spark, src, spark.range(100).toDF("k"),
      statsCols = Seq("k"))                                       // v1
    val fork = TableLog.cloneTable(spark, src, br)
    TableLog.append(spark, br, spark.range(100, 200).toDF("k"),
      statsCols = Seq("k"))                                       // v2
    TableLog.append(spark, br, spark.range(200, 300).toDF("k"),
      statsCols = Seq("k"))                                       // v3
    // a primitive that lets the branch's v2 land, then injects a
    // RACING src commit at v3 before the publish reaches it —
    // simulating a writer sneaking in mid-publish
    var injected = false
    TableLog.setCommitPrimitive(src, new graft.sinks.CommitPrimitive {
      override def putIfAbsent(p: Path, content: Array[Byte]): Boolean = {
        if (!injected && p.getFileName.toString == "v00000003.manifest") {
          injected = true
          TableLog.clearCommitPrimitive(src)
          // the racer wins v3 through the normal path
          TableLog.append(spark, src, spark.range(9000, 9010).toDF("k"),
            statsCols = Seq("k"))
          graft.sinks.CommitPrimitive.HardLink.putIfAbsent(p, content)
        } else
          graft.sinks.CommitPrimitive.HardLink.putIfAbsent(p, content)
      }
    })
    val e =
      try intercept[RuntimeException](
        TableLog.publishBranch(spark, src, br))
      finally TableLog.clearCommitPrimitive(src)
    assert(e.getMessage.contains("v2"),
      s"must report the consistent prefix: ${e.getMessage}")
    // the table is never torn: v2 is the branch's publish (100 rows
    // added), v3 is the racer's append — everything reads
    assert(TableLog.latestVersion(src) == 3)
    assert(TableLog.read(spark, src).count() == 210)
    assert(TableLog.readVersion(spark, src, 2).count() == 200)
    assert(TableLog.readVersion(spark, src, fork).count() == 100)
  }

  test("version tags: named refs, SQL AS OF '<tag>', and vacuum protection of the tagged chain") {
    val t = tmp("graft_log_tags")
    TableLog.create(spark, t, spark.range(100).toDF("k"),
      statsCols = Seq("k"))                                        // v1
    TableLog.append(spark, t, spark.range(100, 200).toDF("k"),
      statsCols = Seq("k"))                                        // v2
    TableLog.tagVersion(t, "baseline", 2)
    TableLog.append(spark, t, spark.range(200, 300).toDF("k"),
      statsCols = Seq("k"))                                        // v3
    // a full rewrite: the latest window no longer references v1-v3's
    // data files — only the tag keeps them alive below the floor
    TableLog.compact(spark, t, targetBytes = 1L << 30)            // v4
    TableLog.append(spark, t, spark.range(300, 400).toDF("k"),
      statsCols = Seq("k"))                                        // v5
    // reads at the tag
    assert(TableLog.readTag(spark, t, "baseline").count() == 200)
    assert(TableLog.scanTag(spark, t, "baseline")
      .where($"k" < 50).count() == 50)
    // name hygiene and duplicate refusal; replace re-points
    intercept[IllegalArgumentException](
      TableLog.tagVersion(t, "../evil", 2))
    intercept[RuntimeException](TableLog.tagVersion(t, "baseline", 3))
    TableLog.tagVersion(t, "rc", 3)
    assert(TableLog.tags(t) == Map("baseline" -> 2L, "rc" -> 3L))
    TableLog.tagVersion(t, "rc", 2, replace = true)
    assert(TableLog.resolveTag(t, "rc") == 2)
    TableLog.deleteTag(t, "rc")
    // SQL face: VERSION AS OF '<tag>' on a registered view
    TableLog.registerSqlTable(spark, "tagged_t", t)
    assert(TableLog.sql(spark,
      "SELECT count(*) AS n FROM tagged_t VERSION AS OF 'baseline'")
      .head.getLong(0) == 200)
    intercept[RuntimeException](TableLog.sql(spark,
      "SELECT * FROM tagged_t VERSION AS OF 'nope'"))
    // aggressive vacuum: the tag protects v2 AND its chain + files
    val (pv, _) = TableLog.vacuumPreview(t, keepVersions = 1)
    assert(!pv.contains(2L), "preview must not drop a tagged version")
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0)
    assert(TableLog.readTag(spark, t, "baseline").count() == 200,
      "a tagged version must survive vacuum, files included")
    assert(TableLog.read(spark, t).count() == 400)
    // releasing the tag releases the history: the next vacuum
    // reclaims it and the tagged read is gone
    TableLog.deleteTag(t, "baseline")
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0)
    intercept[Exception](TableLog.readVersion(spark, t, 2).count())
    assert(TableLog.read(spark, t).count() == 400)
    assert(TableLog.tags(t).isEmpty)
  }

  test("mergeCow: rewrites only key-overlapping files, carries the rest by reference") {
    val t = tmp("graft_log_mcow")
    // 8 range-clustered files over [0, 8000)
    TableLog.create(spark, t,
      spark.range(8000).select($"id".as("k"), ($"id" * 10).as("v"))
        .repartitionByRange(8, $"k"),
      statsCols = Seq("k"), counterDelta = Map("docs" -> 8000L))
    val before = TableLog.snapshot(t).get
    // update a narrow key band + insert keys past the old max (which
    // overlap NO file — the pure-insert half must not force a rewrite)
    val src = spark.range(2000, 2100).select($"id".as("k"), lit(-1L).as("v"))
      .unionByName(spark.range(9000, 9010)
        .select($"id".as("k"), lit(-2L).as("v")))
    val hot = (2000L to 2099L) ++ (9000L to 9009L)
    val untouchedBefore = before.files.filterNot(f =>
      f.stats.exists(s => s.col == "k" &&
        hot.exists(k => s.min <= k && k <= s.max)))
    assert(untouchedBefore.size >= 6, "fixture: most files must not overlap")
    val v = TableLog.mergeUpsert(spark, t, src, Seq("k"))
    val after = TableLog.snapshot(t).get
    // semantics: latest-wins upsert
    assert(after.rows == 8010)
    val back = TableLog.read(spark, t)
    assert(back.count() == 8010)
    assert(back.where($"k".between(2000, 2099)).agg(sum($"v"))
      .head.getLong(0) == -100L)
    assert(back.where($"k" >= 9000).count() == 10)
    assert(back.where($"k" === 1999).head.getLong(1) == 19990L)
    // mechanics: non-overlapping files carry over with IDENTICAL paths
    // (never read, never copied) in a delta commit; counters verbatim
    val afterPaths = after.files.map(_.path).toSet
    untouchedBefore.foreach(f => assert(afterPaths.contains(f.path),
      s"untouched file ${f.path} must survive by reference"))
    assert(before.files.map(_.path).toSet.intersect(afterPaths) ==
      untouchedBefore.map(_.path).toSet)
    assert(after.counters("docs") == 8000L)
    // time travel: the pre-merge version still reads complete
    assert(TableLog.readVersion(spark, t, v - 1).count() == 8000)
    // a WIDE source (> 1024 distinct keys) degrades to the [min,max]
    // span prune and still merges correctly
    TableLog.mergeUpsert(spark, t,
      spark.range(0, 1500).select($"id".as("k"), lit(7L).as("v")),
      Seq("k"))
    assert(TableLog.read(spark, t).where($"v" === 7L).count() == 1500)
    assert(TableLog.read(spark, t).count() == 8010)
    // contract guards: duplicate / NULL source keys, empty source no-op
    intercept[IllegalArgumentException](TableLog.mergeUpsert(spark, t,
      Seq((1L, 0L), (1L, 1L)).toDF("k", "v"), Seq("k")))
    intercept[IllegalArgumentException](TableLog.mergeUpsert(spark, t,
      Seq[(java.lang.Long, java.lang.Long)]((null, 0L)).toDF("k", "v"),
      Seq("k")))
    val vNow = TableLog.latestVersion(t)
    assert(TableLog.mergeUpsert(spark, t,
      Seq.empty[(Long, Long)].toDF("k", "v"), Seq("k")) == vNow)
    // PLAIN feed tables refuse (an upsert is a delete+insert an
    // add-only feed cannot represent); CDC feeds capture it — pinned
    // in the "CDC update capture" test
    val f = tmp("graft_log_mcow_feed")
    TableLog.enableFeed(f)
    TableLog.create(spark, f, Seq((1L, 0L)).toDF("k", "v"))
    intercept[IllegalArgumentException](TableLog.mergeUpsert(spark, f,
      Seq((1L, 9L)).toDF("k", "v"), Seq("k")))
  }

  test("mergeUpsert reads and rewrites only the key-overlapping files, on one key column or two") {
    val t = tmp("graft_log_mup_prune")
    // 8 range-clustered files over [0, 8000); stats on k only
    TableLog.create(spark, t,
      spark.range(8000).select($"id".as("k"), ($"id" % 3).as("j"),
        ($"id" * 10).as("v")).repartitionByRange(8, $"k"),
      statsCols = Seq("k"))
    // the merge must plan reads of exactly the files whose k range
    // meets a source key, and every other file must keep its path
    def mergeOpensOnly(src: org.apache.spark.sql.DataFrame,
        keys: Seq[String], lo: Long, hi: Long): Unit = {
      val before = TableLog.snapshot(t).get
      val hot = before.files.filter(f => f.stats.exists(st =>
        st.col == "k" && st.min <= hi && lo <= st.max)).map(_.path).toSet
      assert(hot.nonEmpty && hot.size <= 2, s"fixture: $hot")
      val planned0 = TableLog.morFilesPlanned.get()
      TableLog.mergeUpsert(spark, t, src, keys)
      assert(TableLog.morFilesPlanned.get() - planned0 == hot.size,
        s"the merge on $keys must open only the ${hot.size} " +
          "key-overlapping file(s)")
      val after = TableLog.snapshot(t).get.files.map(_.path).toSet
      assert(before.files.map(_.path).toSet -- after == hot,
        "only the key-overlapping files may be rewritten")
    }
    mergeOpensOnly(spark.range(2000, 2100).select($"id".as("k"),
      ($"id" % 3).as("j"), lit(-1L).as("v")), Seq("k"), 2000, 2099)
    // a two-column key prunes on its measured column; j carries no
    // stats, prunes nothing and collects nothing
    mergeOpensOnly(spark.range(5000, 5050).select($"id".as("k"),
      ($"id" % 3).as("j"), lit(-2L).as("v")), Seq("k", "j"), 5000, 5049)
    val back = TableLog.read(spark, t)
    assert(back.count() == 8000 && TableLog.snapshot(t).get.rows == 8000)
    assert(back.where($"v" === -1L).count() == 100)
    assert(back.where($"v" === -2L).count() == 50)
  }

  test("mergeUpsert refuses a NULL in any key column; nothing commits") {
    val t = tmp("graft_log_mup_null")
    TableLog.create(spark, t, Seq((1L, "a", 1L), (2L, "b", 2L))
      .toDF("k", "j", "v"))
    val e = intercept[IllegalArgumentException](TableLog.mergeUpsert(spark,
      t, Seq[(java.lang.Long, String, Long)]((3L, null, 3L))
        .toDF("k", "j", "v"), Seq("k", "j")))
    assert(e.getMessage.contains("NULL keys"))
    assert(TableLog.latestVersion(t) == 1)
    assert(TableLog.read(spark, t).count() == 2)
  }

  test("applyCdc bootstrap declares the key's stats: later batches open only key-overlapping files") {
    val sv = tmp("graft_cdc_boot_sv")
    def batch(lo: Long, hi: Long, v: Long) = spark.range(lo, hi)
      .select($"id".as("k"), lit(v).as("v"), lit("insert").as("_change_type"),
        lit(1L).as("_change_version"))
    TableLog.applyCdc(spark, sv, batch(0, 1000, 0L), "k")          // v1
    assert(TableLog.writeSpec(sv).longCols == Seq("k"))
    // keys past the silver domain: no file can hold one, none is opened
    val planned0 = TableLog.morFilesPlanned.get()
    TableLog.applyCdc(spark, sv, batch(5000, 5100, 1L), "k")       // v2
    assert(TableLog.morFilesPlanned.get() - planned0 == 0,
      "a batch of new keys must open no silver file")
    // an update of v2's keys opens only files whose k range meets them
    val before = TableLog.snapshot(sv).get
    val hot = before.files.filter(f => f.stats.exists(st =>
      st.col == "k" && st.min <= 5009 && 5000 <= st.max))
    assert(hot.nonEmpty && hot.size < before.files.size)
    val planned1 = TableLog.morFilesPlanned.get()
    TableLog.applyCdc(spark, sv, batch(5000, 5010, 2L), "k")       // v3
    assert(TableLog.morFilesPlanned.get() - planned1 == hot.size)
    val back = TableLog.read(spark, sv)
    assert(back.count() == 1100 && back.where($"v" === 2L).count() == 10)
  }

  test("mergeBranch refuses a branch that changed its write spec; src stays byte-identical") {
    val src = tmp("graft_log_mbspec_src")
    val br = tmp("graft_log_mbspec_br")
    TableLog.create(spark, src,
      spark.range(0L, 400L, 1L, 2).select($"id".as("k"), $"id".as("v")),
      statsCols = Seq("k"))
    TableLog.cloneTable(spark, src, br)
    TableLog.append(spark, src,
      spark.range(1000, 1100).select($"id".as("k"), $"id".as("v")))
    TableLog.setWriteSpec(br,
      TableLog.writeSpec(br).copy(longCols = Seq("k", "v")))
    TableLog.append(spark, br,
      spark.range(2000, 2050).select($"id".as("k"), $"id".as("v")))
    def tree(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
    }
    val before = tree()
    val e = intercept[IllegalArgumentException](
      TableLog.mergeBranch(spark, src, br))
    assert(e.getMessage.contains("write spec") &&
      e.getMessage.contains("publishBranch"))
    assert(tree() == before, "a refused merge must leave src untouched")
  }

  test("CDC capture: racing publishers never double-deliver; vacuumFeed sweeps stages") {
    val t = tmp("graft_cdc_race")
    TableLog.enableCdcFeed(t)
    TableLog.create(spark, t,
      spark.range(2000).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(4, $"k"), statsCols = Seq("k"))
    TableLog.delete(spark, t, col("k").between(100, 399))
    // simulate a crash after the delete's commit but before publication:
    // drop the marker, the capture links, and the (already cleaned)
    // stage, then HEAL from several publishers at once — stage creation
    // is exclusive (temp + atomic rename), so exactly one capture set is
    // linked no matter the interleaving
    val fd = java.nio.file.Paths.get(t, "_feed")
    java.nio.file.Files.deleteIfExists(fd.resolve("_done_v000000002"))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(fd).iterator().asScala
      .filter(_.getFileName.toString.startsWith("v000000002_cdc_"))
      .toSeq.foreach(java.nio.file.Files.delete)
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { _ =>
      new Thread(() => {
        start.await()
        try { TableLog.publishFeed(spark, t); () }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing publishers must all succeed: $errs")
    val feed = TableLog.readFeed(spark, t)
    assert(feed.where($"_change_type" === "delete").count() == 300,
      "captured delete rows must deliver exactly once")
    assert(feed.where($"_change_type" === "insert").count() == 2000)
    // stage hygiene: plant a published-version orphan stage, a stale
    // rename temp, and a FRESH temp — vacuumFeed sweeps the first two,
    // keeps the live one
    val stageRoot = java.nio.file.Paths.get(t, "_feed_stage")
    // the REAL v2 stage still exists (publishers keep it as the
    // idempotence anchor); age it past the lease so the sweep takes it
    val v2stage = stageRoot.resolve("v000000002")
    assert(java.nio.file.Files.isDirectory(v2stage),
      "the capture stage must survive publication")
    java.nio.file.Files.setLastModifiedTime(v2stage,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    val staleTmp = stageRoot.resolve(".tmp-v000000009-dead")
    java.nio.file.Files.createDirectories(staleTmp)
    java.nio.file.Files.setLastModifiedTime(staleTmp,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    val liveTmp = stageRoot.resolve(".tmp-v000000009-live")
    java.nio.file.Files.createDirectories(liveTmp)
    val swept = TableLog.vacuumFeed(t, keepVersions = Int.MaxValue)
    assert(swept.contains("_feed_stage/v000000002"))
    assert(swept.contains("_feed_stage/.tmp-v000000009-dead"))
    assert(java.nio.file.Files.exists(liveTmp),
      "a young temp may belong to a live publisher — keep it")
    assert(TableLog.readFeed(spark, t)
      .where($"_change_type" === "delete").count() == 300)
  }

  test("applyCdc: latest-version-wins typed changes onto a keyed table, COW-pruned") {
    val bronze = tmp("graft_cdc_apply_bronze")
    val silver = tmp("graft_cdc_apply_silver")
    TableLog.enableCdcFeed(bronze)
    def rows(ks: Range, f: Long => Long) =
      ks.map(k => (k.toLong, f(k.toLong))).toDF("k", "v")
    TableLog.create(spark, bronze,
      rows(0 until 10, identity).repartitionByRange(2, $"k"),
      statsCols = Seq("k"))                                   // v1: k=0..9, v=k
    TableLog.append(spark, bronze,
      rows(5 until 15, _ * 100).repartitionByRange(2, $"k"),
      statsCols = Seq("k"))                                   // v2: upd 5-9, ins 10-14
    TableLog.delete(spark, bronze, col("k").between(8, 12))               // v3
    // one typed batch = the whole feed; silver bootstraps from it
    TableLog.applyCdc(spark, silver,
      TableLog.readFeed(spark, bronze, withVersion = true), "k",
      txnId = Some("b0"))
    def silverMap() = TableLog.read(spark, silver).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0L to 4L).map(k => k -> k).toMap ++
      (5L to 7L).map(k => k -> k * 100) ++
      (13L to 14L).map(k => k -> k * 100)
    assert(silverMap() == expect)
    // txn replay: the same batch re-applies as a no-op
    val vNow = TableLog.latestVersion(silver)
    TableLog.applyCdc(spark, silver,
      TableLog.readFeed(spark, bronze, withVersion = true), "k",
      txnId = Some("b0"))
    assert(TableLog.latestVersion(silver) == vNow)
    assert(silverMap() == expect)
    // in-batch ordering resolves by VERSION, not row order: delete@5
    // then re-insert@6 revives; insert@5 then delete@6 erases; and the
    // COW commit only rewrites silver files whose stats hold a touched key
    // (the bootstrap declared k's stats)
    assert(TableLog.writeSpec(silver).longCols == Seq("k"))
    TableLog.rewrite(spark, silver, "compact") { df =>
      df.repartitionByRange(4, $"k").sortWithinPartitions("k") }
    val before = TableLog.snapshot(silver).get
    val batch2 = Seq(
      (0L, 0L, "delete", 5L), (0L, -7L, "insert", 6L),   // revive k=0
      (1L, -9L, "insert", 5L), (1L, 0L, "delete", 6L)    // erase k=1
    ).toDF("k", "v", "_change_type", "_change_version")
    TableLog.applyCdc(spark, silver, batch2, "k")
    assert(silverMap() == (expect - 1L) + (0L -> -7L))
    val untouched = before.files.filterNot(f =>
      f.stats.exists(s => s.col == "k" && s.min <= 1 && s.max >= 0))
    val afterPaths = TableLog.snapshot(silver).get.files.map(_.path).toSet
    assert(untouched.nonEmpty)
    untouched.foreach(f => assert(afterPaths.contains(f.path),
      s"untouched silver file ${f.path} must carry by reference"))
    // ambiguous upsert (two insert rows tied at a key's winning version)
    // is refused; tied DELETES are fine (every captured copy)
    intercept[IllegalArgumentException](TableLog.applyCdc(spark, silver,
      Seq((2L, 1L, "insert", 9L), (2L, 2L, "insert", 9L))
        .toDF("k", "v", "_change_type", "_change_version"), "k"))
    TableLog.applyCdc(spark, silver,
      Seq((2L, 200L, "delete", 9L), (2L, 2L, "delete", 9L))
        .toDF("k", "v", "_change_type", "_change_version"), "k")
    assert(!silverMap().contains(2L))
    // changes without the version column are refused loudly
    val e = intercept[IllegalArgumentException](TableLog.applyCdc(spark,
      silver, Seq((3L, 0L, "insert")).toDF("k", "v", "_change_type"), "k"))
    assert(e.getMessage.contains("withVersion"))
  }

  test("CDC update capture: mergeCow/updateWhere publish typed images; feed tracks the table; silver→gold chains") {
    val t = tmp("graft_cdc_upd_bronze")
    val silver = tmp("graft_cdc_upd_silver")
    val gold = tmp("graft_cdc_upd_gold")
    TableLog.enableCdcFeed(t)
    TableLog.create(spark, t,
      spark.range(1000).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(4, $"k"), statsCols = Seq("k"))        // v1
    def state() = {
      val f = TableLog.readFeed(spark, t)
      f.where($"_change_type" === "insert").drop("_change_type")
        .exceptAll(f.where($"_change_type" === "delete")
          .drop("_change_type"))
    }
    def tracks() = {
      val live = TableLog.read(spark, t)
      assert(state().exceptAll(live).isEmpty && live.exceptAll(state()).isEmpty,
        "feed multiset state must equal the live table")
    }
    def typedAt(v: Long, kind: String) =
      TableLog.readFeed(spark, t, withVersion = true)
        .where($"_change_version" === v && $"_change_type" === kind).count()
    // merge on the CDC feed: a 50-key update band, one NO-OP row
    // (byte-identical to the stored row — must publish NOTHING), and
    // 10 inserts past the key domain, all in one commit
    val src = spark.range(100, 150).select($"id".as("k"), lit(-1L).as("v"))
      .unionByName(Seq((500L, 1000L)).toDF("k", "v")) // no-op: v == k*2
      .unionByName(spark.range(2000, 2010)
        .select($"id".as("k"), lit(-2L).as("v")))
    val vMerge = TableLog.mergeUpsert(spark, t, src, Seq("k"))
    tracks()
    assert(typedAt(vMerge, "delete") == 50,
      "pre-images of the updated band only — the no-op row cancels")
    assert(typedAt(vMerge, "insert") == 60,
      "post-images of the band + the 10 new keys")
    // healing: crash between the merge's capture links and its marker
    // (the crash leaves every LATER version unmarked too — markers are
    // written in version order, so the frontier is prefix-closed) —
    // publishFeed re-creates the SAME names, nothing double-delivers
    val fd = java.nio.file.Paths.get(t, "_feed")
    assert(java.nio.file.Files.deleteIfExists(
      fd.resolve(f"_done_v$vMerge%09d")))
    import scala.jdk.CollectionConverters._
    val mergeLinks = java.nio.file.Files.list(fd).iterator().asScala
      .filter(_.getFileName.toString.startsWith(f"v$vMerge%09d_cdc_")).toSeq
    assert(mergeLinks.nonEmpty)
    java.nio.file.Files.delete(mergeLinks.head)
    TableLog.publishFeed(spark, t)
    assert(typedAt(vMerge, "delete") == 50 && typedAt(vMerge, "insert") == 60)
    tracks()
    // in-place update: old/new images both captured
    val vUpd = TableLog.update(spark, t, col("k").between(200, 249),
      Map("v" -> ($"v" + 1000000L)))
    tracks()
    assert(typedAt(vUpd, "delete") == 50 && typedAt(vUpd, "insert") == 50)
    // an update whose expressions change nothing publishes nothing
    val vNoop = TableLog.update(spark, t, col("k").between(300, 349),
      Map("v" -> $"v"))
    assert(typedAt(vNoop, "delete") == 0 && typedAt(vNoop, "insert") == 0)
    tracks()
    // a PURE-INSERT merge (no file overlaps any key) takes the cheap
    // path: raw data-file links, no staged capture
    val vIns = TableLog.mergeUpsert(spark, t,
      spark.range(3000, 3020).select($"id".as("k"), lit(-3L).as("v")),
      Seq("k"))
    tracks()
    val insLinks = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_feed"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(f"v$vIns%09d_")).toSeq
    assert(insLinks.nonEmpty && insLinks.forall(!_.contains("_cdc_")),
      s"pure-insert merge must link raw files, got $insLinks")
    // the typed feed applies onto a KEYED silver — updates land as
    // upserts (delete+insert pair at one version, insert wins) — and
    // silver, itself CDC-enabled, chains onward to gold
    TableLog.enableCdcFeed(silver)
    TableLog.applyCdc(spark, silver,
      TableLog.readFeed(spark, t, withVersion = true), "k")
    val live = TableLog.read(spark, t)
    val sLive = TableLog.read(spark, silver)
    assert(sLive.exceptAll(live).isEmpty && live.exceptAll(sLive).isEmpty)
    TableLog.applyCdc(spark, gold,
      TableLog.readFeed(spark, silver, withVersion = true), "k")
    val gLive = TableLog.read(spark, gold)
    assert(gLive.exceptAll(live).isEmpty && live.exceptAll(gLive).isEmpty)
    // a one-row upsert captures its one old and one new image
    val vOne = TableLog.mergeUpsert(spark, t,
      Seq((1L, 9L)).toDF("k", "v"), Seq("k"))
    tracks()
    assert(typedAt(vOne, "delete") == 1 && typedAt(vOne, "insert") == 1)
  }

  test("updateWhere: rewrites only overlapping files; set-exprs hit only matched rows; NULLs pass") {
    val t = tmp("graft_log_updw")
    TableLog.create(spark, t,
      spark.range(8000).select($"id".as("k"), ($"id" * 10).as("v"),
        lit("keep").as("tag")).repartitionByRange(8, $"k"),
      statsCols = Seq("k"))
    val before = TableLog.snapshot(t).get
    val untouchedBefore = before.files.filterNot(f =>
      f.stats.exists(s => s.col == "k" && s.max >= 2000 && s.min <= 2999))
    assert(untouchedBefore.size >= 5, "fixture: most files must not overlap")
    val v = TableLog.update(spark, t, col("k").between(2000, 2999),
      Map("v" -> ($"v" * -1), "tag" -> lit("upd")))
    val back = TableLog.read(spark, t)
    assert(back.count() == 8000, "update never changes the row count")
    assert(TableLog.snapshot(t).get.rows == 8000)
    assert(back.where($"tag" === "upd").count() == 1000)
    assert(back.where($"k".between(2000, 2999)).agg(sum($"v"))
      .head.getLong(0) == -(2000L to 2999L).map(_ * 10).sum)
    assert(back.where(!$"k".between(2000, 2999))
      .where($"tag" =!= "keep").count() == 0,
      "rows outside the range must pass through unchanged")
    // mechanics: non-overlapping files carry by reference
    val afterPaths = TableLog.snapshot(t).get.files.map(_.path).toSet
    untouchedBefore.foreach(f => assert(afterPaths.contains(f.path),
      s"untouched file ${f.path} must survive by reference"))
    // time travel: the pre-update version is intact
    assert(TableLog.readVersion(spark, t, v - 1)
      .where($"tag" === "upd").count() == 0)
    // no-op (no file can contain a match): no commit
    assert(TableLog.update(spark, t, col("k").between(90000, 91000),
      Map("v" -> lit(0L))) == v)
    assert(TableLog.latestVersion(t) == v)
    // unknown set column / empty set refused
    intercept[IllegalArgumentException](TableLog.update(spark, t, col("k").between(0, 1), Map("nope" -> lit(1L))))
    intercept[IllegalArgumentException](TableLog.update(spark, t, col("k").between(0, 1), Map.empty[String, org.apache.spark.sql.Column]))
    // txn idempotence: a replayed update is a no-op
    val v2 = TableLog.update(spark, t, col("k").between(0, 10),
      Map("v" -> lit(5L)), txnId = Some("u1"))
    assert(TableLog.update(spark, t, col("k").between(0, 10),
      Map("v" -> lit(5L)), txnId = Some("u1")) == v2)
    assert(TableLog.latestVersion(t) == v2)
    // NULL keys never match a range update
    val tn = tmp("graft_log_updw_null")
    TableLog.create(spark, tn,
      Seq[(java.lang.Long, String)]((1L, "a"), (2500L, "b"), (null, "c"))
        .toDF("k", "v"), statsCols = Seq("k"))
    TableLog.update(spark, tn, col("k").between(0, 9000), Map("v" -> lit("X")))
    assert(TableLog.read(spark, tn)
      .where($"k".isNull).head.getString(1) == "c")
    // plain feed refuses; the CDC capture path is pinned above
    val f = tmp("graft_log_updw_feed")
    TableLog.enableFeed(f)
    TableLog.create(spark, f, Seq((1L, 2L)).toDF("k", "v"))
    intercept[IllegalArgumentException](TableLog.update(spark, f, col("k").between(0, 10), Map("v" -> lit(0L))))
  }

  test("updateWhere: every set RHS sees the OLD row (swap works, >4 interdependent columns deterministic); type drift refused") {
    val t = tmp("graft_log_updw_swap")
    TableLog.create(spark, t,
      spark.range(100).select($"id".as("k"), ($"id" + 1000).as("a"),
        ($"id" + 2000).as("b"), ($"id" + 3000).as("c2"),
        ($"id" + 4000).as("d"), ($"id" + 5000).as("e")),
      statsCols = Seq("k"))
    // the classic swap: both RHS must read the pre-update image
    TableLog.update(spark, t, col("k").between(0, 49),
      Map("a" -> $"b", "b" -> $"a"))
    val r = TableLog.read(spark, t).where($"k" === 7L).head()
    assert(r.getLong(1) == 2007L && r.getLong(2) == 1007L,
      "a/b swap must exchange, not duplicate")
    val un = TableLog.read(spark, t).where($"k" === 70L).head()
    assert(un.getLong(1) == 1070L && un.getLong(2) == 2070L)
    // 5 interdependent columns: a Map past 4 entries iterates in hash
    // order, so the old foldLeft chain was NONDETERMINISTIC here; the
    // single projection makes each column read its left neighbor's OLD
    // value regardless of Map order
    TableLog.update(spark, t, col("k").between(10, 19),
      Map("a" -> $"e", "b" -> $"a", "c2" -> $"b", "d" -> $"c2",
        "e" -> $"d"))
    val r2 = TableLog.read(spark, t).where($"k" === 13L).head()
    // pre-image at k=13 (post-swap): a=2013 b=1013 c2=3013 d=4013 e=5013
    assert(r2.getLong(1) == 5013L, "a <- old e")
    assert(r2.getLong(2) == 2013L, "b <- old a")
    assert(r2.getLong(3) == 1013L, "c2 <- old b")
    assert(r2.getLong(4) == 3013L, "d <- old c2")
    assert(r2.getLong(5) == 4013L, "e <- old d")
    // schema audit: a set expression that widens the column type is
    // refused BEFORE any write (the manifest schema never changes)
    val e1 = intercept[IllegalArgumentException](TableLog.update(
      spark, t, col("k").between(0, 5), Map("a" -> lit(0.5))))
    assert(e1.getMessage.contains("cast the expression"))
    // predicate column in the set: cond is evaluated against the OLD
    // key, so moving the key out of the range still updates the row
    TableLog.update(spark, t, col("k").between(90, 94),
      Map("k" -> ($"k" + 1000L), "a" -> lit(-1L)))
    assert(TableLog.read(spark, t).where($"k" >= 1090L && $"a" === -1L)
      .count() == 5)
  }

  test("morScan tier-1: files stat-disjoint from every sidecar take the raw path, fenced files alone pay the anti-join") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val t = tmp("graft_log_mortier")
    // 8 exact 1000-key files; both deleted keys live in file 0
    TableLog.create(spark, t,
      spark.range(0L, 8000L, 1L, 8).select($"id".as("k"), ($"id" % 7).as("v")),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    keyDelete(t, "k", Seq(10L, 20L).toDF("k"))
    val df = TableLog.read(spark, t)
    assert(df.count() == 7998)
    def scannedUnder(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.length
        case _ => 0
      } }.sum
    val plan = df.queryExecution.optimizedPlan
    val antiLefts = plan.collect {
      case j: Join if j.joinType == LeftAnti => scannedUnder(j.left) }
    assert(antiLefts.sum == 1,
      s"only the ONE fenced file may pay the anti-join, got $antiLefts")
    // every data file is still read overall (raw path + fenced path),
    // plus the sidecar key file(s) on the join's right side
    assert(scannedUnder(plan) >= 9)
    // a second sidecar fencing a different file widens the anti-join
    // tier to exactly two files, never the whole table
    keyDelete(t, "k", Seq(5000L).toDF("k"))
    val plan2 = TableLog.read(spark, t).queryExecution.optimizedPlan
    val antiLefts2 = plan2.collect {
      case j: Join if j.joinType == LeftAnti => scannedUnder(j.left) }
    assert(antiLefts2.sum == 2, s"got $antiLefts2")
    assert(TableLog.read(spark, t).count() == 7997)
  }

  test("morFold: delete-burst sidecars fold per version window; image-carrying commits split windows; re-insert fence survives") {
    val t = tmp("graft_log_morfold")
    TableLog.create(spark, t,
      spark.range(0L, 8000L, 1L, 8).select($"id".as("k"), ($"id" % 7).as("v")),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)          // v1
    // a delete burst: six single-key sidecars, no data commits between
    (0 until 6).foreach(i =>
      keyDelete(t, "k", Seq(i * 1000L + 3).toDF("k")))
    assert(TableLog.snapshot(t).get.dels.size == 6)
    val before = TableLog.read(spark, t).orderBy("k").collect().toSeq
    assert(before.size == 7994)
    val v = TableLog.morFold(spark, t)
    val folded = TableLog.snapshot(t).get
    assert(v == folded.version && folded.dels.size == 1,
      s"six window-adjacent sidecars must fold to one, got ${
        folded.dels.size}")
    assert(folded.files.map(_.path).toSet ==
      TableLog.snapshotAt(t, 1).get.files.map(_.path).toSet,
      "a fold rewrites ZERO data files")
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == before)
    // round-20 race pin: the folded sidecar is stamped at the LATEST
    // member version, so an in-flight positional statement whose
    // planVersion predates any folded member still sees the fold in
    // its `dels.filter(_.ver > planVersion)` commit fence — at vMin a
    // member committed after the plan would escape the fence and the
    // statement would commit against positions its scan never saw
    assert(folded.dels.head.ver == 7L,
      s"folded sidecar must carry the run's MAX member version (7), " +
        s"got ${folded.dels.head.ver}")
    // a key re-inserted after the fold is in a newer file (ver > vMax)
    // and stays visible
    TableLog.append(spark, t, Seq((3L, 99L)).toDF("k", "v"))
    assert(TableLog.read(spark, t).where($"k" === 3L).count() == 1)
    // a MOR update stamps its new images AT its own version, so later
    // sidecars must NOT fold across it (its images carry re-inserted
    // values an over-folded fence would re-delete)
    TableLog.update(spark, t, col("k").between(2500, 2500),
      Map("v" -> lit(-1L)))
    keyDelete(t, "k", Seq(4500L).toDF("k"))
    keyDelete(t, "k", Seq(5500L).toDF("k"))
    val preFold = TableLog.read(spark, t).orderBy("k").collect().toSeq
    TableLog.morFold(spark, t)
    val after = TableLog.snapshot(t).get
    // groups: the re-insert APPEND blocks folding across it (its file
    // holds a re-inserted key an over-fold would re-delete), the
    // update's images block folding across THEM, and only the two
    // trailing deletes share a window — 3 entries
    assert(after.dels.size == 3,
      s"append/update images must split fold windows, got ${
        after.dels.size}")
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == preFold)
    assert(TableLog.read(spark, t).where($"k" === 2500L)
      .select($"v").as[Long].head() == -1L,
      "the MOR-updated image must survive folding")
    // idempotent: nothing left to fold
    assert(TableLog.morFold(spark, t) == after.version)
  }

  test("deleteMor: scattered-key delete on an UNCLUSTERED table rewrites ZERO data files; fencing, time travel, COW interop, compaction") {
    val t = tmp("graft_log_delmor")
    // hash-partitioned on k: every file's [min,max] spans the whole
    // domain — the shape where COW rewrites the lot
    TableLog.create(spark, t,
      spark.range(8000).select($"id".as("k"), ($"id" * 10).as("v"))
        .repartition(8, $"k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    val beforePaths = TableLog.snapshot(t).get.files.map(_.path).toSet
    assert(beforePaths.size >= 8)
    // scattered keys: one in every hundred, everywhere in the domain
    val keys = spark.range(80).select(($"id" * 100 + 7).as("k"))
    val vDel = keyDelete(t, "k", keys)
    val after = TableLog.snapshot(t).get
    // ZERO data-file rewrites: the file list is untouched, only a
    // sidecar was added
    assert(after.files.map(_.path).toSet == beforePaths,
      "deleteMor must not rewrite or remove any data file")
    assert(after.dels.nonEmpty)
    assert(after.rows == 7920)
    val live = TableLog.read(spark, t)
    assert(live.count() == 7920)
    assert(live.where($"k" % 100 === 7).count() == 0)
    // time travel: the pre-delete version still shows every row
    assert(TableLog.readVersion(spark, t, vDel - 1).count() == 8000)
    // version fencing: re-appending a deleted key AFTER the delete is
    // visible (the sidecar only applies to older files)
    TableLog.append(spark, t, Seq((7L, -70L)).toDF("k", "v"))
    assert(TableLog.read(spark, t).where($"k" === 7L).count() == 1)
    assert(TableLog.read(spark, t).where($"k" === 7L).head.getLong(1) == -70L)
    assert(TableLog.snapshot(t).get.rows == 7921)
    // second sidecar stacks
    keyDelete(t, "k",
      spark.range(3).select(($"id" * 100 + 13).as("k")))
    assert(TableLog.read(spark, t).count() == 7921 - 3)
    // already-deleted keys are not double-counted
    val vAgain = keyDelete(t, "k",
      spark.range(3).select(($"id" * 100 + 13).as("k")))
    assert(TableLog.snapshot(t).get.rows == 7918)
    // COW interop: a copy-on-write update over a range containing
    // deleted keys neither resurrects them nor loses the update
    underMode(t, TableLog.Cow)(TableLog.update(spark, t,
      col("k").between(200, 299), Map("v" -> lit(-1L))))
    val afterUpd = TableLog.read(spark, t)
    assert(afterUpd.where($"k" === 207L).count() == 0,
      "COW rewrite must not resurrect a MOR-deleted row")
    assert(afterUpd.where($"k".between(200, 299)).where($"v" =!= -1L)
      .count() == 0)
    assert(afterUpd.count() == 7918)
    // readChanges across a MOR-delete interval is refused descriptively
    val e = intercept[IllegalArgumentException](
      TableLog.readChanges(spark, t, vDel - 1, vDel))
    assert(e.getMessage.contains("merge-on-read"))
    // vacuum keeps referenced sidecars
    val delPaths = TableLog.snapshot(t).get.dels.map(_.file.path)
    TableLog.vacuum(spark, t, olderThanMs = 0L)
    delPaths.foreach(p => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(t, p)),
      s"vacuum must keep referenced sidecar $p"))
    // compaction MATERIALIZES: content identical, sidecars gone, and a
    // later vacuum reclaims the spent sidecar files
    val expect = TableLog.read(spark, t).orderBy("k", "v").collect().toSeq
    TableLog.compact(spark, t, targetBytes = 1L << 26)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).orderBy("k", "v").collect().toSeq
      == expect)
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0L)
    delPaths.foreach(p => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(t, p)),
      s"vacuum must reclaim the materialized sidecar $p"))
    assert(TableLog.read(spark, t).orderBy("k", "v").collect().toSeq
      == expect)
    // no-op: an empty delete batch commits nothing
    val vNow = TableLog.latestVersion(t)
    assert(keyDelete(t, "k",
      Seq.empty[Long].toDF("k")) == vNow)
    // NULL keys are refused (a NULL key matches no row), nothing lands
    intercept[IllegalArgumentException](keyDelete(t, "k",
      Seq[java.lang.Long](null).toDF("k")))
    assert(TableLog.latestVersion(t) == vNow)
    // plain feed refuses
    val f = tmp("graft_log_delmor_feed")
    TableLog.enableFeed(f)
    TableLog.create(spark, f, Seq((1L, 2L)).toDF("k", "v"),
      rowLevelMode = TableLog.Mor)
    intercept[IllegalArgumentException](
      keyDelete(f, "k", Seq(1L).toDF("k")))
  }

  test("renameColumn/dropColumn: pure metadata; old files resolve physical names; dead incarnations never resurrect") {
    val t = tmp("graft_log_schevo")
    TableLog.create(spark, t, spark.range(10).select($"id".as("k"),
      ($"id" * 2).as("qty_old"), lit("x").as("junk")))
    val pathsBefore = TableLog.snapshot(t).get.files.map(_.path).toSet
    TableLog.renameColumn(spark, t, "qty_old", "qty")
    // zero file changes: metadata-only commit
    assert(TableLog.snapshot(t).get.files.map(_.path).toSet == pathsBefore)
    val r1 = TableLog.read(spark, t)
    assert(r1.columns.toSeq == Seq("k", "qty", "junk"))
    assert(r1.where($"k" === 3).head.getLong(1) == 6L,
      "old files must resolve the new logical name to the old physical")
    // append under the NEW name; cohorts union
    TableLog.append(spark, t, spark.range(10, 15).select($"id".as("k"),
      ($"id" * 2).as("qty"), lit("y").as("junk")))
    assert(TableLog.read(spark, t).agg(sum($"qty")).head.getLong(0)
      == (0 until 15).map(_ * 2L).sum)
    // drop, then RE-ADD the same name: the dead incarnation's physical
    // values must read as null, never resurrect
    TableLog.dropColumn(spark, t, "junk")
    assert(TableLog.read(spark, t).columns.toSeq == Seq("k", "qty"))
    TableLog.append(spark, t, spark.range(15, 16).select($"id".as("k"),
      ($"id" * 2).as("qty"), lit("fresh").as("junk")))
    val back = TableLog.read(spark, t)
    assert(back.columns.toSeq == Seq("k", "qty", "junk"))
    assert(back.where($"k" === 3).head.isNullAt(2),
      "dropped incarnation must not resurrect")
    assert(back.where($"k" === 15).head.getString(2) == "fresh")
    // time travel: old versions read under their own schema
    assert(TableLog.readVersion(spark, t, 1).columns.toSeq
      == Seq("k", "qty_old", "junk"))
    assert(TableLog.readVersion(spark, t, 1).where($"k" === 3)
      .head.getString(2) == "x")
    // chained rename: v1 files resolve two hops (qty_old <- qty <- quantity)
    TableLog.renameColumn(spark, t, "qty", "quantity")
    assert(TableLog.read(spark, t).where($"k" === 3).head.getLong(1) == 6L)
    // COW update across cohorts neither loses the rename nor the values
    TableLog.update(spark, t, col("k").between(0, 2), Map("quantity" -> lit(-1L)))
    val upd = TableLog.read(spark, t)
    assert(upd.where($"k" <= 2).agg(sum("quantity")).head.getLong(0) == -3L)
    assert(upd.where($"k" === 3).head.getLong(1) == 6L)
    assert(upd.count() == 16)
    // refusals: unknown column, existing target, rename on a feed table,
    // rename/drop of a pending MOR sidecar's key column
    intercept[IllegalArgumentException](
      TableLog.renameColumn(spark, t, "nope", "x"))
    intercept[IllegalArgumentException](
      TableLog.renameColumn(spark, t, "k", "quantity"))
    val f = tmp("graft_log_schevo_feed")
    TableLog.enableFeed(f)
    TableLog.create(spark, f, Seq((1L, 2L)).toDF("k", "v"))
    intercept[IllegalArgumentException](
      TableLog.renameColumn(spark, f, "k", "kk"))
    val m = tmp("graft_log_schevo_mor")
    TableLog.create(spark, m, spark.range(10).select($"id".as("k"),
      $"id".as("v")), rowLevelMode = TableLog.Mor)
    keyDelete(m, "k", Seq(3L).toDF("k"))
    val e = intercept[RuntimeException](
      TableLog.renameColumn(spark, m, "k", "kk"))
    assert(e.getMessage.contains("sidecar"))
    intercept[RuntimeException](TableLog.dropColumn(spark, m, "k"))
    // after compaction materializes the sidecar, the rename goes through
    TableLog.compact(spark, m, 1L << 26)
    TableLog.renameColumn(spark, m, "k", "kk")
    assert(TableLog.read(spark, m).where($"kk" === 3L).count() == 0)
    assert(TableLog.read(spark, m).count() == 9)
  }

  test("compactSmall: bin-packs only the small files; big files carry by reference") {
    val t = tmp("graft_log_compactsmall")
    TableLog.create(spark, t, spark.range(100000).select($"id".as("k"),
      ($"id" * 2).as("v")).coalesce(1), statsCols = Seq("k"))
    (0 until 5).foreach { i =>
      TableLog.append(spark, t,
        spark.range(100000L + i * 10, 100000L + i * 10 + 10)
          .select($"id".as("k"), ($"id" * 2).as("v")).coalesce(1),
        statsCols = Seq("k"))
    }
    val before = TableLog.snapshot(t).get
    assert(before.files.size == 6)
    val bigPath = before.files.minBy(_.ver).path
    val bigSize = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, bigPath))
    val sumBefore = TableLog.read(spark, t).agg(sum("v")).head.getLong(0)
    // auto-OPTIMIZE sizes from the manifest's write-time bytes
    assert(before.files.find(_.path == bigPath).get.bytes == bigSize)
    val v = TableLog.compactSmall(spark, t, smallBytes = bigSize / 2)
    val after = TableLog.snapshot(t).get
    val afterPaths = after.files.map(_.path).toSet
    assert(afterPaths.contains(bigPath), "big file must carry by reference")
    assert(after.files.size == 2, s"5 small files should pack into 1")
    assert(after.rows == before.rows)
    assert(TableLog.read(spark, t).count() == 100050)
    assert(TableLog.read(spark, t).agg(sum("v")).head.getLong(0) == sumBefore)
    // the carried file keeps its ORIGINAL version (version fences intact)
    assert(after.files.find(_.path == bigPath).get.ver == 1)
    // the packed replacement has fresh stats: pruning still works
    assert(dataFilesScanned(t, col("k").between(100000, 100050)) == 1)
    // below-threshold call is a no-op WITHOUT a commit
    assert(TableLog.compactSmall(spark, t, smallBytes = 10) == v)
    assert(TableLog.snapshot(t).get.version == v)
  }

  test("appendStream autoCompact: streaming ingest keeps its own file count bounded") {
    val t = tmp("graft_log_autocompact")
    TableLog.create(spark, t, spark.range(10).select($"id".as("k")).coalesce(1))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Long]
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_log_ac_ckpt").toString)
    (0 until 5).foreach { i =>
      mem.addData((10L + i * 10) until (10L + i * 10 + 10): _*)
      TableLog.appendStream(spark, t,
        mem.toDF().select(col("value").as("k")).coalesce(1), "ac", ckpt,
        autoCompactBytes = Some(1L << 20))
    }
    // five micro-batches landed, but the auto-OPTIMIZE tick keeps the
    // live file set packed instead of one-file-per-batch
    assert(TableLog.read(spark, t).count() == 60)
    assert(TableLog.snapshot(t).get.files.size <= 2,
      s"expected a packed layout, got ${TableLog.snapshot(t).get.files.size} files")
    // every batch still exactly-once under its txn id
    assert(TableLog.committedTxnVersion(t, "ac#0").isDefined)
    assert(TableLog.committedTxnVersion(t, "ac#4").isDefined)
  }

  test("appendStream autoZOrder: continuous ingest keeps the z layout maintained") {
    val t = tmp("graft_log_autoz")
    TableLog.create(spark, t, spark.range(4096)
      .select(($"id" / 64).cast("long").as("a"), ($"id" % 64).as("b")))
    TableLog.zOrder(spark, t, 3, "a", (0L, 63L), "b", (0L, 63L))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Long]
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_log_az_ckpt").toString)
    (0 until 4).foreach { i =>
      mem.addData((4096L + i * 100) until (4096L + i * 100 + 100): _*)
      TableLog.appendStream(spark, t,
        mem.toDF().select((col("value") % 64).as("a"),
          ((col("value") / 64).cast("long") % 64).as("b")).coalesce(1),
        "az", ckpt,
        autoCompactBytes = Some(1L << 20),
        autoZOrderBytes = Some(1L << 20))
    }
    assert(TableLog.read(spark, t).count() == 4096 + 400)
    val snap = TableLog.snapshot(t).get
    // the maintenance tick kept EVERY live file clustered (no
    // unclustered tail accumulates) and the layout packed
    assert(snap.files.forall(_.stats.exists(_.col.startsWith("z2|"))),
      s"unclustered tail survived: ${snap.files.map(_.stats.map(_.col))}")
    assert(snap.files.size <= 4,
      s"expected a packed z layout, got ${snap.files.size} files")
    // exactly-once txn ids preserved through the ticks
    assert(TableLog.committedTxnVersion(t, "az#0").isDefined)
    assert(TableLog.committedTxnVersion(t, "az#3").isDefined)
  }

  test("deleteMor with STRING keys: sidecar delete, zero rewrites, re-insert fence, compaction") {
    val t = tmp("graft_log_delmor_str")
    TableLog.create(spark, t, spark.range(2000).select(
      format_string("doc_%04d", $"id").as("doc"), ($"id" % 7).as("v"))
      .repartition(4, $"v"), strStatsCols = Seq("doc"),
      rowLevelMode = TableLog.Mor)
    val before = TableLog.snapshot(t).get.files.map(_.path).toSet
    keyDelete(t, "doc",
      Seq("doc_0005", "doc_1999").toDF("doc"))
    val s = TableLog.snapshot(t).get
    assert(s.files.map(_.path).toSet == before, "zero data-file rewrites")
    val r = TableLog.read(spark, t)
    assert(r.count() == 1998)
    assert(r.where($"doc" === "doc_0005").count() == 0)
    // re-inserted key lives (the fence is by version)
    TableLog.append(spark, t,
      Seq(("doc_0005", 99L)).toDF("doc", "v").coalesce(1))
    assert(TableLog.read(spark, t)
      .where($"doc" === "doc_0005").count() == 1)
    // full compaction materializes the sidecar away
    TableLog.compact(spark, t, 1L << 26)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).count() == 1999)
  }

  test("CHECK constraints: write-path enforcement across every row-adding face; existing-data validation; history") {
    val t = tmp("graft_log_checks")
    TableLog.create(spark, t, spark.range(100).select($"id".as("k"),
      ($"id" % 50).as("v")))
    // existing data already satisfies: the add commits metadata-only
    val filesBefore = TableLog.snapshot(t).get.files.map(_.path).toSet
    TableLog.addCheckConstraint(spark, t, "v_range", "v >= 0 AND v < 50")
    assert(TableLog.snapshot(t).get.files.map(_.path).toSet == filesBefore)
    assert(TableLog.snapshot(t).get.checks ==
      Seq("v_range" -> "v >= 0 AND v < 50"))
    // an add whose expression existing rows violate is refused
    val e0 = intercept[IllegalArgumentException](
      TableLog.addCheckConstraint(spark, t, "too_strict", "v < 10"))
    assert(e0.getMessage.contains("existing data"))
    // violating append refused with name + count; table unchanged
    val e1 = intercept[IllegalArgumentException](TableLog.append(spark, t,
      Seq((200L, 99L), (201L, 3L)).toDF("k", "v")))
    assert(e1.getMessage.contains("v_range") && e1.getMessage.contains("1 row"))
    assert(TableLog.read(spark, t).count() == 100)
    // passing append lands; NULL passes (SQL CHECK semantics)
    TableLog.append(spark, t, Seq((200L, Some(3L)), (201L, None))
      .toDF("k", "v"))
    assert(TableLog.read(spark, t).count() == 102)
    // COW update: a SET that would break the constraint is refused
    val e2 = intercept[IllegalArgumentException](TableLog.update(
      spark, t, col("k").between(0, 10), Map("v" -> lit(77L))))
    assert(e2.getMessage.contains("v_range"))
    TableLog.update(spark, t, col("k").between(0, 10), Map("v" -> lit(7L)))
    // COW merge: violating source refused, passing source lands
    intercept[IllegalArgumentException](TableLog.mergeUpsert(spark, t,
      Seq((5L, -1L)).toDF("k", "v"), Seq("k")))
    TableLog.mergeUpsert(spark, t, Seq((5L, 49L)).toDF("k", "v"), Seq("k"))
    assert(TableLog.read(spark, t).where($"k" === 5L).head.getLong(1) == 49L)
    // rename/drop of a referenced column is refused until the drop
    assert(TableLog.snapshot(t).get.checks.nonEmpty, "checks lost in fold")
    val e3 = intercept[IllegalArgumentException](
      TableLog.renameColumn(spark, t, "v", "val"))
    assert(e3.getMessage.contains("v_range"))
    TableLog.dropCheckConstraint(t, "v_range")
    TableLog.renameColumn(spark, t, "v", "val")
    TableLog.append(spark, t, Seq((300L, 99L)).toDF("k", "val"))
    assert(TableLog.read(spark, t).count() == 103)
    // time travel sees each version's own constraint set
    val vWith = TableLog.history(spark, t)
      .where($"action" === "check_add").head.getLong(0)
    assert(TableLog.snapshotAt(t, vWith).get.checks.nonEmpty)
    assert(TableLog.snapshot(t).get.checks.isEmpty)
    // duplicate add / unknown drop refused
    TableLog.addCheckConstraint(spark, t, "k_pos", "k >= 0")
    intercept[IllegalArgumentException](
      TableLog.addCheckConstraint(spark, t, "k_pos", "k > 0"))
    intercept[IllegalArgumentException](
      TableLog.dropCheckConstraint(t, "nope"))
  }

  test("a constrained staged write scans no staged file (the write job " +
      "counts its CHECKs and measures its stats)") {
    val t = tmp("graft_log_checks_onepass")
    TableLog.create(spark, t, spark.range(100).select($"id".as("k"),
      ($"id" % 50).as("v")), statsCols = Seq("k"))
    TableLog.addCheckConstraint(spark, t, "v_range", "v >= 0 AND v < 50")
    // every file relation any query of the commit planned
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.analyzed.foreach {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation =>
              h.location.inputFiles.foreach(p =>
                scanned.add(TableLog.lastTwo(p)))
            case _ => ()
          }
        case _ => ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def stagedScans(commit: => Long): Set[String] = {
      val before = TableLog.snapshot(t).get.files.map(_.path).toSet
      org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
      scanned.clear()
      spark.listenerManager.register(ql)
      try {
        commit
        org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
      } finally spark.listenerManager.unregister(ql)
      import scala.jdk.CollectionConverters._
      val added = TableLog.snapshot(t).get.files.map(_.path).toSet -- before
      assert(added.nonEmpty)
      scanned.asScala.toSet.intersect(added.map(TableLog.lastTwo))
    }
    // overwrite rewrite: the CHECK and the stats come from the write
    assert(stagedScans(TableLog.rewrite(spark, t, "overwrite",
      expectRows = _ => None)(
      _ => spark.range(50).select($"id".as("k"), ($"id" % 50).as("v"))))
      .isEmpty, "constrained overwrite read back a file it wrote")
    // replaceWhere: slice predicate + CHECK + stats over the new slice,
    // stats of the keep-side rewrite — none reads a staged file
    assert(stagedScans(TableLog.replaceWhere(spark, t,
      $"k" >= 0 && $"k" < 10, Seq((3L, 49L)).toDF("k", "v"))).isEmpty,
      "constrained replaceWhere read back a file it wrote")
    assert(TableLog.read(spark, t).count() == 41)
  }

  test("CHECK constraints fence the STAGED-output faces too: " +
      "overwrite rewrite and replaceWhere") {
    val t = tmp("graft_log_checks_staged")
    TableLog.create(spark, t, spark.range(100).select($"id".as("k"),
      ($"id" % 50).as("v")), statsCols = Seq("k"))
    TableLog.addCheckConstraint(spark, t, "v_range", "v >= 0 AND v < 50")
    val filesBefore = TableLog.snapshot(t).get.files.map(_.path).toSet
    // INSERT OVERWRITE shape: a violating full rewrite refuses and
    // leaves no staged orphans behind
    val e1 = intercept[IllegalArgumentException](
      TableLog.rewrite(spark, t, "overwrite", expectRows = _ => None)(
        _ => Seq((1L, 99L)).toDF("k", "v")))
    assert(e1.getMessage.contains("v_range"))
    assert(TableLog.snapshot(t).get.files.map(_.path).toSet == filesBefore)
    assert(TableLog.read(spark, t).count() == 100)
    val dataDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(t, "data")).count()
    // replaceWhere: a violating NEW slice refuses, table untouched,
    // staged files dropped
    val e2 = intercept[IllegalArgumentException](
      TableLog.replaceWhere(spark, t, $"k" >= 0 && $"k" < 10,
        Seq((3L, 99L)).toDF("k", "v")))
    assert(e2.getMessage.contains("v_range"))
    assert(TableLog.read(spark, t).count() == 100)
    assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(t, "data")).count() == dataDirs,
      "the refused slice must leave no staging dir behind")
    // the passing twins land
    TableLog.replaceWhere(spark, t, $"k" >= 0 && $"k" < 10,
      Seq((3L, 49L)).toDF("k", "v"))
    assert(TableLog.read(spark, t).count() == 91)
    TableLog.rewrite(spark, t, "overwrite", expectRows = _ => None)(
      _ => Seq((1L, 9L)).toDF("k", "v"))
    assert(TableLog.read(spark, t).count() == 1)
  }

  test("compactSmall racing an append: both commit, no row lost or doubled") {
    val t = tmp("graft_log_csmall_race")
    TableLog.create(spark, t, spark.range(100000).select($"id".as("k"),
      $"id".as("v")).coalesce(1), statsCols = Seq("k"))
    (0 until 4).foreach(i => TableLog.append(spark, t,
      spark.range(100000L + i * 10, 100000L + i * 10 + 10)
        .select($"id".as("k"), $"id".as("v")).coalesce(1)))
    val bigSize = java.nio.file.Files.size(java.nio.file.Paths.get(t,
      TableLog.snapshot(t).get.files.minBy(_.ver).path))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fCompact = Future(
      TableLog.compactSmall(spark, t, smallBytes = bigSize / 2))
    val fAppend = Future(TableLog.append(spark, t,
      spark.range(200000, 200010).select($"id".as("k"), $"id".as("v"))
        .coalesce(1)))
    val (vc, va) = (Await.result(fCompact, 120.seconds),
      Await.result(fAppend, 120.seconds))
    assert(Set(vc, va) == Set(6L, 7L), s"serialized versions, got $vc/$va")
    val r = TableLog.read(spark, t)
    assert(r.count() == 100050)
    assert(r.select(countDistinct($"k")).head.getLong(0) == 100050,
      "no row doubled by the race")
    assert(TableLog.snapshot(t).get.rows == 100050)
  }

  test("compactSmall: packed rows drop sidecar-deleted keys; the sidecar still fences carried files") {
    val t = tmp("graft_log_compactsmall_mor")
    TableLog.create(spark, t, spark.range(100000).select($"id".as("k"),
      $"id".as("v")).coalesce(1), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor)
    TableLog.append(spark, t, spark.range(100000, 100010)
      .select($"id".as("k"), $"id".as("v")).coalesce(1), statsCols = Seq("k"))
    TableLog.append(spark, t, spark.range(100010, 100020)
      .select($"id".as("k"), $"id".as("v")).coalesce(1), statsCols = Seq("k"))
    // one deleted key lands in the big (carried) file, one in a small one
    keyDelete(t, "k", Seq(5L, 100005L).toDF("k"))
    val bigPath = TableLog.snapshot(t).get.files.minBy(_.ver).path
    val bigSize = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, bigPath))
    TableLog.compactSmall(spark, t, smallBytes = bigSize / 2)
    val s = TableLog.snapshot(t).get
    assert(s.files.map(_.path).contains(bigPath))
    assert(s.dels.nonEmpty, "sidecar must carry — it still fences the big file")
    val r = TableLog.read(spark, t)
    assert(r.count() == 100018)
    assert(r.where($"k" === 5L).count() == 0, "carried file: sidecar applies")
    assert(r.where($"k" === 100005L).count() == 0,
      "packed file: deleted row physically dropped")
    // re-appended key lives (the fence is by version, not by key history)
    TableLog.append(spark, t, Seq((5L, -1L)).toDF("k", "v").coalesce(1))
    assert(TableLog.read(spark, t).where($"k" === 5L).count() == 1)
  }

  test("detail + vacuumPreview: the operational faces are metadata-true and the preview matches the sweep") {
    val t = tmp("graft_log_detail")
    TableLog.create(spark, t, spark.range(100).select($"id".as("k")),
      rowLevelMode = TableLog.Mor)
    TableLog.append(spark, t, spark.range(100, 150).select($"id".as("k")))
    TableLog.compact(spark, t, 1L << 26)                          // v3 full
    keyDelete(t, "k", Seq(5L).toDF("k"))          // v4
    TableLog.addCheckConstraint(spark, t, "k_pos", "k >= 0")      // v5
    // manifest carries write-time sizes: detail is ZERO filesystem
    // stats, and the sizes are the true ones
    val snap = TableLog.snapshot(t).get
    snap.files.foreach(f => assert(f.bytes ==
      java.nio.file.Files.size(java.nio.file.Paths.get(t, f.path)),
      s"manifest bytes must match disk for ${f.path}"))
    val d = TableLog.detail(spark, t).head
    assert(d.getLong(0) == 5 && d.getLong(1) == 149)
    assert(d.getLong(3) == snap.files.map(_.bytes).sum, "bytes")
    assert(d.getLong(4) == 1 && d.getLong(6) == 1)
    assert(d.getLong(7) > 0, "ts")
    // preview names exactly what vacuum then reclaims
    val (pv, pf) = TableLog.vacuumPreview(t, keepVersions = 1, keepFromVersion = 3)
    assert(pv == Seq(1L, 2L))
    assert(pf.nonEmpty, "pre-compaction files should be reclaimable")
    val swept = TableLog.vacuum(spark, t, keepVersions = 1,
      olderThanMs = 0, keepFromVersion = 3)
    assert(pf.forall(f => swept.exists(_.endsWith(f))),
      "every previewed file must be in the sweep")
    assert(pf.forall(f =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(t, f))))
    // post-sweep preview is empty; the table still reads
    val (pv2, pf2) = TableLog.vacuumPreview(t, keepVersions = 1, keepFromVersion = 3)
    assert(pv2.isEmpty && pf2.isEmpty)
    assert(TableLog.read(spark, t).count() == 149)
  }

  test("cloneTable: zero-copy hard-link clone; full metadata carriage; independent evolution") {
    val src = tmp("graft_log_clone_src")
    TableLog.create(spark, src, spark.range(1000).select($"id".as("k"),
      ($"id" % 10).as("v")).repartitionByRange(4, $"k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)          // v1
    TableLog.renameColumn(spark, src, "v", "val")                 // v2
    TableLog.append(spark, src, spark.range(1000, 1100)
      .select($"id".as("k"), ($"id" % 10).as("val")).coalesce(1),
      statsCols = Seq("k"))                                       // v3
    keyDelete(src, "k", Seq(7L, 1050L).toDF("k")) // v4
    TableLog.addCheckConstraint(spark, src, "val_range", "val < 10") // v5
    val dst = tmp("graft_log_clone_dst")
    val cv = TableLog.cloneTable(spark, src, dst)
    assert(cv == 5)
    // content identical, including the sidecar and rename resolution
    assert(TableLog.read(spark, dst).count() == 1098)
    assert(TableLog.read(spark, dst).where($"k" === 7L).count() == 0)
    assert(TableLog.read(spark, dst).where($"k" === 3L)
      .head.getLong(1) == 3L, "renamed column must resolve in the clone")
    assert(TableLog.read(spark, dst).exceptAll(
      TableLog.read(spark, src)).count() == 0)
    // ZERO bytes copied: same inode
    val f0 = TableLog.snapshot(dst).get.files.head.path
    assert(java.nio.file.Files.isSameFile(
      java.nio.file.Paths.get(src, f0), java.nio.file.Paths.get(dst, f0)))
    // stats pruning works off the carried manifest
    assert(dataFilesScanned(dst, col("k").between(0, 100)) == 1)
    // CHECK constraints carried: violating append to the CLONE refused
    val e = intercept[IllegalArgumentException](TableLog.append(spark, dst,
      Seq((2000L, 99L)).toDF("k", "val")))
    assert(e.getMessage.contains("val_range"))
    // independent evolution: append to dst, delete in src — neither leaks
    TableLog.append(spark, dst, Seq((2000L, 5L)).toDF("k", "val"))
    TableLog.delete(spark, src, col("k").between(0, 499))
    assert(TableLog.read(spark, dst).count() == 1099)
    // 1098 − 499 (k 0..499 minus the already-MOR-deleted k=7)
    assert(TableLog.read(spark, src).count() == 599)
    // src vacuum cannot break the clone: inodes are pinned by dst links
    TableLog.vacuum(spark, src, keepVersions = 1, olderThanMs = 0)
    assert(TableLog.read(spark, dst).count() == 1099)
    // txn index starts complete in the clone (exactly-once ingest works)
    TableLog.append(spark, dst, Seq((3000L, 1L)).toDF("k", "val"),
      txnId = Some("s#1"))
    assert(TableLog.committedTxnVersion(dst, "s#1").isDefined)
    // time travel below the clone point answers "not found"; clone
    // version itself is readable
    assert(TableLog.snapshotAt(dst, 2).isEmpty)
    assert(TableLog.readVersion(spark, dst, 5).count() == 1098)
    // cloning onto an existing table refused
    intercept[IllegalArgumentException](
      TableLog.cloneTable(spark, src, dst))
    // restore below the clone point refuses descriptively (that
    // history belongs to src, not the clone), and restore to the
    // clone's own first version works
    val e2 = intercept[RuntimeException](TableLog.restore(spark, dst, 2))
    assert(e2.getMessage.contains("not resolvable"))
    TableLog.restore(spark, dst, 5)
    assert(TableLog.read(spark, dst).count() == 1098)
  }

  test("restore: metadata-only rewind of files, sidecars, schema, and op history; guards hold") {
    val t = tmp("graft_log_restore")
    TableLog.create(spark, t, spark.range(100).select($"id".as("k"),
      ($"id" * 2).as("v")), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor)                                // v1
    TableLog.append(spark, t, spark.range(100, 150)
      .select($"id".as("k"), ($"id" * 2).as("v")))                // v2
    TableLog.delete(spark, t, col("k").between(0, 49))                    // v3
    assert(TableLog.read(spark, t).count() == 100)
    val v2Sum = TableLog.readVersion(spark, t, 2)
      .agg(sum("v")).head.getLong(0)
    // restore to v2: rows return, zero data files written
    val dataBefore = TableLog.snapshot(t).get.files.map(_.path).toSet
    val rv = TableLog.restore(spark, t, 2)
    assert(rv == 4)
    assert(TableLog.read(spark, t).count() == 150)
    assert(TableLog.read(spark, t).agg(sum("v")).head.getLong(0) == v2Sum)
    // the undone version stays readable (restore is a commit, not erasure)
    assert(TableLog.readVersion(spark, t, 3).count() == 100)
    assert(TableLog.history(spark, t).where($"action" === "restore")
      .head.getLong(0) == 4)
    // MOR sidecars rewind too
    keyDelete(t, "k", Seq(5L).toDF("k"))          // v5
    assert(TableLog.read(spark, t).count() == 149)
    TableLog.restore(spark, t, 4)                                 // v6
    assert(TableLog.read(spark, t).where($"k" === 5L).count() == 1)
    // restore across a RENAME: the op-history reset keeps values
    TableLog.renameColumn(spark, t, "v", "val")                   // v7
    assert(TableLog.read(spark, t).columns.toSeq == Seq("k", "val"))
    TableLog.restore(spark, t, 6)                                 // v8
    val r8 = TableLog.read(spark, t)
    assert(r8.columns.toSeq == Seq("k", "v"))
    assert(r8.where($"k" === 3L).head.getLong(1) == 6L,
      "restored column must keep its values, not freed-fence to null")
    assert(dataFilesScanned(t, col("k").between(0, 10)) > 0)
    // CURRENT checks certify restored content: a restore that would
    // smuggle pre-constraint rows back in is refused
    TableLog.delete(spark, t, col("k").between(100, 149))                 // v9
    TableLog.addCheckConstraint(spark, t, "k_small", "k < 100")   // v10
    val e = intercept[IllegalArgumentException](
      TableLog.restore(spark, t, 8))
    assert(e.getMessage.contains("k_small"))
    // vacuumed target: refused with the missing files
    TableLog.compact(spark, t, 1L << 26)                          // v11
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0)
    val e2 = intercept[RuntimeException](TableLog.restore(spark, t, 6))
    assert(e2.getMessage.contains("vacuumed") ||
      e2.getMessage.contains("not resolvable"))
    // restoring to the current version is a no-op
    val cur = TableLog.latestVersion(t)
    assert(TableLog.restore(spark, t, cur) == cur)
  }

  test("history + vacuumBefore: DESCRIBE HISTORY face; timestamp-granular retention") {
    val t = tmp("graft_log_history")
    TableLog.create(spark, t, spark.range(10).select($"id".as("k")))     // v1
    TableLog.append(spark, t, spark.range(10, 20).select($"id".as("k"))) // v2
    TableLog.compact(spark, t, 1L << 26)                                 // v3 (full)
    TableLog.append(spark, t, spark.range(20, 25).select($"id".as("k"))) // v4
    val h = TableLog.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(h.map(_.getString(2)).toSeq
      == Seq("create", "append", "compact", "append"))
    assert(h.map(_.getLong(4)).toSeq == Seq(10L, 20L, 20L, 25L))
    val ts = h.map(_.getLong(1))
    assert(ts.sliding(2).forall(p => p(0) < p(1)),
      "commit timestamps must be strictly increasing")
    // a cutoff before the first commit is a no-op, not an error
    assert(TableLog.vacuumBefore(spark, t, ts(0) - 10, olderThanMs = 0).isEmpty)
    // cutoff at v3's commit instant: v1/v2 manifests and their
    // unreferenced files go; readAsOf(cutoff) and newer stay readable
    val gone = TableLog.vacuumBefore(spark, t, ts(2), olderThanMs = 0)
    assert(gone.nonEmpty)
    assert(TableLog.readAsOf(spark, t, ts(2)).count() == 20)
    assert(TableLog.read(spark, t).count() == 25)
    intercept[RuntimeException](TableLog.readVersion(spark, t, 1))
    // history shrinks to exactly what time travel can still reach
    assert(TableLog.history(spark, t).agg(min("version")).head.getLong(0) == 3L)
  }

  test("rename-then-re-add: the freed name never resurrects the renamed column's values") {
    val t = tmp("graft_log_schevo_freed")
    TableLog.create(spark, t, spark.range(5).select($"id".as("k"),
      ($"id" * 10).as("a")))
    TableLog.renameColumn(spark, t, "a", "b")
    // re-add a NEW column under the freed name "a": old files still
    // physically carry an "a" column (the pre-rename values of logical
    // "b") — it must NOT leak into the new "a"
    TableLog.append(spark, t, spark.range(5, 7).select($"id".as("k"),
      ($"id" * 10).as("b"), lit("n").as("a")))
    val r = TableLog.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "b", "a"))
    val old = r.where($"k" === 3).head
    assert(old.getLong(1) == 30L, "renamed column must keep its values")
    assert(old.isNullAt(2), "freed name must not resurrect old values")
    assert(r.where($"k" === 5).head.getString(2) == "n")
    // rename the re-added column again: still fenced for v1 files
    TableLog.renameColumn(spark, t, "a", "a2")
    val r2 = TableLog.read(spark, t)
    assert(r2.where($"k" === 3).head.isNullAt(2))
    assert(r2.where($"k" === 6).head.getString(2) == "n")
    // swap-back rename: b -> a restores the ORIGINAL physical mapping
    TableLog.renameColumn(spark, t, "b", "a")
    assert(TableLog.read(spark, t).where($"k" === 3).head.getLong(1) == 30L)
  }

  test("stats pruning survives a rename: old files' stats resolve under their physical name; dead incarnations prune outright") {
    val t = tmp("graft_log_schevo_prune")
    TableLog.create(spark, t, spark.range(4000).select($"id".as("k"),
      ($"id" % 7).as("v")).repartitionByRange(8, $"k"),
      statsCols = Seq("k"))
    assert(dataFilesScanned(t, col("k").between(100, 200)) == 1)
    TableLog.renameColumn(spark, t, "k", "key")
    // the rename must NOT degrade pruning to "absent stat keeps all"
    val kept = dataFilesScanned(t, col("key").between(100, 200))
    assert(kept == 1, s"rename lost pruning: kept $kept of 8")
    assert(scanWhere(t, col("key").between(100, 200)).count() == 101)
    // the COW update prune stays tight across the rename too: only the
    // one range-overlapping (pre-rename) file is rewritten
    val before = TableLog.snapshot(t).get.files.map(_.path).toSet
    TableLog.update(spark, t, col("key").between(100, 200), Map("v" -> lit(-1L)))
    val after = TableLog.snapshot(t).get.files
    assert(after.count(f => before(f.path)) == 7,
      "exactly one pre-rename file should have been rewritten")
    assert(TableLog.read(spark, t).where($"v" === -1L).count() == 101)
    // drop + re-add gives a DEAD incarnation whose old stats must not
    // be consulted — those files are provably all-null for the new
    // column, so they prune outright
    TableLog.dropColumn(spark, t, "key")
    // (the drop took `key` out of the write spec: the re-added
    // column's file carries no stat and is kept, the dead ones prune)
    TableLog.append(spark, t, spark.range(1).select(lit(5000L).as("key"),
      lit(0L).as("v")).coalesce(1))
    assert(dataFilesScanned(t, col("key").between(0, 10000)) == 1,
      "dead-incarnation files must prune outright for the re-added column")
    assert(scanWhere(t, col("key").between(0, 10000)).count() == 1)
  }

  test("readChanges across a rename/drop interval resolves old files' physical names") {
    val t = tmp("graft_log_schevo_changes")
    TableLog.create(spark, t, spark.range(4).select($"id".as("k"),
      ($"id" * 10).as("a")))                                     // v1
    TableLog.renameColumn(spark, t, "a", "b")                    // v2
    TableLog.append(spark, t, spark.range(4, 6).select($"id".as("k"),
      ($"id" * 10).as("b")))                                     // v3
    // interval v1..v3 contains the rename; added files are post-rename,
    // but a consumer diffing across it must see a consistent "b"
    val (added, removed) = TableLog.readChanges(spark, t, 1, 3)
    assert(removed.count() == 0)
    assert(added.agg(sum($"b")).head.getLong(0) == 90L)
    // compact (removes v1-era files carrying physical "a"), then diff an
    // interval whose REMOVED side is pre-rename files: their "b" values
    // must come from physical "a", not read as null
    TableLog.compact(spark, t, 1L << 26)                         // v4
    val (a2, r2) = TableLog.readChanges(spark, t, 3, 4)
    assert(a2.agg(sum($"b")).head.getLong(0)
      == r2.agg(sum($"b")).head.getLong(0),
      "layout-only interval: added and removed multisets must agree")
    assert(r2.where($"k" === 3).select("b").head.getLong(0) == 30L)
    // drop-then-re-add, then diff across it: the dead incarnation must
    // read as null on the removed side, not resurrect
    TableLog.dropColumn(spark, t, "b")                           // v5
    TableLog.append(spark, t, spark.range(6, 7).select($"id".as("k"),
      lit(999L).as("b")))                                        // v6
    TableLog.compact(spark, t, 1L << 26)                         // v7
    val (a3, r3) = TableLog.readChanges(spark, t, 6, 7)
    assert(r3.where($"k" === 3).select("b").head.isNullAt(0),
      "dead incarnation must not resurrect in the change feed")
    assert(r3.where($"k" === 6).select("b").head.getLong(0) == 999L)
    assert(a3.agg(sum($"b")).head.getLong(0) == 999L)
  }

  test("feed tables refuse re-adding a schema-op-freed column name") {
    val t = tmp("graft_log_schevo_feed_readd")
    TableLog.enableFeed(t)
    TableLog.create(spark, t, Seq((1L, 2L)).toDF("k", "v"))
    TableLog.dropColumn(spark, t, "v")
    // old feed links physically carry "v"; re-adding the name would
    // resurrect dead values on the by-name feed read — refused
    val e = intercept[RuntimeException](TableLog.append(spark, t,
      Seq((2L, 9L)).toDF("k", "v")))
    assert(e.getMessage.contains("freed"))
    // a fresh name is fine
    TableLog.append(spark, t, Seq((2L, 9L)).toDF("k", "v2"))
    assert(TableLog.readFeed(spark, t).count() == 2)
  }

  test("deleteMor CDC capture: the typed feed delivers the deleted rows; silver from the feed alone tracks bronze") {
    val t = tmp("graft_log_delmor_cdc")
    val sv = tmp("graft_log_delmor_cdc_sv")
    TableLog.enableCdcFeed(t)
    TableLog.create(spark, t,
      spark.range(1000).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartition(4, $"k"),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    keyDelete(t, "k",
      spark.range(20).select(($"id" * 50 + 1).as("k")))
    // the feed's delete half is exactly the 20 deleted rows
    val feed = TableLog.readFeed(spark, t)
    val dels = feed.where($"_change_type" === "delete")
    assert(dels.count() == 20)
    assert(dels.where($"k" % 50 =!= 1).count() == 0)
    // silver derived from the FEED ALONE equals bronze live
    TableLog.applyCdc(spark, sv,
      TableLog.readFeed(spark, t, withVersion = true), "k")
    val liveT = TableLog.read(spark, t)
    val liveS = TableLog.read(spark, sv)
    assert(liveS.exceptAll(liveT).isEmpty && liveT.exceptAll(liveS).isEmpty)
    // a second MOR delete captures only the NEWLY deleted rows
    keyDelete(t, "k",
      spark.range(10).select(($"id" * 100 + 2).as("k")))
    val dels2 = TableLog.readFeed(spark, t)
      .where($"_change_type" === "delete")
    assert(dels2.count() == 30)
  }

  test("mergeCow on a STRING key: string-stat prune, untouched files carry by reference, latest-wins content") {
    val t = tmp("graft_log_mcowstr")
    val base = spark.range(8000).select(
      concat(lit("k-"), lpad($"id".cast("string"), 6, "0")).as("key"),
      ($"id" * 10).as("v"), lit("base").as("tag"))
    TableLog.create(spark, t,
      base.repartitionByRange(8, $"key").sortWithinPartitions("key"),
      strStatsCols = Seq("key"))
    val before = TableLog.snapshot(t).get
    val untouched = before.files.filterNot(f =>
      f.strStats.exists(st => st.col == "key" &&
        st.min <= "k-002099" && st.max >= "k-002000"))
    assert(untouched.size >= 5, "fixture: most files must not overlap")
    // update band k-002000..k-002099 + inserts past the key domain
    val src = spark.range(2000, 2100).select(
        concat(lit("k-"), lpad($"id".cast("string"), 6, "0")).as("key"),
        lit(-1L).as("v"), lit("upd").as("tag"))
      .unionByName(spark.range(10).select(
        concat(lit("zz-"), lpad($"id".cast("string"), 6, "0")).as("key"),
        lit(7L).as("v"), lit("ins").as("tag")))
    val ver = TableLog.mergeUpsert(spark, t, src, Seq("key"))
    // rewrite minimality: every non-overlapping file survives BY PATH
    val after = TableLog.snapshotAt(t, ver).get
    val afterPaths = after.files.map(_.path).toSet
    untouched.foreach(f => assert(afterPaths.contains(f.path),
      s"untouched file ${f.path} must carry by reference"))
    assert(after.rows == 8010)
    val back = TableLog.read(spark, t)
    assert(back.where($"tag" === "upd").count() == 100)
    assert(back.where($"tag" === "ins").count() == 10)
    assert(back.where($"key" === "k-002050").head.getLong(1) == -1L)
    assert(back.where($"key" === "k-001999").head.getLong(1) == 19990L)
    // applyCdc dispatches the same string path: typed batch onto a
    // string-keyed silver
    val sv = tmp("graft_log_cdcstr")
    val ch = spark.range(5).select(
      concat(lit("k-"), lpad($"id".cast("string"), 6, "0")).as("key"),
      $"id".as("v"), lit("c").as("tag"), lit("insert").as("_change_type"),
      lit(1L).as("_change_version"))
    TableLog.applyCdc(spark, sv, ch, "key")
    assert(TableLog.read(spark, sv).count() == 5)
    assert(TableLog.writeSpec(sv).strCols == Seq("key"))
  }

  test("committedTxnVersion: O(1) via the manifest txn high-water index; stale replays and opaque ids still correct") {
    val t = tmp("graft_log_txnhw")
    TableLog.create(spark, t, spark.range(5).toDF("id"))
    (0 until 6).foreach(i => TableLog.append(spark, t,
      spark.range(10 + i, 11 + i).toDF("id"), txnId = Some(s"ing#$i")))
    TableLog.append(spark, t, spark.range(99, 100).toDF("id"),
      txnId = Some("opaque-id"))
    // frontier hit, provably-new miss, stale replay (scan fallback),
    // opaque id (scan), never-seen stream
    assert(TableLog.committedTxnVersion(t, "ing#5") == Some(7L))
    assert(TableLog.committedTxnVersion(t, "ing#6").isEmpty)
    assert(TableLog.committedTxnVersion(t, "ing#2") == Some(4L))
    assert(TableLog.committedTxnVersion(t, "opaque-id") == Some(8L))
    assert(TableLog.committedTxnVersion(t, "other#0").isEmpty)
    // replayed append (same txn) is a no-op at the indexed fast path
    val v = TableLog.latestVersion(t)
    assert(TableLog.append(spark, t, spark.range(1).toDF("id"),
      txnId = Some("ing#5")) == 7L)
    assert(TableLog.latestVersion(t) == v)
    // the index is carried denormalized: the LATEST manifest alone
    // answers — drop every older manifest file and the frontier
    // lookups above still answer identically (scan-dependent shapes
    // excepted, by design)
    (1L until v).foreach { i =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t, "_log", f"v$i%08d.manifest")); ()
    }
    assert(TableLog.committedTxnVersion(t, "ing#5") == Some(7L))
    assert(TableLog.committedTxnVersion(t, "ing#6").isEmpty)
  }

  test("readAsOf: ts resolves to the newest version at-or-before; boundaries exact; vacuumed history refused") {
    val t = tmp("graft_log_asof")
    TableLog.create(spark, t, spark.range(10).toDF("id"))
    TableLog.append(spark, t, spark.range(10, 25).toDF("id"))
    TableLog.append(spark, t, spark.range(25, 30).toDF("id"))
    val Seq(t1, t2, t3) = (1L to 3L).map(v =>
      TableLog.commitTimestamp(t, v).get)
    // stamps are STRICTLY monotonic even when commits land in the same
    // millisecond (tryCommit stamps max(now, prev+1))
    assert(t1 < t2 && t2 < t3)
    // exact-boundary: ts == a commit's stamp resolves to THAT version
    assert(TableLog.versionAsOf(t, t1) == 1L)
    assert(TableLog.versionAsOf(t, t2) == 2L)
    // between-commits: newest at-or-before wins (t2 may be t1+1; when a
    // real gap exists, probe inside it)
    if (t2 - t1 > 1) assert(TableLog.versionAsOf(t, t1 + 1) == 1L)
    if (t3 - t2 > 1) assert(TableLog.versionAsOf(t, t3 - 1) == 2L)
    // future ts → latest; content matches the resolved snapshot
    assert(TableLog.versionAsOf(t, t3 + 1000000) == 3L)
    assert(TableLog.readAsOf(spark, t, t2).count() == 25)
    // predates v1 → descriptive refusal
    val e1 = intercept[RuntimeException](TableLog.versionAsOf(t, t1 - 1))
    assert(e1.getMessage.contains("predates"))
    // vacuum away v1's manifest (force: v3 is a delta; drop through a
    // checkpoint by appending past the interval)
    (4L to 10L).foreach(i =>
      TableLog.append(spark, t, spark.range(30 + i, 31 + i).toDF("id")))
    TableLog.vacuum(spark, t, keepVersions = 1, olderThanMs = 0L)
    val kept = (1L to 10L).filter(v =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(t, "_log", f"v$v%08d.manifest")))
    assert(kept.min > 1L, "fixture: vacuum must drop v1")
    // a ts inside the vacuumed prefix now errors as vacuumed history
    val e2 = intercept[RuntimeException](TableLog.versionAsOf(t, t1))
    assert(e2.getMessage.contains("vacuumed"))
    // retained range still resolves
    assert(TableLog.versionAsOf(t,
      TableLog.commitTimestamp(t, kept.max).get) == kept.max)
  }

  test("deleteWhere: NULL keys survive a range delete; feed tables refuse") {
    val t = tmp("graft_log_delw_null")
    TableLog.create(spark, t,
      Seq[(java.lang.Long, String)]((1L, "a"), (2500L, "b"), (null, "c"))
        .toDF("k", "v"),
      statsCols = Seq("k"))
    TableLog.delete(spark, t, col("k").between(2000, 2999))
    val back = TableLog.read(spark, t).select("v").orderBy("v")
      .collect().map(_.getString(0)).toSeq
    // the NULL-k row is kept: NULL is in no range
    assert(back == Seq("a", "c"))
    val f = tmp("graft_log_delw_feed")
    TableLog.enableFeed(f)
    TableLog.create(spark, f, Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](
      TableLog.delete(spark, f, col("k").between(0, 10)))
    assert(e.getMessage.contains("append-only"))
  }

  test("change feed: racing appenders publish concurrently, feed stays exact") {
    val t = tmp("graft_feed_race")
    TableLog.enableFeed(t)
    TableLog.create(spark, t, spark.range(100).toDF("id"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1000L, 2000L, 3000L).map { off =>
      new Thread(() => {
        start.await()
        try TableLog.append(spark, t, spark.range(off, off + 100).toDF("id"))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing appends must all succeed: $errs")
    // every appender also raced through publishFeed (idempotent links +
    // markers): the feed holds each row exactly once
    val feed = TableLog.readFeed(spark, t)
    assert(feed.count() == 400)
    assert(feed.select(countDistinct($"id")).head.getLong(0) == 400)
    // disableFeed is the sanctioned escape: deletes become legal again
    TableLog.disableFeed(t)
    TableLog.delete(spark, t, col("id").between(1000, 1099))
    assert(TableLog.read(spark, t).count() == 300)
  }

  test("deleteWhereIn: categorical delete prunes by string stats, rest carried by reference") {
    val t = tmp("graft_log_deli")
    // 4 files clustered by a string key: sources a..h, two per file
    val rows = (0 until 800).map(i => (i.toLong, s"src_${('a' + i / 100).toChar}"))
    TableLog.create(spark, t,
      rows.toDF("id", "src").repartitionByRange(4, $"src"),
      strStatsCols = Seq("src"))
    val before = TableLog.snapshot(t).get
    val untouched = before.files.filterNot(f =>
      f.strStats.exists(s => s.col == "src" &&
        TableLog.utf8Leq(s.min, "src_b") && TableLog.utf8Leq("src_b", s.max)))
    assert(untouched.size >= 2, "fixture: some files must not overlap")
    TableLog.delete(spark, t, col("src").isin("src_b"))
    val after = TableLog.snapshot(t).get
    assert(after.rows == 700)
    assert(TableLog.read(spark, t).where($"src" === "src_b").count() == 0)
    assert(TableLog.read(spark, t).count() == 700)
    val afterPaths = after.files.map(_.path).toSet
    untouched.foreach(f => assert(afterPaths.contains(f.path),
      s"untouched file ${f.path} must survive by reference"))
  }

  test("bloom stats: point lookups prune where range stats are blind") {
    val t = tmp("graft_log_bloom")
    // UNCLUSTERED key: every file's [min,max] range spans ~the whole
    // domain, so range stats keep everything — only a bloom can prune
    val df = spark.range(8000)
      .select((($"id" * 2654435761L) % 8000).as("k"), $"id".as("payload"))
      .repartition(8)
    TableLog.create(spark, t, df, statsCols = Seq("k"),
      bloomStatsCols = Seq("k"))
    // range stats are indeed blind on this layout
    assert(dataFilesScanned(t, col("k").between(42, 42)) == 8)
    // the bloom keeps only the file(s) that can hold the key
    val hit = dataFilesScanned(t, col("k") === 42L)
    assert(hit <= 3, s"bloom must prune most files, kept $hit")
    val row = scanWhere(t, col("k") === 42L).collect()
    assert(row.map(_.getLong(0)).toSeq == Seq(42L))
    // a value absent from the table: provably-empty result is exact
    assert(scanWhere(t, col("k") === 999999L).count() == 0)
    // files without a bloom are kept, never wrongly pruned
    TableLog.append(spark, t, Seq((999999L, -1L)).toDF("k", "payload"))
    assert(scanWhere(t, col("k") === 999999L)
      .collect().map(_.getLong(1)).toSeq == Seq(-1L))
    // maintenance that asks for them keeps blooms alive: post-compaction
    // point probes still prune and still find every row
    TableLog.compact(spark, t, targetBytes = 64L << 10)
    val afterCompact = TableLog.snapshot(t).get
    assert(afterCompact.files.forall(_.strStats.exists(_.col == "bloom:k")))
    assert(dataFilesScanned(t, col("k") === 42L) < afterCompact.files.size)
    assert(scanWhere(t, col("k") === 42L)
      .collect().map(_.getLong(0)).toSeq == Seq(42L))
    // ...and a copy-on-write delete rebuilds them for its rewritten files
    TableLog.delete(spark, t, col("k").between(42, 42))
    assert(scanWhere(t, col("k") === 42L).count() == 0)
    assert(TableLog.snapshot(t).get.files
      .forall(_.strStats.exists(_.col == "bloom:k")))
    // a saturated (high-NDV) file's bloom is OMITTED, not stored
    // useless: the file is kept by every probe, rows stay findable
    TableLog.append(spark, t,
      spark.range(1000000L, 1300000L).toDF("k").withColumn("payload", $"k"),
      bloomStatsCols = Seq("k"))
    assert(TableLog.snapshot(t).get.files
      .exists(_.strStats.forall(_.col != "bloom:k")),
      "the high-NDV files must carry no bloom")
    assert(scanWhere(t, col("k") === 1100000L)
      .collect().map(_.getLong(0)).toSeq == Seq(1100000L))
  }

  test("bloom point lookups find rows in every type cohort of a widened column") {
    val t = tmp("graft_log_bloom_widen")
    // unclustered keys, so range stats keep every file of a cohort and
    // only the blooms can prune; each cohort hashes its keys under the
    // type its files were written with
    def batch(lo: Long, n: Long, files: Int) = spark.range(0, n, 1, files)
      .select((($"id" * 2654435761L) % n + lo).as("id"), $"id".as("payload"))
    val asInt = col("id").cast("int").as("id")
    TableLog.create(spark, t, batch(0, 4000, 4).select(asInt, $"payload"),
      statsCols = Seq("id"), bloomStatsCols = Seq("id"))
    TableLog.widenColumnType(spark, t, "id",
      org.apache.spark.sql.types.LongType)
    TableLog.append(spark, t, batch(4000, 2000, 2).select(asInt, $"payload"),
      statsCols = Seq("id"), bloomStatsCols = Seq("id"))
    TableLog.append(spark, t, batch(6000, 2000, 2),
      statsCols = Seq("id"), bloomStatsCols = Seq("id"))
    assert(TableLog.read(spark, t).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // one key from the int create, the int append and the long append,
    // each probed with a long and with an int literal
    for (v <- Seq(1234L, 4321L, 7654L); probe <- Seq[Any](v, v.toInt)) {
      val q = scanWhere(t, col("id") === probe)
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(v),
        s"point lookup of $v (${probe.getClass.getSimpleName}) lost its row")
      val rangeKept = dataFilesScanned(t, col("id").between(v, v))
      val bloomKept = dataFilesScanned(t, col("id") === probe)
      assert(bloomKept < rangeKept,
        s"bloom must prune $v: kept $bloomKept of $rangeKept range-kept files")
    }
  }

  test("maintainAgg absorbs a copy-on-write delete as an O(delta) refresh") {
    val src = tmp("graft_mv_del_src")
    val mv = tmp("graft_mv_del_mv")
    TableLog.create(spark, src,
      spark.range(4000)
        .select(($"id" % 4).as("g"), $"id".as("k"), lit(1L).as("x"))
        .repartitionByRange(8, $"k"),
      statsCols = Seq("k"))
    TableLog.maintainAgg(spark, src, mv, Seq("g"), Seq("x"))
    // the delete's delta is (removes = affected files, adds = their
    // remainders); the maintained aggregate must absorb it without a
    // rescan, exactly like an append or merge delta
    TableLog.delete(spark, src, col("k").between(1000, 1999))
    TableLog.maintainAgg(spark, src, mv, Seq("g"), Seq("x"))
    val got = TableLog.read(spark, mv).orderBy("g")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == (0L to 3L).map(g => (g, 750L, 750L)))
  }

  test("deleteWhere on an evolved table: absent columns stay null, schema preserved") {
    val t = tmp("graft_log_del_evo")
    TableLog.create(spark, t,
      spark.range(100).toDF("k").repartitionByRange(2, $"k"),
      statsCols = Seq("k"))
    TableLog.append(spark, t,
      spark.range(100, 200).toDF("k").withColumn("tag", lit("new"))
        .repartitionByRange(2, $"k"), statsCols = Seq("k"))
    // the range touches only PRE-evolution files: their rewrite must run
    // under the manifest schema (tag = null), not their physical one
    TableLog.delete(spark, t, col("k").between(0, 49))
    val back = TableLog.read(spark, t)
    assert(back.columns.toSeq == Seq("k", "tag"))
    assert(back.count() == 150)
    assert(back.where($"tag".isNull).count() == 50)
    assert(back.where($"tag" === "new").count() == 100)
  }

  test("feed → dedup ingest chain: bronze lake to deduped silver lake, exactly-once") {
    val bronze = tmp("graft_chain_bronze")
    val silver = tmp("graft_chain_silver")
    val index = tmp("graft_chain_index")
    TableLog.enableFeed(bronze)
    TableLog.create(spark, bronze, Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // in-batch dup of 1
      (3L, "colorless green ideas sleep furiously tonight")
    ).toDF("doc_id", "text"))
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_chain_ckpt").toString)
    // the whole training-data ingest loop in one composition: the raw
    // lake's change feed, deduped against the persistent signature index,
    // landing in a deduped lake — every stage exactly-once
    def drain(): Unit = graft.streaming.StreamingOps.dedupIngestStream(spark,
      silver, index, TableLog.changeFeedStream(spark, bronze),
      "doc_id", "text", bands = 4, streamId = "b2s", checkpoint = ckpt)
    drain()
    def silverIds() = TableLog.read(spark, silver)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(silverIds() == Seq(1L, 3L))
    // replay with the same checkpoint: nothing re-delivered, nothing re-deduped
    drain()
    assert(silverIds() == Seq(1L, 3L))
    // a duplicate of a document ingested in an EARLIER batch is dropped by
    // the DURABLE index (the in-memory watermark path would have forgotten
    // it); the genuinely new document flows through
    TableLog.append(spark, bronze, Seq(
      (4L, "the quick brown fox jumps over the lazy dog"), // cross-batch dup of 1
      (5L, "a completely different sentence about spark lakes")
    ).toDF("doc_id", "text"))
    drain()
    assert(silverIds() == Seq(1L, 3L, 5L))
  }

  test("compactClustered: generations merge, probes stay pruned, counters carry") {
    val t = tmp("graft_log_cc")
    // three interleaved generations, each range-clustered over the FULL
    // key space — the shape a per-batch clustered incremental ingest
    // leaves behind (tight per-file stats, file count ∝ batches)
    def gen(i: Int) = spark.range(3000).toDF("k")
      .filter($"k" % 3 === i).repartitionByRange(4, $"k")
    TableLog.create(spark, t, gen(0), statsCols = Seq("k"),
      counterDelta = Map("docs" -> 1000L))
    TableLog.append(spark, t, gen(1), statsCols = Seq("k"),
      counterDelta = Map("docs" -> 1000L))
    TableLog.append(spark, t, gen(2), statsCols = Seq("k"),
      counterDelta = Map("docs" -> 1000L))
    val beforeFiles = TableLog.snapshot(t).get.files.size
    val probe = col("k").between(100, 150)
    val beforeProbe = dataFilesScanned(t, probe)
    val sumBefore = TableLog.read(spark, t).agg(sum($"k")).head.getLong(0)
    val v = TableLog.compactClustered(spark, t, nFiles = 4,
      clusterCol = "k")
    // content identical (the rewrite row-audit also enforces this)
    assert(TableLog.read(spark, t).count() == 3000)
    assert(TableLog.read(spark, t).agg(sum($"k")).head.getLong(0) == sumBefore)
    // layout collapsed to nFiles; a narrow probe touches ~1 file instead
    // of one per generation
    assert(TableLog.snapshot(t).get.files.size == 4)
    assert(beforeFiles >= 12)
    assert(beforeProbe >= 3)
    val afterProbe = dataFilesScanned(t, probe)
    assert(afterProbe <= 2 && afterProbe < beforeProbe)
    // counters preserved verbatim by the layout-only rewrite
    assert(TableLog.commitStats(t, v).get._2("docs") == 3000L)
  }

  test("compact() carries string stats: categorical pruning survives compaction") {
    val t = tmp("graft_log_cmp_str")
    val df = spark.range(4000).select($"id",
      concat(lit("src"), ($"id" / 500).cast("long")).as("source"))
    TableLog.create(spark, t,
      df.repartitionByRange(8, $"source").sortWithinPartitions("source"),
      strStatsCols = Seq("source"))
    assert(dataFilesScanned(t, col("source").isin("src0")) <= 2)
    // the byte-targeted compact (not just compactClustered) must forward
    // strStatsCols — a silent drop here would keep reads correct but
    // degrade every categorical probe to a full-file scan
    TableLog.compact(spark, t, targetBytes = 8 * 1024)
    val files = TableLog.snapshot(t).get.files
    // the passthrough proof: every rewritten file carries the stat
    // (before the fix, compact passed strStatsCols = Nil to rewrite and
    // the entries vanished); prune TIGHTNESS depends on coalesce's
    // chunking and is compactClustered's contract, not this one's
    assert(files.forall(_.strStats.exists(_.col == "source")),
      s"string stats dropped by compact(): ${files.map(_.strStats)}")
    assert(scanWhere(t, col("source").isin("src0")).count() == 500)
  }

  test("pinned counters: set-semantics, create refuses a non-empty table") {
    val t = tmp("graft_log_pins")
    TableLog.create(spark, t, spark.range(10).toDF("id"),
      counterDelta = Map("docs" -> 10L), counterPin = Map("bits" -> 8L))
    assert(TableLog.snapshot(t).get.counters ==
      Map("docs" -> 10L, "bits" -> 8L))
    // an agreeing pin is a no-op — the additive delta still accumulates
    TableLog.append(spark, t, spark.range(10, 15).toDF("id"),
      counterDelta = Map("docs" -> 5L), counterPin = Map("bits" -> 8L))
    assert(TableLog.snapshot(t).get.counters ==
      Map("docs" -> 15L, "bits" -> 8L))
    // a DISAGREEING pin fails the append loudly (the old additive
    // mechanism would have silently summed 8 + 9 = 17 and every later
    // probe would block under a width no row was written with)
    val e = intercept[IllegalArgumentException] {
      TableLog.append(spark, t, spark.range(15, 20).toDF("id"),
        counterPin = Map("bits" -> 9L))
    }
    assert(e.getMessage.contains("pinned counter 'bits'"))
    assert(TableLog.snapshot(t).get.counters("bits") == 8L)
    // a key cannot be both delta and pin in one commit
    intercept[IllegalArgumentException] {
      TableLog.append(spark, t, spark.range(20, 21).toDF("id"),
        counterDelta = Map("x" -> 1L), counterPin = Map("x" -> 1L))
    }
    // create on a table with committed versions is refused — re-running
    // an index build must not fold its deltas into the existing totals
    val e2 = intercept[IllegalArgumentException] {
      TableLog.create(spark, t, spark.range(5).toDF("id"),
        counterDelta = Map("docs" -> 5L))
    }
    assert(e2.getMessage.contains("create"))
    assert(TableLog.snapshot(t).get.counters("docs") == 15L)
    // rewrite's counterSet remains the sanctioned way to SWING a pin
    TableLog.rewrite(spark, t, "rebalance",
      counterSet = Map("bits" -> 9L))(df => df)
    assert(TableLog.snapshot(t).get.counters ==
      Map("docs" -> 15L, "bits" -> 9L))
  }

  test("manifest format gate: newer, older, unstamped or stat-less " +
      "manifests refuse") {
    val t = tmp("graft_log_format")
    TableLog.create(spark, t, spark.range(10).toDF("k"))
    TableLog.append(spark, t, spark.range(10, 20).toDF("k"))
    val logDir = java.nio.file.Paths.get(t, "_log")
    val v2 = logDir.resolve("v00000002.manifest")
    // every manifest this build writes is stamped with the current
    // dialect and carries every field the reader requires
    val body = new String(java.nio.file.Files.readAllBytes(v2),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(body.startsWith(s"format=${TableLog.ManifestFormat}\n"))
    Seq("kind=", "ts=", "schema=", ";#", ";$").foreach(k =>
      assert(body.contains(k), s"v2 lacks $k:\n$body"))
    def tree(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(t)
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally w.close()
    }
    // each variant refuses on read AND on write, naming the table, the
    // version and what is missing, and leaves every file as it was
    def refuses(variant: String, missing: String): Unit = {
      java.nio.file.Files.write(v2,
        variant.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val before = tree()
      val reads = intercept[RuntimeException](TableLog.snapshot(t))
      val writes = intercept[RuntimeException](
        TableLog.append(spark, t, spark.range(20, 30).toDF("k")))
      Seq(reads, writes).foreach { e =>
        assert(e.getMessage.contains(s"manifest v2 of $t"), e.getMessage)
        assert(e.getMessage.contains(missing), e.getMessage)
      }
      assert(tree() == before, s"a refused read or write changed $t")
    }
    // a future-dialect manifest refuses instead of misparsing (the
    // entry codec is NOT forward-compatible: an unknown segment is an
    // AIOOBE at best, a wrong value at worst)
    refuses(body.replaceFirst("format=\\d+", "format=9999"),
      "is format 9999, newer")
    // below the floor: an unstamped manifest, one stamped format 1, and
    // ones missing a field this dialect always writes
    refuses(body.replaceFirst("format=\\d+\n", ""), "is unstamped")
    refuses(body.replaceFirst("format=\\d+", "format=1"),
      "is format 1, older")
    refuses(body.replaceFirst("schema=[^\n]*\n", ""), "schema=")
    refuses(body.replaceFirst("ts=[^\n]*\n", ""), "ts=")
    refuses(body.replaceAll(";#[0-9]+", ""), ";#<bytes>")
    refuses(body.replaceAll(";\\$[0-9]+", ""), ";$<rows>")
    // the untouched manifest reads again: nothing was lost
    java.nio.file.Files.write(v2,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(TableLog.read(spark, t).count() == 20L)
  }

  test("racing replaceWhere × 2 (disjoint slices) + append: every " +
      "commit serializable, final rows exact, no staged file lost " +
      "or orphaned") {
    val t = tmp("graft_log_rw_race")
    // 8 range-clustered files of 1000 keys each; the two replaced
    // slices each prune to exactly one (disjoint) file
    TableLog.create(spark, t,
      spark.range(8000L).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(8, $"k"), statsCols = Seq("k"))
    def slice(lo: Long, hi: Long) = (s: TableLog.Snapshot) =>
      s.files.filter(f => f.stats.find(_.col == "k").forall(st =>
        st.min < hi && lo <= st.max))
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[Throwable, Long]]()
    def th(body: => Long) = new Thread(() => {
      start.await()
      try results.add(Right(body))
      catch { case e: Throwable => results.add(Left(e)) }
    })
    val threads = Seq(
      // replace [1000,2000) with 400 rows of v=41
      th(TableLog.replaceWhere(spark, t, $"k" >= 1000 && $"k" < 2000,
        spark.range(1000L, 1400L).select($"id".as("k"),
          lit(41L).as("v")).coalesce(1), prune = slice(1000, 2000))),
      // replace [5000,6000) with 250 rows of v=42
      th(TableLog.replaceWhere(spark, t, $"k" >= 5000 && $"k" < 6000,
        spark.range(5000L, 5250L).select($"id".as("k"),
          lit(42L).as("v")).coalesce(1), prune = slice(5000, 6000))),
      // and an unrelated concurrent append of 300 rows
      th(TableLog.append(spark, t,
        spark.range(9000L, 9300L).select($"id".as("k"),
          lit(43L).as("v")).coalesce(1), statsCols = Seq("k"))))
    threads.foreach(_.start()); start.countDown()
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toSeq
    assert(rs.forall(_.isRight), s"all three writers must succeed: $rs")
    // serialized: versions 2, 3, 4 in some order — no commit lost
    assert(rs.flatMap(_.toOption).sorted == Seq(2L, 3L, 4L))
    val back = TableLog.read(spark, t)
    assert(back.count() == 8000L - 1000 + 400 - 1000 + 250 + 300)
    assert(back.where($"v" === 41).count() == 400)
    assert(back.where($"v" === 42).count() == 250)
    assert(back.where($"v" === 43).count() == 300)
    assert(back.where($"k" >= 1400 && $"k" < 2000).count() == 0,
      "the replaced slice must not resurrect")
    assert(back.where($"k" >= 5250 && $"k" < 6000).count() == 0)
    // no orphans: every .parquet on disk is referenced by SOME
    // committed version (lost-CAS keep-side rewrites were deleted)
    val referenced = (1L to TableLog.latestVersion(t)).flatMap(v =>
      TableLog.snapshotAt(t, v).toSeq.flatMap(s =>
        s.files.map(_.path) ++ s.dels.map(_.file.path))).toSet
    val dataDir = java.nio.file.Paths.get(t, "data")
    val onDisk = java.nio.file.Files.walk(dataDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(t).relativize(p).toString)
      .toSet
    assert(onDisk == referenced,
      s"staged-file leak or loss: onDisk-only=${(onDisk -- referenced)
        .take(4)}, referenced-only=${(referenced -- onDisk).take(4)}")
  }

  test("replaceWhere scanRows derives from the manifest: exact with " +
      "a pending deletion vector on the slice, KEY sidecars fall " +
      "back to the counting scan, auditScan cross-checks") {
    val t = tmp("graft_log_rw_meta")
    TableLog.create(spark, t,
      spark.range(4000L).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor)
    // a positional (DV) delete of 100 rows INSIDE the slice about to
    // be replaced: the metadata-derived live count must subtract them.
    // All slices are strictly INTERIOR to one file's key block —
    // range-partition boundaries are sample-approximate, so a slice
    // touching a boundary could overlap two files and flake the
    // planned-read pins below.
    TableLog.delete(spark, t, $"k" >= 1250 && $"k" < 1350)
    assert(TableLog.snapshot(t).get.dels.nonEmpty, "DV must be pending")
    def pruneRange(lo: Long, hi: Long) = (s: TableLog.Snapshot) =>
      s.files.filter(f => f.stats.find(_.col == "k").forall(st =>
        st.min < hi && lo <= st.max))
    spark.conf.set("spark.graft.mutation.auditScan", "true")
    try {
      val planned0 = TableLog.morFilesPlanned.get()
      TableLog.replaceWhere(spark, t, $"k" >= 1200 && $"k" < 1800,
        spark.range(1200L, 1500L).select($"id".as("k"),
          lit(40L).as("v")).coalesce(1), prune = pruneRange(1200, 1800))
      // audit mode scans TWICE on purpose (rewrite + cross-check);
      // the require inside pinned derived == counted
      assert(TableLog.morFilesPlanned.get() - planned0 == 2)
      // manifest rows exact: 4000 − 100 (DV, inside the slice) −
      // 500 (live slice rest) + 300 new
      assert(TableLog.snapshot(t).get.rows == 4000L - 600 + 300)
      assert(TableLog.read(spark, t).count() == 3700)
    } finally spark.conf.unset("spark.graft.mutation.auditScan")
    // default mode: ONE planned read of the (single) affected file
    val planned1 = TableLog.morFilesPlanned.get()
    TableLog.replaceWhere(spark, t, $"k" >= 3200 && $"k" < 3800,
      spark.range(3200L, 3300L).select($"id".as("k"),
        lit(50L).as("v")).coalesce(1), prune = pruneRange(3200, 3800))
    assert(TableLog.morFilesPlanned.get() - planned1 == 1)
    assert(TableLog.read(spark, t).count() == 3700 - 600 + 100)
    // KEY sidecar pending on the slice → data-dependent removal →
    // counting-scan fallback (≥2 planned reads), still exact
    keyDelete(t, "k",
      spark.range(3200L, 3250L).toDF("k"))
    val planned2 = TableLog.morFilesPlanned.get()
    TableLog.replaceWhere(spark, t, $"k" >= 3200 && $"k" < 3800,
      spark.range(3200L, 3210L).select($"id".as("k"),
        lit(60L).as("v")).coalesce(1), prune = pruneRange(3200, 3800))
    assert(TableLog.morFilesPlanned.get() - planned2 >= 2,
      "KEY-fenced slices must fall back to the counting scan")
    assert(TableLog.read(spark, t).count() == 3150 - 50 + 10)
    assert(TableLog.read(spark, t).where($"v" === 60).count() == 10)
  }

  test("mutation.auditScan=true cross-checks liveRowsOf against the " +
      "counting scan on every group-rewrite face (plain, DV-fenced, " +
      "key-fenced)") {
    // the metadata-derived audit count (liveRowsOf) replaced a real
    // scan on six mutation faces; this pin keeps the derivation honest
    // by running each face with the cross-check scan enabled — the
    // require inside liveRowsOf fires on any drift between manifest
    // arithmetic and counted rows
    spark.conf.set("spark.graft.mutation.auditScan", "true")
    try {
      def mk(name: String): String = {
        val t = tmp(name)
        TableLog.create(spark, t,
          spark.range(2000L).select($"id", ($"id" % 7).as("v"))
            .repartition(4), statsCols = Seq("id"))
        TableLog.append(spark, t,
          spark.range(2000L, 4000L).select($"id", ($"id" % 7).as("v"))
            .repartition(4), statsCols = Seq("id"))
        t
      }
      // plain table, every face in sequence
      val t = mk("graft_auditscan_plain")
      TableLog.delete(spark, t, col("id").between(100, 300))              // −201
      TableLog.update(spark, t, col("id").between(500, 700),
        Map("v" -> ($"v" + 100L)))
      TableLog.mergeUpsert(spark, t,
        spark.range(900L, 1100L).select($"id", ($"id" % 5).as("v")),
        Seq("id"))             // all matched
      TableLog.replaceWhere(spark, t, $"id".between(1500, 1600),
        spark.range(1500L, 1601L).select($"id", lit(0L).as("v"))
          .coalesce(1))        // −101 +101
      TableLog.compactSmall(spark, t, smallBytes = 1L << 20)
      TableLog.zOrder(spark, t, 4, "id", (0L, 4000L), "v", (0L, 110L))
      TableLog.zOrderMaintain(spark, t)
      assert(TableLog.read(spark, t).count() == 4000 - 201)
      assert(TableLog.read(spark, t)
        .where($"id".between(500, 700) && $"v" >= 100L).count() == 201)
      // DV-fenced: the derivation must subtract the vectored positions
      val t2 = mk("graft_auditscan_dv")
      underMode(t2, TableLog.Mor)(
        TableLog.delete(spark, t2, $"id".between(50, 60)))  // −11, pending DV
      assert(TableLog.snapshot(t2).get.dels.nonEmpty, "DV must be pending")
      TableLog.delete(spark, t2, col("id").between(0, 200))               // −190 live
      assert(TableLog.read(spark, t2).count() == 4000 - 201)
      // key-fenced: falls back to the counting scan, still exact
      val t3 = mk("graft_auditscan_key")
      underMode(t3, TableLog.Mor)(keyDelete(t3, "id",
        spark.range(10L, 20L).toDF("id")))            // −10, key sidecar
      TableLog.delete(spark, t3, col("id").between(0, 100))               // −91 live
      assert(TableLog.read(spark, t3).count() == 4000 - 101)
    } finally spark.conf.unset("spark.graft.mutation.auditScan")
  }
}
