package graft

import graft.sinks.TableLog
import org.apache.spark.sql.functions._

/** Positional (deletion-vector) merge-on-read: `delete`/`update` on a
  * `rowLevelMode = mor` table — arbitrary-predicate zero-rewrite DML,
  * applied at read as a codegen'd scan filter on `_metadata.row_index`,
  * never an anti-join. */
class DvSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  private def mkTable(t: String, n: Int = 1000, parts: Int = 4): Unit = {
    val df = spark.range(n).select($"id".as("k"), ($"id" % 10).as("v"),
      concat(lit("u"), ($"id" % 97).cast("string")).as("who"))
    TableLog.create(spark, t,
      df.repartitionByRange(parts, $"k"), statsCols = Seq("k"),
      rowLevelMode = TableLog.Mor)
  }

  test("deleteDv: arbitrary predicate, zero rewrites, exact rows") {
    val t = tmp("graft_dv_del")
    mkTable(t)
    val before = TableLog.snapshot(t).get
    // a predicate NO key/range face can express: modulo + string
    val v = TableLog.delete(spark, t,
      col("v") === 3 && col("who") === "u13")
    assert(v == 2)
    val after = TableLog.snapshot(t).get
    // ZERO base-file rewrites: the data file set is untouched
    assert(after.files.map(_.path) == before.files.map(_.path))
    assert(after.dels.size == 1 && after.dels.head.keyCol == "__pos__")
    // exact SQL semantics, checked against the relational replay
    val want = spark.range(1000).select($"id".as("k"), ($"id" % 10).as("v"),
      concat(lit("u"), ($"id" % 97).cast("string")).as("who"))
      .where(!(col("v") === 3 && col("who") === "u13"))
      .orderBy("k").collect().toSeq
    val got = TableLog.read(spark, t).orderBy("k").collect().toSeq
    assert(got == want)
    assert(after.rows == want.size.toLong)
    // the audited count survives a second, overlapping positional
    // delete (already-vectored rows never recount)
    val v2 = TableLog.delete(spark, t, col("v") === 3)
    assert(v2 == 3)
    val want2 = want.filterNot(_.getLong(1) == 3L)
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == want2)
    assert(TableLog.snapshot(t).get.rows == want2.size.toLong)
    // no-match predicate: no-op at the current version
    assert(TableLog.delete(spark, t, col("who") === "nobody") == 3)
    // appends after the vector are untouched by it (identity fencing:
    // new files are never in the target list)
    TableLog.append(spark, t, Seq((5000L, 3L, "u13")).toDF("k", "v", "who"),
      statsCols = Seq("k"))
    assert(TableLog.read(spark, t).where($"k" === 5000).count() == 1)
    // a full rewrite MATERIALIZES the vectors away, byte-identically
    val rowsBefore = TableLog.read(spark, t).orderBy("k").collect().toSeq
    TableLog.compact(spark, t, 1L << 30)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == rowsBefore)
  }

  test("deleteDv prunes files from the predicate like the declarative face") {
    val t = tmp("graft_dv_prune")
    // 4 range-disjoint files on k
    mkTable(t, n = 2000, parts = 4)
    val before = TableLog.snapshot(t).get
    assert(before.files.size == 4)
    // range-expressible predicate + an extra conjunct: the DV path
    // must stat-prune to the one overlapping file (kept set), and the
    // vector must name only that file
    TableLog.delete(spark, t,
      col("k").between(100, 120) && col("v") =!= 5)
    val after = TableLog.snapshot(t).get
    val dvFiles = spark.read.parquet(s"$t/${after.dels.head.file.path}")
      .select("_dv_file").distinct().as[String].collect()
    assert(dvFiles.length == 1,
      s"vector should target exactly one pruned file, got $dvFiles")
    assert(TableLog.read(spark, t).count() ==
      2000 - (100 to 120).count(_ % 10 != 5))
  }

  test("row-level verbs refuse nondeterministic predicates on both routes; a refusal commits nothing") {
    val t = tmp("graft_dv_refuse")
    mkTable(t)
    val nd = intercept[Exception](
      TableLog.delete(spark, t, rand() < 0.5))
    assert(nd.getMessage.contains("deterministic"))
    val nu = intercept[Exception](
      TableLog.update(spark, t, rand() < 0.5, Map("v" -> lit(0L))))
    assert(nu.getMessage.contains("deterministic"))
    // the copy-on-write route refuses the same way
    underMode(t, TableLog.Cow) {
      val nc = intercept[Exception](
        TableLog.delete(spark, t, rand() < 0.5))
      assert(nc.getMessage.contains("deterministic"))
    }
    // no refusal committed data (versions 2 and 3 are the mode flips)
    assert(TableLog.latestVersion(t) == 3)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).count() == 1000)
  }

  test("deleteDv past maxPositions auto-falls-back to copy-on-write " +
      "with identical results") {
    val t = tmp("graft_dv_cow")
    mkTable(t)
    // 300 matched rows > cap 10 → the COW rewrite path, same predicate
    TableLog.setWriteSpec(t,
      TableLog.writeSpec(t).copy(maxDvPositions = 10))
    val v = TableLog.delete(spark, t, col("v").isin(1, 4, 7))
    assert(v == 3)
    val s = TableLog.snapshot(t).get
    // COW: no pending sidecar, exact SQL delete semantics
    assert(s.dels.isEmpty, "COW fallback must not leave a sidecar")
    val want = spark.range(1000).select($"id".as("k"), ($"id" % 10).as("v"),
      concat(lit("u"), ($"id" % 97).cast("string")).as("who"))
      .where(!col("v").isin(1, 4, 7)).orderBy("k").collect().toSeq
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == want)
    // audit: manifest row count tracks the rewrite exactly
    assert(s.rows == want.size.toLong)
    // rewritten files carry the caller's stats — pruning still works
    assert(s.files.forall(_.stats.exists(_.col == "k")))
  }

  test("aggregate pending DV weight past the bound materializes " +
      "sidecars before committing") {
    val t = tmp("graft_dv_agg")
    mkTable(t)
    val v1 = TableLog.delete(spark, t, col("v") === 1)
    assert(TableLog.snapshot(t).get.dels.size == 1)
    // bound of 1 byte: the pending vector from v1 is over it, so this
    // commit first materializes (one morMaintain commit), THEN adds
    // its own fresh vector — two versions ahead, one sidecar pending
    spark.conf.set("spark.graft.rowLevel.maxPendingDvBytes", "1")
    val v2 =
      try TableLog.delete(spark, t, col("v") === 2)
      finally spark.conf.unset("spark.graft.rowLevel.maxPendingDvBytes")
    assert(v2 == v1 + 2)
    val s = TableLog.snapshot(t).get
    assert(s.dels.size == 1 && s.dels.forall(_.ver == v2),
      "only the new commit's vector may pend after materialization")
    val want = spark.range(1000).select($"id".as("k"), ($"id" % 10).as("v"),
      concat(lit("u"), ($"id" % 97).cast("string")).as("who"))
      .where(col("v") =!= 1 && col("v") =!= 2).orderBy("k").collect().toSeq
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq == want)
    assert(s.rows == want.size.toLong)
  }

  test("updateDv: positional update needs no key — straddled values " +
      "that updateMor refuses update exactly") {
    val t = tmp("graft_dv_upd")
    mkTable(t)
    val before = TableLog.snapshot(t).get
    // rows share v values across the predicate boundary — updateMor
    // on key v would refuse (straddled-shared-key audit); positions
    // address rows exactly, so updateDv just works
    val v = TableLog.update(spark, t,
      col("k").between(100, 199) && col("v") === 7,
      Map("who" -> lit("redacted")))
    assert(v == 2)
    val after = TableLog.snapshot(t).get
    assert(before.files.map(_.path).toSet.subsetOf(
      after.files.map(_.path).toSet), "updateDv must rewrite no base file")
    assert(after.rows == before.rows, "update keeps the row count")
    val got = TableLog.read(spark, t)
    assert(got.where($"who" === "redacted").count() == 10)
    assert(got.where($"v" === 7 && $"k".between(100, 199) &&
      $"who" =!= "redacted").count() == 0)
    // rows OUTSIDE the predicate with the same v are untouched
    assert(got.where($"v" === 7).count() == 100)
    assert(got.count() == 1000)
    // set expressions read the PRE-update row
    TableLog.update(spark, t, col("k") === 7,
      Map("v" -> (col("v") + 100L)))
    assert(TableLog.read(spark, t).where($"k" === 7)
      .select("v").as[Long].head() == 107)
  }

  test("DV + key sidecars + schema ops + metadata columns compose") {
    val t = tmp("graft_dv_mix")
    mkTable(t)
    // v2: keyed MOR delete; v3: positional delete; v4: rename
    keyDelete(t, "k", Seq(10L, 20L).toDF("k"))
    TableLog.delete(spark, t, col("v") === 4 && col("k") < 100)
    TableLog.renameColumn(spark, t, "who", "actor")
    val got = TableLog.read(spark, t)
    assert(got.columns.toSeq == Seq("k", "v", "actor"))
    val want = 1000 - 2 /* keyed */ -
      (0 until 100).count(i => i % 10 == 4 && i != 10 /* 10 gone */)
    assert(got.count() == want.toLong)
    assert(TableLog.snapshot(t).get.rows == want.toLong)
    // morFold folds the two kinds separately (key fold + dv entries)
    TableLog.delete(spark, t, col("v") === 5 && col("k") < 50)
    val preFold = TableLog.snapshot(t).get
    assert(preFold.dels.count(_.keyCol == "__pos__") == 2)
    TableLog.morFold(spark, t)
    val folded = TableLog.snapshot(t).get
    assert(folded.dels.count(_.keyCol == "__pos__") == 1,
      "both vectors must fold into one")
    // round-20 race pin: the folded vector carries the MAX member
    // version (reads ignore DV versions; the writeDeltaCommit /
    // replaceFilesCommit `ver > planVersion` fence does not — a fold
    // stamped at vMin would hide a post-plan member from an in-flight
    // statement's fence)
    assert(folded.dels.find(_.keyCol == "__pos__").get.ver ==
      preFold.dels.filter(_.keyCol == "__pos__").map(_.ver).max,
      "folded DV must be stamped at the max member version")
    // keyed sidecars (the v2 delete wrote one entry per key file —
    // same-version entries share a run and fold too) keep the max
    // member version through the fold
    assert(folded.dels.filter(_.keyCol != "__pos__").map(_.ver).toSet ==
      Set(preFold.dels.filter(_.keyCol != "__pos__").map(_.ver).max))
    assert(TableLog.read(spark, t).count() ==
      got.count() - (0 until 50).count(i => i % 10 == 5))
    // morMaintain materializes everything away, results identical
    val rowsBefore = TableLog.read(spark, t).orderBy("k").collect().toSeq
    TableLog.morMaintain(spark, t, maxSidecars = 0)
    assert(TableLog.snapshot(t).get.dels.isEmpty)
    assert(TableLog.read(spark, t).orderBy("k").collect().toSeq ==
      rowsBefore)
  }

  test("predicates push into the parquet scan THROUGH a DV-pending " +
      "read (the probe projection is deterministic)") {
    val t = tmp("graft_dv_push")
    mkTable(t)
    TableLog.delete(spark, t, col("v") === 3 && col("who") === "u13")
    // the DV read path projects the probe columns at the scan; if any
    // of them were NONDETERMINISTIC (input_file_name once was),
    // PushPredicateThroughNonJoin would refuse to push a user filter
    // below the projection and the parquet scan would read everything
    val df = TableLog.read(spark, t).where(col("k") >= 900)
    val plan = df.queryExecution.executedPlan
    val root = plan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val scans = root.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata("PushedFilters")).mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(k,900)"),
      s"user predicate must reach the parquet scan under a pending " +
        s"deletion vector: $pushed")
    // k in [900,999] minus the one DV-deleted row in range (k=983:
    // 983%10==3 and 983%97==13)
    assert(df.count() == 99)
  }

  test("CDC feed captures positional deletes and updates as typed rows") {
    val t = tmp("graft_dv_cdc")
    mkTable(t, n = 200, parts = 2)
    TableLog.enableCdcFeed(t)
    TableLog.publishInitialSnapshot(t)
    TableLog.delete(spark, t, col("v") === 9 && col("k") < 100)
    val feed = TableLog.readFeed(spark, t)
    val dels = feed.where($"_change_type" === "delete")
    assert(dels.count() == 10)
    assert(dels.select("k").as[Long].collect().toSet ==
      (0 until 100).filter(_ % 10 == 9).map(_.toLong).toSet)
    TableLog.update(spark, t, col("k") === 42,
      Map("who" -> lit("x")))
    val feed2 = TableLog.readFeed(spark, t)
    assert(feed2.where($"_change_type" === "delete" && $"k" === 42)
      .count() == 1)
    assert(feed2.where($"_change_type" === "insert" && $"k" === 42 &&
      $"who" === "x").count() == 1)
    // the surviving state derived from the feed equals the table
    val state = feed2.where($"_change_type" === "insert")
      .drop("_change_type")
      .exceptAll(feed2.where($"_change_type" === "delete")
        .drop("_change_type"))
    assert(state.orderBy("k").collect().toSeq ==
      TableLog.read(spark, t).orderBy("k").collect().toSeq)
  }
}
