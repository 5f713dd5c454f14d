package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Plan-property assertions for the flagship registry queries: the scan
  * must be pruned and pushed-down, aggregation must be two-phase, and
  * dimension joins must broadcast. These are the properties that decide
  * 100 TB behavior — asserting them here pins them against regressions
  * (a plan that silently reads all columns or shuffles a dimension would
  * still pass the row-level oracle). */
class PlanPropertiesSpec extends SparkSpec {

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    root.collect { case s: FileSourceScanExec => s }
  }

  test("q1 aggregation prunes the lineitem scan to the referenced columns") {
    val df = SparkEntry.queries("e5_q1_agg")(spark, sf("0.001"))
    val s = scans(df)
    assert(s.nonEmpty)
    val read = s.head.requiredSchema.fieldNames.toSet
    // 11-column table, 5 referenced
    assert(read == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount"), s"read too much: $read")
  }

  test("filters reach the parquet scan as pushed-down predicates") {
    val df = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
      .where(col("l_quantity") >= 30 && col("l_returnflag") === "R")
      .select("l_orderkey")
    val s = scans(df).head
    val pushed = s.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,30") &&
      pushed.contains("EqualTo(l_returnflag,R)"), s"not pushed: $pushed")
    assert(s.requiredSchema.fieldNames.length <= 3) // key + filter cols only
  }

  test("grouped aggregation is two-phase (map-side partial + final)") {
    val df = SparkEntry.queries("e5_q1_agg")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("five-way join broadcasts all three dimension sides") {
    val df = SparkEntry.queries("e6_join_5way")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected 3 broadcast joins, got $broadcasts")
  }

  test("whole-stage codegen covers the text-signature pipeline") {
    val df = SparkEntry.queries("e2_simhash_buckets")(spark, sf("0.001"))
    df.collect() // AQE: codegen stages only materialize in the FINAL plan
                 // of THIS dataframe (count() would plan a different query)
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators render with a "*(stageId)" prefix; the projection
    // evaluating the signature expression must carry one
    val sigLine = plan.linesIterator
      .find(_.contains("simhash_bits")).getOrElse("")
    assert(sigLine.contains("*("),
      s"signature projection fell out of codegen:\n$plan")
  }

  test("top-k rewrite plan has no Window or global Sort operator") {
    val df = SparkEntry.queries("e7_topk_agg")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    assert(plan.contains("top_k_by_value") || plan.contains("TopK"),
      s"bounded-heap aggregate missing:\n$plan")
  }

  test("brute-force ANN top-k is TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("e3_topk_cosine")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition heap + driver merge:\n$plan")
  }

  test("incremental embed probe broadcasts the batch — index rows never shuffle") {
    // the cosine verify must be a broadcast join (batch side) over the
    // pruned index scan: a regression to a shuffle join moves the index's
    // ~1 KB quantized rows through an exchange (measured 4.3s of an 11.7s
    // batch at sf10) while still passing the row-level oracle
    val df = SparkEntry.queries("e2_incremental_embed")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    // the cached decisions relation embeds its AQE-executed plan; judge
    // the FINAL plan only (the Initial Plan section legitimately shows
    // the pre-AQE sort-merge alternatives)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(finalPlan).nonEmpty,
      s"expected broadcast probe joins:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"index-side sort-merge join crept into the probe:\n$finalPlan")
  }

  test("bloom runtime filter (InjectRuntimeFilter) is LIVE over a " +
      "log-table fact ⨝ filtered-dim join") {
    import graft.sinks.TableLog
    import spark.implicits._
    // Round-19 audit pin: Spark's InjectRuntimeFilter must treat the
    // GraftLogRelation leaf as a filter-application-side scan (it runs
    // BEFORE the late PruneLogScan expansion on live sessions), so a
    // selective dim filter grows a bloom might_contain() on the fact
    // side. The engine's own planning-time key prune (dynJoin) covers
    // collectable dims; bloom is the 100 TB fallback for dims past the
    // collect gate — this pin FAILS if that fallback ever goes dead
    // (e.g. a nondeterministic expression sneaks into the scan path
    // and the injected filter is stripped, the round-18 failure mode).
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_plan_bloomrf").toString
    TableLog.create(spark, s"$tmp/fact",
      spark.range(200000).select($"id".as("k"), ($"id" % 1000).as("v"))
        .repartitionByRange(8, $"k"),
      statsCols = Seq("k"))
    spark.range(20000).select(($"id" * 10).as("k"), ($"id" % 101).as("tag"))
      .write.parquet(s"$tmp/dim")
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      graft.plans.PruneLogScan.DYN_KEY -> "false")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = spark.read.parquet(s"$tmp/dim").where($"tag" === 7)
      val q = TableLog.scan(spark, s"$tmp/fact").join(dim, Seq("k"))
        .agg(sum($"v").as("s"))
      assert(q.queryExecution.optimizedPlan.toString
          .contains("might_contain"),
        "no bloom runtime filter in the optimized plan:\n" +
          q.queryExecution.optimizedPlan)
      q.collect()
      assert(q.queryExecution.executedPlan.toString
          .contains("might_contain"),
        "the bloom runtime filter was stripped before execution:\n" +
          q.queryExecution.executedPlan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def mkRlTable(mode: String, layout: org.apache.spark.sql
      .DataFrame => org.apache.spark.sql.DataFrame)
      : (String, String, graft.sinks.TableLog.Snapshot) = {
    import graft.sinks.TableLog
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft_plan_rlgf_$mode").toString
    val cat = s"graft_rlgf_$mode"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = '$mode')")
    TableLog.append(spark, s"$wh/ns/t",
      layout(spark.range(160000).toDF("id")), statsCols = Seq("k"))
    (wh, cat, TableLog.snapshot(s"$wh/ns/t").get)
  }

  /** Round-20 audit pin (COW): Spark's
    * `RowLevelOperationRuntimeGroupFiltering` must DELIVER its
    * runtime `_file` filter to `SupportsRuntimeV2Filtering` on the
    * group-based route and the scan must then plan 1-of-N files. The
    * DuckDB oracle can't see this (answers are identical with the
    * rule dead — every file just rewrites), so the pin reads the
    * [[graft.catalog.RowLevelDiag]] tap: a `filter:` event = the
    * filter arrived, `planned:1` = it narrowed. The predicate is on
    * a column with NO manifest stats, so nothing else can prune. */
  test("runtime group filter is RECEIVED and narrows the COW " +
      "(ReplaceData) DELETE scan to the one matching file") {
    import graft.catalog.RowLevelDiag
    import graft.sinks.TableLog
    import spark.implicits._
    // one v value per shuffle partition = v=7 rows live in exactly
    // ONE file (hash collisions merge values but never split one)
    val (wh, cat, before) = mkRlTable("cow", df =>
      df.select($"id".as("k"), ($"id" % 16).as("v"))
        .repartition(16, ($"id" % 16).cast("int")))
    val total = before.files.size
    assert(total > 1)
    RowLevelDiag.drain() // discard events from unrelated statements
    spark.sql(s"DELETE FROM $cat.ns.t WHERE v = 7")
    // events are path-tagged (kind:<n>:<path>): keep this table's only
    val ev = RowLevelDiag.drain()
      .filter(e => e.split(":", 3).lift(2).contains(s"$wh/ns/t"))
    assert(ev.exists(_.startsWith("filter:")),
      s"SupportsRuntimeV2Filtering never received the runtime group " +
        s"filter on the COW route — " +
        s"RowLevelOperationRuntimeGroupFiltering is dead; events: $ev")
    assert(ev.exists(_.startsWith("planned:1:")),
      s"the COW scan must plan exactly the 1 matching file of " +
        s"$total after group filtering; events: $ev")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t")
      .as[Long].head() == 150000L)
    val after = TableLog.snapshot(s"$wh/ns/t").get
    assert(before.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet).size == total - 1,
      "COW must rewrite only the group-filtered file")
  }

  /** Round-20 audit pin (MOR): vanilla Spark's group-filter rule
    * matches ReplaceData ONLY (bytecode-verified), so the delta
    * route's runtime narrowing comes from join dynamic pruning
    * instead — `PartitionPruning` over `SupportsRuntimeV2Filtering`
    * (SPARK-35779) hands the scan an IN-set of the source's join
    * keys, and the manifest stats turn it into file pruning. The
    * deliverable shape is a semi-join condition (`WHERE k IN
    * (subquery)` — GDPR key sweeps, changeset deletes): a delta
    * MERGE instead projects `monotonically_increasing_id()` for its
    * cardinality check between the join and the scan, and
    * `CleanupDynamicPruningFilters` strips DPP over any
    * nondeterministic projection (documented negative, probed in
    * tools.OptAudit §D). This pin FAILS if the positive path goes
    * dead (stats columns out of `filterAttributes`, or the IN-set
    * shape no longer parsing). */
  test("join dynamic pruning delivers the IN-subquery source keys " +
      "to the MOR (WriteDelta) DELETE scan and narrows it to 1 file") {
    import graft.catalog.RowLevelDiag
    import graft.sinks.TableLog
    import spark.implicits._
    // k-disjoint files (range layout) so a source-key IN-set prunes
    // exactly; all source keys live inside one file's k-range
    val (wh, cat, before) = mkRlTable("mor", df =>
      df.select($"id".as("k"), lit(0L).as("v"))
        .repartitionByRange(16, $"id"))
    val total = before.files.size
    assert(total > 1)
    // the source must look selective to PartitionPruning (a real
    // Filter over a scan) and broadcast (the DPP subquery rides a
    // broadcast under reuseBroadcastOnly)
    val srcPath = java.nio.file.Files
      .createTempDirectory("graft_plan_rlgf_src").toString
    // source keys sit MID-file (75000/75050, expected boundaries at
    // multiples of 10000): the write's range boundaries come from
    // RangePartitioner sampling seeded by rdd.id — a JVM-global
    // counter — so in a long-running suite a boundary near 70000
    // could wobble into (70000, 70050] and the two keys would
    // legitimately straddle two files (observed once at 356 tests);
    // 5000 keys from any boundary is far outside sampling error
    spark.range(100).select(($"id" + 75000L).as("k"),
      ($"id" % 50).as("tag")).write.mode("overwrite").parquet(srcPath)
    spark.read.parquet(srcPath).where($"tag" === 0).select($"k")
      .createOrReplaceTempView("rlgf_mor_src")
    RowLevelDiag.drain()
    spark.sql(s"DELETE FROM $cat.ns.t " +
      "WHERE k IN (SELECT k FROM rlgf_mor_src)")
    // events are path-tagged (kind:<n>:<path>): keep this table's only
    val ev = RowLevelDiag.drain()
      .filter(e => e.split(":", 3).lift(2).contains(s"$wh/ns/t"))
    assert(ev.exists(_.startsWith("filter:")),
      s"SupportsRuntimeV2Filtering never received the join DPP " +
        s"IN-set on the MOR route; events: $ev")
    assert(ev.exists(_.startsWith("planned:1:")),
      s"the MOR DELETE scan must plan exactly the 1 file overlapping " +
        s"the source keys of $total; events: $ev")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t " +
      "WHERE k >= 75000 AND k < 75100").as[Long].head() == 98L,
      "the two tag=0 keys must be deleted")
    val after = TableLog.snapshot(s"$wh/ns/t").get
    assert(before.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "MOR delete must rewrite zero data files")
    assert(after.dels.count(_.keyCol == "__pos__") == 1,
      "MOR delete must land exactly one folded DV sidecar")
  }

  /** Row-level and predicate-overwrite pruning run through the
    * declarative face's tree pruner: an OR of equalities, an equality
    * on a bloom-only column and an OR overwrite filter each plan only
    * the files whose stats can match. The delta route gets no runtime
    * group filter, so the [[graft.catalog.RowLevelDiag]] tap's
    * `planned:` count is exactly what the pushed filters pruned; the
    * overwrite's is the files it replaced. The table ends equal to a
    * plain-collection model of the three statements. */
  test("row-level DELETE/UPDATE and a predicate overwrite prune by OR " +
      "and bloom through the tree pruner") {
    import graft.catalog.RowLevelDiag
    import graft.sinks.TableLog
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_plan_rlprune").toString
    val cat = "graft_rlprune"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, tag STRING, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'bloomStatsCols' = 'tag', " +
      "'rowLevelMode' = 'mor')")
    val path = s"$wh/ns/t"
    TableLog.append(spark, path, spark.range(8000).select($"id".as("k"),
        concat(lit("g"), $"id".cast("string")).as("tag"),
        ($"id" % 7).as("v")).repartitionByRange(8, $"k"),
      statsCols = Seq("k"), bloomStatsCols = Seq("tag"))
    val total = TableLog.snapshot(path).get.files.size
    assert(total == 8)
    var model = (0L until 8000L).map(k => (k, s"g$k", k % 7))
    def filesHolding(ks: Long*): Int =
      TableLog.snapshot(path).get.files.count(f =>
        f.stats.find(_.col == "k").exists(st =>
          ks.exists(k => st.min <= k && k <= st.max)))
    def planned(stmt: String): Int = {
      RowLevelDiag.drain()
      spark.sql(stmt)
      val ev = RowLevelDiag.drain()
        .filter(e => e.split(":", 3).lift(2).contains(path))
      val ns = ev.filter(_.startsWith("planned:"))
        .map(_.split(":", 3)(1).toInt)
      assert(ns.nonEmpty, s"no row-level scan planned: $stmt; events: $ev")
      ns.max
    }
    def sameAsModel(): Unit =
      assert(spark.sql(s"SELECT k, tag, v FROM $cat.ns.t")
        .as[(Long, String, Long)].collect().sorted.toSeq == model.sorted)
    // an OR of equalities prunes like the IN-list it is
    val orFiles = filesHolding(1L, 7000L)
    assert(orFiles < total)
    val nDel = planned(s"DELETE FROM $cat.ns.t WHERE k = 1 OR k = 7000")
    assert(nDel == orFiles, s"DELETE planned $nDel files, " +
      s"$orFiles can hold k = 1 or k = 7000 (of $total)")
    model = model.filterNot(r => r._1 == 1L || r._1 == 7000L)
    sameAsModel()
    // an equality on a column with blooms but no range stats
    val tagFiles = filesHolding(4321L)
    val nUpd = planned(s"UPDATE $cat.ns.t SET v = -1 WHERE tag = 'g4321'")
    assert(nUpd >= tagFiles && nUpd < total,
      s"UPDATE planned $nUpd of $total files for one tag")
    model = model.map(r => if (r._2 == "g4321") (r._1, r._2, -1L) else r)
    sameAsModel()
    // a predicate overwrite whose filter is an OR replaces only the
    // files it can touch
    val before = TableLog.snapshot(path).get.files.map(_.path).toSet
    val owFiles = filesHolding(2L, 6500L)
    assert(owFiles < before.size)
    val fresh = Seq((2L, "n2", 20L), (6500L, "n6500", 65L))
    fresh.toDF("k", "tag", "v").writeTo(s"$cat.ns.t")
      .overwrite($"k" === 2L || $"k" === 6500L)
    val after = TableLog.snapshot(path).get.files.map(_.path).toSet
    assert((before -- after).size == owFiles,
      s"overwrite replaced ${(before -- after).size} files, $owFiles " +
        s"can hold k = 2 or k = 6500 (of ${before.size})")
    model = model.filterNot(r => r._1 == 2L || r._1 == 6500L) ++ fresh
    sameAsModel()
  }
}
