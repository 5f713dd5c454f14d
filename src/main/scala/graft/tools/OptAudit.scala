package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.TableLog

/** Silent-dead-optimization audit (the round-18 lesson generalized):
  * a feature can be oracle-green while a whole Spark optimizer
  * integration is OFF, because the oracle checks answers, not plans.
  * This tool probes the three integration points the dead runtime
  * group filter pointed at, on REAL log tables, and prints what the
  * plans actually contain:
  *
  *   A. `InjectRuntimeFilter` — does a bloom runtime filter
  *      materialize on the fact side of a log-table ⨝ dim join, on
  *      (1) a plain-parquet control, (2) `TableLog.scan` on a vanilla
  *      session (PruneLogScan expands in the LAST optimizer batch,
  *      AFTER InjectRuntimeFilter — so injection must handle the
  *      unexpanded GraftLogRelation leaf), and (3) the same scan on a
  *      GraftExtensions session (expansion happens mid
  *      operator-optimization, BEFORE InjectRuntimeFilter)? The
  *      engine's own planning-time key prune (`dynJoin`) is disabled
  *      for the probe — bloom is exactly the fallback for dims too
  *      big to collect at planning.
  *
  *   B. AQE skew-join — when a MOR key-sidecar anti-join is forced to
  *      sort-merge (delete set too big to broadcast) and the data is
  *      heavily skewed on the delete key column, does
  *      `OptimizeSkewedJoin` split the hot partition (`skew=true` in
  *      the final adaptive plan)?
  *
  *   C. The catalog MERGE cardinality check — what join shape and how
  *      many exchanges does the canonical two-clause MERGE plan, and
  *      how does wall time scale with table size (the check must ride
  *      the join, not add a pass)?
  *
  *   D. V2 row-level runtime filtering per route (round 20): does the
  *      COW route's group filter and the MOR route's join dynamic
  *      pruning each DELIVER to `SupportsRuntimeV2Filtering` and
  *      narrow the scan ([[graft.catalog.RowLevelDiag]] witness)?
  *      Includes the documented negative (delta MERGE: the
  *      cardinality row-id is nondeterministic and
  *      CleanupDynamicPruningFilters strips DPP over it) and D3, the
  *      composition probe — a COW DELETE whose group-filter subquery
  *      contains a skewed MOR anti-join: the filter must still arrive
  *      while AQE skew-splits inside the subquery. D3 also encodes a
  *      hard-won granularity fact: AQE splits a skewed partition by
  *      MAP-OUTPUT chunks, so a cohort of ONE parquet row group is
  *      structurally unsplittable regardless of skew — the probe
  *      fences TWO files (real cohorts at scale span many chunks).
  *
  *   E. The readChangeFeed faces (round 19) must read O(version
  *      window), not O(feed) — task-input-metrics counts on the batch
  *      `startingVersion` window and the streaming incremental drain.
  *
  *   sbt "runMain graft.tools.OptAudit"
  *
  * Prints one JSON line (plus per-face plan excerpts on stderr).
  */
object OptAudit {
  def main(args: Array[String]): Unit = {
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_optaudit")
      .toString

    // ── A. InjectRuntimeFilter over log-table joins ─────────────────
    val factRows = 4000000L
    val factDf = spark.range(factRows)
      .select($"id".as("k"), ($"id" % 1000).as("v"))
      .repartitionByRange(32, $"k")
    val factLog = s"$tmp/fact_log"
    TableLog.create(spark, factLog, factDf, statsCols = Seq("k"))
    val factPq = s"$tmp/fact_pq"
    factDf.write.parquet(factPq)
    // dim covers the whole key domain; tag=7 keeps ~1/101 of it
    spark.range(400000L)
      .select(($"id" * 10).as("k"), ($"id" % 101).as("tag"))
      .write.parquet(s"$tmp/dim_pq")

    def withConfs(s: SparkSession, kv: (String, String)*)(f: => Unit)
        : Unit = {
      val prev = kv.map { case (k, _) =>
        k -> scala.util.Try(s.conf.get(k)).toOption }
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      try f finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    // a pending KEY sidecar, built the way production builds one: a
    // CDC batch of deletes applied onto a `mor` table
    def keyDelete(t: String, keys: DataFrame): Long =
      TableLog.applyCdc(spark, t, keys
        .withColumn(TableLog.changeTypeCol, lit("delete"))
        .withColumn(TableLog.changeVersionCol, lit(1L)), "k")
    val bloomConfs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      graft.plans.PruneLogScan.DYN_KEY -> "false")

    def bloomProbe(s: SparkSession, fact: => DataFrame)
        : (Boolean, Boolean, Long) = {
      var res: (Boolean, Boolean, Long) = (false, false, -1L)
      withConfs(s, bloomConfs: _*) {
        val dim = s.read.parquet(s"$tmp/dim_pq").where(col("tag") === 7)
        val q = fact.join(dim, Seq("k")).agg(sum(col("v")).as("s"))
        val opt = q.queryExecution.optimizedPlan.toString
        val n = q.collect()(0).getLong(0)
        val exec = q.queryExecution.executedPlan.toString
        System.err.println(s"--- bloom optimized plan head ---\n" +
          opt.linesIterator.take(12).mkString("\n"))
        res = (opt.contains("might_contain"),
          exec.contains("might_contain"), n)
      }
      res
    }
    val (aPqOpt, aPqExec, aPqSum) =
      bloomProbe(spark, spark.read.parquet(factPq))
    val (aScanOpt, aScanExec, aScanSum) =
      bloomProbe(spark, TableLog.scan(spark, factLog))
    val ext = graft.GraftSessions.withExtensions(spark)
    val (aExtOpt, aExtExec, aExtSum) =
      bloomProbe(ext, TableLog.scan(ext, factLog))
    require(aPqSum == aScanSum && aPqSum == aExtSum,
      s"bloom probe answers diverged: $aPqSum / $aScanSum / $aExtSum")

    // ── B. AQE skew-join on the MOR anti-join ───────────────────────
    // 70% of rows share one key; files hash-partitioned on v so every
    // file spans the key domain (no stat prune); delete keys scattered
    val skewRows = 3000000L
    val skewLog = s"$tmp/mor_log"
    // v must be INCOMPRESSIBLE: partition sizes AQE sees are
    // compressed map-output bytes, and a run of constant hot-key rows
    // with a cyclic payload compresses under the skew threshold
    TableLog.create(spark, skewLog,
      spark.range(skewRows).select(
        when($"id" % 10 < 7, lit(42L)).otherwise($"id").as("k"),
        xxhash64($"id").as("v")).repartition(16,
        ($"id" % 16).cast("int")),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    // keys ≡ 7 (mod 10) EXIST in the table (non-hot rows keep k = id
    // with id % 10 ∈ {7,8,9}), so the key set really hits rows
    val delVer = keyDelete(skewLog,
      spark.range(4000).select(($"id" * 700 + 7).as("k")))
    require(TableLog.snapshot(skewLog).get.dels.nonEmpty,
      s"skew probe: v$delVer committed no sidecar")
    var (bSkewed, bCount, bJoin) = (0, -1L, "none")
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0") {
      val q = TableLog.read(spark, skewLog).groupBy()
        .agg(count(lit(1)).as("c"), max($"v").as("m"))
      bCount = q.collect()(0).getLong(0)
      require(bCount < skewRows, s"skew probe: anti-join dropped nothing")
      val exec = q.queryExecution.executedPlan.toString
      bSkewed = "skew=true".r.findAllIn(exec).length
      bJoin =
        if (exec.contains("SortMergeJoin")) "smj"
        else if (exec.contains("BroadcastHashJoin")) "bhj"
        else if (exec.contains("ShuffledHashJoin")) "shj"
        else "none"
      System.err.println(s"--- skew executed plan (joins) ---\n" +
        exec.linesIterator.filter(l =>
          l.contains("Join") || l.contains("skew")).mkString("\n"))
    }

    // ── B2. OptimizeShuffleWithLocalRead over a log-table join ─────
    // static planning keeps the SMJ (autoBroadcast -1 statically is
    // not set here: static 10MB default sees a small dim and
    // broadcasts at plan time, so instead force the RUNTIME
    // conversion shape: static threshold too small for the ESTIMATE,
    // adaptive threshold large enough for the MEASURED size) — AQE
    // converts to broadcast and the local-read rule should then turn
    // the fact side's shuffle read into mapper-local partitions
    // ("AQEShuffleRead local"), erasing the wasted exchange.
    var (b2Local, b2Join) = (0, "none")
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "64m",
      graft.plans.PruneLogScan.DYN_KEY -> "false") {
      val dim = spark.read.parquet(s"$tmp/dim_pq").where(col("tag") === 7)
      val q = TableLog.scan(spark, factLog).join(dim, Seq("k"))
        .agg(sum(col("v")).as("s"))
      q.collect()
      val exec = q.queryExecution.executedPlan.toString
      b2Local = "AQEShuffleRead local".r.findAllIn(exec).length
      b2Join =
        if (exec.contains("BroadcastHashJoin")) "bhj"
        else if (exec.contains("SortMergeJoin")) "smj" else "none"
    }

    // ── C. MERGE cardinality-check shape + scaling ──────────────────
    val cat = "graft_oa"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$tmp/wh")
    graft.plans.ResolveGraftCatalogReads.install(spark)
    spark.sql(s"CREATE NAMESPACE $cat.oa")
    def mergeAt(name: String, files: Int, rowsPerFile: Long)
        : (Double, Int, Boolean) = {
      spark.sql(s"CREATE TABLE $cat.oa.$name (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('statsCols' = 'k')")
      val n = files * rowsPerFile
      TableLog.append(spark, s"$tmp/wh/oa/$name",
        spark.range(n).select($"id".as("k"), ($"id" % 97).as("v"))
          .repartitionByRange(files, $"k"))
      // source touches every file: scattered updates + a few inserts
      spark.range(10000)
        .select(($"id" * (n / 10000) + 1).as("k"), lit(-1L).as("v"))
        .createOrReplaceTempView("oa_src")
      val sqlText =
        s"""MERGE INTO $cat.oa.$name t USING oa_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
      val plan = spark.sql("EXPLAIN EXTENDED " + sqlText)
        .collect()(0).getString(0)
      val exch = "Exchange".r.findAllIn(plan).length
      val mergeRows = plan.contains("MergeRows")
      System.err.println(s"--- merge $name physical plan ---\n" +
        plan.linesIterator.dropWhile(!_.contains("Physical Plan"))
          .take(30).mkString("\n"))
      val (_, t) = timed(spark.sql(sqlText))
      (t, exch, mergeRows)
    }
    val (c16, c16Ex, c16Mr) = mergeAt("m16", 16, 200000L)
    val (c64, c64Ex, c64Mr) = mergeAt("m64", 64, 200000L)

    // ── D. V2 row-level runtime filtering, per route (round 20) ────
    // Spark 4.1's RowLevelOperationRuntimeGroupFiltering matches
    // ReplaceData ONLY (bytecode-verified), so the two routes have
    // DIFFERENT runtime-narrowing paths: COW gets the group-filter
    // subquery (DISTINCT _file of matching rows), MOR/delta gets join
    // dynamic pruning (PartitionPruning over SupportsRuntimeV2
    // Filtering — an IN-set of the MERGE source's join keys, turned
    // into file pruning by the manifest stats). This section probes
    // BOTH on real catalog tables and prints what the row-level scan
    // actually received (RowLevelDiag) plus the plans' dynamic-
    // pruning/skew markers.
    def rlProbe(name: String, mode: String, layoutRange: Boolean,
        stmtOf: String => String): (Seq[String], String) = {
      spark.sql(s"CREATE TABLE $cat.oa.$name (k BIGINT, v BIGINT) " +
        s"TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = '$mode')")
      val df0 = spark.range(160000L)
      val df =
        if (layoutRange)
          df0.select($"id".as("k"), lit(0L).as("v"))
            .repartitionByRange(16, $"id")
        else df0.select($"id".as("k"), ($"id" % 16).as("v"))
          .repartition(16, ($"id" % 16).cast("int"))
      TableLog.append(spark, s"$tmp/wh/oa/$name", df)
      spark.range(100)
        .select(($"id" + 70000L).as("k"), ($"id" % 50).as("tag"))
        .write.mode("overwrite").parquet(s"$tmp/rl_src_$name")
      spark.read.parquet(s"$tmp/rl_src_$name")
        .where(col("tag") === 0).select(col("k"), lit(9L).as("nv"))
        .createOrReplaceTempView("oa_rl_src")
      val stmt = stmtOf(s"$cat.oa.$name")
      graft.catalog.RowLevelDiag.drain()
      val plan = spark.sql("EXPLAIN EXTENDED " + stmt)
        .collect()(0).getString(0)
      graft.catalog.RowLevelDiag.drain() // EXPLAIN's own scan builds
      System.err.println(s"--- $name ($mode) optimized+physical ---\n" +
        plan.linesIterator
          .dropWhile(!_.contains("Optimized Logical Plan"))
          .take(40).mkString("\n"))
      spark.sql(stmt)
      val ev = graft.catalog.RowLevelDiag.drain()
      (ev, if (plan.toLowerCase.contains("dynamicpruning"))
        "dynamicpruning" else "none")
    }
    // cow DELETE: the group-filter subquery (positive control)
    val (dCowEv, dCowMark) = rlProbe("rl_cow", "cow",
      layoutRange = false,
      t => s"DELETE FROM $t WHERE v = 7")
    // mor MERGE: join DPP is structurally STRIPPED in vanilla Spark —
    // the delta rewrite's cardinality row-id projects
    // monotonically_increasing_id() between the join and the scan,
    // and CleanupDynamicPruningFilters keeps DPP only over
    // NodeWithOnlyDeterministicProjectAndFilter (documented negative)
    val (dMorMergeEv, dMorMergeMark) = rlProbe("rl_mor_m", "mor",
      layoutRange = true,
      t => s"MERGE INTO $t t USING oa_rl_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv")
    // mor DELETE with an IN-subquery condition: rewrites to a semi
    // join with a deterministic path to the scan — DPP delivers the
    // source keys and the manifest stats prune files (positive)
    val (dMorSemiEv, dMorSemiMark) = rlProbe("rl_mor_d", "mor",
      layoutRange = true,
      t => s"DELETE FROM $t WHERE k IN (SELECT k FROM oa_rl_src)")

    // ── D3. group filter × skew-split anti-join (composition) ──────
    // The r19 directive's open question: when the COW group-filter
    // subquery's scan itself contains a MOR key-sidecar anti-join
    // (the relation is pinned PRE-heal, so pending sidecars ride the
    // subquery's ordinary read path) and AQE skew-splits that
    // anti-join, does the DISTINCT-_file result still arrive and
    // narrow the row-level scan? Layout: range files on k so the
    // sidecar (keys in one file's range) fences ONE file — the
    // self-heal rewrites only it, and the other 15 stay pruneable;
    // 70% of rows share one hot key so the forced-SMJ anti-join
    // skews; the DELETE predicate is on a no-stats marker column
    // confined to one file.
    var (d3Ev, d3Skew) = (Seq.empty[String], 0)
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0") {
      spark.sql(s"CREATE TABLE $cat.oa.rl_skew (k BIGINT, v BIGINT, " +
        "m BIGINT) TBLPROPERTIES ('statsCols' = 'k', " +
        "'rowLevelMode' = 'cow')")
      val n = 8000000L
      // k: 70% hot key 42; file layout RANGE on k so file 0 holds the
      // hot key + low keys, files 1.. hold the id tail; m = a 16-way
      // marker with NO stats, each value confined to one range file
      // by construction (m = floor over the same ordering column)
      TableLog.append(spark, s"$tmp/wh/oa/rl_skew",
        spark.range(n).select(
          when($"id" % 10 < 7, lit(42L)).otherwise($"id").as("k"),
          xxhash64($"id").as("v"),
          ($"id" / (n / 16)).cast("long").as("m"))
          .repartitionByRange(16, $"id"))
      // pending KEY sidecar whose keys hit rows and stat-confine to
      // the TOP TWO range files (ids in [6n/8, n) with id%10>=7 keep
      // k=id). TWO files matter: AQE splits a skewed reduce partition
      // by MAP-OUTPUT ranges, and one file = one parquet row group =
      // one map chunk = structurally unsplittable no matter the skew
      // (found via the rule's own debug: max 4.2 MB vs median 70 KB
      // yet "skewed partitions: 0") — a real cohort at scale spans
      // many chunks, so the probe must too.
      val delKeys = spark.range(100000)
        .select((lit(n) - 3L - $"id" * 10L).as("k")) // ≡ 7 (mod 10)
      // the sidecar is a `mor` table's form; the probe then runs the
      // group-based (`cow`) route over it
      val rl = s"$tmp/wh/oa/rl_skew"
      def mode(m: String) = TableLog.setWriteSpec(rl,
        TableLog.writeSpec(rl).copy(rowLevelMode = m))
      mode(TableLog.Mor)
      keyDelete(rl, delKeys)
      mode(TableLog.Cow)
      require(TableLog.snapshot(s"$tmp/wh/oa/rl_skew").get
        .dels.nonEmpty, "d3: sidecar must exist")
      // CONTROL: the same cohort anti-join (fenced file ⟕̸ sidecar
      // keys) as a TOP-LEVEL query — separates subquery-context
      // effects from volume/threshold effects
      org.apache.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.adaptive").setLevel(
        org.apache.log4j.Level.DEBUG)
      val ctl = TableLog.read(spark, s"$tmp/wh/oa/rl_skew")
        .where(col("m") >= 14)
        .groupBy().agg(count(lit(1)).as("c"), max(col("v")).as("x"))
      ctl.collect()
      org.apache.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.adaptive").setLevel(
        org.apache.log4j.Level.WARN)
      val ctlSkew = "skew=true".r.findAllIn(
        ctl.queryExecution.executedPlan.toString).length
      System.err.println(s"--- d3 CONTROL top-level cohort " +
        s"anti-join: skewSplits=$ctlSkew")
      System.err.println(ctl.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("Join") ||
          l.contains("Sort") || l.contains("Exchange") ||
          l.contains("AQEShuffleRead") || l.contains("Scan"))
        .mkString("\n"))
      // PURE-SPARK bisect: same skewed anti-join, with and without a
      // UNION branch above it in the same stage — isolates whether
      // the union (morScan's raw+cohort shape) blocks the skew rule
      val pureL = spark.range(n - n / 16L, n).select(
        when($"id" % 10 < 7, lit(42L)).otherwise($"id").as("k"),
        xxhash64($"id").as("v"))
      val pureR = spark.range(100)
        .select((lit(n) - 3L - $"id" * 10L).as("k"))
      val pureJ = pureL.hint("merge")
        .join(pureR, Seq("k"), "left_anti")
      val noUnion = pureJ.groupBy()
        .agg(count(lit(1)).as("c"), max(col("v")).as("x"))
      noUnion.collect()
      val noUnionSkew = "skew=true".r.findAllIn(
        noUnion.queryExecution.executedPlan.toString).length
      val withUnion = pureJ.select(col("k"), col("v"))
        .union(spark.range(1000).select($"id".as("k"),
          xxhash64($"id").as("v")))
        .groupBy().agg(count(lit(1)).as("c"), max(col("v")).as("x"))
      withUnion.collect()
      val withUnionSkew = "skew=true".r.findAllIn(
        withUnion.queryExecution.executedPlan.toString).length
      System.err.println(s"--- d3 pure bisect: noUnion=$noUnionSkew " +
        s"withUnion=$withUnionSkew")
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.execution.QueryExecution]()
      val ql = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(name: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = plans.add(qe)
        override def onFailure(name: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(ql)
      graft.catalog.RowLevelDiag.drain()
      try {
        spark.sql(s"DELETE FROM $cat.oa.rl_skew WHERE m >= 14")
        org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
      } finally spark.listenerManager.unregister(ql)
      d3Ev = graft.catalog.RowLevelDiag.drain()
      import scala.jdk.CollectionConverters._
      // executedPlan.toString does NOT print nested subquery plans —
      // the group-filter subquery (where the anti-join and any skew
      // split live) hides inside InSubqueryExec/ScalarSubquery
      // expressions; walk them recursively
      def planDump(p: org.apache.spark.sql.execution.SparkPlan)
          : String = {
        val sb = new StringBuilder(p.toString)
        p.foreach { node =>
          node.expressions.foreach(_.foreach {
            case s: org.apache.spark.sql.execution.ScalarSubquery =>
              sb.append("\n").append(planDump(s.plan))
            case in: org.apache.spark.sql.execution.InSubqueryExec =>
              sb.append("\n").append(planDump(in.plan))
            case _ => ()
          })
        }
        sb.toString
      }
      d3Skew = plans.asScala.map(qe =>
        "skew=true".r.findAllIn(planDump(qe.executedPlan)).length).sum
      if (sys.env.contains("GRAFT_OPTAUDIT_DUMP"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/optaudit_d3_plans.txt"),
          plans.asScala.map(qe => planDump(qe.executedPlan))
            .mkString("\n===== NEXT QE =====\n"))
      System.err.println(s"--- d3 group-filter x skew: events=$d3Ev " +
        s"skewSplits=$d3Skew over ${plans.size} captured executions")
    }

    // ── E. readChangeFeed faces: version windows bound the I/O ─────
    // The round-19 faces route through V1 buildScan (batch) and
    // GraftChangesStream (streaming). Both derive their file set from
    // the manifest/feed-link VERSION window, so a bounded read must
    // cost O(window), not O(feed) — this probe counts records READ
    // (task input metrics), which a read-all-then-filter regression
    // would inflate ~10x while every oracle stays green.
    def recordsReadDuring(f: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        f
        org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
      } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    spark.sql(s"CREATE TABLE $cat.oa.rcf (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    val rcfPath = s"$tmp/wh/oa/rcf"
    TableLog.enableCdcFeed(rcfPath)
    (0 until 10).foreach { i =>
      TableLog.append(spark, rcfPath,
        spark.range(i * 10000L, (i + 1) * 10000L)
          .select($"id".as("k"), ($"id" % 97).as("v")))
    }
    val frontier = TableLog.latestVersion(rcfPath)
    val eFull = recordsReadDuring {
      spark.read.option("readChangeFeed", "true")
        .table(s"$cat.oa.rcf").selectExpr("count(*)").collect()
    }
    val eWin = recordsReadDuring {
      spark.read.option("readChangeFeed", "true")
        .option("startingVersion", frontier.toString)
        .table(s"$cat.oa.rcf").selectExpr("count(*)").collect()
    }
    // streaming face: drain all 10 versions, append ONE more, drain
    // again — the second drain must read O(one version)
    val ck = s"$tmp/rcf_ck"
    val outP = s"$tmp/rcf_out"
    def drainOnce(): Unit = {
      val q = spark.readStream.option("readChangeFeed", "true")
        .table(s"$cat.oa.rcf")
        .selectExpr("k", "v", "_change_type", "_change_version")
        .writeStream.format("parquet").option("path", outP)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(180000), "rcf probe drain timed out")
    }
    val eStreamFull = recordsReadDuring(drainOnce())
    TableLog.append(spark, rcfPath,
      spark.range(100000L, 101000L).select($"id".as("k"),
        ($"id" % 97).as("v")))
    val eStreamInc = recordsReadDuring(drainOnce())

    println(s"""{"tool":"OptAudit"""" +
      s""","bloom_parquet":{"opt":$aPqOpt,"exec":$aPqExec}""" +
      s""","bloom_logscan":{"opt":$aScanOpt,"exec":$aScanExec}""" +
      s""","bloom_logscan_ext":{"opt":$aExtOpt,"exec":$aExtExec}""" +
      s""","skew_splits":$bSkewed,"skew_join":"$bJoin"""" +
      s""","skew_rows":$bCount""" +
      s""","local_reads":$b2Local,"local_read_join":"$b2Join"""" +
      s""","merge16":{"sec":${f"$c16%.3f"},"exchanges":$c16Ex,"mergeRows":$c16Mr}""" +
      s""","merge64":{"sec":${f"$c64%.3f"},"exchanges":$c64Ex,"mergeRows":$c64Mr}""" +
      s""","rl_cow_delete":{"events":"${dCowEv.mkString(";")}","plan":"$dCowMark"}""" +
      s""","rl_mor_merge":{"events":"${dMorMergeEv.mkString(";")}","plan":"$dMorMergeMark"}""" +
      s""","rl_mor_semidelete":{"events":"${dMorSemiEv.mkString(";")}","plan":"$dMorSemiMark"}""" +
      s""","rl_groupfilter_x_skew":{"events":"${d3Ev.mkString(";")}","skew_splits":$d3Skew}""" +
      s""","rcf_batch_rows":{"full":$eFull,"window":$eWin}""" +
      s""","rcf_stream_rows":{"initial":$eStreamFull,"incremental":$eStreamInc}}""")
    spark.stop()
  }
}
