package graft

import graft.operators.JoinOps
import graft.sinks.ClickHouseSink
import org.apache.spark.sql.functions._

/** Plan-shape assertions for the scale mechanisms: bucketed co-located
  * joins, salted joins, and the ClickHouse write shape. These check the
  * PLAN, not just the rows — the property that must hold at 100 TB. */
class ScaleShapeSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no shuffle exchange") {
    val li = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
    val o = spark.read.parquet(sf("0.001") + "/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == li.count()) // every lineitem has its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hive-partitioned writes prune partitions at the scan") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.core.EventTime.toNanos(
        spark.read.parquet(sf("0.001") + "/events.parquet"))
      .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
      .write.partitionBy("day").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out)
      .where(col("day") === "2024-01-03")
    val plan = pruned.queryExecution.executedPlan.toString
    // the day filter must become a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"), s"expected partition pruning:\n$plan")
    assert(pruned.count() > 0)
    // directory count read should be 1 of ~31 days
    val allDays = new java.io.File(out).listFiles.count(_.getName.startsWith("day="))
    assert(allDays > 5)
  }

  test("o19 registry query partition-prunes the event_type filter") {
    val df = SparkEntry.queries("o19_partitioned_write")(spark, sf("0.001"))
    // the filtered read-back inside the query: its scan must carry the
    // event_type predicate as a PartitionFilter, not a data filter
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"), s"expected partition pruning:\n$plan")
    assert(df.count() > 0)
  }

  test("o20 registry query's bucketed tables join with no shuffle") {
    SparkEntry.queries("o20_bucketed_join")(spark, sf("0.001")).count()
    val sfx = sf("0.001").replaceAll("[^a-zA-Z0-9]", "_")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(s"g_orders_b_$sfx")
        .join(spark.table(s"g_cust_b_$sfx"), $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed registry tables must join shuffle-free:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("o21 partition-pruned ANN reads only the probed cell directories") {
    val df = SparkEntry.queries("o21_ann_partitioned")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("label"), s"expected probed-cell partition pruning:\n$plan")
    assert(df.count() == 10)
  }

  test("e10_pack_chunks broadcasts shard offsets, windows stay sharded") {
    val df = SparkEntry.queries("e10_pack_chunks")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    // the offsets side (one row per shard) must come back as a broadcast,
    // never a shuffle join against the document-sized side
    assert(plan.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast:\n$plan")
    // the per-row window is partitioned by (stream, shard) — bounded
    // partitions — not by the 5-value stream column alone
    assert(plan.contains("__shard"),
      s"row window must include the shard key:\n$plan")
    assert(df.count() > 0)
  }

  test("dynamic partition overwrite replaces only the incoming partitions") {
    import java.nio.file.{Files, Paths}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val out = Files.createTempDirectory("graft_dynover").toString
    val base = spark.read.parquet(sf("0.001") + "/events.parquet")
      .select($"event_id", $"user_id", $"event_type")
    base.write.mode("overwrite").partitionBy("event_type").parquet(out)
    def files(p: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(s"$out/event_type=$p")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    val viewBefore = files("view")
    val clickBefore = files("click")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      base.where($"event_type" === "click")
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // untouched partition: identical files; rewritten partition: new files
    assert(files("view") == viewBefore)
    assert(files("click") != clickBefore)
    // and no rows were lost anywhere
    assert(spark.read.parquet(out).count() == base.count())
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    spark.read.parquet(sf("0.001") + "/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val fact = spark.read.parquet(out)
    // the selective filter must sit ON the dim side as a real predicate —
    // a filtered in-memory Seq constant-folds into a LocalRelation with no
    // Filter node left for the pruning rule to extract, so the dim must be
    // a scan (parquet) carrying the filter
    val dimPath = s"${out}_dim"
    Seq(("purchase", 1), ("click", 0)).toDF("etype", "flag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("flag") === 1)
    val joined = fact.join(dim, fact("event_type") === dim("etype"))
    val plan = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery on the fact scan:\n$plan")
    assert(joined.count() > 0)
  }

  test("AQE splits skewed partitions in a sort-merge join") {
    val tuned = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~all rows vs a uniform right side: the classic
      // shape where a static plan stalls on one straggler task
      val left = spark.range(0, 80000).select(lit(0L).as("k"), col("id"))
        .union(spark.range(1, 100).select(col("id").as("k"), col("id")))
      val right = spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.hint("merge").join(right, "k")
      joined.collect() // AQE decisions only exist in the executed final plan
      val plan = joined.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("skew"),
        s"expected AQE skew-join handling in the final plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("MOR anti-join is AQE skew-splittable: no aggregate between the " +
      "join's sort and its shuffle (the delete-key side must NOT " +
      "distinct)") {
    import graft.sinks.TableLog
    // The round-19 audit found AQE's OptimizeSkewedJoin structurally
    // DEAD on every MOR key-sidecar read: the key side's .distinct()
    // planted a HashAggregate between the anti-join's Sort and its
    // shuffle stage, and the rule only matches Sort DIRECTLY over the
    // shuffle on BOTH sides. The distinct was redundant (sidecars are
    // deduped at write; left_anti tolerates duplicate build keys), so
    // morScan dropped it. This pin FAILS if the aggregate ever comes
    // back: a skewed hot key must get skew=true in the final plan.
    val t = java.nio.file.Files
      .createTempDirectory("graft_scale_skewmor").toString + "/t"
    TableLog.create(spark, t,
      spark.range(400000).select(
        when($"id" % 10 < 7, lit(42L)).otherwise($"id").as("k"),
        xxhash64($"id").as("v")).repartition(8, ($"id" % 8).cast("int")),
      statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
    // keys ≡ 7 (mod 10) exist (non-hot rows keep k = id, id%10 ∈ 7..9)
    keyDelete(t, "k",
      spark.range(500).select(($"id" * 700 + 7).as("k")))
    assert(TableLog.snapshot(t).get.dels.nonEmpty)
    val tuned = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = TableLog.read(spark, t).groupBy()
        .agg(count(lit(1)).as("c"), max($"v").as("m"))
      val c = q.collect()(0).getLong(0)
      assert(c < 400000, "the MOR delete must have dropped rows")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to split the hot delete-key partition of the " +
          s"MOR anti-join:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join returns exactly the plain join result") {
    val o = spark.read.parquet(sf("0.001") + "/orders.parquet")
    val c = spark.read.parquet(sf("0.001") + "/customer.parquet")
    val plain = o.join(c, $"o_custkey" === $"c_custkey")
      .select("o_orderkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = JoinOps.saltedJoin(o, c, "o_custkey", "c_custkey", salt = 8)
      .select("o_orderkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted == plain)
  }

  test("as-of join: inclusive latest-at-or-before semantics") {
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 10L, 50L),
      (4L, 20L, 500L)).toDF("event_id", "user_id", "us")
    val purchases = Seq((90L, 10L, 100L, 111L), (91L, 10L, 150L, 222L))
      .toDF("event_id", "user_id", "us", "vc")
    val got = JoinOps.asofJoin(clicks, purchases, "user_id", "us", "vc",
      asofCol = "pv", tieBreak = Seq("event_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(got(1L).contains(111L)) // same-instant purchase visible (inclusive)
    assert(got(2L).contains(222L)) // latest of the two priors
    assert(got(3L).isEmpty)        // before any purchase
    assert(got(4L).isEmpty)        // user with no purchases at all
  }

  test("ClickHouse DDL generation from engine output schemas") {
    val cfg = ClickHouseSink.Config(url = "jdbc:clickhouse://unused:8123/db",
      table = "mutation_event", orderByKey = Seq("MUTATION_EVENT_ID"))
    val ddl = ClickHouseSink.ddl(graft.core.Schemas.mutationEvent, cfg)
    assert(ddl.contains("`MUTATION_EVENT_ID` Int64"))
    assert(ddl.contains("`ENTREZ_GENE_ID` String"))
    assert(ddl.contains("ENGINE = MergeTree ORDER BY (MUTATION_EVENT_ID)"))
    val emb = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType), nullable = true)))
    assert(ClickHouseSink.ddl(emb, cfg.copy(orderByKey = Nil))
      .contains("`embedding` Nullable(Array(Float32))"))
  }

  test("compaction reduces file count without touching content") {
    import graft.sinks.TableLog
    val t = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString + "/t"
    val docs = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    TableLog.create(spark, t, docs.repartition(32))
    val before = TableLog.snapshot(t).get.files.size
    // the compaction transform, planned on the same snapshot: the
    // rewrite is NARROW — no exchange in the compaction plan
    val plan = TableLog.read(spark, t).coalesce(2)
      .queryExecution.executedPlan.toString
    TableLog.compact(spark, t, 32L * 1024 * 1024)
    val after = TableLog.snapshot(t).get.files.size
    assert(before == 32 && after < 4, s"$before -> $after")
    // content survives byte-for-byte (modulo order)
    val a = docs.collect().map(_.toSeq).toSet
    val b = TableLog.read(spark, t).collect().map(_.toSeq).toSet
    assert(a == b)
    assert(!plan.contains("Exchange"), plan)
  }

  test("z-order layout shrinks per-file spans on BOTH dimensions") {
    import graft.sinks.TableLog
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val li = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
      .select("l_partkey", "l_suppkey", "l_quantity")
    val r = li.agg(org.apache.spark.sql.functions.min("l_partkey"),
      org.apache.spark.sql.functions.max("l_partkey"),
      org.apache.spark.sql.functions.min("l_suppkey"),
      org.apache.spark.sql.functions.max("l_suppkey")).head()
    val keys = Seq("l_partkey", "l_suppkey")
    TableLog.create(spark, s"$tmp/z", li)
    TableLog.zOrder(spark, s"$tmp/z", nFiles = 16,
      "l_partkey", (r.getLong(0), r.getLong(1)),
      "l_suppkey", (r.getLong(2), r.getLong(3)))
    // single-column sort: perfect on its own column, useless on the other
    TableLog.create(spark, s"$tmp/single",
      li.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey"), statsCols = keys)
    // mean per-file min/max span of `c` as a fraction of the global
    // span, from the manifest stats: 1.0 = no file can be skipped
    def spanFraction(t: String, c: String): Double = {
      val st = TableLog.snapshot(t).get.files.map(_.stats.find(_.col == c).get)
      st.map(x => (x.max - x.min).toDouble).sum / st.size /
        math.max(1.0, (st.map(_.max).max - st.map(_.min).min).toDouble)
    }
    val zP = spanFraction(s"$tmp/z", "l_partkey")
    val zS = spanFraction(s"$tmp/z", "l_suppkey")
    val sP = spanFraction(s"$tmp/single", "l_partkey")
    val sS = spanFraction(s"$tmp/single", "l_suppkey")
    info(f"z: part=$zP%.2f supp=$zS%.2f | single-col: part=$sP%.2f supp=$sS%.2f")
    // z-order: BOTH dims well under the full span (skippable on either);
    // single-column sort: the unsorted dim covers ~the whole range
    assert(zP < 0.5 && zS < 0.5, f"z spans $zP%.2f/$zS%.2f")
    assert(sS > 0.9, f"single-col layout should not cluster l_suppkey: $sS%.2f")
    assert(zS < sS / 2, "z-order must beat single-column sort on the second dim")
    // the morton interleave itself round-trips bit-exactly
    assert(graft.functions.ZOrderLong.interleave(0xffffL, 0L) == 0xaaaaaaaaL)
    assert(graft.functions.ZOrderLong.interleave(0L, 0xffffL) == 0x55555555L)
  }

  test("column statistics flip a filtered dimension join to broadcast (no hints)") {
    // dimension whose FILE size exceeds the broadcast threshold (md5 hex
    // padding keeps parquet from compressing it away), but whose filtered
    // slice is tiny — visible only through ANALYZE TABLE column stats
    spark.range(20000)
      .select(col("id").as("k"), md5(col("id").cast("string")).as("pad"))
      .write.mode("overwrite").saveAsTable("cbo_dim")
    spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR COLUMNS k")
    val fact = spark.range(200000)
      .select((col("id") % 20000).as("fk"), col("id").as("v"))
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64KB")
      def planWith(cbo: Boolean): String = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        fact.join(spark.table("cbo_dim").where(col("k") <= 100),
            col("fk") === col("k"))
          .queryExecution.sparkPlan.toString // pre-AQE: the OPTIMIZER's choice
      }
      // without CBO the filter inherits the table's size estimate → too
      // big to broadcast; with CBO, FilterEstimation prices `k <= 100`
      // from min/max stats and the slice broadcasts — no hint anywhere
      assert(planWith(false).contains("SortMergeJoin"), planWith(false))
      assert(planWith(true).contains("BroadcastHashJoin"), planWith(true))
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("decontamination broadcasts the benchmark shingles; train side never shuffles them") {
    import graft.operators.DedupOps
    val docs = spark.read.parquet(sf("0.001") + "/documents.parquet")
    val hits = DedupOps.contaminationHits(
      docs.where(col("doc_id") % 97 =!= 0),
      docs.where(col("doc_id") % 97 === 0), "doc_id", "text", shingleN = 8)
    val plan = hits.queryExecution.sparkPlan.toString
    // the eval-set side must be the broadcast build of a semi join — the
    // only shape that survives 100 TB of train against MBs of benchmark
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
    assert(hits.count() >= 0) // executes
  }

  test("CBO join reorder: statistics change the join tree of a 3-table query") {
    // fact joins two dims; written order puts the MEDIUM dim first, but a
    // filtered TINY dim (visible only through column stats) should join
    // first once the cost-based reorderer prices the intermediate sizes
    spark.range(200000)
      .select(col("id").as("fk1"), (col("id") % 1000).as("fk2"),
        md5(col("id").cast("string")).as("pad"))
      .write.mode("overwrite").saveAsTable("cbo_fact")
    spark.range(200000).select(col("id").as("k1"),
        md5(col("id").cast("string")).as("p1"))
      .write.mode("overwrite").saveAsTable("cbo_dim1")
    spark.range(1000).select(col("id").as("k2"),
        md5(col("id").cast("string")).as("p2"))
      .write.mode("overwrite").saveAsTable("cbo_dim2")
    Seq("cbo_fact", "cbo_dim1", "cbo_dim2").foreach { t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS " +
        (if (t == "cbo_fact") "fk1, fk2" else if (t == "cbo_dim1") "k1" else "k2"))
    }
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    try {
      def joinOrder(cbo: Boolean): Seq[String] = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
        val q = spark.table("cbo_fact")
          .join(spark.table("cbo_dim1"), col("fk1") === col("k1"))
          .join(spark.table("cbo_dim2").where(col("k2") < 10),
            col("fk2") === col("k2"))
        val plan = q.queryExecution.optimizedPlan.toString
        // order of base relations in the optimized tree
        Seq("cbo_dim1", "cbo_dim2").sortBy(plan.indexOf)
      }
      val without = joinOrder(false)
      val withCbo = joinOrder(true)
      info(s"join order without stats: $without, with CBO: $withCbo")
      // without stats: written order survives ((fact ⋈ dim1) ⋈ dim2) →
      // dim1 prints first. With CBO: the reorderer prices the filtered
      // dim2 intermediate as tiny and joins it FIRST, so the 200k-row
      // dim1 join runs against the shrunk fact — dim2 prints first.
      assert(without == Seq("cbo_dim1", "cbo_dim2"), without.toString)
      assert(withCbo == Seq("cbo_dim2", "cbo_dim1"), withCbo.toString)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  test("norm16 stays in [0,65535] for 64-bit key spans (no Long overflow)") {
    import graft.functions.ZOrderLong
    // span >= 2^47 used to overflow (x-min)*65535; divide-first path now
    val lo = Long.MinValue + 10L
    val hi = Long.MaxValue - 10L
    val xs = Seq(lo, -1L, 0L, 1L, hi / 2, hi)
    val out = xs.toDF("x")
      .select(ZOrderLong.norm16(col("x"), lo, hi).as("n"))
      .collect().map(_.getLong(0))
    assert(out.forall(n => n >= 0L && n <= 65535L), out.toSeq.toString)
    assert(out.head == 0L && out.last >= 65534L, out.toSeq.toString)
    // values are monotone in x — bucketing, not garbage
    assert(out.toSeq == out.sorted.toSeq, out.toSeq.toString)
    // the narrow-span form is unchanged (exact multiply-first arithmetic)
    val narrow = Seq(0L, 500L, 1000L).toDF("x")
      .select(ZOrderLong.norm16(col("x"), 0L, 1000L).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(narrow == Seq(0L, 32767L, 65535L), narrow.toString)
  }

  test("bloom-reduced join pre-filters the big side before the shuffle") {
    import graft.operators.JoinOps
    val li = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
    // sf0.001's 10 suppliers top out near 6000 — threshold keeps a few
    val sup = spark.read.parquet(sf("0.001") + "/supplier.parquet")
      .where(col("s_acctbal") >= 4000)
    val joined = JoinOps.bloomReducedJoin(li, "l_suppkey", sup, "s_suppkey",
      expectedItems = 1000)
    // exactness: identical to the plain join
    val plain = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
    assert(joined.count() == plain.count())
    // the predicate sits in the scan stage (before any exchange), and it
    // actually reduces the shuffled volume to ~the matching fraction
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    val bf = sup.stat.bloomFilter("s_suppkey", 1000, 0.01)
    val pre = li.where(
      graft.functions.BloomMightContain.mightContain(col("l_suppkey"), bf)).count()
    val full = li.count()
    assert(pre < full / 2, s"pre-filter kept $pre of $full")
  }

  test("morMaintain work tracks the MUTATED slice, not table size: 2× files, same rewrite count") {
    import graft.sinks.TableLog
    // two clustered tables, one twice the other, same three scattered
    // MOR-deleted keys: the materialization must rewrite the SAME
    // number of files on both (the keys' files), measured from the
    // manifests — the property that keeps the tick O(mutations) at
    // 100 TB
    def rewritten(n: Long, files: Int): Int = {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft_scale_mm_$files").toString + "/t"
      TableLog.create(spark, t,
        spark.range(n).select($"id".as("k"), ($"id" % 7).as("v"))
          .repartitionByRange(files, $"k").sortWithinPartitions("k"),
        statsCols = Seq("k"), rowLevelMode = TableLog.Mor)
      Seq(10L, n / 2, n - 10).foreach(key =>
        keyDelete(t, "k", Seq(key).toDF("k")))
      val before = TableLog.snapshot(t).get.files.map(_.path).toSet
      TableLog.morMaintain(spark, t, maxSidecars = 0)
      val after = TableLog.snapshot(t).get.files.map(_.path).toSet
      (before -- after).size
    }
    val small = rewritten(40000, 16)
    val big = rewritten(80000, 32)
    assert(small == 3 && big == 3,
      s"rewrites must track the 3 deleted keys' files at both scales " +
        s"(got $small and $big)")
  }

  test("zOrderMaintain work tracks the TAIL, not table size: 2× clustered files, same rewrite count") {
    import graft.sinks.TableLog
    def rewritten(files: Int): (Int, Int) = {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft_scale_zm_$files").toString + "/t"
      TableLog.create(spark, t, spark.range(files * 4096L)
        .select(($"id" % 256).as("a"),
          (($"id" * 7) % 256).as("b")))
      TableLog.zOrder(spark, t, files, "a", (0L, 255L), "b", (0L, 255L))
      // identical unclustered tail on both tables
      TableLog.append(spark, t, spark.range(1000)
        .select(($"id" % 256).as("a"), (($"id" * 11) % 256).as("b"))
        .coalesce(1))
      val before = TableLog.snapshot(t).get.files.map(_.path).toSet
      TableLog.zOrderMaintain(spark, t, targetBytes = 1L << 30, minFiles = 1)
      val after = TableLog.snapshot(t).get.files.map(_.path).toSet
      ((before -- after).size, after.size)
    }
    val (smallRw, _) = rewritten(8)
    val (bigRw, bigTotal) = rewritten(16)
    assert(smallRw == 1 && bigRw == 1,
      s"only the 1-file tail may rewrite at either scale " +
        s"(got $smallRw and $bigRw)")
    assert(bigTotal == 17, "the 16 clustered files must carry")
  }

  test("row-level DELETE work tracks the MATCHED slice, not table " +
      "size: 2× files, same rewrite count — and planning is " +
      "manifest-only") {
    val cat = "graftscale"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_scale_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import graft.sinks.TableLog
    def mk(nFiles: Int, name: String): String = {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rl")
      spark.sql(s"CREATE TABLE $cat.rl.$name (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('statsCols' = 'k')")
      val path = s"$wh/rl/$name"
      // 1000-key blocks at BOTH scales: the deleted range overlaps
      // exactly one file regardless of table size
      TableLog.append(spark, path,
        spark.range(nFiles * 1000L)
          .select($"id".as("k"), ($"id" % 7).as("v"))
          .repartitionByRange(nFiles, $"k"),
        statsCols = Seq("k"))
      path
    }
    def rewriteShape(path: String, name: String): (Int, Int, Long) = {
      val before = TableLog.snapshot(path).get
      spark.sql(s"DELETE FROM $cat.rl.$name " +
        "WHERE k >= 1200 AND k < 1800")
      val after = TableLog.snapshot(path).get
      val beforeSet = before.files.map(_.path).toSet
      val afterSet = after.files.map(_.path).toSet
      ((beforeSet -- afterSet).size, (afterSet -- beforeSet).size,
        after.rows)
    }
    val (sRm, sAdd, sRows) = rewriteShape(mk(8, "small"), "small")
    val (bRm, bAdd, bRows) = rewriteShape(mk(16, "big"), "big")
    assert(sRm == 1 && bRm == 1,
      s"exactly ONE group rewrites at either scale ($sRm/$bRm)")
    assert(sAdd <= 1 && bAdd <= 1)
    assert(sRows == 8000L - 600 && bRows == 16000L - 600)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.rl.big " +
      "WHERE k >= 1200 AND k < 1800").as[Long].head() == 0)
  }

  test("predicate overwrite work tracks the REPLACED slice, not " +
      "table size: 2× files, same rewrite count") {
    // own catalog name: a catalog instance binds its warehouse at
    // FIRST use per session, so sharing "graftscale" would land these
    // tables in whichever warehouse an earlier test bound
    val cat = "graftscalerw"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_scale_rww").toString
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import graft.sinks.TableLog
    def mk(nFiles: Int, name: String): String = {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rw")
      spark.sql(s"CREATE TABLE $cat.rw.$name (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('statsCols' = 'k')")
      val path = s"$wh/rw/$name"
      // 1000-key blocks at BOTH scales: the replaced range overlaps
      // exactly one file regardless of table size
      TableLog.append(spark, path,
        spark.range(nFiles * 1000L)
          .select($"id".as("k"), ($"id" % 7).as("v"))
          .repartitionByRange(nFiles, $"k"),
        statsCols = Seq("k"))
      path
    }
    def shape(path: String, name: String): (Int, Long, Long) = {
      val before = TableLog.snapshot(path).get
      val planned0 = TableLog.morFilesPlanned.get()
      spark.range(1200L, 1500L)
        .select($"id".as("k"), lit(42L).as("v")).coalesce(1)
        .writeTo(s"$cat.rw.$name")
        .overwrite($"k" >= 1200 && $"k" < 1800)
      val planned = TableLog.morFilesPlanned.get() - planned0
      val after = TableLog.snapshot(path).get
      ((before.files.map(_.path).toSet --
        after.files.map(_.path).toSet).size, after.rows, planned)
    }
    val (sRm, sRows, sPlanned) = shape(mk(8, "small"), "small")
    val (bRm, bRows, bPlanned) = shape(mk(16, "big"), "big")
    assert(sRm == 1 && bRm == 1,
      s"exactly ONE file rewrites at either scale ($sRm/$bRm)")
    // the affected file's DATA is read exactly ONCE (the keep-side
    // rewrite scan): scanRows derives from manifest footer counts, so
    // the old second counting scan per CAS attempt must not come back
    assert(sPlanned == 1 && bPlanned == 1,
      s"predicate overwrite must plan each affected file's read " +
        s"exactly once (got $sPlanned/$bPlanned)")
    assert(sRows == 8000L - 600 + 300 && bRows == 16000L - 600 + 300)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.rw.big " +
      "WHERE v = 42").as[Long].head() == 300)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.rw.big " +
      "WHERE k >= 1500 AND k < 1800").as[Long].head() == 0)
  }

  test("delta row-level DELETE (rowLevelMode='mor') write cost " +
      "tracks the MATCHED slice: 2× files, ZERO rewrites, a one-file " +
      "one-shard vector at either scale") {
    val cat = "graftscale3"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_scale3_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import graft.sinks.TableLog
    def mk(nFiles: Int, name: String): String = {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rld")
      spark.sql(s"CREATE TABLE $cat.rld.$name (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('statsCols' = 'k', 'rowLevelMode' = 'mor')")
      val path = s"$wh/rld/$name"
      TableLog.append(spark, path,
        spark.range(nFiles * 1000L)
          .select($"id".as("k"), ($"id" % 7).as("v"))
          .repartitionByRange(nFiles, $"k"),
        statsCols = Seq("k"))
      path
    }
    def shape(path: String, name: String): (Int, Int, Long, Long) = {
      val before = TableLog.snapshot(path).get
      spark.sql(s"DELETE FROM $cat.rld.$name " +
        "WHERE k >= 1200 AND k < 1800")
      val after = TableLog.snapshot(path).get
      assert(after.files.map(_.path).toSet ==
        before.files.map(_.path).toSet,
        "a MOR delete must rewrite ZERO data files at any scale")
      val dvPaths = after.dels.map(d => s"$path/${d.file.path}")
      val targets = spark.read.parquet(dvPaths: _*)
        .select("_dv_file").distinct().count()
      (after.dels.size, targets.toInt, after.rows,
        spark.sql(s"SELECT count(*) AS n FROM $cat.rld.$name")
          .as[Long].head())
    }
    val (sShards, sTargets, sRows, sCnt) = shape(mk(8, "small"), "small")
    val (bShards, bTargets, bRows, bCnt) = shape(mk(16, "big"), "big")
    // manifest pruning keeps exactly the ONE overlapping file, so the
    // scan is one partition and the commit one sidecar shard — the
    // write cost is the matched slice, independent of table size
    assert(sShards == 1 && bShards == 1,
      s"one sidecar shard at either scale (got $sShards/$bShards)")
    assert(sTargets == 1 && bTargets == 1,
      s"the vector must target ONE file (got $sTargets/$bTargets)")
    assert(sRows == 8000L - 600 && bRows == 16000L - 600)
    assert(sCnt == sRows && bCnt == bRows)
  }

  test("streaming-read planning is manifest-only: zero filesystem " +
      "stat calls from offsets through partitions") {
    val cat = "graftscale2"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_scale2_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import graft.sinks.TableLog
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sr")
    spark.sql(s"CREATE TABLE $cat.sr.t (k BIGINT)")
    (0 until 5).foreach(i =>
      spark.sql(s"INSERT INTO $cat.sr.t VALUES ($i)"))
    val stream = new graft.catalog.GraftMicroBatchStream(
      s"$wh/sr/t", "t",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val end = stream.latestOffset(stream.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .allAvailable())
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
    assert(parts.length == 5, s"${parts.length}")
    // partition sizes are the manifest's write-time bytes
    val bytes = TableLog.snapshot(s"$wh/sr/t").get.files
      .map(f => f.path -> f.bytes).toMap
    parts.foreach { case p: graft.catalog.GraftFilePartition =>
      assert(p.length == bytes(p.relPath), p.relPath) }
  }

  test("ClickHouse write shape: partition count + in-partition sort") {
    val li = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
    val cfg = ClickHouseSink.Config(url = "jdbc:clickhouse://unused:8123/db",
      table = "lineitem", orderByKey = Seq("l_orderkey", "l_linenumber"),
      numWritePartitions = 6)
    val shaped = ClickHouseSink.shape(li, cfg)
    assert(shaped.rdd.getNumPartitions == 6)
    // each partition individually sorted by the ORDER BY key
    val ok = shaped.mapPartitions { it =>
      val keys = it.map(r => (r.getLong(0), r.getInt(3))).toSeq
      Iterator.single(keys == keys.sorted)
    }(org.apache.spark.sql.Encoders.scalaBoolean).collect()
    assert(ok.forall(identity))
  }
}
