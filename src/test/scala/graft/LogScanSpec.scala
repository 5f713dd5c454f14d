package graft

import graft.sinks.TableLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The declarative read face: `TableLog.scan` + the `PruneLogScan`
  * optimizer rule. The contract under test is twofold — results are
  * IDENTICAL to the eager `read` under any filter, and filters the
  * query places with plain DataFrame/SQL operators reach the MANIFEST
  * (the optimized plan's parquet relation lists only the surviving
  * files). */
class LogScanSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  /** Files the per-column range stats alone keep for a conjunction of
    * `(column, lo, hi)` ranges — what the box pass tightens. */
  private def perColumnKept(t: String, ranges: (String, Long, Long)*): Int =
    ranges.foldLeft(TableLog.snapshotOrFail(t)) { case (s, (c, lo, hi)) =>
      s.copy(files = TableLog.prunedFilesOf(s, c, lo, hi))
    }.files.size

  private def mkTable(): String = {
    val t = tmp("graft_log_scan")
    // DETERMINISTIC 8-file layout, one exact 500-key block per file:
    // repartitionByRange SAMPLES its boundaries (seeded by RDD id,
    // which shifts with suite composition), so its edges wander a few
    // keys between runs and the files-opened pins below would flake —
    // range() with explicit numPartitions slices exactly
    TableLog.create(spark, t,
      spark.range(0L, 4000L, 1L, 8)
        .select($"id".as("k"), ($"id" % 7).as("v"),
          concat(lit("cat_"), ($"id" / 500).cast("long")).as("c")),
      statsCols = Seq("k"), strStatsCols = Seq("c"),
      rowLevelMode = TableLog.Mor)
    t
  }

  test("scan: plain .where prunes files at the manifest; results match the eager read") {
    val t = mkTable()
    val df = TableLog.scan(spark, t)
    // bare scan = full table, all files
    assert(df.count() == 4000)
    assert(filesScanned(df) == 8)
    // long range: 1 of 8 files survives the manifest prune
    val q = df.where($"k".between(100, 200))
    assert(filesScanned(q) == 1, "range filter must prune at the manifest")
    assert(q.count() == 101)
    checkSame(q, TableLog.read(spark, t).where($"k".between(100, 200)))
    // conjunction tightens: both bounds land on the same file
    assert(filesScanned(df.where($"k" >= 600 && $"k" < 700 && $"v" === 3)) == 1)
    // long IN-list (stays In below the InSet threshold)
    assert(filesScanned(df.where($"k".isin(50, 60))) == 1)
    // long IN-list past the OptimizeIn threshold (becomes InSet)
    val big = (0 until 15).map(_ * 10L)
    assert(filesScanned(df.where($"k".isin(big: _*))) == 1)
    assert(df.where($"k".isin(big: _*)).count() == 15)
    // string equality: string range stats prune (table is k-clustered,
    // and c follows k, so one category spans ~1 file)
    val sq = df.where($"c" === "cat_3")
    assert(filesScanned(sq) <= 2)
    assert(sq.count() == 500)
    // unsupported predicate: no pruning, still correct
    val uq = df.where($"v" % 2 === 0)
    assert(filesScanned(uq) == 8)
    assert(uq.count() ==
      TableLog.read(spark, t).where($"v" % 2 === 0).count())
    // provably-empty: zero files, zero rows
    val eq = df.where($"k" === 99999L)
    assert(filesScanned(eq) == 0)
    assert(eq.count() == 0)
    // DISJUNCTIONS prune as the union of their branches: k=1 OR k=3999
    // opens the first and last file, like k IN (1, 3999) would
    val or = df.where($"k" === 1L || $"k" === 3999L)
    assert(filesScanned(or) == 2, "OR must union the branch prunes")
    assert(or.count() == 2)
    // an unprunable disjunct defeats pruning for the whole OR (it can
    // match anywhere) — but an AND above it still prunes. Bound 450,
    // not 500: repartitionByRange SAMPLES its boundaries (seeded by
    // RDD id, which shifts with suite execution order), so the first
    // file's edge lands near-but-not-exactly 500 — the probe must sit
    // comfortably inside the file to pin "1 of 8"
    val orBad = df.where(($"k" === 1L || $"v" === 3L) && $"k" < 450)
    assert(filesScanned(orBad) == 1)
    assert(orBad.count() ==
      TableLog.read(spark, t)
        .where(($"k" === 1L || $"v" === 3L) && $"k" < 450).count())
    // range OR string-equality: mixed-type branches union too
    val orMix = df.where($"k" < 10 || $"c" === "cat_7")
    assert(filesScanned(orMix) <= 3)
    assert(orMix.count() == 510)
  }

  test("scan: SQL over a temp view prunes the same way; aggregates match the oracle-style eager path") {
    val t = mkTable()
    TableLog.scan(spark, t).createOrReplaceTempView("lake")
    val q = spark.sql(
      "SELECT sum(v) AS sv, count(*) AS n FROM lake WHERE k BETWEEN 1000 AND 1499")
    assert(filesScanned(q) <= 2)
    val r = q.head
    val e = TableLog.read(spark, t).where($"k".between(1000, 1499))
      .agg(sum("v"), count(lit(1))).head
    assert(r.getLong(0) == e.getLong(0) && r.getLong(1) == e.getLong(1))
    // a pruned SQL count equals the eager read's
    val q2 = spark.sql("SELECT count(*) AS n FROM lake WHERE k BETWEEN 1000 AND 1499")
    assert(filesScanned(q2) <= 2)
    assert(q2.head.getLong(0) ==
      TableLog.read(spark, t).where($"k".between(1000, 1499)).count())
  }

  test("scan: self-join deduplicates the relation; join filters prune each side independently") {
    val t = mkTable()
    val a = TableLog.scan(spark, t).as("a")
    val b = TableLog.scan(spark, t).as("b")
    val j = a.join(b, $"a.k" === $"b.k" && $"b.k".between(0, 10))
    assert(j.count() == 11)
    // Catalyst infers a.k between 0 and 10 from the equi-join — BOTH
    // sides should prune to 1 file
    assert(filesScanned(j) == 2,
      "inferred join predicates must prune both sides")
  }

  test("scan: MOR sidecars, schema ops, and renames flow through the declarative face") {
    val t = mkTable()
    keyDelete(t, "k", Seq(150L, 151L).toDF("k"))
    val df = TableLog.scan(spark, t)
    val q = df.where($"k".between(100, 200))
    assert(q.count() == 99, "MOR-deleted rows must not surface")
    assert(filesScanned(q) < 8, "pruning applies around the sidecar join")
    // renames on a clean twin: the declarative face prunes on the NEW
    // name via each file's physical stat name
    val t2 = mkTable()
    TableLog.renameColumn(spark, t2, "k", "key")
    val df2 = TableLog.scan(spark, t2)
    val q2 = df2.where($"key".between(100, 200))
    assert(filesScanned(q2) == 1,
      "pruning must survive the rename on the declarative face")
    assert(q2.count() == 101)
    checkSame(q2.select("key", "v", "c"),
      TableLog.read(spark, t2).where($"key".between(100, 200))
        .select("key", "v", "c"))
  }

  test("scan: whole-table count/min/max answered from the manifest — zero files opened") {
    val t = mkTable()
    val df = TableLog.scan(spark, t)
    val q = df.agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    assert(filesScanned(q) == 0, "metadata aggregate must open no files")
    val r = q.head
    assert(r.getLong(0) == 4000 && r.getLong(1) == 0 && r.getLong(2) == 3999)
    // the SQL face: SELECT count(*), max(k) is a metadata lookup
    df.createOrReplaceTempView("lake_meta")
    val s = spark.sql("SELECT count(*) AS n, max(k) AS mx FROM lake_meta")
    assert(filesScanned(s) == 0)
    assert(s.head.getLong(0) == 4000 && s.head.getLong(1) == 3999)
    // a column without full stat coverage falls back to the real scan
    val v = df.agg(max("v"))
    assert(filesScanned(v) == 8)
    assert(v.head.getLong(0) == 6)
    // DISTINCT is never metadata-answerable
    val d = df.agg(countDistinct($"v"))
    assert(filesScanned(d) == 8)
    assert(d.head.getLong(0) == 7)
    // pending MOR sidecar: count stays metadata (rows are maintained
    // through deletes), min/max must NOT trust stats (the extreme row
    // may be the deleted one — here it is)
    keyDelete(t, "k", Seq(0L, 3999L).toDF("k"))
    val df2 = TableLog.scan(spark, t)
    val c2 = df2.agg(count(lit(1)).as("n"))
    assert(filesScanned(c2) == 0)
    assert(c2.head.getLong(0) == 3998)
    val m2 = df2.agg(max("k").as("mx"), min("k").as("mn"))
    assert(filesScanned(m2) > 0, "min/max with pending deletes must rescan")
    assert(m2.head.getLong(0) == 3998 && m2.head.getLong(1) == 1)
    // grouped aggregates never rewrite
    assert(df2.groupBy($"v").count().count() == 7)
  }

  test("scan: join-driven dynamic pruning — a small dim's keys prune the fact's files at planning") {
    val t = mkTable()
    val dim = spark.range(3).select(($"id" + 100).as("k"),
      concat(lit("d"), $"id").as("name"))
    // inner join: fact is non-preserved — prune to the dim's 1 file
    val j = TableLog.scan(spark, t).join(dim, Seq("k"))
    assert(filesScanned(j) == 1, "dim keys must prune fact files")
    assert(j.count() == 3)
    checkSame(j, TableLog.read(spark, t).join(dim, Seq("k")))
    // left-semi: same
    val sj = TableLog.scan(spark, t).join(dim, Seq("k"), "left_semi")
    assert(filesScanned(sj) == 1)
    assert(sj.count() == 3)
    // left-outer with the fact on the PRESERVED left: no pruning
    val lo = TableLog.scan(spark, t).join(dim, Seq("k"), "left_outer")
    assert(filesScanned(lo) == 8, "preserved side must not be pruned")
    assert(lo.count() == 4000)
    // left-outer with the fact on the non-preserved right: prunes
    val lo2 = dim.join(TableLog.scan(spark, t), Seq("k"), "left_outer")
    assert(filesScanned(lo2) == 1)
    assert(lo2.count() == 3)
    // static filter on the fact COMBINES with the dynamic keys
    val jf = TableLog.scan(spark, t).where($"v" >= 0).join(dim, Seq("k"))
    assert(filesScanned(jf) == 1)
    assert(jf.count() == 3)
    // key-cap gate: 2 < 3 dim keys ⇒ bail to the full scan, same rows
    spark.conf.set(graft.plans.PruneLogScan.DYN_MAX_KEYS, "2")
    try {
      val jb = TableLog.scan(spark, t).join(dim, Seq("k"))
      assert(filesScanned(jb) == 8)
      assert(jb.count() == 3)
    } finally spark.conf.unset(graft.plans.PruneLogScan.DYN_MAX_KEYS)
    // disabling the dyn conf disables only the join pruning
    spark.conf.set(graft.plans.PruneLogScan.DYN_KEY, "false")
    try {
      val jd = TableLog.scan(spark, t).join(dim, Seq("k"))
      assert(filesScanned(jd) == 8)
      assert(jd.count() == 3)
    } finally spark.conf.unset(graft.plans.PruneLogScan.DYN_KEY)
    // NONDETERMINISTIC dim side: the dim executes once at planning and
    // once in the real join, so a rand()-dependent plan could yield a
    // stale key set — pruning must bail to the full scan, rows intact.
    // (rand() < 2.0 won't do: Catalyst folds provably-true rand
    // comparisons away before the rule runs — this one it can't.)
    val ndim = dim.where(monotonically_increasing_id() >= 0)
    val jn = TableLog.scan(spark, t).join(ndim, Seq("k"))
    assert(filesScanned(jn) == 8,
      "nondeterministic dim must defeat dynamic pruning")
    assert(jn.count() == 3)
  }

  test("scan: STRING-KEY dynamic join pruning — document-style keys prune via the string stats") {
    val t = mkTable()
    val dim = Seq(("cat_2", 1L), ("cat_2", 2L)).toDF("c", "w")
    // inner join on the string key: only the files whose string stat
    // range can hold 'cat_2' open (c follows k's clustering)
    val j = TableLog.scan(spark, t).join(dim, Seq("c"))
    assert(filesScanned(j) <= 2, "string dim keys must prune fact files")
    assert(j.count() == 1000)
    checkSame(j, TableLog.read(spark, t).join(dim, Seq("c")))
    // preserved side must not be pruned
    val lo = TableLog.scan(spark, t).join(dim, Seq("c"), "left_outer")
    assert(filesScanned(lo) == 8)
    assert(lo.count() == 4500) // 4000 − 500 matched + 2×500 matched
    // provably-disjoint dim: zero fact files open
    val none = TableLog.scan(spark, t)
      .join(Seq(("zzz", 1L)).toDF("c", "w"), Seq("c"))
    assert(filesScanned(none) == 0)
    assert(none.count() == 0)
  }

  test("z-interval box pruning: 2-D conjunctions drop z-boundary files per-column stats must keep") {
    val t = tmp("graft_log_zbox")
    // 256×256 grid, z-ordered into 5 files: the odd file count forces
    // some file's z run to straddle a major quadrant boundary — its
    // per-column bounding box covers half the grid while its actual z
    // run never enters the opposite corner
    TableLog.create(spark, t, spark.range(65536)
      .select(($"id" / 256).cast("long").as("a"),
        ($"id" % 256).as("b"), ($"id" % 7).as("v")))
    TableLog.zOrder(spark, t, 5, "a", (0L, 255L), "b", (0L, 255L))
    val df = TableLog.scan(spark, t)
    // the z run of the file straddling the first major boundary
    // (regions ~3.2–6.4 of 16) spans bbox a[0,127] × b[64,255] while
    // its actual cells never enter region 1 (a[0,63] × b[64,127]) —
    // a box there is kept by per-column stats, dropped by the z test
    val q = df.where($"a".between(0, 40) && $"b".between(64, 100))
    val withBox = filesScanned(q)
    val withoutBox = perColumnKept(t, ("a", 0, 40), ("b", 64, 100))
    assert(withBox < withoutBox,
      s"z-interval test must tighten per-column pruning " +
        s"($withBox vs $withoutBox)")
    assert(q.count() == 41L * 37L)
    // correctness across assorted boxes: scan ≡ eager read
    for ((al, ah, bl, bh) <- Seq((0, 40, 0, 40), (100, 160, 30, 90),
        (250, 255, 0, 255), (64, 64, 128, 128), (200, 250, 200, 250))) {
      val got = TableLog.scan(spark, t)
        .where($"a".between(al, ah) && $"b".between(bl, bh))
      checkSame(got, TableLog.read(spark, t)
        .where($"a".between(al, ah) && $"b".between(bl, bh)))
    }
    // a LATER append carries no z2 stat: kept by the box pass, rows
    // still correct (stats prune IO, never semantics)
    TableLog.append(spark, t, Seq((20L, 80L, 99L)).toDF("a", "b", "v"))
    val q2 = TableLog.scan(spark, t)
      .where($"a".between(0, 40) && $"b".between(64, 100))
    assert(q2.count() == 41L * 37L + 1)
  }

  test("hilbert box pruning: the h2 layout prunes through the declarative face and maintains under its own curve") {
    val t = tmp("graft_log_hbox")
    // same 256×256 grid and odd file count as the z-box test — a
    // boundary-straddling file's per-column bbox is wide while its
    // hilbert run stays in one spatial neighborhood
    TableLog.create(spark, t, spark.range(65536)
      .select(($"id" / 256).cast("long").as("a"),
        ($"id" % 256).as("b"), ($"id" % 7).as("v")))
    TableLog.hilbertOrder(spark, t, 5, "a", (0L, 255L), "b", (0L, 255L))
    assert(TableLog.snapshot(t).get.files.forall(
      _.stats.exists(_.col.startsWith("h2|"))))
    // at least one probe box must tighten strictly vs per-column stats
    val boxes = Seq((0, 40, 64, 100), (200, 255, 0, 40),
      (64, 100, 200, 255), (100, 160, 30, 90))
    var tightened = false
    boxes.foreach { case (al, ah, bl, bh) =>
      def q() = TableLog.scan(spark, t)
        .where($"a".between(al, ah) && $"b".between(bl, bh))
      val withBox = filesScanned(q())
      val withoutBox = perColumnKept(t, ("a", al, ah), ("b", bl, bh))
      assert(withBox <= withoutBox)
      if (withBox < withoutBox) tightened = true
      // correctness: scan ≡ eager read on every box
      checkSame(q(), TableLog.read(spark, t)
        .where($"a".between(al, ah) && $"b".between(bl, bh)))
    }
    assert(tightened,
      "the hilbert-interval test must strictly tighten at least one box")
    // maintenance re-clusters the unclustered tail UNDER THE SAME
    // CURVE: an append without the stat, then the tick, then every
    // file carries h2 again and reads are unchanged
    TableLog.append(spark, t,
      spark.range(300).select(($"id" % 256).as("a"),
        ($"id" % 256).as("b"), ($"id" % 7).as("v")))
    val before = TableLog.read(spark, t).groupBy($"a").count()
      .orderBy($"a").collect().toSeq
    TableLog.zOrderMaintain(spark, t, targetBytes = 64L << 20)
    assert(TableLog.snapshot(t).get.files.forall(
      _.stats.exists(_.col.startsWith("h2|"))),
      "maintenance must stamp the hilbert spec, not silently re-z")
    assert(TableLog.read(spark, t).groupBy($"a").count()
      .orderBy($"a").collect().toSeq == before)
  }

  test("z3 octree box pruning: 3-D conjunctions drop z-boundary files per-column stats must keep") {
    val t = tmp("graft_log_z3box")
    // 64×64×64 grid z3-ordered into 5 files: the odd file count makes
    // some file's z3 run straddle a major octant boundary — full-ish
    // per-column bounding box, narrow actual z3 run
    TableLog.create(spark, t, spark.range(262144)
      .select(($"id" / 4096).cast("long").as("a"),
        (($"id" / 64) % 64).cast("long").as("b"),
        ($"id" % 64).as("c"), ($"id" % 7).as("v")))
    TableLog.zOrder3(spark, t, 5, "a", (0L, 63L), "b", (0L, 63L),
      "c", (0L, 63L))
    // probe a set of octant-corner boxes: at least one must tighten
    // strictly, and the box-off/box-on results must agree everywhere
    val boxes = Seq((0, 10, 40, 60, 0, 10), (40, 60, 0, 10, 0, 10),
      (0, 10, 0, 10, 40, 60), (50, 63, 50, 63, 0, 10))
    var tightened = false
    for ((al, ah, bl, bh, cl, ch) <- boxes) {
      def q() = TableLog.scan(spark, t)
        .where($"a".between(al, ah) && $"b".between(bl, bh) &&
          $"c".between(cl, ch))
      val withBox = filesScanned(q())
      val withoutBox =
        perColumnKept(t, ("a", al, ah), ("b", bl, bh), ("c", cl, ch))
      val expect = TableLog.read(spark, t).where($"a".between(al, ah) &&
        $"b".between(bl, bh) && $"c".between(cl, ch)).count()
      assert(withBox <= withoutBox)
      if (withBox < withoutBox) tightened = true
      assert(q().count() == expect)
      assert(expect ==
        (ah - al + 1).toLong * (bh - bl + 1) * (ch - cl + 1))
    }
    assert(tightened,
      "the z3 octree test must tighten at least one octant-corner box")
    // a 2-of-3-column conjunction also flows through the z3 stat (the
    // unconstrained dim tests as full range) and stays correct
    val q2 = TableLog.scan(spark, t)
      .where($"a".between(0, 5) && $"c".between(0, 5))
    assert(q2.count() == 6L * 64L * 6L)
    // a LATER append carries no z3 stat: kept by the box pass, rows
    // still correct (stats prune IO, never semantics)
    TableLog.append(spark, t, Seq((5L, 50L, 5L, 99L))
      .toDF("a", "b", "c", "v"))
    assert(TableLog.scan(spark, t)
      .where($"a".between(0, 10) && $"b".between(40, 60) &&
        $"c".between(0, 10)).count() == 11L * 21L * 11L + 1)
  }

  test("h3 box pruning: the hilbert3 layout prunes through the " +
      "declarative face and maintains under its own curve") {
    val t = tmp("graft_log_h3box")
    TableLog.create(spark, t, spark.range(262144)
      .select(($"id" / 4096).cast("long").as("a"),
        (($"id" / 64) % 64).cast("long").as("b"),
        ($"id" % 64).as("c"), ($"id" % 7).as("v")))
    // THREE files: each spans ~2.67 top-level octants, so some file's
    // curve run is L-shaped — its per-column bounding box covers a
    // corner octant the run never visits, which is exactly the case
    // the interval test prunes and per-column stats cannot (at 5
    // files Hilbert locality makes the bounding boxes themselves
    // tight and the box pass has nothing left to do — measured)
    TableLog.hilbertOrder3(spark, t, 3, "a", (0L, 63L), "b", (0L, 63L),
      "c", (0L, 63L))
    assert(TableLog.snapshot(t).get.files.forall(
      _.stats.exists(_.col.startsWith("h3|"))),
      "hilbertOrder3 must stamp the h3 spec on every file")
    // the 8 corner boxes of the cube: at least one lands in some
    // file's bounding-box-but-not-run corner
    val boxes = for (ca <- Seq((0, 10), (53, 63));
        cb <- Seq((0, 10), (53, 63)); cc <- Seq((0, 10), (53, 63)))
      yield (ca._1, ca._2, cb._1, cb._2, cc._1, cc._2)
    var tightened = false
    for ((al, ah, bl, bh, cl, ch) <- boxes) {
      def q() = TableLog.scan(spark, t)
        .where($"a".between(al, ah) && $"b".between(bl, bh) &&
          $"c".between(cl, ch))
      val withBox = filesScanned(q())
      val withoutBox =
        perColumnKept(t, ("a", al, ah), ("b", bl, bh), ("c", cl, ch))
      val expect = TableLog.read(spark, t).where($"a".between(al, ah) &&
        $"b".between(bl, bh) && $"c".between(cl, ch)).count()
      assert(withBox <= withoutBox)
      if (withBox < withoutBox) tightened = true
      assert(q().count() == expect)
      assert(expect ==
        (ah - al + 1).toLong * (bh - bl + 1) * (ch - cl + 1))
    }
    assert(tightened,
      "the h3 interval test must tighten at least one octant-corner box")
    // maintenance under the table's OWN curve: an unclustered append
    // re-clusters with an h3 stat, clustered files carry by reference
    TableLog.append(spark, t,
      spark.range(1000).select(($"id" % 64).as("a"),
        (($"id" * 7) % 64).as("b"), (($"id" * 13) % 64).as("c"),
        lit(99L).as("v")))
    val preMaint = TableLog.snapshot(t).get
    val clustered = preMaint.files.filter(
      _.stats.exists(_.col.startsWith("h3|")))
    TableLog.zOrderMaintain(spark, t, targetBytes = 1L << 30)
    val after = TableLog.snapshot(t).get
    assert(after.files.forall(_.stats.exists(_.col.startsWith("h3|"))),
      "maintain must re-cluster the tail under the h3 spec")
    assert(clustered.map(_.path).toSet.subsetOf(
      after.files.map(_.path).toSet),
      "clustered files must carry by reference through maintenance")
    assert(TableLog.read(spark, t).count() == 262144L + 1000L)
  }

  test("zOrderMaintain: incremental re-cluster of the unclustered tail, clustered files carried by reference") {
    val t = tmp("graft_log_zmaint")
    TableLog.create(spark, t, spark.range(65536)
      .select(($"id" / 256).cast("long").as("a"),
        ($"id" % 256).as("b"), ($"id" % 7).as("v")))
    TableLog.zOrder(spark, t, 5, "a", (0L, 255L), "b", (0L, 255L))
    val clusteredPaths = TableLog.snapshot(t).get.files.map(_.path).toSet
    // streaming-style appends land WITHOUT the z stat
    TableLog.append(spark, t, spark.range(2000)
      .select(($"id" % 256).as("a"), (($"id" * 7) % 256).as("b"),
        lit(1L).as("v")))
    TableLog.append(spark, t, spark.range(2000, 4000)
      .select(($"id" % 256).as("a"), (($"id" * 11) % 256).as("b"),
        lit(2L).as("v")))
    val snap1 = TableLog.snapshot(t).get
    assert(snap1.files.count(f =>
      !f.stats.exists(_.col.startsWith("z2|"))) >= 2,
      "fixture: appends must be unclustered")
    val total = TableLog.read(spark, t).count()
    val sumV = TableLog.read(spark, t).agg(sum($"v")).head.getLong(0)
    def boxQ() = TableLog.scan(spark, t)
      .where($"a".between(0, 40) && $"b".between(64, 100))
    val beforeCount = boxQ().count()
    // maintain: tiny target so the tail splits into several z files
    val v = TableLog.zOrderMaintain(spark, t, targetBytes = 8192)
    assert(v == snap1.version + 1)
    val snap2 = TableLog.snapshot(t).get
    // every already-clustered file carried by reference — the tick is
    // O(new data), never O(table)
    assert(clusteredPaths.subsetOf(snap2.files.map(_.path).toSet))
    // the whole table now carries the spec…
    assert(snap2.files.forall(_.stats.exists(_.col.startsWith("z2|"))))
    // …and the NEW files' z stats actually prune: some corner box
    // drops at least one maintained file
    val newFiles = snap2.files.filterNot(f => clusteredPaths(f.path))
    assert(newFiles.size >= 2, "fixture: the tail must split")
    val corners = Seq((0L, 40L, 64L, 100L), (64L, 100L, 0L, 40L),
      (200L, 250L, 10L, 60L), (10L, 60L, 200L, 250L))
    assert(corners.exists { case (al, ah, bl, bh) =>
      TableLog.prunedFilesByBox(snap2.copy(files = newFiles),
        Map("a" -> (al, ah), "b" -> (bl, bh))).size < newFiles.size
    }, "maintained files' z stats must prune some corner box")
    // semantics byte-identical
    assert(boxQ().count() == beforeCount)
    assert(TableLog.read(spark, t).count() == total)
    assert(TableLog.read(spark, t).agg(sum($"v")).head.getLong(0) == sumV)
    // a clean table is a no-op; a table never clustered refuses
    assert(TableLog.zOrderMaintain(spark, t) == v)
    val t2 = tmp("graft_log_zmaint_flat")
    TableLog.create(spark, t2, spark.range(10).toDF("k"))
    intercept[RuntimeException](TableLog.zOrderMaintain(spark, t2))
    // ANTI-CHURN contract: compactSmall refuses to touch clustered
    // files (packing would strip the z stat and the next maintenance
    // tick would re-cluster what it just destroyed)…
    val nAfter = TableLog.snapshot(t).get.files.size
    assert(TableLog.compactSmall(spark, t, smallBytes = 1L << 30) == v,
      "compactSmall must be a no-op " +
      "on a fully-clustered table, whatever the threshold")
    // …and z-AWARE re-packing of small clustered fragments lives in
    // zOrderMaintain(smallBytes): fewer files, spec retained
    val v2 = TableLog.zOrderMaintain(spark, t, targetBytes = 1L << 30,
      smallBytes = 1L << 30)
    val packed = TableLog.snapshot(t).get
    assert(packed.files.size < nAfter, "small z fragments must pack")
    assert(packed.files.forall(_.stats.exists(_.col.startsWith("z2|"))))
    assert(v2 > v)
    assert(TableLog.read(spark, t).count() == total)
  }

  test("scan planning reads file sizes from the manifest — zero filesystem stats") {
    val t = mkTable()
    val rel = TableLog.scan(spark, t).queryExecution.analyzed.collectFirst {
      case r: graft.plans.GraftLogRelation => r
    }.get
    val fromManifest = rel.computeStats().sizeInBytes
    assert(fromManifest > 1, "stats must reflect the real footprint")
    // the manifest sizes are the TRUE sizes
    val real = TableLog.snapshot(t).get.files.map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(t, f.path))).sum
    assert(fromManifest == BigInt(real))
    // a full plan through the dyn-join gate (which reads these stats
    // for the dim side) also stays stat-free
    val dimT = tmp("graft_log_scan_dim")
    TableLog.create(spark, dimT, spark.range(3)
      .select(($"id" + 100).as("k"), lit("d").as("name")).coalesce(1),
      statsCols = Seq("k"))
    val j = TableLog.scan(spark, t).join(TableLog.scan(spark, dimT), Seq("k"))
    assert(filesScanned(j) >= 1)
    assert(j.count() == 3)
    // an entry without its `;#` size is below the format floor: the
    // scan refuses, naming the table, the version and the missing
    // segment, instead of stat-ing files
    val mf = java.nio.file.Paths.get(t, "_log", "v00000001.manifest")
    val txt = java.nio.file.Files.readString(mf)
    java.nio.file.Files.writeString(mf, txt.replaceAll(";#[0-9]+", ""))
    val e = intercept[RuntimeException](TableLog.scan(spark, t))
    assert(e.getMessage.contains(s"manifest v1 of $t") &&
      e.getMessage.contains(";#<bytes>"), e.getMessage)
  }

  test("scanVersion/scanAsOf: declarative time travel keeps pruning and each version's own schema") {
    val t = mkTable()                                           // v1
    val ts1 = TableLog.commitTimestamp(t, 1L).get
    TableLog.renameColumn(spark, t, "k", "key")                 // v2
    TableLog.append(spark, t, spark.range(4000, 4500)
      .select($"id".as("key"), ($"id" % 7).as("v"),
        lit("cat_9").as("c")).repartitionByRange(1, $"key"),
      statsCols = Seq("key"))                                   // v3
    // v1 scan: old schema, old rows, pruning intact
    val v1 = TableLog.scanVersion(spark, t, 1)
    assert(v1.columns.toSeq == Seq("k", "v", "c"))
    assert(v1.count() == 4000)
    assert(filesScanned(v1.where($"k".between(100, 200))) == 1)
    // current scan: renamed schema, both epochs, pruning across the rename
    val cur = TableLog.scan(spark, t)
    assert(cur.columns.toSeq == Seq("key", "v", "c"))
    assert(cur.count() == 4500)
    assert(filesScanned(cur.where($"key".between(4000, 4100))) == 1)
    // timestamp-pinned scan resolves to v1
    assert(TableLog.scanAsOf(spark, t, ts1).count() == 4000)
  }

  private def checkSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("a DATA column named _version keeps data semantics over the " +
      "metadata fast path") {
    val t = tmp("graft_log_dataversion")
    // a DATA column literally named `_version`, values DISJOINT from
    // the commit versions (1, 2) so any manifest-arithmetic answer is
    // provably wrong
    TableLog.create(spark, t,
      spark.range(0L, 100L, 1L, 2)
        .select($"id".as("k"), lit(77L).as("_version")),
      statsCols = Seq("k", "_version"))
    TableLog.append(spark, t,
      spark.range(100L, 200L, 1L, 2)
        .select($"id".as("k"), lit(99L).as("_version")),
      statsCols = Seq("k", "_version"))
    // the recorded schema claims the name, so the scan reads the data
    // column and the pruner must not treat it as the commit version
    assert(TableLog.snapshot(t).get.schema.struct.fieldNames
      .contains("_version"))
    def df = TableLog.scan(spark, t)
    // extremes: data values (77/99), never the commit versions (1/2)
    val mx = df.agg(max("_version").as("mx"), min("_version").as("mn")).head
    assert(mx.getLong(0) == 99L && mx.getLong(1) == 77L)
    // predicates: data semantics — commit-version values match NOTHING
    assert(df.where($"_version" === 77L).count() == 100L)
    assert(df.where($"_version" === 99L).count() == 100L)
    assert(df.where($"_version" === 1L).count() == 0L)
    assert(df.where($"_version".isin(1L, 2L)).count() == 0L)
  }
}
