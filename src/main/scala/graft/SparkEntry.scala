package graft

import graft.core.Schemas
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.collection.immutable.ListMap

/** Driver contract — one `queries` entry per operator in SURVEY.md §2
  * (O* reference parity, E* extension suite), each with an equivalent
  * DuckDB oracle in `oracleSql`.
  *
  * Oracle-stability design rules (SURVEY.md §5.2.1):
  *  - outputs contain ONLY strings and integers: money/quantities as
  *    integer cents, similarity scores as integer micro-units — no raw
  *    doubles, so cross-engine float accumulation/format differences can
  *    never flip a hash;
  *  - all hashing is md5 (identical hex in any engine), never Murmur3;
  *  - vector similarity uses 1e3-quantized integer dot products (exact in
  *    any summation order), divided/rooted only at the final scalar;
  *  - every query ends in a deterministic ORDER BY.
  */
object SparkEntry {

  /** Inferred schema per immutable testdata file, memoized: without
    * it EVERY query invocation pays a parquet schema-inference Spark
    * job (~30-80 ms) before its first real stage — pure metadata, the
    * role a catalog plays in production (guide §1.2: don't pay a pass
    * for what metadata already knows). Data is still read fresh from
    * parquet on every call; only the StructType is remembered. */
  private val tSchemas =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private def T(s: SparkSession, dir: String, name: String): DataFrame = {
    // The testdata's events.ts physical type has changed between rounds
    // (TIMESTAMP(NANOS)-as-int64 vs timestamp[us]); the legacy flag makes the
    // nanos variant readable (no-op otherwise) and EventTime.toNanos folds
    // whichever type arrives into the canonical LongType-nanos shape every
    // downstream ts expression assumes. See core/EventTime.scala.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    // bounded for symmetry with TableLog's schema memos (a handful of
    // testdata files in practice; the bound only matters if a caller
    // loops over many dirs)
    if (tSchemas.size > 256) {
      val it = tSchemas.keySet.iterator()
      if (it.hasNext) { tSchemas.remove(it.next()); () }
    }
    val sch = tSchemas.computeIfAbsent(path,
      p => s.read.parquet(p).schema)
    graft.core.EventTime.toNanos(s.read.schema(sch).parquet(path))
  }

  /** events.ts (canonical long nanoseconds, see T) → microsecond TIMESTAMP
    * (UTC). Integer `div` — nanosecond epochs exceed 2^53, double math would
    * lose precision. */
  private def tsMicros(name: String): Column =
    timestamp_micros(expr(s"$name div 1000"))

  /** cents(c) = round(c*100) as long — exact integer money/quantity. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** 1e3-quantized integer copy of a float vector (see header) — codegen'd
    * expression, bit-identical to transform(v, x -> round(x*1000) as long)
    * (parity asserted in ExtOpsSpec). */
  private def qvec(c: Column): Column =
    graft.functions.QuantizeVector.quantize(c, 1000.0)

  private def qdot(a: Column, b: Column): Column = VF.dotLong(a, b)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("e5_q1_agg")(spark, "/root/testdata/sf0.001")

  // ====================================================================
  // Reference-parity operators (SURVEY.md §2.1-2.4), demonstrated on the
  // driver test tables so the DuckDB oracle can check them.
  // ====================================================================

  /** Per-JVM scratch root: concurrent runs (separate JVMs) over the same
    * data dir get distinct roots, while o02 can still find the TSV o01
    * wrote within this run. */
  private lazy val tmpRoot: String =
    java.nio.file.Files.createTempDirectory("graft_run_").toString

  /** O1/O3 driven through the driver gate: round-trip `part` through a TSV
    * file (distributed csv write, all-string header-inferred read) and
    * oracle the result against the original parquet. The temp TSV is
    * per-sfDir and rewritten each run. */
  private def o01TsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tsvDir = s"$tmpRoot/tsv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    T(s, dir, "part")
      .select(col("p_partkey").cast("string"), col("p_name"), col("p_brand"))
      .coalesce(1)
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(tsvDir)
    val tsvFile = new java.io.File(tsvDir).listFiles()
      .filter(_.getName.endsWith(".csv")).map(_.toString).min
    graft.core.TsvReader.readTsv(s, tsvFile).orderBy("p_partkey")
  }

  /** O2: same TSV with `#` comment lines prepended — the reader must skip
    * them and produce identical rows. */
  private def o02CommentSkip(s: SparkSession, dir: String): DataFrame = {
    val tsvDir = s"$tmpRoot/tsv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    o01TsvRoundtrip(s, dir).count() // ensure the TSV exists/refreshed
    val tsvFile = new java.io.File(tsvDir).listFiles()
      .filter(_.getName.endsWith(".csv")).map(_.toString).min
    val commented = s"$tsvDir/commented.maf"
    val body = java.nio.file.Files.readString(java.nio.file.Paths.get(tsvFile))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(commented),
      "#version 2.4\n#build test\n" + body)
    graft.core.TsvReader.readTsv(s, commented).orderBy("p_partkey")
  }

  /** O4-adjacent source coverage: JSON-lines round-trip — distributed
    * json write of a documents projection, schema-explicit streaming-safe
    * read back, oracled against the original parquet. */
  private def o03JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // under the per-JVM tmpRoot (race-safe across JVMs) and overwritten in
    // place per call — a fresh createTempDirectory per call would strand a
    // full table copy on every invocation
    val jsonDir = s"$tmpRoot/json_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    T(s, dir, "documents").select("doc_id", "lang", "source")
      .write.mode("overwrite").json(jsonDir)
    s.read
      .schema("doc_id BIGINT, lang STRING, source STRING")
      .json(jsonDir)
      .orderBy("doc_id")
  }

  /** O4-adjacent source coverage: ORC round-trip — the columnar format
    * besides parquet that warehouse migrations actually encounter;
    * vectorized read path, predicate pushdown, same lazy-source model. */
  private def o22OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // per-JVM tmpRoot, overwritten in place (see o03 for why)
    val orcDir = s"$tmpRoot/orc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    T(s, dir, "documents").select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").orc(orcDir)
    s.read.orc(orcDir)
      .where(col("n_chars") >= 0) // pushed to the ORC reader
      .orderBy("doc_id")
  }

  /** O4-adjacent source coverage: XML round-trip via Spark 4's NATIVE xml
    * data source (the spark-xml package folded into spark-sql) — the
    * integration-feed format the reference's TSV world sits next to.
    * Schema-explicit read back (inference would widen n_chars), oracled
    * against the original parquet. */
  private def o23XmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val xmlDir = s"$tmpRoot/xml_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    T(s, dir, "documents").select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").option("rowTag", "doc").xml(xmlDir)
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
      .option("rowTag", "doc")
      .xml(xmlDir)
      .orderBy("doc_id")
  }

  /** O4-adjacent source coverage: Avro round-trip — the row-major container
    * format completing the matrix (JSON/ORC/XML/Avro). No spark-avro
    * datasource ships in this environment, so this drives the engine's own
    * avro-mapred-backed [[graft.sources.AvroSource]]: distributed write of
    * an orders projection (task-local container files), splittable read
    * back, by-name field resolution. Money goes through cents() BEFORE the
    * write so the avro file carries oracle-stable integers. */
  private def o26AvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val avroDir = s"$tmpRoot/avro_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    graft.sources.AvroSource.write(
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents")),
      avroDir)
    graft.sources.AvroSource.read(s, avroDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_orderstatus STRING, price_cents BIGINT"))
      .orderBy("o_orderkey")
  }

  /** ARRAY<FLOAT> through the Avro path: embeddings written as Avro
    * container files (array<float> schema), read back via the pruning
    * DSv2 table, then reduced with the exact-integer quantized norm so
    * floats never hash. The embeddings-in-Avro lake is the 100 TB case
    * the formerly flat-primitive-only Avro surface hit immediately;
    * AvroSourceSpec asserts the read still prunes into the reader
    * schema with array columns present. Oracle = the same reduction
    * over the original parquet (round-trip identity). */
  /** NESTED types through the Avro path (ARRAY<ARRAY<BIGINT>> and a
    * STRUCT field): built from documents, written as Avro container
    * files (nested array schemas + a named sub-record), read back via
    * the pruning DSv2 table with the nested columns REQUIRED, then
    * flattened to oracle-stable scalars. The oracle recomputes the same
    * scalars straight from documents — round-trip identity through two
    * levels of nesting. AvroSourceSpec asserts pruning with nested
    * columns present and the MAP rejection message. */
  private def o33AvroNested(s: SparkSession, dir: String): DataFrame = {
    val avroDir = s"$tmpRoot/avro_nest_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    graft.sources.AvroSource.write(
      T(s, dir, "documents").select(
        col("doc_id"),
        col("text"), // fat column the read below must prune away
        struct(col("lang"), col("n_chars")).as("meta"),
        array(array(col("n_chars")),
          array(col("n_chars") + 1, col("n_chars") * 2)).as("nested")),
      avroDir)
    graft.sources.AvroSource.read(s, avroDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, meta STRUCT<lang: STRING, n_chars: BIGINT>, " +
          "nested ARRAY<ARRAY<BIGINT>>"))
      .select(col("doc_id"), col("meta.lang").as("lang"),
        col("meta.n_chars").as("n_chars"),
        element_at(element_at(col("nested"), 2), 2).as("n2"))
      .orderBy("doc_id")
  }

  /** The commit-log table format (graft.sinks.TableLog) under the
    * oracle gate: create from one lineitem slice, append a second,
    * latest-wins mergeUpsert over an overlapping third, compact — four
    * manifest commits, each an atomic create-exclusive link, no
    * directory swap — then read the latest snapshot back as an
    * aggregate. The oracle recomputes the identical slice algebra in
    * SQL, so every lifecycle step must have published exactly its
    * serializable outcome. TableLogSpec covers the concurrency half
    * (racing writers, CAS retry, crash garbage, vacuum). */
  private def o34TableLog(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/log_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    // fresh table per call: the log is append-only state, so an
    // overwritten-in-place scratch dir (the o03 idiom) would double the
    // data on a second invocation
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // mod-30 slices: two disjoint ~3% order slices keep every lifecycle
    // step real while the bench measures COMMIT mechanics, not 4× bulk
    // parquet-write throughput (o18/o19/o27/o28 already price that; at
    // sf10 the mod-3 form spent ~60s rewriting 60M-row slices)
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    graft.sinks.TableLog.create(s, t, li.where(col("l_orderkey") % 30 === 0))
    graft.sinks.TableLog.append(s, t, li.where(col("l_orderkey") % 30 === 1))
    // the synthetic lineitem has duplicate (orderkey, linenumber) keys, so
    // the upsert source dedupes them with a deterministic aggregate (the
    // oracle mirrors it); the matching TARGET duplicates all collapse to
    // the single source row — upsert-as-repair semantics
    graft.sinks.TableLog.mergeUpsert(s, t,
      li.where(col("l_orderkey") % 30 === 0 && col("l_linenumber") === 1)
        .groupBy("l_orderkey", "l_linenumber")
        .agg((max(col("qty")) + 1000).as("qty"),
          max(col("l_returnflag")).as("l_returnflag")),
      Seq("l_orderkey", "l_linenumber"))
    graft.sinks.TableLog.compact(s, t, 1L << 30)
    graft.sinks.TableLog.read(s, t)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Manifest-level data skipping through the commit log: a range-layout
    * create records per-file [min, max] key stats in each manifest
    * entry, and a `scan` range filter opens ONLY the overlapping files
    * (the manifest — not a footer crawl — decides; TableLogSpec asserts
    * the file-count reduction). The oracle recomputes the same range
    * aggregate over the raw table, so a wrongly-skipped file would
    * change the hash. Input bounded to a 1-in-10 order slice for the
    * same reason as o34: the query prices the skipping read path, not
    * bulk write throughput. */
  private def o35LogSkipping(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/logskip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem")
      .where(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), round(col("l_quantity")).cast("long").as("qty"))
    graft.sinks.TableLog.create(s, t,
      li.repartitionByRange(8, col("l_orderkey")), statsCols = Seq("l_orderkey"))
    graft.sinks.TableLog.scan(s, t)
      .where(col("l_orderkey").between(1000L, 5000L))
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
  }

  /** The declarative read face (`TableLog.scan` + the PruneLogScan
    * optimizer rule) over the same clustered table as o35, grouped by
    * slice: the rule, not the caller, turns each `.where` into manifest
    * file pruning before the parquet scan is planned. The range slice
    * must equal o35's aggregate; the plan-level pruning itself (files
    * opened) is pinned in LogScanSpec. A second, string-equality
    * predicate rides the same scan to exercise the categorical prune
    * path under the oracle. */
  private def o57LogScan(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/logscan_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem")
      .where(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), round(col("l_quantity")).cast("long").as("qty"),
        col("l_returnflag"))
    graft.sinks.TableLog.create(s, t,
      li.repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"), strStatsCols = Seq("l_returnflag"))
    val scan = graft.sinks.TableLog.scan(s, t)
    val byRange = scan.where(col("l_orderkey").between(1000L, 5000L))
      .groupBy(lit("range").as("slice"))
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
    val byFlag = scan.where(col("l_returnflag") === "R")
      .groupBy(lit("flag").as("slice"))
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
    byRange.unionByName(byFlag).orderBy("slice")
  }

  /** Partial small-file compaction under the oracle: a big create plus
    * a stream of small appends (the streaming-ingest shape), then
    * `compactSmall` packs ONLY the small files — the big file carries
    * by reference (spec-pinned in TableLogSpec; here the oracle pins
    * that the packed table's content is exactly the union of every
    * slice, i.e. the rewrite moved bytes, not rows). */
  private def o58CompactSmall(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/csmall_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      round(col("l_quantity")).cast("long").as("qty"), col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 30 < 15).coalesce(1),
      statsCols = Seq("l_orderkey"))
    (15 to 18).foreach(i => tl.append(s, t,
      li.where(col("l_orderkey") % 30 === i).coalesce(1)))
    val big = java.nio.file.Files.size(java.nio.file.Paths.get(t,
      tl.snapshot(t).get.files.minBy(_.ver).path))
    tl.compactSmall(s, t, smallBytes = math.max(2L, big / 2))
    tl.read(s, t).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** Join-driven dynamic file pruning under the oracle: a nation-key-
    * clustered customer log table inner-joined to a FILTERED nation
    * dim through the declarative face — the PruneLogScan rule executes
    * the small dim side at planning and opens only the fact files
    * whose c_nationkey ranges can contain the surviving nation keys
    * (files-opened pinned in LogScanSpec; values pinned here). */
  private def o59DynJoin(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/dynjoin_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val cust = T(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey"), cents(col("c_acctbal")).as("bal_c"))
    graft.sinks.TableLog.create(s, t,
      cust.repartitionByRange(8, col("c_nationkey"), col("c_custkey")),
      statsCols = Seq("c_nationkey"))
    val dim = T(s, dir, "nation").where(col("n_regionkey") === 2)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    graft.sinks.TableLog.scan(s, t).join(dim, Seq("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_rows"), sum("bal_c").as("sum_bal"),
        min("c_custkey").as("min_ck"), max("c_custkey").as("max_ck"))
      .orderBy("n_name")
  }

  /** The pure SQL face: log tables registered as temp views through
    * the declarative scan, then ONE `spark.sql` text query — filter,
    * join, aggregate — exercising manifest range pruning AND
    * join-driven dynamic pruning from SQL alone. A user who only
    * speaks SQL gets the same manifest-level behavior as the
    * DataFrame faces (files-opened pinned in LogScanSpec). */
  private def o60SqlFace(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/sqlface_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val cust = T(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey"), cents(col("c_acctbal")).as("bal_c"))
    graft.sinks.TableLog.create(s, t,
      cust.repartitionByRange(8, col("c_custkey")),
      statsCols = Seq("c_custkey"))
    graft.sinks.TableLog.scan(s, t).createOrReplaceTempView("cust_lake")
    T(s, dir, "nation").createOrReplaceTempView("nation_v")
    s.sql("""
      SELECT n_name,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(bal_c) AS BIGINT) AS sum_bal,
        min(c_custkey) AS min_ck, max(c_custkey) AS max_ck
      FROM cust_lake JOIN nation_v ON c_nationkey = n_nationkey
      WHERE c_custkey BETWEEN 100 AND 700 AND n_regionkey = 1
      GROUP BY n_name ORDER BY n_name""")
  }

  /** STRING-KEY join-driven dynamic file pruning under the oracle: a
    * documents table keyed on a zero-padded STRING doc key (the
    * content-table shape), range-clustered with string file stats,
    * inner-joined through the declarative face to a small literal dim
    * of keys — `PruneLogScan.tryDynPrune` collects the dim's keys at
    * planning and opens only the fact files whose string stat ranges
    * (UTF-8 binary order) can contain one, via the same
    * `prunedFilesByKeysStr` primitive the string COW merge uses
    * (files-opened pinned in LogScanSpec; values pinned here). */
  private def o64DynJoinStr(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/dynjstr_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val docs = T(s, dir, "documents")
      .select(concat(lit("doc-"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("key"),
        col("lang"), col("n_chars"))
    graft.sinks.TableLog.create(s, t,
      docs.repartitionByRange(8, col("key")).sortWithinPartitions("key"),
      strStatsCols = Seq("key"))
    val dim = s.range(150, 170).select(concat(lit("doc-"),
        lpad(col("id").cast("string"), 8, "0")).as("key"),
      (col("id") * 2).as("w"))
    graft.sinks.TableLog.scan(s, t).join(dim, Seq("key"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), sum("w").as("sum_w"),
        min("key").as("min_key"), max("key").as("max_key"))
      .orderBy("lang")
  }

  /** The SQL DML face under the oracle: a log table registered via
    * `registerSqlTable`, then one UPDATE, one DELETE, and one
    * canonical MERGE — committed from SQL TEXT alone through
    * `TableLog.sql` (the live-session twin of the `GraftExtensions`
    * injected parser), each routing to the same stats-pruned TableLog
    * faces the Scala API uses (prune minimality spec-pinned in
    * SqlDmlSpec). The final SELECT reads the re-registered view, so a
    * stale-snapshot refresh bug changes the hash; the oracle replays
    * the three mutations relationally in statement order. */
  private def o65SqlDml(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/sqldml_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 21)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartitionByRange(8, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))
    tl.registerSqlTable(s, "lake65", t)
    val maxKey = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val upd = base.where(col("o_orderkey") % 7 === 2)
      .select(col("o_orderkey"), (col("price_c") + 500).as("price_c"),
        lit("U").as("priority"))
    val ins = base.where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + maxKey).as("o_orderkey"),
        col("price_c"), lit("I").as("priority"))
    upd.unionByName(ins).createOrReplaceTempView("src65")
    tl.sql(s, "UPDATE lake65 SET price_c = price_c + 777 " +
      "WHERE o_orderkey BETWEEN 1000 AND 4000")
    tl.sql(s, "DELETE FROM lake65 WHERE o_orderkey BETWEEN 5000 AND 9000")
    tl.sql(s, "MERGE INTO lake65 USING src65 " +
      "ON lake65.o_orderkey = src65.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    tl.sql(s, """
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM lake65 GROUP BY priority ORDER BY priority""")
  }

  /** The SQL DML face routed MERGE-ON-READ: `o65_sql_dml`'s exact
    * statement sequence on its own slice, against a table declared
    * `rowLevelMode = mor` with an UNCLUSTERED layout — the UPDATE and
    * the range DELETE commit deletion vectors (plus the UPDATE's new
    * images) and the MERGE commits `mergeUpsert`'s key sidecar (source
    * files + key sidecar), ZERO base-file rewrites either way
    * (spec-pinned in SqlDmlSpec). The oracle replays the same three
    * mutations — which commit strategy each statement took must be
    * invisible to the reader. */
  private def o68SqlDmlMor(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/sqldmlm_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 23)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartition(8, col("priority")),
      statsCols = Seq("o_orderkey"), rowLevelMode = tl.Mor)
    tl.registerSqlTable(s, "lake68", t)
    val maxKey = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val upd = base.where(col("o_orderkey") % 7 === 2)
      .select(col("o_orderkey"), (col("price_c") + 500).as("price_c"),
        lit("U").as("priority"))
    val ins = base.where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + maxKey).as("o_orderkey"),
        col("price_c"), lit("I").as("priority"))
    upd.unionByName(ins).createOrReplaceTempView("src68")
    tl.sql(s, "UPDATE lake68 SET price_c = price_c + 777 " +
      "WHERE o_orderkey BETWEEN 1000 AND 4000")
    tl.sql(s, "DELETE FROM lake68 WHERE o_orderkey BETWEEN 5000 AND 9000")
    tl.sql(s, "MERGE INTO lake68 USING src68 " +
      "ON lake68.o_orderkey = src68.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    tl.sql(s, """
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM lake68 GROUP BY priority ORDER BY priority""")
  }

  /** SQL INSERT + time travel under the oracle: a registered log
    * table mutated from TEXT alone — one `INSERT … VALUES` (positional
    * alignment, literals cast to the table's types), one
    * `INSERT (permuted column list) … SELECT` whose SOURCE time-travels
    * the table's own pre-insert version (`VERSION AS OF 1` inside the
    * INSERT), each committing through `TableLog.append` with the
    * registration's stat columns — and a final SELECT that unions the
    * live aggregate with a `VERSION AS OF 1` aggregate, so BOTH the
    * append semantics and the from-text time travel land in the hashed
    * result. The oracle replays the inserts relationally; the AS OF
    * row must equal the pristine base. */
  private def o69SqlInsert(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/sqlins_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 25)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartitionByRange(8, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))
    tl.registerSqlTable(s, "lake69", t)
    tl.sql(s, "INSERT INTO lake69 VALUES " +
      "(9000001, 111, 'V'), (9000002, 222, 'V')")
    tl.sql(s, "INSERT INTO lake69 (priority, price_c, o_orderkey) " +
      "SELECT 'S', price_c + 1, o_orderkey + 20000000 " +
      "FROM lake69 VERSION AS OF 1 WHERE o_orderkey % 11 = 3")
    tl.sql(s, """
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM lake69 GROUP BY priority
      UNION ALL
      SELECT 'asof_v1' AS priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM lake69 VERSION AS OF 1
      ORDER BY priority""")
  }

  /** Multi-dimensional Z-BOX file skipping under the oracle: a
    * z-ordered table queried with a 2-D conjunction box through the
    * DECLARATIVE face. Each z-ordered file records its z-interval as a
    * derived manifest stat, and the scan rule's conjunction pass
    * (`prunedFilesByBox` / `ZOrderLong.zBoxIntersects`, the quadtree
    * walk) drops files whose per-column bounding box overlaps the
    * query box but whose z run never enters it — the improvement
    * per-column stats cannot express. The in-plan invariant asserts
    * the tightening is REAL on this table (at least one
    * quadrant-corner box keeps strictly fewer files under the z test
    * than under per-column stats — non-decorative: a broken box pass
    * fails the query, not just a spec); the deterministic exact pin
    * lives in LogScanSpec's 256×256 grid. The oracle replays the
    * derived grid and box filter relationally — pruning must never
    * change semantics. */
  private def o70BoxSkip(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/boxskip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    // deterministic 2-D layout derived from events (a dense, b
    // hash-spread over [0,256)) — the oracle computes the same grid
    val base = T(s, dir, "events").select(
      (col("event_id") % 256).as("a"),
      ((col("event_id") * lit(2654435761L)) % 256).as("b"),
      col("event_type"))
    tl.create(s, t, base)
    tl.zOrder(s, t, 5, "a", (0L, 255L), "b", (0L, 255L))
    val snap = tl.snapshot(t).get
    val corners = Seq((0L, 40L, 64L, 100L), (64L, 100L, 0L, 40L),
      (200L, 250L, 10L, 60L), (10L, 60L, 200L, 250L))
    val tightened = corners.exists { case (al, ah, bl, bh) =>
      val perCol = tl.prunedFilesOf(
        snap.copy(files = tl.prunedFilesOf(snap, "a", al, ah)),
        "b", bl, bh)
      val boxed = tl.prunedFilesByBox(snap.copy(files = perCol),
        Map("a" -> (al, ah), "b" -> (bl, bh)))
      boxed.size < perCol.size
    }
    assert(tightened, s"o70_box_skip: the z-interval conjunction pass " +
      "tightened NO quadrant-corner box beyond per-column stats on a " +
      "z-ordered 5-file table — box skipping is broken")
    tl.scan(s, t)
      .where(col("a").between(0, 40) && col("b").between(64, 100))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("a")).as("sum_a"),
        sum(col("b")).as("sum_b"))
      .orderBy(col("event_type"))
  }

  /** HILBERT clustering under the oracle — `o70`'s curve-swapped twin:
    * a FULL-RESOLUTION 65536² derived grid laid out by
    * `TableLog.hilbertOrder` (the unit-step curve DEVNOTES round 15
    * measured at 10–22% fewer files per box than Morton at realistic
    * non-power-of-4 file counts — per-box winners vary at tiny file
    * counts, so the advantage is pinned by that measurement, not
    * per-box here), read through the declarative face with a 2-D
    * conjunction. In-plan invariant — the INTEGRATION-EXACTNESS pin:
    * on every probe box, `prunedFilesByBox`'s kept set equals the
    * brute-force interval check over the box's cells against each
    * file's RECORDED `h2|` stat (full-resolution ranges make the
    * identity normalization exact, so brute force is well-defined) —
    * one identity covering stat recording, physical-name resolution,
    * range clamping, normalization, and the curve walk end-to-end.
    * The oracle replays the grid and box relationally. */
  private def o78HilbertSkip(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/hskip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    val base = T(s, dir, "events").select(
      (col("event_id") % 65536).as("a"),
      ((col("event_id") * lit(2654435761L)) % 65536).as("b"),
      col("event_type"))
    tl.create(s, t, base)
    tl.hilbertOrder(s, t, 7, "a", (0L, 65535L), "b", (0L, 65535L))
    val snap = tl.snapshot(t).get
    val boxes = Seq((0L, 199L, 0L, 199L), (65300L, 65500L, 100L, 300L),
      (200L, 399L, 65200L, 65400L), (30000L, 30199L, 30000L, 30199L),
      (1000L, 2599L, 500L, 599L))
    boxes.foreach { case (al, ah, bl, bh) =>
      val perCol = tl.prunedFilesOf(
        snap.copy(files = tl.prunedFilesOf(snap, "a", al, ah)),
        "b", bl, bh)
      val boxed = tl.prunedFilesByBox(snap.copy(files = perCol),
        Map("a" -> (al, ah), "b" -> (bl, bh))).map(_.path).toSet
      val brute = perCol.filter { f =>
        val st = f.stats.find(_.col.startsWith("h2|")).getOrElse(
          sys.error(s"o78: ${f.path} lost its h2 stat"))
        (al to ah).exists(a => (bl to bh).exists { b =>
          val e = graft.functions.HilbertLong.encode16(a, b)
          e >= st.min && e <= st.max
        })
      }.map(_.path).toSet
      assert(boxed == brute,
        s"o78_hilbert_skip: box [$al..$ah]×[$bl..$bh] kept $boxed " +
          s"but the brute-force interval check over the recorded h2 " +
          s"stats says $brute — the layout→stat→walk chain drifted")
    }
    tl.scan(s, t)
      .where(col("a").between(0, 9999) && col("b").between(0, 19999))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("a")).as("sum_a"),
        sum(col("b")).as("sum_b"))
      .orderBy(col("event_type"))
  }

  /** THREE-column z-order clustering under the oracle — `o70`'s n-ary
    * step (source × time × length is the natural training-data
    * layout). A table z3-ordered on three derived dims
    * (`TableLog.zOrder3`, the 48-bit Morton-3 interleave with per-file
    * `z3|…` interval stats) queried with a 3-D conjunction through the
    * declarative face, where the OCTREE walk
    * (`ZOrderLong.zBox3Intersects`) drops straddling files per-column
    * stats keep. In-plan invariant: at least one octant-corner box
    * tightens STRICTLY beyond per-column stats — non-decorative (a
    * broken octree pass fails the query, not just a spec). 2-of-3
    * column boxes flowing through the same z3 stat are spec-pinned in
    * LogScanSpec. The oracle replays the derived grid and box
    * relationally. */
  private def o71Z3(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/z3skip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    val base = T(s, dir, "events").select(
      (col("event_id") % 64).as("a"),
      ((col("event_id") * lit(2654435761L)) % 64).as("b"),
      ((col("event_id") * lit(2246822519L)) % 64).as("c"),
      col("event_type"))
    tl.create(s, t, base)
    tl.zOrder3(s, t, 7, "a", (0L, 63L), "b", (0L, 63L), "c", (0L, 63L))
    val snap = tl.snapshot(t).get
    def perCol(al: Long, ah: Long, bl: Long, bh: Long, cl: Long,
        ch: Long) =
      tl.prunedFilesOf(snap.copy(files = tl.prunedFilesOf(
        snap.copy(files = tl.prunedFilesOf(snap, "a", al, ah)),
        "b", bl, bh)), "c", cl, ch)
    val corners = Seq((0L, 10L, 40L, 60L, 0L, 10L),
      (40L, 60L, 0L, 10L, 0L, 10L), (0L, 10L, 0L, 10L, 40L, 60L),
      (50L, 63L, 50L, 63L, 0L, 10L))
    val tightened = corners.exists { case (al, ah, bl, bh, cl, ch) =>
      val pc = perCol(al, ah, bl, bh, cl, ch)
      tl.prunedFilesByBox(snap.copy(files = pc),
        Map("a" -> (al, ah), "b" -> (bl, bh), "c" -> (cl, ch)))
        .size < pc.size
    }
    assert(tightened, "o71_z3: the octree pass tightened NO " +
      "octant-corner box beyond per-column stats on a z3-ordered " +
      "7-file table — 3-D box skipping is broken")
    tl.scan(s, t)
      .where(col("a").between(0, 10) && col("b").between(20, 40) &&
        col("c").between(0, 31))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("a")).as("sum_a"),
        sum(col("b")).as("sum_b"), sum(col("c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  /** HILBERT-3 layout under the oracle — the adjudicated 3-D
    * clustering verb (DEVNOTES round 16: 11–21% fewer files opened
    * than Morton-3 on selective boxes at non-power-of-8 file counts).
    * Cluster the derived 64³ grid into THREE files (each run spans
    * ~2.67 octants, so some bounding box covers a corner octant its
    * curve run never visits — the case per-column stats cannot prune)
    * and pin in-plan that the DECODE-ONLY exact interval test
    * (`h3BoxIntersects`) tightens at least one corner box beyond
    * per-column stats; the final 3-D box aggregate is oracled — box
    * skipping must be invisible to semantics. */
  private def o83H3(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/h3skip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    val base = T(s, dir, "events").select(
      (col("event_id") % 64).as("a"),
      ((col("event_id") * lit(2654435761L)) % 64).as("b"),
      ((col("event_id") * lit(2246822519L)) % 64).as("c"),
      col("event_type"))
    tl.create(s, t, base)
    tl.hilbertOrder3(s, t, 3, "a", (0L, 63L), "b", (0L, 63L),
      "c", (0L, 63L))
    val snap = tl.snapshot(t).get
    assert(snap.files.forall(_.stats.exists(_.col.startsWith("h3|"))),
      "o83_h3: every clustered file must carry the h3 spec")
    def perCol(al: Long, ah: Long, bl: Long, bh: Long, cl: Long,
        ch: Long) =
      tl.prunedFilesOf(snap.copy(files = tl.prunedFilesOf(
        snap.copy(files = tl.prunedFilesOf(snap, "a", al, ah)),
        "b", bl, bh)), "c", cl, ch)
    val corners = for (ca <- Seq((0L, 10L), (53L, 63L));
        cb <- Seq((0L, 10L), (53L, 63L)); cc <- Seq((0L, 10L), (53L, 63L)))
      yield (ca._1, ca._2, cb._1, cb._2, cc._1, cc._2)
    val tightened = corners.exists { case (al, ah, bl, bh, cl, ch) =>
      val pc = perCol(al, ah, bl, bh, cl, ch)
      tl.prunedFilesByBox(snap.copy(files = pc),
        Map("a" -> (al, ah), "b" -> (bl, bh), "c" -> (cl, ch)))
        .size < pc.size
    }
    assert(tightened, "o83_h3: the h3 interval pass tightened NO " +
      "corner box beyond per-column stats on a hilbert3-ordered " +
      "3-file table — h3 box skipping is broken")
    tl.scan(s, t)
      .where(col("a").between(0, 15) && col("b").between(32, 52) &&
        col("c").between(8, 40))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("a")).as("sum_a"),
        sum(col("b")).as("sum_b"), sum(col("c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  /** INCREMENTAL z-order maintenance under the oracle: a z-ordered
    * table takes two UNCLUSTERED appends (the streaming-ingest
    * degradation: new files carry no z stat, so box pruning decays),
    * then `zOrderMaintain` re-clusters ONLY the tail — in-plan
    * invariants pin that the appends were unclustered, that after the
    * tick every file carries the spec, and that every
    * already-clustered file carried BY REFERENCE (the tick is O(new
    * data), never O(table)). The final 2-D box aggregate covers both
    * halves; the oracle replays the derived grid over ALL events —
    * maintenance must be invisible to semantics. */
  private def o72ZMaintain(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/zmaint_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    def grid(half: Int) = T(s, dir, "events")
      .where(col("event_id") % 2 === half)
      .select((col("event_id") % 256).as("a"),
        ((col("event_id") * lit(2654435761L)) % 256).as("b"),
        col("event_type"))
    tl.create(s, t, grid(0), statsCols = Seq("a", "b"))
    tl.zOrder(s, t, 5, "a", (0L, 255L), "b", (0L, 255L))
    val clusteredPaths = tl.snapshot(t).get.files.map(_.path).toSet
    tl.append(s, t, grid(1).where(col("a") < 128))
    tl.append(s, t, grid(1).where(col("a") >= 128))
    val pre = tl.snapshot(t).get
    assert(pre.files.count(f =>
      !f.stats.exists(_.col.startsWith("z2|"))) >= 2,
      "o72: appends must land unclustered")
    tl.zOrderMaintain(s, t, targetBytes = 64 << 10)
    val post = tl.snapshot(t).get
    assert(post.files.forall(_.stats.exists(_.col.startsWith("z2|"))),
      "o72: every file must carry the spec after maintenance")
    assert(clusteredPaths.subsetOf(post.files.map(_.path).toSet),
      "o72: already-clustered files must carry by reference")
    tl.scan(s, t)
      .where(col("a").between(0, 100) && col("b").between(50, 150))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("a")).as("sum_a"),
        sum(col("b")).as("sum_b"))
      .orderBy(col("event_type"))
  }

  /** VERSION TAGS under the oracle: tag the pristine table
    * `baseline`, mutate (SQL DELETE), full-compact (so the live
    * window stops referencing the original files), then VACUUM with
    * keepVersions = 1 — the tag must protect its version's manifest
    * chain AND data files below the retention floor. The final SELECT
    * unions the live aggregate with `VERSION AS OF 'baseline'` FROM
    * TEXT, post-vacuum: a tag that failed to protect its chain (or a
    * vacuum that over-retained nothing it should drop) changes the
    * hash. The oracle replays both states relationally. */
  private def o73Tags(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/tags_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 27)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
    tl.create(s, t, base.repartitionByRange(6, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))                              // v1
    tl.tagVersion(t, "baseline", 1)
    tl.registerSqlTable(s, "lake73", t)
    tl.sql(s, "DELETE FROM lake73 WHERE o_orderkey BETWEEN 3000 AND 12000")
    tl.compact(s, t, targetBytes = 1L << 30)
    tl.vacuum(s, t, keepVersions = 1, olderThanMs = 0)
    // the view pinned a pre-compact snapshot; re-register post-vacuum
    tl.registerSqlTable(s, "lake73", t)
    tl.sql(s, """
      SELECT 'live' AS state, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c
      FROM lake73
      UNION ALL
      SELECT 'tag_baseline' AS state, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c
      FROM lake73 VERSION AS OF 'baseline'
      ORDER BY state""")
  }

  /** The COMPLETE SQL lifecycle from text alone — the capstone of the
    * SQL face: `CREATE TABLE … USING graft … AS SELECT` (DDL commits
    * v1 and registers the view with its stat columns), then UPDATE,
    * INSERT, DELETE, and the final aggregate SELECT — five
    * statements, zero Scala-face calls. Everything the Scala API
    * pins (stats-pruned commits, view refresh after each DML,
    * positional INSERT alignment) must compose; the oracle replays
    * the statement sequence relationally. */
  private def o74SqlFull(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/sqlfull_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    T(s, dir, "orders").createOrReplaceTempView("orders_src74")
    tl.sql(s, s"CREATE TABLE lake74 USING graft LOCATION '$t' " +
      "OPTIONS (statsCols 'o_orderkey') AS " +
      "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) " +
      "AS price_c, o_orderpriority AS priority " +
      "FROM orders_src74 WHERE o_orderkey % 30 = 29")
    tl.sql(s, "UPDATE lake74 SET price_c = price_c + 11 " +
      "WHERE o_orderkey BETWEEN 2000 AND 6000")
    tl.sql(s, "INSERT INTO lake74 VALUES (77000001, 500, 'X')")
    tl.sql(s, "DELETE FROM lake74 WHERE o_orderkey BETWEEN 8000 AND 15000")
    tl.sql(s, """
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM lake74 GROUP BY priority ORDER BY priority""")
  }

  /** The DSv2 CATALOG face under the oracle: every statement names the
    * table as `<catalog>.sales.lake` through Spark's own
    * CatalogManager (graft.catalog.GraftCatalog — no temp views, no
    * LOCATION clauses): CREATE NAMESPACE, CTAS with property-declared
    * stat columns, a native V2 INSERT, parser-face UPDATE/DELETE, and
    * a final SELECT that unions the LIVE aggregate with a NATIVE
    * `VERSION AS OF 1` read (the post-CTAS state — ATOMIC CTAS via
    * the staging catalog publishes schema + data as ONE v1 commit —
    * resolved through
    * `loadTable(ident, version)`, not the view splice). The oracle
    * replays the lifecycle relationally; the 'ctas' rows pin that
    * time travel through the catalog returns exactly the pre-mutation
    * table. Catalog name and warehouse are per-SF so re-runs and
    * mixed-SF sessions never collide (a CatalogManager instance
    * caches its warehouse at first use). */
  private def o76CatalogSql(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o76_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    T(s, dir, "orders").createOrReplaceTempView("orders_src76")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sales")
    s.sql(s"CREATE TABLE $cat.sales.lake " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey') AS " +
      "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) " +
      "AS price_c, o_orderpriority AS priority " +
      "FROM orders_src76 WHERE o_orderkey % 30 = 26")
    s.sql(s"INSERT INTO $cat.sales.lake VALUES (88000001, 700, 'X')")
    tl.sql(s, s"UPDATE $cat.sales.lake SET price_c = price_c + 7 " +
      "WHERE o_orderkey BETWEEN 1000 AND 5000")
    tl.sql(s, s"DELETE FROM $cat.sales.lake " +
      "WHERE o_orderkey BETWEEN 9000 AND 16000")
    // ALTER through Spark's own TableChange routing: a metadata-only
    // additive column (old rows read null — counted via n_channel),
    // then an insert carrying it
    s.sql(s"ALTER TABLE $cat.sales.lake ADD COLUMNS (channel STRING)")
    s.sql(s"INSERT INTO $cat.sales.lake " +
      "VALUES (88000002, 900, 'X', 'web')")
    // lossless TYPE WIDENING through the same routing: an INT column
    // widens to BIGINT metadata-only (zero rewrites), the pre-widen
    // file's narrow physical value reads exactly through the wide
    // schema, and a post-widen insert exceeds the old type's range
    s.sql(s"ALTER TABLE $cat.sales.lake ADD COLUMNS (units INT)")
    s.sql(s"INSERT INTO $cat.sales.lake " +
      "VALUES (88000003, 900, 'X', 'web', 5)")
    s.sql(s"ALTER TABLE $cat.sales.lake ALTER COLUMN units TYPE BIGINT")
    s.sql(s"INSERT INTO $cat.sales.lake " +
      "VALUES (88000004, 900, 'X', 'web', 6000000000)")
    s.sql(s"""
      SELECT 'live' AS state, priority,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        CAST(count(channel) AS BIGINT) AS n_channel,
        CAST(sum(units) AS BIGINT) AS sum_units
      FROM $cat.sales.lake GROUP BY priority
      UNION ALL
      SELECT 'ctas' AS state, priority,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        CAST(0 AS BIGINT) AS n_channel,
        CAST(NULL AS BIGINT) AS sum_units
      FROM $cat.sales.lake VERSION AS OF 1 GROUP BY priority
      ORDER BY state, priority""")
  }

  /** METADATA COLUMNS under the oracle: `_version` — the manifest
    * version whose commit added each row's file, resolved through
    * Spark's own `SupportsMetadataColumns` machinery on the DSv2
    * catalog — grouped over a three-commit lifecycle whose last step
    * is a zero-rewrite MOR update. The MOR guarantee is what makes
    * the oracle exact: untouched rows keep their original commit (no
    * base file was rewritten), updated rows carry the update's
    * commit. `_file` is env-specific (absolute paths), so an in-plan
    * invariant pins it instead: every surviving row's `_file` must be
    * non-blank — `input_file_name` goes blank above a shuffle, so a
    * blank would mean the attach point drifted off the scan. */
  private def o79MetadataCols(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh79_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o79_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    T(s, dir, "orders").createOrReplaceTempView("orders_src79")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.audit")
    s.sql(s"CREATE TABLE $cat.audit.lake " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey', " +
      "'rowLevelMode' = 'mor') AS " +
      "SELECT /*+ REPARTITION(4) */ o_orderkey, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c, " +
      "o_orderpriority AS priority " +
      "FROM orders_src79 WHERE o_orderkey % 30 = 24")            // v1
    s.sql(s"INSERT INTO $cat.audit.lake " +
      "SELECT o_orderkey + 40000000, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) + 3, 'I' " +
      "FROM orders_src79 " +
      "WHERE o_orderkey % 30 = 24 AND o_orderkey % 97 = 11")     // v2
    tl.sql(s, s"UPDATE $cat.audit.lake SET price_c = price_c + 5 " +
      "WHERE o_orderkey BETWEEN 2000 AND 7000")              // v3 (MOR)
    s.sql(s"""
      SELECT _version, priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.audit.lake
      WHERE _file IS NOT NULL AND length(_file) > 0
      GROUP BY _version, priority ORDER BY _version, priority""")
  }

  /** POSITIONAL (deletion-vector) DML under the oracle — the SQL
    * DELETE/UPDATE completion: predicates NO range/key face can claim
    * (modulo arithmetic + string comparisons, multi-column
    * conjunctions) execute as zero-rewrite deletion-vector commits
    * with exact SQL semantics. The in-plan invariants pin the MOR
    * contract: after both statements every ORIGINAL data file is still
    * in the manifest (nothing rewritten) and a `__pos__` sidecar is
    * pending. The oracle replays the two statements relationally —
    * exact BECAUSE nothing was rewritten: untouched rows can't drift. */
  private def o80DvDml(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/dvdml_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val tl = graft.sinks.TableLog
    T(s, dir, "orders").createOrReplaceTempView("orders_src80")
    tl.sql(s, s"CREATE TABLE lake80 USING graft LOCATION '$t' " +
      "OPTIONS (statsCols 'o_orderkey', rowLevelMode 'mor') AS " +
      "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) " +
      "AS price_c, o_orderpriority AS priority " +
      "FROM orders_src80 WHERE o_orderkey % 30 = 20")
    val before = tl.snapshot(t).get.files.map(_.path).toSet
    tl.sql(s, "DELETE FROM lake80 " +
      "WHERE price_c % 10 = 3 AND priority <> '1-URGENT'")
    tl.sql(s, "UPDATE lake80 SET price_c = price_c + 9 " +
      "WHERE priority = '2-HIGH' AND o_orderkey % 13 = 5")
    val after = tl.snapshot(t).get
    assert(before.subsetOf(after.files.map(_.path).toSet),
      "o80: positional DML must rewrite no base data file")
    assert(after.dels.exists(_.keyCol == "__pos__"),
      "o80: a deletion-vector sidecar must be pending")
    tl.sql(s, """
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM lake80 GROUP BY priority ORDER BY priority""")
  }

  /** The NATIVE streaming sink under the oracle:
    * `writeStream.toTable("<cat>.stream.lake")` drains a file-source
    * stream in two waves — each epoch is ONE txn-stamped append commit
    * through `GraftStreamingWrite`'s executor-side parquet writers —
    * and the final aggregate reads the table back through the catalog.
    * The oracle replays both waves relationally; it is independent of
    * epoch granularity (however the source batches the files, the
    * committed content is the union), which is exactly the sink's
    * correctness contract. In-plan invariants pin the mechanism: the
    * final snapshot is txn-stamped (`<queryId>#<epoch>` idempotence
    * key) and every streamed file carries the property-declared key
    * stat. */
  private def o81StreamTable(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh81_$sfx"
    val src = s"$tmpRoot/stream81_src_$sfx"
    val ckpt = s"$tmpRoot/stream81_ck_$sfx"
    Seq(wh, src, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val cat = s"graft_o81_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.stream")
    s.sql(s"CREATE TABLE $cat.stream.lake (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 6)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    base.where(col("o_orderkey") % 2 === 0).write.parquet(src)
    val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
    val q = stream.writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.stream.lake")
    try {
      q.processAllAvailable()
      base.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), (col("price_c") + 1000L).as("price_c"),
          lit("W2").as("priority"))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val path = s"$wh/stream/lake"
    val snap = tl.snapshot(path).get
    assert(snap.txn.exists(_.contains("#")),
      "o81: epoch commits must be txn-stamped for exactly-once")
    assert(snap.files.nonEmpty &&
      snap.files.forall(_.stats.exists(_.col == "o_orderkey")),
      "o81: streamed files must carry the property-declared stats")
    s.sql(s"""
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.stream.lake GROUP BY priority ORDER BY priority""")
  }

  /** The NATIVE streaming READ under the oracle — the symmetric half
    * of o81's sink: `readStream.table(bronze)` (a
    * [[graft.catalog.GraftMicroBatchStream]] whose offsets are
    * manifest versions and whose micro-batches are the commits' exact
    * file deltas) feeds `writeStream.toTable(silver)`. Two appends
    * land on bronze around a full STOP/RESTART of the stream; the
    * checkpointed version offset makes the restart deliver exactly
    * the unseen commit — pinned by silver's commit count (create + 2
    * epochs, nothing double-delivered) — and the final aggregate is
    * oracled against the same rows computed relationally. */
  private def o82StreamRead(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh82_$sfx"
    val ckpt = s"$tmpRoot/stream82_ck_$sfx"
    Seq(wh, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val cat = s"graft_o82_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sr")
    s.sql(s"CREATE TABLE $cat.sr.bronze (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    s.sql(s"CREATE TABLE $cat.sr.silver (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val bronze = s"$wh/sr/bronze"
    val silver = s"$wh/sr/silver"
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 7)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    // keys ≡ 7 (mod 30) are all odd — split the slice on mod 60
    // (7 vs 37) so BOTH waves are non-empty
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 7))
    def run(): Unit = {
      val q = s.readStream.table(s"$cat.sr.bronze")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable(s"$cat.sr.silver")
      try q.processAllAvailable() finally q.stop()
    }
    run() // wave 1: the pre-stream rows (startingVersion=earliest)
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 37))
    run() // RESTART from the checkpoint: exactly the unseen commit
    assert(tl.latestVersion(silver) == 3,
      "o82: create + exactly one epoch commit per run — a replayed " +
        "offset would add a fourth version (double delivery)")
    val snap = tl.snapshot(silver).get
    assert(snap.txn.exists(_.contains("#")),
      "o82: epoch commits must be txn-stamped for exactly-once")
    assert(snap.files.forall(_.stats.exists(_.col == "o_orderkey")),
      "o82: streamed silver files must carry the declared stats")
    s.sql(s"""
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.sr.silver GROUP BY priority ORDER BY priority""")
  }

  /** The CHANGES-TABLE face under the oracle — `graft.ns.t__changes`
    * as a streaming CDC SUBSCRIPTION: a CDC-feed bronze takes an
    * insert wave, a range DELETE (captured as typed rows), and a
    * second insert wave; `readStream.table(bronze__changes)` with
    * `Trigger.AvailableNow` drains the published feed into a sink
    * catalog table across TWO runs split around the delete (offsets =
    * published feed versions in the consumer checkpoint — the second
    * run delivers exactly the unseen versions). The oracled aggregate
    * groups the SINK by `_change_type`: insert counts/sums replay the
    * two waves, delete counts/sums replay the deleted slice — the
    * full row-level change log, exactly once. */
  private def o84ChangesTable(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh84_$sfx"
    val ckpt = s"$tmpRoot/chg84_ck_$sfx"
    Seq(wh, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val cat = s"graft_o84_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ch")
    s.sql(s"CREATE TABLE $cat.ch.bronze (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    s.sql(s"CREATE TABLE $cat.ch.sink (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING, _change_type STRING, " +
      "_change_version BIGINT)")
    val bronze = s"$wh/ch/bronze"
    tl.enableCdcFeed(bronze)
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 8)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 8))
    def drain(): Unit = {
      val q = s.readStream.table(s"$cat.ch.bronze__changes")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.ch.sink")
      assert(q.awaitTermination(180000), "o84: drain must terminate")
    }
    drain() // wave 1
    // typed-captured COW delete + the second insert wave
    tl.delete(s, bronze, col("o_orderkey").between(2000, 9000))
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 38))
    drain() // RESTART: exactly the unseen feed versions
    s.sql(s"""
      SELECT _change_type, priority,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.ch.sink GROUP BY _change_type, priority
      ORDER BY _change_type, priority""")
  }

  /** PREDICATE OVERWRITE under the oracle —
    * `df.writeTo(t).overwrite(cond)` (Delta's replaceWhere): the
    * recompute-a-slice backfill in ONE atomic commit. Lifecycle:
    * insert wave → overwrite the [5000,15000] key slice with
    * recomputed rows (price_c+100) through Spark's own
    * OverwriteByExpression → SupportsOverwrite path (exact predicate
    * translation, manifest-stat pruning of which files rewrite,
    * new-row predicate enforcement); in-plan asserts pin ONE commit
    * and the 'replace' action. Result = the final state grouped by
    * priority; the oracle reconstructs it relationally. */
  private def o89ReplaceWhere(s: SparkSession, dir: String)
      : DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh89_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o89_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rw")
    s.sql(s"CREATE TABLE $cat.rw.t (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val path = s"$wh/rw/t"
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 29)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s, path, base)    // v2
    val v2 = tl.latestVersion(path)
    base.where(col("o_orderkey").between(5000, 15000))
      .withColumn("price_c", col("price_c") + 100)
      .writeTo(s"$cat.rw.t")
      .overwrite(col("o_orderkey").between(5000, 15000))       // v3
    val snap = tl.snapshot(path).get
    assert(snap.version == v2 + 1,
      "o89: the predicate overwrite must be ONE commit")
    assert(snap.action == "replace",
      s"o89: expected a 'replace' commit, got '${snap.action}'")
    // the SQL-TEXT twin: `CALL replace_where` recomputes a SECOND
    // (disjoint) slice from text alone — same one-commit atomicity,
    // same new-row enforcement, predicate parsed from the string
    base.where(col("o_orderkey").between(20000, 30000))
      .withColumn("price_c", col("price_c") + 200)
      .createOrReplaceTempView(s"o89_src_$sfx")
    tl.sql(s, s"CALL replace_where('$cat.rw.t', " +
      s"'o_orderkey >= 20000 AND o_orderkey <= 30000', 'o89_src_$sfx')") // v4
    val snap4 = tl.snapshot(path).get
    assert(snap4.version == v2 + 2 && snap4.action == "replace",
      "o89: CALL replace_where must be ONE 'replace' commit")
    s.sql(s"SELECT * FROM $cat.rw.t")
      .groupBy(col("priority").as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("grp")
  }

  /** The FULL MERGE clause matrix under the oracle — conditional
    * matched actions, a guarded insert, and `WHEN NOT MATCHED BY
    * SOURCE` (the full-sync idiom: target rows the source no longer
    * carries update or delete), all through Spark's OWN row-level
    * framework (`RewriteMergeIntoTable` → ReplaceData over
    * [[graft.catalog.GraftRowLevel]]) on a catalog table. Target =
    * orders keys ≡24 (mod 30); source = the matched half (≡24 mod 60,
    * price doubled) plus an unmatched wave (≡26 mod 30). Clauses:
    * matched & doubled-price > 40000000¢ delete, matched update to
    * the source image, unmatched & key ≡2 (mod 4) insert, not-matched-
    * by-source & price < 10000000¢ delete, remaining stale rows mark
    * priority 'STALE'. One commit; the oracle reconstructs the final
    * state relationally from the same slices (no join needed — the
    * matched/unmatched partitions are disjoint key residues). */
  private def o90MergeFull(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh90_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o90_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mf")
    s.sql(s"CREATE TABLE $cat.mf.t (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val path = s"$wh/mf/t"
    val base = T(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s, path, base.where(col("o_orderkey") % 30 === 24))  // v2
    val v2 = tl.latestVersion(path)
    base.where(col("o_orderkey") % 60 === 24 ||
        col("o_orderkey") % 30 === 26)
      .withColumn("price_c", col("price_c") * 2)
      .createOrReplaceTempView(s"o90_src_$sfx")
    s.sql(s"""MERGE INTO $cat.mf.t t USING o90_src_$sfx s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.price_c > 40000000 THEN DELETE
      WHEN MATCHED THEN UPDATE SET price_c = s.price_c,
        priority = s.priority
      WHEN NOT MATCHED AND s.o_orderkey % 4 = 2 THEN
        INSERT (o_orderkey, price_c, priority)
        VALUES (s.o_orderkey, s.price_c, s.priority)
      WHEN NOT MATCHED BY SOURCE AND t.price_c < 10000000 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET priority = 'STALE'""")
    assert(tl.latestVersion(path) == v2 + 1,
      "o90: the five-clause merge must be ONE commit")
    s.sql(s"SELECT * FROM $cat.mf.t")
      .groupBy(col("priority").as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("grp")
  }

  /** The BOUNDED batch CDC read under the oracle —
    * `spark.read.option("startingVersion"/"endingVersion"/tags, …)
    * .table(bronze__changes)`: the "what changed between v5 and v9"
    * incremental-ETL shape, opening exactly the window's feed links.
    * Lifecycle: insert wave (v2, tagged) → COW range DELETE (v3,
    * typed capture) → MOR UPDATE (v4, old/new image pair) → second
    * insert wave (v5). The oracled result unions three windows —
    * whole feed, the closed [v3,v4] mutation window, and
    * startingTag(wave1) (exclusive → [v3,v5]) — each grouped by
    * change type; the oracle reconstructs every window relationally
    * from the same base slices. */
  private def o88ChangesBetween(s: SparkSession, dir: String)
      : DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh88_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o88_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cb")
    s.sql(s"CREATE TABLE $cat.cb.bronze (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val bronze = s"$wh/cb/bronze"
    tl.enableCdcFeed(bronze)
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 19)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 19))  // v2
    tl.tagVersion(bronze, "wave1", 2L)
    tl.delete(s, bronze, col("o_orderkey").between(2000, 9000))           // v3
    tl.update(s, bronze, col("o_orderkey").between(10000, 20000),
      Map("price_c" -> (col("price_c") + 77)))                    // v4
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 49))  // v5
    def window(face: String, opts: (String, String)*): DataFrame = {
      var r = s.read
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table(s"$cat.cb.bronze__changes")
        .groupBy(lit(face).as("face"), col("_change_type").as("grp"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
          min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    }
    // the TIMESTAMP window twin of [v3,v4]: commit stamps are
    // strictly monotonic, so [ts(v3), ts(v4)] resolves to exactly the
    // mutation window — the "what changed between 9:00 and 9:05"
    // incremental-ETL form
    val tsOf = tl.history(s, bronze)
      .select(col("version"), col("ts_ms"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    window("all")
      .unionByName(window("mutations",
        "startingVersion" -> "3", "endingVersion" -> "4"))
      .unionByName(window("after_wave1", "startingTag" -> "wave1"))
      .unionByName(window("by_timestamp",
        "startingTimestamp" -> tsOf(3L).toString,
        "endingTimestamp" -> tsOf(4L).toString))
      .orderBy("face", "grp")
  }

  /** The UNIFIED CDC read under the oracle —
    * `readStream.option("readChangeFeed", "true").table(bronze)`: the
    * Delta-shaped surface on the table ITSELF (an analyzer rule from
    * `GraftExtensions` re-points the relation at the changes face;
    * `__changes` stays the option-free alias), serving typed
    * `_change_type` rows from commit-version offsets instead of
    * refusing row-changing commits. Lifecycle: insert wave → drain 1
    * → COW range DELETE (typed capture) + MOR UPDATE (zero-rewrite
    * pre/post pair capture) + second insert wave → drain 2 from the
    * SAME checkpoint (exactly the unseen versions) → drain 3 (no new
    * commits; an in-plan count assert pins zero re-delivery). The
    * drained typed log then feeds the EXISTING apply machinery
    * (`applyCdc`, latest-version-wins) into a keyed silver path. The
    * oracled result unions the typed log grouped by `_change_type`
    * with the silver state grouped by priority — the oracle replays
    * capture and apply relationally. */
  private def o87ReadChangeFeed(s0: SparkSession, dir: String)
      : DataFrame = {
    val s = graft.GraftSessions.withExtensions(s0)
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh87_$sfx"
    val ckpt = s"$tmpRoot/rcf87_ck_$sfx"
    val silver = s"$tmpRoot/rcf87_sv_$sfx"
    Seq(wh, ckpt, silver).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val cat = s"graft_o87_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rcf")
    s.sql(s"CREATE TABLE $cat.rcf.bronze (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    s.sql(s"CREATE TABLE $cat.rcf.sink (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING, _change_type STRING, " +
      "_change_version BIGINT)")
    val bronze = s"$wh/rcf/bronze"
    tl.enableCdcFeed(bronze)
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 9)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 9))  // v2
    def drain(): Unit = {
      val q = s.readStream.option("readChangeFeed", "true")
        .table(s"$cat.rcf.bronze")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.rcf.sink")
      assert(q.awaitTermination(180000), "o87: drain must terminate")
    }
    drain() // run 1: wave 1 as typed inserts
    tl.delete(s, bronze, col("o_orderkey").between(2000, 9000))           // v3
    tl.update(s, bronze, col("o_orderkey").between(10000, 20000),
      Map("price_c" -> (col("price_c") + 55)))                    // v4
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 39))  // v5
    drain() // RESTART: exactly the unseen commits
    val n2 = s.sql(s"SELECT count(*) FROM $cat.rcf.sink")
      .head.getLong(0)
    drain() // nothing new
    assert(s.sql(s"SELECT count(*) FROM $cat.rcf.sink")
      .head.getLong(0) == n2,
      "o87: a drain with no new commits must deliver nothing")
    // the typed log feeds the existing keyed apply machinery
    tl.applyCdc(s, silver, s.sql(s"SELECT * FROM $cat.rcf.sink"),
      "o_orderkey")
    s.sql(s"SELECT * FROM $cat.rcf.sink")
      .groupBy(lit("log").as("face"),
        col("_change_type").as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .unionByName(tl.read(s, silver)
        .groupBy(lit("silver").as("face"), col("priority").as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum("price_c").as("sum_price_c"),
          min("o_orderkey").as("min_ok"),
          max("o_orderkey").as("max_ok")))
      .orderBy("face", "grp")
  }

  /** Streaming `readChangeFeed` on a VANILLA session under the oracle
    * (round 19): no GraftExtensions, no GraftSessions sibling — the
    * table's own scan builder serves the changes stream, and the CDC
    * columns resolve as METADATA columns of the table
    * (StreamingRelationV2.metadataOutput), selected explicitly into a
    * parquet sink. Lifecycle: insert wave → drain 1 → COW range
    * DELETE (typed capture) + second insert wave → drain 2 from the
    * SAME checkpoint (exactly the unseen versions) → drain 3 (in-plan
    * count assert pins zero re-delivery). Oracle = the change log
    * replayed relationally, grouped by `_change_type`. */
  private def o91RcfVanillaStream(s: SparkSession, dir: String)
      : DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh91_$sfx"
    val ckpt = s"$tmpRoot/rcf91_ck_$sfx"
    val out = s"$tmpRoot/rcf91_out_$sfx"
    Seq(wh, ckpt, out).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val cat = s"graft_o91_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rcf")
    s.sql(s"CREATE TABLE $cat.rcf.bronze (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val bronze = s"$wh/rcf/bronze"
    tl.enableCdcFeed(bronze)
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 21)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 21))  // v2
    def drain(): Unit = {
      val q = s.readStream.option("readChangeFeed", "true")
        .table(s"$cat.rcf.bronze")
        .selectExpr("o_orderkey", "price_c", "priority",
          "_change_type", "_change_version")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "o91: drain must terminate")
    }
    drain() // run 1: wave 1 as typed inserts
    tl.delete(s, bronze, col("o_orderkey").between(2000, 9000))           // v3
    tl.append(s, bronze, base.where(col("o_orderkey") % 60 === 51))  // v4
    drain() // RESTART from the same checkpoint: only unseen versions
    val n2 = s.read.parquet(out).count()
    drain() // nothing new
    assert(s.read.parquet(out).count() == n2,
      "o91: a drain with no new commits must deliver nothing")
    s.read.parquet(out)
      .groupBy(col("_change_type").as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("grp")
  }

  /** Batch `readChangeFeed` on a session with NO installed rule under
    * the oracle (round 19): a fresh `newSession()` (provably empty
    * experimental optimizations — asserted in-plan) reads the typed
    * feed through the V1 scan's own option handling, full window and
    * a `startingVersion` window, CDC columns as metadata columns.
    * Oracle = the change log replayed relationally. */
  private def o92RcfBatchNoInstall(s0: SparkSession, dir: String)
      : DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/cat_wh92_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o92_$sfx"
    // build the table on the REGULAR session…
    s0.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s0.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tl = graft.sinks.TableLog
    s0.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rcf")
    s0.sql(s"CREATE TABLE $cat.rcf.b (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey')")
    val bronze = s"$wh/rcf/b"
    tl.enableCdcFeed(bronze)
    val base = T(s0, dir, "orders").where(col("o_orderkey") % 30 === 27)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.append(s0, bronze, base.where(col("o_orderkey") % 60 === 27))  // v2
    tl.delete(s0, bronze, col("o_orderkey").between(3000, 12000))         // v3
    tl.append(s0, bronze, base.where(col("o_orderkey") % 60 === 57))  // v4
    // …and read the feed on a FRESH session with no installed rules
    val s = s0.newSession()
    assert(s.experimental.extraOptimizations.isEmpty,
      "o92: the no-install premise must hold")
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val full = s.read.option("readChangeFeed", "true")
      .table(s"$cat.rcf.b")
      .groupBy(lit("full").as("face"), col("_change_type").as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    val windowed = s.read.option("readChangeFeed", "true")
      .option("startingVersion", "4").table(s"$cat.rcf.b")
      .groupBy(lit("from_v4").as("face"), col("_change_type").as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    full.unionByName(windowed).orderBy("face", "grp")
  }

  /** DELTA-route DELETE with an IN-subquery condition under the
    * oracle (round 20) — the changeset-delete / key-sweep shape on a
    * 100 TB MOR table: `DELETE FROM t WHERE k IN (SELECT …)` rewrites
    * to a semi join, and Spark's own dynamic pruning
    * (`PartitionPruning` over `SupportsRuntimeV2Filtering`,
    * SPARK-35779) hands the row-level scan the source keys at
    * runtime; the manifest stats turn them into file pruning, so the
    * position scan touches only the files overlapping the deleted
    * band instead of the whole table. In-plan asserts pin the
    * mechanism (the runtime filter ARRIVED and narrowed — a
    * [[graft.catalog.RowLevelDiag]] witness; zero base files
    * rewritten; pending vectors positional), the oracle replays the
    * delete relationally. Vanilla Spark never delivers this on a
    * delta MERGE (its cardinality row-id projection is
    * nondeterministic and CleanupDynamicPruningFilters strips DPP
    * over it — probed in tools.OptAudit §D), which makes the
    * IN-subquery DELETE the scale path for source-driven deletes. */
  private def o93MorSemiDelete(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/sdel_wh_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o93_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sd")
    s.sql(s"CREATE TABLE $cat.sd.lake (o_orderkey BIGINT, " +
      "price_c BIGINT, priority STRING) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey', " +
      "'rowLevelMode' = 'mor')")
    val path = s"$wh/sd/lake"
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 20)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    // 8 k-disjoint files: the layout where a key-band IN-set prunes
    tl.append(s, path, base.repartitionByRange(8, col("o_orderkey")))
    val before = tl.snapshot(path).get
    // the deleted band = the bottom third of the key domain, derived
    // from the data so every SF prunes (the top range files sit
    // entirely above it); floor division on both sides of the oracle
    val hi = base.agg(max(col("o_orderkey"))).head.getLong(0) / 3L
    T(s, dir, "orders")
      .where(col("o_orderkey") % 30 === 20 &&
        col("o_orderkey") <= hi)
      .select(col("o_orderkey"))
      .createOrReplaceTempView("src93")
    graft.catalog.RowLevelDiag.drain()
    s.sql(s"DELETE FROM $cat.sd.lake " +
      "WHERE o_orderkey IN (SELECT o_orderkey FROM src93)")
    // events are path-tagged (filter:<n>:<path>): keep only this
    // statement's table so a concurrent row-level scan cannot flake it
    val ev = graft.catalog.RowLevelDiag.drain()
      .filter(e => e.split(":", 3).lift(2).contains(path))
    val planned = ev.collect {
      case e if e.startsWith("planned:") => e.split(":", 3)(1).toInt }
    assert(ev.exists(_.startsWith("filter:")),
      s"o93: the scan never received the DPP IN-set; events: $ev")
    assert(planned.nonEmpty && planned.max < before.files.size,
      s"o93: the position scan must prune below the " +
        s"${before.files.size}-file table; events: $ev")
    val after = tl.snapshot(path).get
    assert(before.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "o93: a delta delete must rewrite no base data file")
    assert(after.dels.nonEmpty &&
      after.dels.forall(_.keyCol == "__pos__"),
      "o93: the delete must land as pending deletion vectors")
    s.sql(s"""
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.sd.lake GROUP BY priority ORDER BY priority""")
  }

  /** DELTA-BASED row-level DML through Spark's OWN framework
    * (`SupportsDelta`, `rowLevelMode = 'mor'`) under the oracle:
    * DELETE / UPDATE / MERGE on a catalog table run as WriteDelta —
    * matched positions commit as deletion-vector sidecar shards
    * (collected DISTRIBUTED, one per task) and new images as ordinary
    * data files, with ZERO base-file rewrites (in-plan asserts pin
    * the mechanism); statements COMPOSE, the later scans filtering
    * the earlier vectors positionally. The oracle replays the three
    * statements relationally in order. This is the vanilla-session
    * scale path for scattered mutations on a 100 TB table: write
    * cost O(changed rows), not O(overlapping files) — the reference
    * importer (cmd/cli/main.go) rewrites whole tables per run and
    * has no incremental-mutation story at all. */
  private def o85DeltaDml(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/rld_wh_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o85_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    T(s, dir, "orders").createOrReplaceTempView("orders_src85")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rl")
    s.sql(s"CREATE TABLE $cat.rl.lake " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey', " +
      "'rowLevelMode' = 'mor') AS " +
      "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) " +
      "AS price_c, o_orderpriority AS priority " +
      "FROM orders_src85 WHERE o_orderkey % 30 = 21")
    val path = s"$wh/rl/lake"
    val before = tl.snapshot(path).get.files.map(_.path).toSet
    // arbitrary (non-range) predicates — the positional sweet spot
    s.sql(s"DELETE FROM $cat.rl.lake " +
      "WHERE price_c % 10 = 3 AND priority <> '1-URGENT'")
    s.sql(s"UPDATE $cat.rl.lake SET price_c = price_c + 9 " +
      "WHERE priority = '2-HIGH' AND o_orderkey % 13 = 5")
    s.sql("SELECT o_orderkey, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c " +
      "FROM orders_src85 WHERE o_orderkey % 30 = 21 " +
      "AND o_orderkey % 7 = 1").createOrReplaceTempView("rld_src85")
    s.sql(s"""MERGE INTO $cat.rl.lake t USING rld_src85 v
      ON t.o_orderkey = v.o_orderkey
      WHEN MATCHED THEN UPDATE SET price_c = t.price_c + 1000
      WHEN NOT MATCHED THEN
        INSERT (o_orderkey, price_c, priority)
        VALUES (v.o_orderkey, v.price_c, 'REINSERTED')""")
    val after = tl.snapshot(path).get
    assert(before.subsetOf(after.files.map(_.path).toSet),
      "o85: delta DML must rewrite no base data file")
    assert(after.dels.nonEmpty && after.dels.forall(
      _.keyCol == "__pos__"),
      "o85: the mutations must be pending deletion-vector sidecars")
    s.sql(s"""
      SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.rl.lake GROUP BY priority ORDER BY priority""")
  }

  /** METADATA-ONLY DELETE under the oracle (`SupportsDeleteV2` +
    * Spark's own `OptimizeMetadataOnlyDeleteFromTable`): when manifest
    * range + null-count stats PROVE a condition covers whole files
    * exactly, the row-level plan converts to a manifest-only drop —
    * ZERO data reads, ZERO data writes, the cheapest delete shape and
    * the common one on a range-clustered 100 TB table (retention
    * drops). The query commits one exact-coverage delete (in-plan
    * asserts pin the metadata path fired and no file was rewritten)
    * and one arbitrary-predicate delete (the fallback row-level
    * path), then aggregates; the oracle replays both relationally. */
  private def o86MetadataDelete(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = s"$tmpRoot/mdd_wh_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = s"graft_o86_$sfx"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.plans.ResolveGraftCatalogReads.install(s)
    val tl = graft.sinks.TableLog
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.md")
    s.sql(s"CREATE TABLE $cat.md.lake (o_orderkey BIGINT, " +
      "price_c BIGINT, bucket BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'o_orderkey,bucket')")
    val path = s"$wh/md/lake"
    // bucket = o_orderkey % 90: the %30=22 slice hits exactly the
    // residues 22/52/82, three non-empty buckets (a %3 bucket would
    // be CONSTANT on this slice — 30k+22 ≡ 1 mod 3 for every k)
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 22)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        (col("o_orderkey") % 90).as("bucket"))
    // one file per bucket: min = max = bucket, the exactness witness
    Seq(22, 52, 82).foreach(b => tl.append(s, path,
      base.where(col("bucket") === b).coalesce(1)))
    val before = tl.snapshot(path).get.files.map(_.path).toSet
    assert(before.size == 3, s"o86: three bucket files, got $before")
    val md0 = tl.metadataDeletes.get()
    s.sql(s"DELETE FROM $cat.md.lake WHERE bucket = 52")
    assert(tl.metadataDeletes.get() == md0 + 1,
      "o86: exact bucket coverage must take the metadata-only path")
    val mid = tl.snapshot(path).get.files.map(_.path).toSet
    assert(mid.subsetOf(before) && mid.size == before.size - 1,
      "o86: exactly one file drops, none rewrite")
    // arbitrary predicate: provably NOT metadata-expressible → the
    // row-level fallback (group rewrite) handles it
    s.sql(s"DELETE FROM $cat.md.lake WHERE o_orderkey % 7 = 3")
    assert(tl.metadataDeletes.get() == md0 + 1,
      "o86: a modulo predicate must NOT take the metadata path")
    s.sql(s"""
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM $cat.md.lake GROUP BY bucket ORDER BY bucket""")
  }

  /** THREE-WAY branch merge under the oracle — the src-ADVANCED case
    * `publishBranch`'s fast-forward refuses: src keeps appending while
    * a branch deletes a range and appends derived rows; `CALL
    * merge_branch(view, branchPath, 'o_orderkey')` (the SQL face, with
    * the key-disjointness contract) folds the branch's net changes
    * into one commit. The final SELECT unions the merged LIVE
    * aggregate with a `VERSION AS OF <fork>` read, so the oracle pins
    * both the three-way result (base − branch delete + BOTH sides'
    * appends) and the untouched fork history. */
  private def o77BranchMerge(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val src = s"$tmpRoot/m3_src_$sfx"
    val br = s"$tmpRoot/m3_br_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(br))
    val tl = graft.sinks.TableLog
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 25)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.create(s, src, base.repartitionByRange(4, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))                              // v1
    val fork = tl.cloneTable(s, src, br)
    // SRC ADVANCES (ff publish is now impossible)…
    tl.append(s, src, base.where(col("o_orderkey") % 97 === 3)
      .select((col("o_orderkey") + 60000000L).as("o_orderkey"),
        col("price_c"), lit("S").as("priority")))
    // …while the branch deletes a range and appends derived rows
    tl.delete(s, br, col("o_orderkey").between(3000, 9000))
    tl.append(s, br, base.where(col("o_orderkey") % 97 === 5)
      .select((col("o_orderkey") + 70000000L).as("o_orderkey"),
        col("price_c"), lit("B").as("priority")))
    tl.registerSqlTable(s, "lake77", src)
    tl.sql(s, s"CALL merge_branch('lake77', '$br', 'o_orderkey')")
    val live = tl.scan(s, src)
    val asOf = tl.scanVersion(s, src, fork)
    def agg(df: DataFrame, state: String) = df.groupBy(col("priority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_price_c"))
      .select(lit(state).as("state"), col("priority"), col("n_rows"),
        col("sum_price_c"))
    agg(live, "live").unionByName(agg(asOf, "fork"))
      .orderBy(col("state"), col("priority"))
  }

  /** WRITE-AUDIT-PUBLISH under the oracle: clone a zero-copy branch,
    * mutate it (range delete + derived-row append) while the in-plan
    * invariant pins that SRC is bit-untouched, audit the branch, then
    * `publishBranch` fast-forwards src — the final SELECT unions
    * src's published aggregate with a `VERSION AS OF <fork>` read of
    * the pre-publish state, so both the publish and the preserved
    * history land in the hashed result. The oracle replays the branch
    * mutations relationally; the fork row must equal the pristine
    * base. */
  private def o75Wap(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val src = s"$tmpRoot/wap_src_$sfx"
    val br = s"$tmpRoot/wap_br_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(br))
    val tl = graft.sinks.TableLog
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 28)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    tl.create(s, src, base.repartitionByRange(4, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))                              // v1
    val fork = tl.cloneTable(s, src, br)
    val srcRows = tl.snapshot(src).get.rows
    tl.delete(s, br, col("o_orderkey").between(4000, 10000))
    tl.append(s, br, base.where(col("o_orderkey") % 97 === 1)
      .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
        col("price_c"), lit("W").as("priority")))
    assert(tl.snapshot(src).get.rows == srcRows &&
      tl.latestVersion(src) == fork,
      "o75: src must be untouched while the branch diverges")
    tl.publishBranch(s, src, br)
    val live = tl.scan(s, src)
    val asOf = tl.scanVersion(s, src, fork)
    def agg(df: DataFrame, state: String) = df.agg(
      count(lit(1)).as("n_rows"),
      sum(col("price_c")).as("sum_price_c"),
      max(col("o_orderkey")).as("max_ok"))
      .select(lit(state).as("state"), col("n_rows"),
        col("sum_price_c"), col("max_ok"))
    agg(live, "published").unionByName(agg(asOf, "fork"))
      .orderBy(col("state"))
  }

  /** ZERO-COPY clone under the oracle: build src (create + append),
    * hard-link-clone it, then DIVERGE — a range delete on src, an
    * extra append on dst — and emit both sides' aggregates. The oracle
    * recomputes each side relationally, so a clone that shared state
    * after the fork (either direction) changes the hash; the zero-copy
    * mechanics (same inode, vacuum safety) are spec-pinned. */
  private def o62Clone(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val src = s"$tmpRoot/clone_src_$sfx"
    val dst = s"$tmpRoot/clone_dst_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
    val o = T(s, dir, "orders").select(col("o_orderkey"),
      cents(col("o_totalprice")).as("price_c"))
    val tl = graft.sinks.TableLog
    tl.create(s, src, o.where(col("o_orderkey") % 20 === 6)
      .repartitionByRange(4, col("o_orderkey")), statsCols = Seq("o_orderkey"))
    tl.append(s, src, o.where(col("o_orderkey") % 20 === 7)
      .repartitionByRange(4, col("o_orderkey")))
    tl.cloneTable(s, src, dst)
    tl.delete(s, src, col("o_orderkey").between(1L, 3000L))
    tl.append(s, dst, o.where(col("o_orderkey") % 20 === 8)
      .repartitionByRange(4, col("o_orderkey")))
    def agg(t: String, side: String) =
      tl.read(s, t).groupBy(lit(side).as("side"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_c"),
          min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    agg(src, "src").unionByName(agg(dst, "dst")).orderBy("side")
  }

  /** RESTORE under the oracle: create → append → range delete →
    * RESTORE past the delete → one more append; the final table is
    * the union of all three slices with the delete UNDONE — the
    * oracle recomputes that relationally, so a restore that leaked
    * the deleted rows' absence (or resurrected the wrong version)
    * changes the hash. Metadata-only mechanics are spec-pinned. */
  private def o61Restore(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/restore_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem")
      .select(col("l_orderkey"), round(col("l_quantity")).cast("long")
        .as("qty"), col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 20 === 3)
      .repartitionByRange(4, col("l_orderkey")), statsCols = Seq("l_orderkey"))
    tl.append(s, t, li.where(col("l_orderkey") % 20 === 4)
      .repartitionByRange(4, col("l_orderkey")))
    tl.delete(s, t, col("l_orderkey").between(1L, 20000L))
    // the restore runs through the SQL-TEXT face (CALL restore) —
    // same commit as tl.restore(s, t, 2), exercised from text alone
    tl.registerSqlTable(s, "o61_rst", t)
    tl.sql(s, "CALL restore('o61_rst', 2)")
    tl.append(s, t, li.where(col("l_orderkey") % 20 === 5)
      .repartitionByRange(4, col("l_orderkey")))
    tl.read(s, t).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** Time travel + change-data-feed through the commit log: the same
    * create → append → mergeUpsert lifecycle as o34, then (a) a read
    * PINNED AT VERSION 2 — the manifest chain makes every historical
    * snapshot a first-class read, no copy was kept — and (b) the
    * row-level change feed between v1 and v3 as two multiset EXCEPT
    * ALLs (added = v3∖v1, removed = v1∖v3). The oracle recomputes the
    * slice algebra per version, so a misfiled manifest, a time-travel
    * read leaking current files, or a diff missing the upsert's
    * replaced rows all change the hash. */
  private def o36TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/tt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 2))         // v1
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 3))         // v2
    tl.mergeUpsert(s, t,                                            // v3
      li.where(col("l_orderkey") % 30 === 2 && col("l_linenumber") === 1)
        .groupBy("l_orderkey", "l_linenumber")
        .agg((max(col("qty")) + 1000).as("qty"),
          max(col("l_returnflag")).as("l_returnflag")),
      Seq("l_orderkey", "l_linenumber"))
    val (v1, v2, v3) = (tl.readVersion(s, t, 1), tl.readVersion(s, t, 2),
      tl.readVersion(s, t, 3))
    val keys = v2.select("l_returnflag").distinct()
    val a = v2.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_v2"), sum("qty").as("qty_v2"))
    val ad = v3.exceptAll(v1).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_added"), sum("qty").as("qty_added"))
    val rm = v1.exceptAll(v3).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_removed"))
    keys.join(a, Seq("l_returnflag"), "left")
      .join(ad, Seq("l_returnflag"), "left")
      .join(rm, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        coalesce(col("qty_v2"), lit(0L)).as("qty_v2"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("qty_added"), lit(0L)).as("qty_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy("l_returnflag")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE over the commit log's file-level
    * change feed: a grouped (count, sum) is maintained across the
    * create → append → mergeUpsert lifecycle as
    * new = old + agg(added files) − agg(removed files) — the
    * TableLog.readChanges identity (immutable data files ⇒ the manifest
    * diff is an EXACT multiset delta), so the maintenance pass reads
    * O(changed files), never the snapshot. The full recompute rides
    * along in the same row (n_full/qty_full): a broken delta path
    * diverges from it and fails the oracle hash. At 100 TB this is the
    * difference between rescanning the table per refresh and reading
    * the day's appends. */
  private def o37IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/ivm_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 4))         // v1
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 5))         // v2
    tl.mergeUpsert(s, t,                                            // v3
      li.where(col("l_orderkey") % 30 === 4 && col("l_linenumber") === 1)
        .groupBy("l_orderkey", "l_linenumber")
        .agg((max(col("qty")) + 1000).as("qty"),
          max(col("l_returnflag")).as("l_returnflag")),
      Seq("l_orderkey", "l_linenumber"))
    val agg1 = tl.readVersion(s, t, 1).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n1"), sum("qty").as("q1"))
    val (addRows, remRows) = tl.readChanges(s, t, 1, 3)
    val aggA = addRows.groupBy("l_returnflag")
      .agg(count(lit(1)).as("na"), sum("qty").as("qa"))
    val aggR = remRows.groupBy("l_returnflag")
      .agg(count(lit(1)).as("nr"), sum("qty").as("qr"))
    val maintained = agg1
      .join(aggA, Seq("l_returnflag"), "full_outer")
      .join(aggR, Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("na"), lit(0L))
          - coalesce(col("nr"), lit(0L))).as("n_inc"),
        (coalesce(col("q1"), lit(0L)) + coalesce(col("qa"), lit(0L))
          - coalesce(col("qr"), lit(0L))).as("qty_inc"))
      .where(col("n_inc") > 0)
    val full = tl.read(s, t).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_full"), sum("qty").as("qty_full"))
    maintained.join(full, Seq("l_returnflag"))
      .orderBy("l_returnflag")
  }

  /** SCHEMA EVOLUTION through the commit log: v1 is created without the
    * `priority` column, v2's append adds it — the evolved schema is
    * recorded IN THE MANIFEST (TableLog.mergeEvolved), so the read
    * applies it as a lookup, not a footer merge (at 100 TB, "what is
    * the schema" must never crawl a million files), and v1's files read
    * the new column as null. The oracle recomputes the union with NULL
    * priority for the v1 slice; a read that dropped old rows, invented
    * non-null defaults, or leaked v2's schema into a v1 time-travel
    * read would change the hash (the per-version pin is spec-tested). */
  private def o38SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/evo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val ord = T(s, dir, "orders")
    val tl = graft.sinks.TableLog
    tl.create(s, t, ord.where(col("o_orderkey") % 20 === 6)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c")))
    tl.append(s, t, ord.where(col("o_orderkey") % 20 === 7)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority")))
    tl.read(s, t)
      .groupBy(coalesce(col("priority"), lit("NONE")).as("priority"))
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
      .orderBy("priority")
  }

  /** TYPE WIDENING through the commit log: version 1 lands with NARROW
    * column types (int key/qty, float price), version 2 appends the same
    * columns WIDER (long, double) — the manifest schema widens along the
    * lossless lattice (TableLog.widen) as a metadata-only commit, v1's
    * data files are NOT rewritten, and the read applies the widened
    * schema so old files upcast at the scan. The final aggregate mixes
    * rows from both versions; a failed upcast, a dropped file, or a
    * wrongly-rewritten schema all change the hash. (Quantities/prices
    * reduce to integer cents per the oracle-stability rules.) */
  /** Change-data feed through the commit log: appends publish hard
    * links into `_feed/`, layout-only rewrites (compact) add nothing,
    * and vacuuming the table's originals must not affect a (lagging)
    * feed consumer — the links pin the inodes. The batch feed read here
    * sees each appended row exactly once; `changeFeedStream` is the
    * same files through Spark's incremental FileStreamSource
    * (TableLogSpec pins the streaming bronze→silver chain). */
  private def o42ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/feed_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.enableFeed(t)
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 10))        // v1
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 11))        // v2
    tl.compact(s, t, 1L << 30)          // v3: layout-only, not delivered
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 12))        // v4
    // drop v1/v2 manifests AND the pre-compaction originals of every
    // v1/v2-linked file; the feed must keep reading through its links
    tl.vacuum(s, t, keepVersions = 1, olderThanMs = 0)
    tl.readFeed(s, t)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Clustering-preserving index compaction: the semantic index is
    * compacted from its build layout (one file per shuffle partition)
    * down to 4 cell-range files BETWEEN build and probe — the oracle
    * (identical SQL to `e2_incremental_semantic` up to the slice) pins
    * that a layout-only compaction changes no dedup decision and no
    * manifest accounting, while TableLogSpec pins the probe-pruning and
    * counter-carry mechanics. */
  private def o43IndexCompaction(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/cmpidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val emb = T(s, dir, "embeddings")
    DedupOps.buildSemanticIndex(s, t, emb.where(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding")
    graft.sinks.TableLog.compactClustered(s, t, nFiles = 4,
      clusterCol = "cell")
    DedupOps.incrementalSemanticDedup(s, t,
      emb.where(col("vec_id") % 4 === 0),
      "vec_id", "embedding", thresholdMicro = 400000)
      .orderBy("vec_id")
  }

  /** Stats-pruned copy-on-write delete through the commit log: the
    * table is range-clustered on l_orderkey, so the delete rewrites
    * only the files whose stat range overlaps [2000, 3500] — the rest
    * carry over by reference in a delta manifest (TableLogSpec pins the
    * by-reference carry and the audit; this oracle pins the surviving
    * rows). */
  private def o44DeleteWhere(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/delw_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 13)
        .repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"))
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 14)
        .repartitionByRange(8, col("l_orderkey")))
    tl.delete(s, t, col("l_orderkey").between(2000, 3500))
    tl.read(s, t).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** Categorical copy-on-write delete: the documents table is
    * range-clustered on `source` with string file stats, so erasing two
    * revoked sources rewrites only the files whose stat range can
    * contain them — the GDPR-erasure shape over a string key. */
  private def o45DeleteIn(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/deli_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val docs = T(s, dir, "documents").select(col("doc_id"), col("source"),
      col("lang"), length(col("text")).cast("long").as("text_len"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, docs.repartitionByRange(8, col("source"))
        .sortWithinPartitions("source"),
      strStatsCols = Seq("source"))
    tl.delete(s, t, col("source").isin("src3", "src7"))
    tl.read(s, t).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("text_len").as("sum_len"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  /** Manifest bloom stats: the slice is deliberately partitioned on
    * l_orderkey, so every file's l_partkey [min,max] range spans the
    * domain and range skipping is blind — the per-file bloom is what
    * prunes the point lookup. The probed key (the slice's smallest
    * partkey) is derived from the data, so the query is deterministic
    * at any SF and the oracle re-derives it. The bloom probe is hashed
    * on the driver while the query plans, so the lookup is one job. */
  private def o46BloomSkip(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/bloom_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_partkey"), round(col("l_quantity")).cast("long").as("qty"))
      .where(col("l_orderkey") % 30 === 15)
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.repartition(8, col("l_orderkey")),
      bloomStatsCols = Seq("l_partkey"))
    val target = li.agg(min("l_partkey")).head.getLong(0)
    tl.scan(s, t).where(col("l_partkey") === target)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_partkey")
  }

  /** TYPED (CDC) change feed: deletes flow to consumers as
    * `_change_type='delete'` rows instead of being refused. Bronze is a
    * range-clustered commit-log table with a CDC feed; two appends and
    * one stats-pruned copy-on-write delete publish; SILVER derives the
    * surviving state from the FEED ALONE — inserts ⊖ deletes (multiset
    * exceptAll over the captured full rows, exact by the capture's
    * affected = matched ⊎ kept identity) — with no access to the
    * bronze table and no knowledge of the delete predicate. The oracle
    * recomputes the same survivors relationally; a capture that missed
    * a deleted row, double-delivered one, or leaked a remainder row as
    * an insert changes the hash. (Exactly-once streaming replay of the
    * same feed is pinned in StreamingSpec; the capture's healing
    * idempotence in TableLogSpec.) */
  private def o47CdcFeed(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/cdc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.enableCdcFeed(t)
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 16)
        .repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"))
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 17)
        .repartitionByRange(8, col("l_orderkey")))
    tl.delete(s, t, col("l_orderkey").between(2000, 3500))
    val feed = tl.readFeed(s, t)
    val ct = col(tl.changeTypeCol)
    val ins = feed.where(ct === "insert").drop(tl.changeTypeCol)
    val del = feed.where(ct === "delete").drop(tl.changeTypeCol)
    ins.exceptAll(del)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** Copy-on-write MERGE through the commit log: the same latest-wins
    * upsert semantics as `o30_merge_upsert` (minus its delete clause),
    * but committed as a stats-pruned delta — only files whose key range
    * overlaps the source are rewritten, the rest carry by reference
    * (TableLogSpec pins the rewrite-minimality; this oracle pins the
    * merged rows). The table is range-clustered on the key so the
    * update half touches a narrow file set while the insert half (keys
    * past the old max) matches no file at all. */
  private def o48MergeCow(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/mcow_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        cents(col("o_totalprice")).as("price_c"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartitionByRange(8, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))
    val upd = base.where(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"), lit("U").as("status"),
        (col("price_c") + 500).as("price_c"))
    val maxKey = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val ins = base.where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + maxKey).as("o_orderkey"),
        lit("I").as("status"), col("price_c"))
    tl.mergeUpsert(s, t, upd.unionByName(ins), Seq("o_orderkey"))
    tl.read(s, t).orderBy("o_orderkey")
  }

  /** MERGE-ON-READ update under the oracle: `o51_update_where`'s exact
    * semantics (same slice, predicate, and set clauses) through
    * `update` on a `mor` table with a DELIBERATELY UNCLUSTERED layout —
    * every file spans the whole key range, so the COW path would
    * rewrite the lot while the MOR commit writes only the matched new
    * images + a deletion vector and carries every base file by
    * reference (zero-rewrite mechanics spec-pinned in TableLogSpec;
    * the oracle pins the replace-on-read result relationally). */
  private def o63UpdateMor(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/umor_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "lineitem").where(col("l_orderkey") % 10 === 7)
      .select(col("l_orderkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartition(8, col("qty")),
      statsCols = Seq("l_orderkey"), rowLevelMode = tl.Mor)
    tl.update(s, t, col("l_orderkey").between(2000, 20000),
      Map("qty" -> (col("qty") + 100), "l_returnflag" -> lit("X")))
    tl.read(s, t).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** MERGE-ON-READ upsert under the oracle: `o48_merge_cow`'s exact
    * latest-wins algebra (update band + past-domain inserts on the
    * orders key) through `mergeUpsert` on an unclustered layout whose
    * table declares `rowLevelMode = mor` — the commit is the source files + a key
    * sidecar, zero base-file rewrites (spec-pinned); the oracle
    * replays the merge as a full outer join, so a fence error (old
    * image surviving, late row swallowed) changes the hash. */
  private def o66MergeMor(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/mmor_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        cents(col("o_totalprice")).as("price_c"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartition(8, col("status")),
      statsCols = Seq("o_orderkey"), rowLevelMode = tl.Mor)
    val upd = base.where(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"), lit("U").as("status"),
        (col("price_c") + 500).as("price_c"))
    val maxKey = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val ins = base.where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + maxKey).as("o_orderkey"),
        lit("I").as("status"), col("price_c"))
    tl.mergeUpsert(s, t, upd.unionByName(ins), Seq("o_orderkey"))
    tl.read(s, t).groupBy("status")
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("status")
  }

  /** Column rename + drop as PURE-METADATA commits: v1 writes under
    * the old names, a rename redirects old files' physical columns at
    * read, a drop followed by a same-name re-add must NOT resurrect
    * the dead incarnation's values (they read as null — the hazard of
    * by-name parquet reads, fenced here by the op log's versions). The
    * oracle recomputes the final logical table relationally, nulling
    * the pre-drop status values; metadata-only mechanics and time
    * travel are spec-pinned in TableLogSpec. */
  private def o55SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/schevo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderstatus").as("status"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, o.where(col("o_orderkey") % 20 === 11))       // v1
    tl.renameColumn(s, t, "price_c", "price_cents")               // v2
    tl.append(s, t, o.where(col("o_orderkey") % 20 === 12)
      .withColumnRenamed("price_c", "price_cents"))               // v3
    tl.dropColumn(s, t, "status")                                 // v4
    tl.append(s, t, o.where(col("o_orderkey") % 20 === 13)
      .withColumnRenamed("price_c", "price_cents"))               // v5
    tl.read(s, t)
      .groupBy(coalesce(col("status"), lit("-")).as("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum("price_cents").as("sum_cents"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("status")
  }

  /** MERGE-ON-READ delete: the table is deliberately UNCLUSTERED in
    * the delete key (hash-partitioned on l_linenumber, so every file's
    * l_orderkey range spans the domain — the shape where copy-on-write
    * rewrites the whole table), and on a `mor` table the scattered-key
    * delete commits only a deletion vector, filtered at read. The
    * oracle recomputes the survivors relationally; zero-rewrite
    * mechanics, CDC capture, and compaction materialization are
    * spec-pinned in DvSpec and TableLogSpec. */
  private def o52DeleteMor(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/delmor_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").where(col("l_orderkey") % 30 === 19)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("qty"),
        col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.repartition(8, col("l_linenumber")),
      statsCols = Seq("l_orderkey"), rowLevelMode = tl.Mor)
    tl.delete(s, t, col("l_orderkey") % 7 === 3)
    tl.read(s, t).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** STRING-KEY copy-on-write merge: the documents table keyed on a
    * zero-padded string doc key, range-clustered with string file
    * stats — an update band inside the key domain plus inserts past
    * it, merged via the string-stat prune (`keyPruneOf`'s exact
    * sorted-key-set overlap in UTF-8 binary order). The oracle replays
    * the latest-wins merge relationally; rewrite-minimality (untouched
    * files carrying by reference) is spec-pinned in TableLogSpec. */
  private def o54MergeCowStr(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/mcowstr_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val docs = T(s, dir, "documents")
      .select(concat(lit("doc-"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("key"),
        col("lang"), col("source"), col("n_chars"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, docs.repartitionByRange(8, col("key"))
        .sortWithinPartitions("key"),
      strStatsCols = Seq("key"))
    val upd = docs
      .where(col("key").between("doc-00000100", "doc-00000199"))
      .select(col("key"), lit("xx").as("lang"), col("source"),
        (col("n_chars") * 2).as("n_chars"))
    val ins = T(s, dir, "documents").where(col("doc_id") < 50)
      .select(concat(lit("new-"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("key"),
        col("lang"), col("source"), col("n_chars"))
    tl.mergeUpsert(s, t, upd.unionByName(ins), Seq("key"))
    tl.read(s, t).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("key").as("min_key"), max("key").as("max_key"))
      .orderBy("lang")
  }

  /** APPLY CHANGES INTO: the typed CDC feed materialized as a KEYED
    * silver table through `TableLog.applyCdc` — per key the highest
    * feed commit version wins (versions ride the link names, parsed at
    * read time, never stored), so bronze's re-insert of every key at v2
    * lands as an UPDATE and the v3 delete erases both captured copies.
    * The oracle recomputes the final keyed state relationally; a
    * resolution that let the stale v1 row win, resurrected a deleted
    * key, or dropped an untouched one changes the hash. */
  private def o49CdcApply(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val t = s"$tmpRoot/cdcap_$sfx"
    val sv = s"$tmpRoot/cdcsv_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sv))
    // orders: o_orderkey is the one GENUINELY unique key in the testdata
    // (the synthetic lineitem repeats (orderkey, linenumber) pairs at
    // sf0.1, which applyCdc's ambiguity guard correctly refuses)
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 18)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    val tl = graft.sinks.TableLog
    tl.enableCdcFeed(t)
    tl.create(s, t, base.repartitionByRange(8, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))                               // v1
    tl.append(s, t, base.withColumn("price_c", col("price_c") + 1000)
        .repartitionByRange(8, col("o_orderkey")))  // v2: same keys
    tl.delete(s, t, col("o_orderkey").between(2000, 3500))                // v3
    tl.applyCdc(s, sv, tl.readFeed(s, t, withVersion = true),
      "o_orderkey")
    tl.read(s, sv).groupBy("priority")
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("priority")
  }

  /** MERGE-ON-READ "apply changes into" under the oracle: the same
    * bronze lifecycle as `o49_cdc_apply` (create → re-insert every
    * key → range delete) on a different slice, materialized to silver
    * through `applyCdc` in TWO batches — the first bootstraps the
    * table, which then declares `rowLevelMode = mor`, so the second commits the v2
    * updates + v3 deletes as winning inserts' files + a touched-key
    * sidecar with ZERO silver-file rewrites (mechanics spec-pinned in
    * TableLogSpec; the oracle pins the same final keyed state as the
    * COW apply — which commit strategy the apply took must be
    * invisible to the reader). */
  private def o67CdcApplyMor(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val t = s"$tmpRoot/cdcapm_$sfx"
    val sv = s"$tmpRoot/cdcapmsv_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sv))
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 22)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    val tl = graft.sinks.TableLog
    tl.enableCdcFeed(t)
    tl.create(s, t, base.repartitionByRange(8, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))                               // v1
    tl.append(s, t, base.withColumn("price_c", col("price_c") + 1000)
        .repartitionByRange(8, col("o_orderkey")))  // v2: same keys
    tl.delete(s, t, col("o_orderkey").between(2000, 3500))                // v3
    val feed = tl.readFeed(s, t, withVersion = true)
    tl.applyCdc(s, sv, feed.where(col("_change_version") === 1),
      "o_orderkey")     // bootstrap
    tl.setWriteSpec(sv, tl.writeSpec(sv).copy(rowLevelMode = tl.Mor))
    tl.applyCdc(s, sv, feed.where(col("_change_version") >= 2),
      "o_orderkey")     // MOR batch
    tl.read(s, sv).groupBy("priority")
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("priority")
  }

  /** CDC UPDATE capture end-to-end: a CDC-feed bronze table runs the
    * full mutation surface — copy-on-write MERGE (update band + no-file
    * inserts), in-place range `update`, range `delete` — and SILVER
    * is materialized from the FEED ALONE via `applyCdc`, with no bronze
    * access and no knowledge of any predicate or source. The merge and
    * update publish typed old/new images by the multiset
    * symmetric-difference capture (remainder rows cancel; see
    * TableLog's feed section); a capture that leaked a remainder row,
    * missed a pre-image, or let a stale version win changes the hash.
    * The oracle replays the same three mutations relationally. */
  private def o50CdcMergeFeed(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val t = s"$tmpRoot/cdcm_$sfx"
    val sv = s"$tmpRoot/cdcmsv_$sfx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sv))
    val base = T(s, dir, "orders").where(col("o_orderkey") % 30 === 19)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"))
    val tl = graft.sinks.TableLog
    tl.enableCdcFeed(t)
    tl.create(s, t, base.repartitionByRange(8, col("o_orderkey")),
      statsCols = Seq("o_orderkey"))                               // v1
    val maxKey = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val upd = base.where(col("o_orderkey") % 7 === 2)
      .select(col("o_orderkey"), (col("price_c") + 500).as("price_c"),
        lit("U").as("priority"))
    val ins = base.where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + maxKey).as("o_orderkey"),
        col("price_c"), lit("I").as("priority"))
    tl.mergeUpsert(s, t, upd.unionByName(ins), Seq("o_orderkey"))  // v2
    tl.update(s, t, col("o_orderkey").between(1000, 4000),
      Map("price_c" -> (col("price_c") + 777)))                   // v3
    tl.delete(s, t, col("o_orderkey").between(5000, 9000))                // v4
    tl.applyCdc(s, sv, tl.readFeed(s, t, withVersion = true),
      "o_orderkey")
    tl.read(s, sv).groupBy("priority")
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("priority")
  }

  /** Stats-pruned copy-on-write UPDATE through the commit log: only
    * files whose key range overlaps the predicate are rewritten (the
    * rest carry by reference — TableLogSpec pins the minimality); the
    * set-expressions touch matched rows only, the row count is
    * invariant and audited. The oracle applies the same CASE WHEN
    * transform relationally. */
  private def o51UpdateWhere(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/updw_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val base = T(s, dir, "lineitem").where(col("l_orderkey") % 10 === 7)
      .select(col("l_orderkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, base.repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"))
    tl.update(s, t, col("l_orderkey").between(2000, 20000),
      Map("qty" -> (col("qty") + 100), "l_returnflag" -> lit("X")))
    tl.read(s, t).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
      .orderBy("l_returnflag")
  }

  /** Timestamp time travel: two commits, then `readAsOf` at the FIRST
    * commit's recorded wall-clock — which must resolve to v1 exactly
    * (commit stamps are strictly monotonic, so t1 < t2 always) — and
    * at a far-future wall-clock, which must resolve to the latest
    * version. The union pins both resolutions against a relational
    * recomputation of each snapshot's content; boundary and vacuum
    * error semantics are spec-pinned in TableLogSpec. */
  private def o53ReadAsOf(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/asof_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 16)
        .repartitionByRange(4, col("l_orderkey")),
      statsCols = Seq("l_orderkey"))
    val t1 = tl.commitTimestamp(t, 1L).get
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 17)
        .repartitionByRange(4, col("l_orderkey")))
    val t2 = tl.commitTimestamp(t, 2L).get
    def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
      df.groupBy(lit(snap).as("snap"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"))
    agg(tl.readAsOf(s, t, t1), "v1")
      .unionByName(agg(tl.readAsOf(s, t, t2 + 3600000L), "v2"))
      .orderBy("snap", "l_returnflag")
  }

  /** DESCRIBE HISTORY as a query: build a small table lifecycle
    * (create → append → range delete), return the commit history's
    * deterministic columns (version/action/kind/rows — timestamps are
    * wall-clock, excluded). The oracle recomputes each version's row
    * count relationally; kind pins the manifest strategy (append =
    * delta, create/COW delete = full file list). */
  private def o56History(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/history_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val o = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, o.where(col("o_orderkey") % 10 === 1)
      .repartitionByRange(4, col("o_orderkey")), statsCols = Seq("o_orderkey"))
    tl.append(s, t, o.where(col("o_orderkey") % 10 === 2)
      .repartitionByRange(4, col("o_orderkey")))
    tl.delete(s, t, col("o_orderkey").between(1L, 6000L))
    tl.history(s, t)
      .select(col("version"), col("action"), col("kind"),
        col("rows").as("n_rows"))
      .orderBy("version")
  }

  private def o41TypeWidening(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/widen_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem")
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 10 === 3)
      .select(col("l_orderkey").cast("int").as("okey"),
        col("l_quantity").cast("int").as("qty"),
        col("l_extendedprice").cast("float").as("price")))
    tl.append(s, t, li.where(col("l_orderkey") % 10 === 4)
      .select(col("l_orderkey").as("okey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice").cast("double").as("price")))
    tl.read(s, t)
      .groupBy((col("okey") % 7).as("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
        sum(round(col("price") * 100).cast("long")).as("sum_price_c"))
      .orderBy("g")
  }

  /** CATEGORICAL data skipping through the commit log: documents are
    * laid out `repartitionByRange(lang)` so each file covers a tight
    * string range, per-file [min, max] STRING stats land in the
    * manifest, and a `scan` filter `lang IN (…)` opens only the
    * overlapping files (TableLogSpec pins the file-count reduction;
    * absent stats keep the file). Partition-style pruning without a
    * partition directory layout — the column stays in the data, the
    * manifest stays one flat list. The oracle recomputes the same
    * IN-filter aggregate over the raw table, so a wrongly-skipped file
    * changes every output row. */
  private def o39CategoricalSkip(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/cat_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.TableLog.create(s, t,
      docs.repartitionByRange(8, col("lang")), strStatsCols = Seq("lang"))
    graft.sinks.TableLog.scan(s, t).where(col("lang").isin("en", "fr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** MANIFEST ROW ACCOUNTING across the commit lifecycle: every commit
    * records the snapshot's row count in its manifest (appends add the
    * footer-counted delta; rewrites audit against it before
    * publishing), so `count(*)`-class questions are a METADATA lookup —
    * at 100 TB, table size must never cost a scan. The query walks
    * create → append → merge → compact, emitting each version's
    * manifest count NEXT TO a real scan of that version; the oracle
    * recomputes both columns identically from the slice algebra, so a
    * drifted count — an append double-count, a rewrite that lost rows —
    * fails the hash on the version where it happened. */
  private def o40ManifestRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = s"$tmpRoot/mrows_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"),
      col("l_returnflag"))
    val tl = graft.sinks.TableLog
    tl.create(s, t, li.where(col("l_orderkey") % 30 === 8))         // v1
    tl.append(s, t, li.where(col("l_orderkey") % 30 === 9))         // v2
    tl.mergeUpsert(s, t,                                            // v3
      li.where(col("l_orderkey") % 30 === 8 && col("l_linenumber") === 1)
        .groupBy("l_orderkey", "l_linenumber")
        .agg((max(col("qty")) + 1000).as("qty"),
          max(col("l_returnflag")).as("l_returnflag")),
      Seq("l_orderkey", "l_linenumber"))
    tl.compact(s, t, 1L << 30)                                      // v4
    (1L to 4L).map { v =>
      val snap = tl.snapshotAt(t, v).getOrElse(
        sys.error(s"missing version $v of $t"))
      (v, snap.action, snap.rows, tl.readVersion(s, t, v).count())
    }.toDF("version", "action", "n_manifest", "n_scan")
      .orderBy("version")
  }

  private def o32AvroArray(s: SparkSession, dir: String): DataFrame = {
    val avroDir = s"$tmpRoot/avro_arr_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    graft.sources.AvroSource.write(
      T(s, dir, "embeddings").select(col("vec_id"), col("label"),
        col("embedding")),
      avroDir)
    graft.sources.AvroSource.read(s, avroDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>")) // label pruned at the decoder
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        qdot(qvec(col("embedding")), qvec(col("embedding"))).as("qnorm2"))
      .orderBy("vec_id")
  }

  /** O5/O6/O7 driven through the driver gate: author a miniature datahub
    * tree, run discovery + meta parse + pairing, return the paired file
    * table. The oracle is the literal expected pairing. */
  private def o05Discovery(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import s.implicits._
    val root = Files.createTempDirectory("graft_disc")
    val st = root.resolve("study_x"); Files.createDirectories(st)
    Files.createDirectories(st.resolve("case_lists"))
    Files.writeString(st.resolve("meta_cna.txt"),
      "cancer_study_identifier: study_x\nstable_id: gistic\ndata_filename: data_cna.txt\n")
    Files.writeString(st.resolve("data_cna.txt"),
      "Hugo_Symbol\tEntrez_Gene_Id\tS1\nBRCA1\t672\t0\n")
    Files.writeString(st.resolve("meta_mutations.txt"),
      "cancer_study_identifier: study_x\nstable_id: mutations\ndata_filename: data_mutations.txt\n")
    Files.writeString(st.resolve("data_mutations.txt"),
      "Hugo_Symbol\tEntrez_Gene_Id\nTP53\t7157\n")
    Files.writeString(st.resolve("case_lists").resolve("data_cna.txt"),
      "must\tbe\tskipped\n")
    // an orphan data file: pairs with empty ids (left-outer semantics)
    Files.writeString(st.resolve("data_log2cna.txt"),
      "Hugo_Symbol\tEntrez_Gene_Id\tS1\nMYC\t4609\t1\n")
    val cna = graft.core.StudyDiscovery.findCnaFiles(root.toString)
      .map(f => ("cna", Paths.get(f.path).getFileName.toString,
        f.cancerStudyId, f.geneticProfileId))
    val mut = graft.core.StudyDiscovery.findMutationFiles(root.toString)
      .map(f => ("mutations", Paths.get(f.path).getFileName.toString,
        f.cancerStudyId, f.geneticProfileId))
    (cna ++ mut).toDF("kind", "file", "study", "profile")
      .orderBy("kind", "file")
  }

  private def o08CnaPack(s: SparkSession, dir: String): DataFrame = {
    // part as a wide "matrix": key col 0, descriptor col 1, value cols 2..N
    val wide = T(s, dir, "part").select(
      col("p_partkey").cast("string"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size").cast("string"))
    CnaOps.packGeneCentric(wide, "tpch", "tpch_gistic")
      .orderBy("GENE_SYMBOL")
  }

  private def o09SampleList(s: SparkSession, dir: String): DataFrame =
    CnaOps.sampleList(s, T(s, dir, "part").columns.toSeq, "tpch", "tpch_gistic")

  private def o11Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = T(s, dir, "part").select(
      col("p_partkey").cast("string"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size").cast("string"))
    CnaOps.unpivotDerived(wide, "tpch", "tpch_gistic")
      .orderBy("GENE_SYMBOL", "SAMPLE_ID")
  }

  private def o13Drift(s: SparkSession, dir: String): DataFrame = {
    // drift-tolerant by-name projection (O15 inside O13): `Chromosome`
    // does not exist on documents → constant "" column, resolved at plan time
    val d = T(s, dir, "documents")
    d.select(
      col("doc_id"),
      MutationOps.colOrEmpty(d, "lang").as("LANG"),
      MutationOps.colOrEmpty(d, "source").as("SOURCE"),
      MutationOps.colOrEmpty(d, "Chromosome").as("CHROMOSOME"))
      .orderBy("doc_id")
  }

  /** Previous o16 invocation's persisted sort, released on the next call
    * (same lifecycle as e10PrevCaches). */
  private var o16PrevIds: Option[AutoCloseable] = None

  private def o16SeqId(s: SparkSession, dir: String): DataFrame = {
    synchronized { o16PrevIds.foreach(_.close()); o16PrevIds = None }
    // no trailing orderBy: zipWithIndex output is already globally ordered
    // (range partitions from the sort, in-partition order preserved)
    val (ids, handle) = MutationOps.withContiguousId(
      T(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber"),
      idName = "seq_id")
    synchronized { o16PrevIds = Some(handle) }
    ids
  }

  private def o18Combine(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    li.unionByName(li)
      .groupBy("l_returnflag").agg(count("*").as("n"))
      .orderBy("l_returnflag")
  }

  /** O18b under SCHEMA DRIFT: combine inputs whose schemas evolved (a
    * column added later) via unionByName(allowMissingColumns) — missing
    * columns null-fill, matching by NAME not position (the reference
    * combines schema-identical files; real lakes accrete columns). The
    * aggregate distinguishes the null-filled rows from real data. */
  private def o25CombineEvolved(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val v1 = docs.select(col("doc_id"), col("lang"))           // old schema
    val v2 = docs.select(col("doc_id"), col("lang"),
      col("n_chars"))                                          // evolved
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy("lang")
      .agg(count("*").as("n_rows"),
        count("n_chars").as("n_with_chars"),
        coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
      .orderBy("lang")
  }

  // ====================================================================
  // E5 aggregation suite
  // ====================================================================

  private def e5Q1(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_price_c"),
        count("*").as("n"))
      .withColumn("avg_qty_milli",
        round(col("sum_qty_c").cast("double") / col("n") * 10).cast("long"))
      .orderBy("l_returnflag", "l_linestatus")

  private def e5Rollup(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count("*").as("n"), sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty_c"))
      .orderBy("rf", "ls")

  private def e5Distinct(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
      .orderBy("l_returnflag")

  private def e5Cube(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count("*").as("n"), sum(cents(col("l_extendedprice"))).as("sum_price_c"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_price_c"))
      .orderBy("rf", "ls")

  /** Explicit GROUPING SETS: (rf, shipmode), (rf), () — the general form
    * rollup/cube specialize. */
  private def e5GroupingSets(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(col("l_returnflag"),
        year(col("l_shipdate")).cast("long").as("sy"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("sy")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("sy"))
      .agg(count("*").as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("sy"), lit(-1L)).as("sy"),
        col("n"))
      .orderBy("rf", "sy")

  /** Pivot: linestatus values become columns — a projection-after-groupBy
    * (no extra shuffle beyond the aggregation). */
  private def e5Pivot(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(cents(col("l_quantity"))))
      .select(col("l_returnflag"),
        col("F").cast("long").as("qty_f_c"), col("O").cast("long").as("qty_o_c"))
      .orderBy("l_returnflag")

  /** Exact interpolated percentiles (not approx — cross-engine comparable)
    * over integer cents. */
  private def e5Percentile(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        percentile(cents(col("o_totalprice")), lit(0.5)).as("p50"),
        percentile(cents(col("o_totalprice")), lit(0.9)).as("p90"))
      .select(col("o_orderstatus"),
        round(col("p50") * 10).cast("long").as("p50_milli"),
        round(col("p90") * 10).cast("long").as("p90_milli"))
      .orderBy("o_orderstatus")

  /** Conditional aggregation: FILTER/CASE-gated sums and counts in one
    * grouped pass. */
  private def e5Conditional(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_discount") >= 0.08, cents(col("l_extendedprice")))
          .otherwise(0L)).as("disc_rev_c"),
        sum(when(col("l_discount") >= 0.08, 1L).otherwise(0L)).as("n_disc"),
        max(when(col("l_discount") >= 0.05, cents(col("l_quantity")))).as("max_disc_qty_c"))
      .orderBy("l_returnflag")

  /** Set operations: suppliers shipping both 'R'- and 'A'-flag items, minus
    * those with a big discounted 'N' shipment. Predicates chosen so all
    * three branches AND the final result are non-empty at sf0.001+
    * (a 0-row differential verifies almost nothing). */
  private def e5SetOps(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    li.where(col("l_returnflag") === "R").select("l_suppkey").distinct()
      .intersect(
        li.where(col("l_returnflag") === "A").select("l_suppkey").distinct())
      .except(li.where(col("l_quantity") >= 48 && col("l_discount") >= 0.1 &&
        col("l_returnflag") === "N").select("l_suppkey").distinct())
      .orderBy("l_suppkey")
  }

  // ====================================================================
  // E6 join suite
  // ====================================================================

  private def e6Broadcast(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(broadcast(T(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(cents(col("o_totalprice"))).as("revenue_c"), count("*").as("n"))
      .orderBy("c_mktsegment")

  /** Stats-driven broadcast: NO hint anywhere — the cost-based optimizer
    * flips the join to broadcast because ANALYZE TABLE column stats let
    * FilterEstimation see that `c_custkey <= 150` keeps a handful of rows,
    * while the file-size estimate alone (33 KB at sf0.01, 316 KB at sf0.1,
    * both over the 16 KB threshold set here) would have sort-merged. This
    * is the 100 TB planning mode: dimension slices become broadcastable
    * from statistics, not from hand-placed hints. The broadcast is
    * asserted on the pre-AQE plan (ScaleShapeSpec pins the with/without
    * contrast). */
  /** CBO dimension tables already built+ANALYZEd this JVM (same
    * write-once rationale as o20's bucketed tables: statistics are table
    * metadata computed once, not per-query work). */
  private val cboReady = scala.collection.mutable.Set[String]()

  private def e6JoinCbo(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"cbo_customer_$sfx"
    cboReady.synchronized {
      if (!cboReady.contains(sfx)) {
        // o20's lesson: the catalog is in-memory but the warehouse dir
        // outlives the JVM — drop any entry AND the stale location first
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new org.apache.hadoop.fs.Path(wh, tbl.toLowerCase)
        if (fs.exists(loc)) fs.delete(loc, true)
        T(s, dir, "customer").write.mode("overwrite").saveAsTable(tbl)
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS c_custkey")
        cboReady += sfx
      }
    }
    val prevCbo = s.conf.get("spark.sql.cbo.enabled")
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "16KB")
      val dim = s.table(tbl).where(col("c_custkey") <= 150)
      val df = T(s, dir, "orders")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count("*").as("n"), sum(cents(col("o_totalprice"))).as("revenue_c"))
        .orderBy("c_mktsegment")
      // force planning NOW, while CBO is on; the physical plan is cached
      // on the QueryExecution, so later actions reuse it
      assert(df.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "column statistics did not flip the join to broadcast")
      df
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  private def e6Semi(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(T(s, dir, "lineitem").where(col("l_quantity") >= 49),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderstatus").agg(count("*").as("n"))
      .orderBy("o_orderstatus")

  private def e6Anti(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(T(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count("*").as("n"))
      .orderBy("c_mktsegment")

  private def e6FiveWay(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"))
      .orderBy("r_name", "n_name")

  /** Salted join (skew-mitigation shape) — result-identical to the plain
    * join, which is exactly what the oracle checks. */
  private def e6Salted(s: SparkSession, dir: String): DataFrame =
    JoinOps.saltedJoin(T(s, dir, "orders"), T(s, dir, "customer"),
      "o_custkey", "c_custkey", salt = 8)
      .groupBy("c_mktsegment")
      .agg(sum(cents(col("o_totalprice"))).as("revenue_c"), count("*").as("n"))
      .orderBy("c_mktsegment")

  /** HLL sketch distinct-count, SELF-VERIFYING: Spark's HyperLogLog++ and
    * DuckDB's sketch differ, so the sketch value itself can never hash-match
    * an oracle. Instead the plan computes the sketch AND the exact distinct
    * count side by side and emits `(group, exact_parts, bound_ok)` where
    * bound_ok = 1 iff |approx − exact| ≤ 5%·exact (the rsd=0.01 sketch is
    * far inside that). The DuckDB oracle emits the exact count and literal
    * 1 — a full hash-match that FAILS if the sketch ever drifts out of
    * bound, upgrading the old rows-only check (ExtOpsSpec pins the same
    * bound standalone). */
  private def e5Approx(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("__approx"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("__approx") - col("exact_parts")) <=
          lit(0.05) * col("exact_parts")).cast("long").as("bound_ok"))
      .orderBy("l_returnflag")

  /** Calendar aggregation over the orders timestamp column. */
  private def e5DateAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count("*").as("n"), sum(cents(col("o_totalprice"))).as("revenue_c"))
      .orderBy("y", "m")

  /** JSON column access: events.props is a JSON string payload. */
  private def e4JsonProps(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").as("k"))
      .groupBy("k").agg(count("*").as("n"))
      .orderBy(length(col("k")), col("k")) // numeric-ish order, portable

  /** Spark 4 VARIANT type: parse_json → binary variant → typed
    * variant_get extraction — the semi-structured column encoding that
    * replaces string re-parsing per access (the variant is decoded once
    * into a navigable binary, and shredded extraction is columnar). The
    * output is plain ints so the oracle checks the EXTRACTED values, not
    * the encoding. */
  private def e9Variant(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(parse_json(col("props")).as("v"), col("event_id"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'long')").as("k"))
      .groupBy("k").agg(count("*").as("n"), min("event_id").as("first_id"))
      // explicit null position: Spark asc defaults NULLS FIRST, DuckDB
      // NULLS LAST — pin both sides so a props row without '$.k' (NULL
      // extraction) can't flip the oracle's row order
      .orderBy(asc_nulls_first("k"))

  /** O14 exercised as a query: rename document columns to MAF names and run
    * the full 30-column mutation projection — by-name mapping + drift fill
    * + prefix concat, oracle-checked column by column. */
  private def o14Mutation(s: SparkSession, dir: String): DataFrame = {
    val maf = T(s, dir, "documents").select(
      col("doc_id"),
      col("source").as("Center"),
      col("lang").as("Sequencer"),
      col("text").substr(1, 8).as("Tumor_Sample_Barcode"))
    val stamped = maf.orderBy("doc_id")
    stamped.select(col("doc_id") +:
      MutationOps.mutationProjection(maf, "st", "st_mut"): _*)
      .select("doc_id", "GENETIC_PROFILE_ID", "SAMPLE_ID", "CENTER",
        "SEQUENCER", "MUTATION_STATUS", "ANNOTATION_JSON")
      .orderBy("doc_id")
  }

  /** As-of join over events: for each click, the cents value of that user's
    * most recent purchase at-or-before the click (-1 if none). Micros
    * resolution on both sides so oracle ordering is identical. */
  private def e6Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"), cents(col("value")).as("vc"))
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "us")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "us", "vc")
    JoinOps.asofJoin(clicks, purchases, key = "user_id", ts = "us",
      valueCol = "vc", asofCol = "last_purchase_c", tieBreak = Seq("event_id"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("last_purchase_c"), lit(-1L)).as("last_purchase_c"))
      .orderBy("event_id")
  }

  /** Time-range (interval) join: for each click, purchases by the same user
    * within the next 10 minutes. Equi-join on user + range predicate — the
    * shuffle keys on user_id only; the range condition filters within the
    * joined group, never a cross product across users. */
  private def e6RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"), cents(col("value")).as("vc"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("us").as("c_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"), col("vc"))
    clicks.join(purchases, "user_id")
      .where(col("p_us") > col("c_us") &&
        col("p_us") <= col("c_us") + expr("600000000"))
      .groupBy("click_id")
      .agg(count("*").as("n_purchases"), sum(col("vc")).as("sum_purchase_c"))
      .orderBy("click_id")
  }

  // ====================================================================
  // E7 window suite
  // ====================================================================

  private def e7TopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** Same result as e7_window_topk (and the same oracle), via the custom
    * bounded-heap aggregate: O(n log k) per group, k-entry shuffle rows,
    * map-side combine — the formulation that survives 100 TB groups. */
  private def e7TopKAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(graft.functions.TopKAggregate
        .topKByValue(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "o_orderkey")))
      .select(col("o_custkey"), col("o_orderkey"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("o_custkey", "rn")

  /** The SAME plain window formulation as e7_window_topk, optimized by the
    * RewriteRankFilterToTopK rule into the bounded-heap aggregate (no
    * window, no sort — see graft/plans). The optimized plan is forced while
    * the rule's conf flag is up, so only THIS query is rewritten and the
    * rewrite is live no matter when the caller executes the frame. */
  private def e7TopKRewrite(s: SparkSession, dir: String): DataFrame = {
    val rule = graft.plans.RewriteRankFilterToTopK
    rule.install(s)
    s.conf.set(rule.CONF_KEY, "true")
    try {
      val df = e7TopK(s, dir)
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "rank-filter rewrite did not fire")
      df
    } finally s.conf.set(rule.CONF_KEY, "false")
  }

  private def e7Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), cents(col("l_quantity")).as("qty_c"))
      .withColumn("running_qty_c", sum(col("qty_c")).over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty_c")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  private def e7Lag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    T(s, dir, "events")
      .select(col("event_id"), col("user_id"), cents(col("value")).as("value_c"),
        col("ts"))
      .withColumn("prev_value_c",
        coalesce(lag(col("value_c"), 1).over(w), lit(0L)))
      .select("event_id", "user_id", "value_c", "prev_value_c")
      .orderBy("event_id")
  }

  /** ntile bucketing — total order in the window, so bucket assignment is
    * engine-independent. */
  private def e7Ntile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderkey")
  }

  /** first_value / last_value over the FULL partition frame — constant per
    * partition, emitted once per key via distinct. */
  private def e7FirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    T(s, dir, "orders")
      .select(col("o_custkey"),
        first_value(col("o_orderkey")).over(w).as("best_order"),
        last_value(col("o_orderkey")).over(w).as("worst_order"))
      .distinct()
      .orderBy("o_custkey")
  }

  /** RANGE frame: peers (equal order-by values) are included together, so
    * the running sum is deterministic even though the value ordering alone
    * is not total. */
  private def e7RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("price_c"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    T(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_quantity")).as("qty_c"))
      .withColumn("range_qty_c", sum(col("qty_c")).over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "range_qty_c")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  // ====================================================================
  // E8 time-window suite (events)
  // ====================================================================

  private def e8Tumbling(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(tsMicros("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count("*").as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .select(unix_timestamp(col("w.start")).as("bucket_start"),
        col("event_type"), col("n"), col("sum_value_c"))
      .orderBy("bucket_start", "event_type")

  private def e8Sliding(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(tsMicros("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count("*").as("n"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n"))
      .orderBy("window_start", "event_type")

  private def e8Session(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(session_window(tsMicros("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count("*").as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start"),
        col("n"), col("sum_value_c"))
      .orderBy("user_id", "session_start")

  /** Strict event FUNNEL: per user, first view → first click AFTER that
    * view → first purchase AFTER that click; emit per-stage user counts.
    * Three stage aggregations, each a keyed join back on user_id (the
    * previous stage's timestamp gates the next) — no window over the whole
    * event history, so each stage shuffles only (user, ts) pairs. */
  /** Three-stage funnel in ONE shuffle: each stage's per-user
    * timestamp is a whole-partition window min whose condition reads
    * the PREVIOUS stage's min (`c_us = min(us | click ∧ us > v_us)`),
    * so the three WindowExecs chain over one hash(user_id) exchange +
    * one sort, the per-user reduction reuses the same partitioning
    * (zero extra shuffles), and the stage counts are one partial-agg
    * count-non-null pass. Replaces the 3-shuffle / 2-join / 2-persist
    * formulation (r8-r16): at 100 TB that shape materialized the whole
    * user dimension to executor storage twice and ran three separate
    * actions; this one is a single declarative job. */
  private def e8Funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = T(s, dir, "events")
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("v_us", min(when(col("event_type") === "view",
        col("us"))).over(w))
      .withColumn("c_us", min(when(col("event_type") === "click" &&
        col("us") > col("v_us"), col("us"))).over(w))
      .withColumn("p_us", min(when(col("event_type") === "purchase" &&
        col("us") > col("c_us"), col("us"))).over(w))
    // one row per user (the window mins are per-user constants), then
    // count the non-null stage marks
    staged.groupBy("user_id")
      .agg(first("v_us").as("v_us"), first("c_us").as("c_us"),
        first("p_us").as("p_us"))
      .agg(count("v_us").as("n_view"),
        count("c_us").as("n_view_click"),
        count("p_us").as("n_full_funnel"))
  }

  /** The typed-Aggregator surface: variance from exact integer moments via
    * a registered case-class UDAF (same math as e5_stats, different API —
    * compile-time-typed zero/reduce/merge with product encoders). */
  private def e5StatsTyped(s: SparkSession, dir: String): DataFrame = {
    val moments = udaf(graft.functions.MomentsAgg)
    T(s, dir, "lineitem")
      .select(col("l_returnflag"), round(col("l_quantity")).cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(moments(col("q")).as("m"))
      .select(col("l_returnflag"), col("m.n").as("n"),
        round((col("m.n") * col("m.sxx") - col("m.sx") * col("m.sx")).cast("double") /
          (col("m.n") * (col("m.n") - 1)).cast("double") * 1000).cast("long")
          .as("var_q_milli"))
      .orderBy("l_returnflag")
  }

  /** Adjacent-pair sequence pattern: per user, count view→click
    * adjacencies in event-time order (the lag-based core of funnel /
    * MATCH_RECOGNIZE-style detection; one keyed window, no self-join). */
  private def e8Pattern(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .groupBy("user_id")
      .agg(count_if(col("prev_type") === "view" && col("event_type") === "click")
        .as("n_view_click"))
      .where(col("n_view_click") > 0)
      .orderBy("user_id")
  }

  /** MATCH_RECOGNIZE-style sequence detection: every contiguous
    * view→click→purchase run per user, via SequenceOps' streaming NFA over
    * flatMapSortedGroups. The oracle re-derives the same matches with an
    * INDEPENDENT formulation (two LEADs) — a true differential test of the
    * matcher; quantified steps ({min,max}) are covered in ExtOpsSpec. */
  private def e8SeqMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = T(s, dir, "events")
      .select(col("user_id").as("key"), expr("ts div 1000").as("us"),
        col("event_id").as("id"), col("event_type").as("etype"))
      .as[SequenceOps.SeqEvent]
    SequenceOps.matchPattern(s, ev, Seq(
        SequenceOps.Step.one("view"), SequenceOps.Step.one("click"),
        SequenceOps.Step.one("purchase")))
      .toDF()
      .select(col("key").as("user_id"), col("start_id").as("start_eid"),
        col("end_id").as("end_eid"))
      .orderBy("user_id", "start_eid")
  }

  /** Term redaction — the PII-scrub shape of a training-data pipeline
    * (mask a sensitive-term set, count the hits), on this corpus's
    * vocabulary so the oracle is non-trivially exercised. Pure codegen'd
    * string expressions; the md5 keeps oracle rows compact. */
  private def e4Redact(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|key|window)\\b"
    T(s, dir, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(col("text"), pat, "[X]")).as("red_md5"),
        regexp_count(col("text"), lit(pat)).cast("long").as("n_red"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: per-language keep rates decided by
    * an md5 hash bucket of the key — reproducible across engines and runs
    * (df.sampleBy is seeded-RNG, not re-derivable by an oracle), and the
    * filter pushes to the scan as a deterministic predicate. The 100 TB
    * shape: no shuffle at all, every row decides membership locally. */
  private def e10SampleStrata(s: SparkSession, dir: String): DataFrame = {
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    val rate = typedLit(Map("en" -> 10L, "fr" -> 50L, "es" -> 25L,
      "zh" -> 100L, "de" -> 0L))
    T(s, dir, "documents")
      .where(bucket < coalesce(element_at(rate, col("lang")), lit(0L)))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Sequence packing for pretraining batches: documents are chunked into
    * token-budget bins by cumulative token count per language stream —
    * computed as PackOps' distributed prefix sum (sharded local windows +
    * broadcast shard offsets), NOT one window per stream, so no stream
    * ever funnels through a single task. The result is shardSize-invariant
    * (pinned in ExtOpsSpec across 1/17/64/1M); 512 balances shard count
    * across the SFs — at 100 TB you'd size shards to the task budget. */
  private def e10PackChunks(s: SparkSession, dir: String): DataFrame =
    PackOps.packChunks(
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).cast("long").as("n_tok")),
      streamCol = "lang", orderCol = "doc_id", tokCol = "n_tok",
      budget = 512L, shardSize = 512L)
      .select("doc_id", "lang", "n_tok", "chunk")
      .orderBy("doc_id")

  // ====================================================================
  // E1/E2 dedup suite (documents)
  // ====================================================================

  private def e1Exact(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** CDC-style compaction: latest record per key (max event time, event_id
    * tiebreak) via max_by — ONE hash aggregation with map-side partial
    * combine, versus the window row_number formulation's full per-key sort.
    * The upsert/merge primitive for incrementally maintained tables. */
  private def e1LatestByKey(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        cents(col("value")).as("vc"))
      .groupBy("user_id")
      .agg(
        max_by(struct(col("event_id"), col("vc")),
          struct(col("us"), col("event_id"))).as("m"),
        max(struct(col("us"), col("event_id"))).as("k"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.vc").as("value_c"), col("k.us").as("us"))
      .orderBy("user_id")

  private def e2Minhash(s: SparkSession, dir: String): DataFrame =
    DedupOps.minhashCandidatePairs(T(s, dir, "documents"), "doc_id", "text",
      bands = 4, shingleN = 3)
      .orderBy("id_a", "id_b")

  private def e2Simhash(s: SparkSession, dir: String): DataFrame =
    DedupOps.simhashBuckets(T(s, dir, "documents"), "doc_id", "text", bits = 8)
      .orderBy("simhash")

  /** Exact jaccard verify over multi-row-banded LSH candidates. The
    * banding is bands=6 of rows=2 xor-family minhashes: candidate
    * probability 6·s² instead of the single-row family's 4·s, so
    * background pairs at low similarity are suppressed by a factor ~s
    * and CANDIDATE MASS tracks true-dup mass, not n² (measured sf1:
    * 6784 → 1122 candidates for 1049 verified pairs — and the xor
    * family finds MORE true pairs than the linear h1+b·h2 bands, whose
    * lower-envelope correlation loses recall; see DEVNOTES round 8
    * for the per-SF table). */
  private def e2Jaccard(s: SparkSession, dir: String): DataFrame =
    DedupOps.jaccardVerifiedPairs(T(s, dir, "documents"), "doc_id", "text",
      bands = 6, shingleN = 3, thresholdMicro = 200000, rows = 2)
      .orderBy("id_a", "id_b")

  /** The exact verify with CORPUS-DERIVED banding
    * (DedupOps.lshParamsFor / jaccardVerifiedPairsAuto): one count
    * picks (bands, rows) — rows steps +1 per decade of corpus growth,
    * bands keeps the S-curve midpoint at ~0.41 — so candidate mass
    * stays ~linear in n where the fixed committed family grew
    * 15.8×/10× (DEVNOTES round 8). The oracle re-derives the identical
    * (bands, rows) from count(*) in SQL (integer digit arithmetic) and
    * filters the shared 144-seed literal list to bands·rows, so a
    * derivation drift between engines fails the hash. */
  private def e2JaccardDerived(s: SparkSession, dir: String): DataFrame =
    DedupOps.jaccardVerifiedPairsAuto(T(s, dir, "documents"), "doc_id",
      "text", shingleN = 3, thresholdMicro = 200000)
      .orderBy("id_a", "id_b")

  /** The SKETCHED verify next to the exact one (e2_jaccard_pairs):
    * K=64 minhash signatures estimate jaccard in O(pairs·K) — the scale
    * path when the exact verify's Σ|A| expansion dominates. Integer
    * hash family + exact match-count arithmetic ⇒ the DuckDB oracle
    * reproduces the estimate bit-for-bit. */
  private def e2JaccardSketch(s: SparkSession, dir: String): DataFrame =
    DedupOps.jaccardSketchPairs(T(s, dir, "documents"), "doc_id", "text",
      bands = 6, shingleN = 3, k = 64, thresholdMicro = 200000, rows = 2)
      .orderBy("id_a", "id_b")

  /** INCREMENTAL near-dup dedup against a PERSISTED signature index
    * (DedupOps.buildSignatureIndex / incrementalDedup) — the
    * continuous-ingest shape: the 75% base corpus is signed ONCE into a
    * TableLog table, the 25% batch is signed, probed against the index
    * on (band, sig), and only survivor signatures are appended (atomic
    * CAS commit). Per-batch cost is O(batch + matching buckets),
    * independent of corpus size — re-signing the corpus per arriving
    * batch is the O(corpus) shape this exists to avoid. The oracle
    * recomputes both phases and the final index content; idx_docs /
    * idx_rows are read back from the PUBLISHED index, so a wrong
    * decision, a lost append, or a double append all change the hash. */
  private def e2IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/dedupidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    // fresh table per call: the index is append-only state (the o34
    // idiom — an overwritten scratch dir would double on re-invocation)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val docs = T(s, dir, "documents")
    DedupOps.buildSignatureIndex(s, t, docs.where(col("doc_id") % 4 =!= 0),
      "doc_id", "text", bands = 4, shingleN = 3)
    DedupOps.incrementalDedup(s, t, docs.where(col("doc_id") % 4 === 0),
      "doc_id", "text", bands = 4, shingleN = 3)
      .orderBy("doc_id")
  }

  /** E2 incremental, embedding side: 3/4 of `embeddings` builds the
    * persistent block index (corpus-derived sign-bit width pinned in the
    * manifest's `bits` counter), the remaining 1/4 arrives as a batch
    * through `incrementalEmbedDedup` — probe only matching blocks, verify
    * cosine with quantized integer dots, append survivors. The oracle
    * re-derives the bit width from the BASE corpus stats with the same
    * integer rule and retrains decisions + final index accounting, so
    * width drift, a wrong dup verdict, a lost append, or broken counter
    * accounting all change the hash. */
  private def e2IncrementalEmbed(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/embidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val emb = T(s, dir, "embeddings")
    DedupOps.buildEmbedIndex(s, t, emb.where(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding", "label")
    DedupOps.incrementalEmbedDedup(s, t, emb.where(col("vec_id") % 4 === 0),
      "vec_id", "embedding", "label", thresholdMicro = 300000)
      .orderBy("vec_id")
  }

  /** E2 incremental, SEMANTIC side: Lloyd-cell blocking instead of sign
    * buckets — 3/4 of `embeddings` fits the (deterministic, md5-sampled)
    * integer Lloyd codebook and builds the cell-clustered index, the
    * remaining 1/4 probes it as a batch: assigned with the PINNED
    * codebook, only matching-cell files read (long stats on `cell`),
    * cosine verified, survivors appended. The oracle retrains the
    * identical fit on the base partition and re-assigns both sides, so
    * codebook drift, a wrong cell, a wrong verdict, or broken accounting
    * all change the hash. */
  private def e2IncrementalSemantic(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/semidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val emb = T(s, dir, "embeddings")
    DedupOps.buildSemanticIndex(s, t, emb.where(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding")
    DedupOps.incrementalSemanticDedup(s, t,
      emb.where(col("vec_id") % 4 === 0),
      "vec_id", "embedding", thresholdMicro = 400000)
      .orderBy("vec_id")
  }

  /** Embedding near-dup with DATA-DRIVEN block cardinality (the primary
    * registry form): the label key composed with a sign bucket whose
    * width comes from `DedupOps.signBitsFor(n, n_labels, 32)` — an
    * integer-only derivation the oracle recomputes from
    * count(*)/count(DISTINCT label), so block count GROWS with the
    * corpus and per-block pair work stays ~32·n/2 (linear). The
    * fixed-width contrast lives in `e2_embed_neardup_blocked`; the
    * label-only key (O(n²/10) — measured 15× time for 3× data) was
    * retired from the registry. Norms precomputed per VECTOR (n of
    * them), not per pair: same doubles as recomputing inside the pair —
    * integer dots are exact. */
  private def e2EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val st = T(s, dir, "embeddings")
      .agg(count(lit(1)), countDistinct(col("label"))).head
    val bits = graft.operators.DedupOps.signBitsFor(
      st.getLong(0), math.max(1L, st.getLong(1)), targetBlockRows = 32L)
    val e = T(s, dir, "embeddings")
      .select(col("vec_id"),
        // null-PROPAGATING concat (not concat_ws, which skips nulls):
        // a null label yields a null block key, which the equi-join
        // drops — matching the oracle's `label || '|' || …` semantics
        concat(col("label").cast("string"), lit("|"),
          VF.signBucket(col("embedding"), bits)).as("blk"),
        qvec(col("embedding")).as("qe"))
      .select(col("vec_id"), col("blk"), col("qe"),
        sqrt(qdot(col("qe"), col("qe")).cast("double")).as("nrm"))
    val a = e.select(col("blk"), col("vec_id").as("id_a"),
      col("qe").as("qa"), col("nrm").as("na"))
    val b = e.select(col("blk"), col("vec_id").as("id_b"),
      col("qe").as("qb"), col("nrm").as("nb"))
    a.join(b, "blk")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_micro",
        round(qdot(col("qa"), col("qb")).cast("double") /
          (col("na") * col("nb")) * 1000000).cast("long"))
      .where(col("cos_micro") >= 300000)
      .select("id_a", "id_b", "cos_micro")
      .orderBy("id_a", "id_b")
  }

  // ====================================================================
  // E3 similarity search (embeddings; query = vector of vec_id 0)
  // ====================================================================

  /** Query vector (vec_id 0) as quantized longs + its precomputed norm —
    * a driver-side constant folded into the plan, not recomputed per row.
    * The driver-side Long sum is the same exact integer the oracle's
    * list_sum produces, so sqrt yields the identical double. */
  private def queryVecAndNorm(s: SparkSession, dir: String): (Column, Double) = {
    val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(qvec(col("embedding"))).head.getSeq[Long](0)
    (array(q.map(lit): _*), math.sqrt(q.map(x => x * x).sum.toDouble))
  }

  private def e3TopK(s: SparkSession, dir: String): DataFrame = {
    val (qv, qn) = queryVecAndNorm(s, dir)
    T(s, dir, "embeddings")
      .select(col("vec_id"), qvec(col("embedding")).as("qe"))
      .select(col("vec_id"),
        round(qdot(col("qe"), qv).cast("double") /
          (sqrt(qdot(col("qe"), col("qe")).cast("double")) * lit(qn)) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(10)
  }

  private def e3SignBucket(s: SparkSession, dir: String): DataFrame = {
    val bits = 6
    val qSigns = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(VF.signBucket(col("embedding"), bits)).head.getString(0)
    val (qv, qn) = queryVecAndNorm(s, dir)
    T(s, dir, "embeddings")
      .where(VF.signBucket(col("embedding"), bits) === lit(qSigns))
      .select(col("vec_id"), qvec(col("embedding")).as("qe"))
      .select(col("vec_id"),
        round(qdot(col("qe"), qv).cast("double") /
          (sqrt(qdot(col("qe"), col("qe")).cast("double")) * lit(qn)) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(10)
  }

  /** UNTRAINED-PARTITION BASELINE, kept deliberately: IVF ANN over the
    * pre-given `label` column as-if it were a clustering. Its recall@10 is
    * 0.5 at this config and CANNOT be raised by probing harder (even
    * nprobe=5 of 10 cells only reaches 0.6 — the labels are not geometric
    * clusters), which is exactly the point: it is the control that shows
    * why the quantizer must be TRAINED (`e3_ann_ivf_kmeans`, recall 1.0 at
    * the same nprobe). Approximate BY DESIGN — float AVG centroids are not
    * cross-engine hash-stable — so the query is SELF-VERIFYING instead:
    * the output rows are the exact brute-force top-10 (fully oracle-
    * reproducible, same formulation as e3_topk_cosine) plus a
    * `recall_floor_ok` column = 1 iff the IVF probe recovered at least
    * `ivfRecallFloor10` of those 10 ids. The DuckDB oracle emits the
    * brute-force rows and literal 1, so the row HASH-MATCHES while still
    * failing loudly if the IVF path ever degrades below its pinned floor
    * (the floor itself is also asserted standalone in ExtOpsSpec). */
  private def e3Ivf(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    val ivfIds = SimilarityOps.topKIvf(T(s, dir, "embeddings"), "vec_id",
      "embedding", "label", q, k = 10, nprobe = 3)
      .select(col("vec_id").as("__ivf_id"))
    val brute = e3TopK(s, dir)
    val hits = brute
      .join(ivfIds, col("vec_id") === col("__ivf_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    brute.crossJoin(broadcast(hits))
      .select(col("vec_id"), col("cos_micro"),
        (col("__hits") >= lit(ivfRecallFloor10)).cast("long")
          .as("recall_floor_ok"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
  }

  /** Pinned recall@10 floor (hits out of 10) for the untrained label-IVF
    * baseline. Measured hits: 5 at sf0.001, 5 at sf0.01 (the driver's
    * oracle scale factors), 3 at sf0.1 (bench scale) — the DECAY with
    * corpus size is itself the documented property of an untrained
    * partitioner (more points spread the true top-10 across more cells;
    * probing harder doesn't fix it — see class doc). Floor 3 holds at all
    * measured scales; the tighter 0.5 recall at gate scale stays pinned
    * in ExtOpsSpec. Probe: `runMain graft.tools.Explain dev:ivf_hits`. */
  private val ivfRecallFloor10 = 3

  /** IVF with TRAINED centroids — full build+search loop, now ORACLE-
    * CHECKED: deterministic integer Lloyd (evenly-spaced seeds, two
    * passes, exact-integer distances — see topKIvfLloydExact), so the
    * DuckDB oracle reproduces training, probe, and ranking bit-for-bit.
    * Recall@10 = 1.0 at this config (vs the label baseline's 0.5),
    * floor-pinned in ExtOpsSpec. The MLlib k-means|| variant
    * (`topKIvfKmeans`) remains as the library's fit-on-sample API and
    * keeps its own recall bound test; it is no longer the registry entry
    * because its seeded-random float init is inherently unreproducible in
    * SQL. */
  private def e3IvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(qvec(col("embedding"))).head.getSeq[Long](0)
    SimilarityOps.topKIvfLloydExact(T(s, dir, "embeddings"), "vec_id",
      "embedding", q, k = 10, nlist = 8, nprobe = 3)
  }

  /** The persistent ANN store's FULL lifecycle under the oracle gate
    * (AnnStoreOps — formerly spec-validated only): train + write the
    * cell-clustered store on 90% of the vectors (a repeated call
    * replaces it in one new version of each table), `append` the
    * held-out 10% with the STORED codebook (no retrain — the standard
    * IVF maintenance move), then `probe` the union with file pruning to
    * the nprobe nearest cells. Every stage is the deterministic
    * exact-integer Lloyd math, so the DuckDB oracle retrains the
    * identical store in SQL: stored base rows carry the first-pass
    * (c1) assignment, the codebook is its aggregation (c2), appends
    * assign against c2. */
  private def o31AnnStore(s: SparkSession, dir: String): DataFrame = {
    val store = s"$tmpRoot/annstore_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val emb = T(s, dir, "embeddings")
    graft.operators.AnnStoreOps.build(s, store,
      emb.where(col("vec_id") % 10 =!= 9), "vec_id", "embedding", nlist = 8)
    graft.operators.AnnStoreOps.append(s, store,
      emb.where(col("vec_id") % 10 === 9), "vec_id", "embedding")
    val q = emb.where(col("vec_id") === 0)
      .select(qvec(col("embedding"))).head.getSeq[Long](0)
    graft.operators.AnnStoreOps.probe(s, store, "vec_id", q,
      k = 10, nprobe = 3)
  }

  // ====================================================================
  // E4 text analysis (documents)
  // ====================================================================

  /** RAG-style OVERLAPPING document chunking: fixed window (120 chars)
    * sliding by 90 — chunk i = substr(text, i*90+1, 120), the last
    * window covering the tail. Pure generator plan (sequence →
    * explode → substring): narrow, codegen'd, no shuffle until the
    * per-source audit aggregate — at 100 TB chunking is a map-only
    * pass that scales with input splits. The aggregate (chunk count,
    * total chunk chars, DISTINCT chunk md5s per source) pins both the
    * window arithmetic and the content bytes against the oracle. */
  private def e4Chunking(s: SparkSession, dir: String): DataFrame = {
    val (size, step) = (120, 90)
    T(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      .withColumn("chunk_idx", explode(sequence(lit(0),
        greatest(lit(0), ceil((length(col("text")) - lit(size))
          .cast("double") / step).cast("int")))))
      .select(col("source"),
        expr(s"substring(text, chunk_idx * $step + 1, $size)").as("chunk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk"))).as("sum_len"),
        countDistinct(md5(col("chunk"))).as("n_uniq"))
      .orderBy("source")
  }

  /** Edit-distance near-dup verification over BLOCKED candidates: the
    * quadratic levenshtein verify runs only inside (prefix, length
    * bucket) blocks — the blocking keys are cheap, deterministic, and
    * shrink the pair space from O(n²) to per-block quadratics, the
    * same candidate-bounding discipline as the LSH paths; at 100 TB
    * the block key is the shuffle key and no executor ever sees the
    * cross product. The verify uses the THRESHOLD form of
    * `levenshtein` — banded DP, O(k·n) per pair instead of the full
    * O(n·m) table (18× fewer cells at k=25 over ~500-char docs; the
    * unbanded form measured 5.5s at sf0.1 because the residual runs
    * on every key-matched pair, self-pairs included) — which returns
    * the EXACT distance for pairs within the threshold and −1 above
    * it, so the passing set and its distances are identical to the
    * oracle's unbanded `levenshtein(a,b) <= 25`. */
  private def e2EditVerify(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("text"),
      substring(col("text"), 1, 24).as("pfx"),
      (length(col("text")) / 16).cast("long").as("lb"))
    val a = d.as("a"); val b = d.as("b")
    val dist = levenshtein(col("a.text"), col("b.text"), 25)
    // dist rides INSIDE the join condition, after the doc_id order
    // check: the residual conjunction short-circuits left-to-right, so
    // the banded DP runs once per UNORDERED candidate pair, not on
    // every ordered/self key match
    a.join(b, col("a.pfx") === col("b.pfx") && col("a.lb") === col("b.lb")
        && col("a.doc_id") < col("b.doc_id") && dist >= 0)
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("a.doc_id")).as("n_left"),
        countDistinct(col("b.doc_id")).as("n_right"),
        sum(dist).as("sum_dist"))
  }

  private def e4TokenStats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("__t")) // tokenize once
      .select(
        col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        TF.bpeTokenEstimateFromTokens(col("__t")).cast("long").as("bpe_est"),
        round(TF.qualityScoreFromTokens(col("__t")) * 1000000).cast("long")
          .as("quality_micro"),
        TF.fingerprintFromTokens(col("__t")).as("fingerprint"))
      .orderBy("doc_id")

  private def e4TopTokens(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count("*").as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  private def e4LangId(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("lang"), TF.tokens(col("text")).as("__t")) // tokenize once
      .select(col("lang"), TF.langIdFromTokens(col("__t")).as("predicted"))
      .groupBy("lang", "predicted").agg(count("*").as("n"))
      .orderBy("lang", "predicted")

  /** Winnowed rolling-hash fingerprints (MOSS sketch) per document,
    * exploded to (doc_id, fp) rows — k=8-byte grams, window 4. */
  private def e4Winnow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), explode_outer(graft.functions.TextExpressions
        .winnowFingerprints(col("text"), 8, 4)).as("fp"))
      .where(col("fp").isNotNull)
      .orderBy("doc_id", "fp")

  /** Regex suite: extract / replace / match-count with portable ASCII
    * character-class patterns (Java regex and RE2 agree on these). */
  private def e4Regex(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        coalesce(regexp_extract(col("text"), "([a-z]+ing)", 1), lit(""))
          .as("first_ing"),
        length(regexp_replace(col("text"), "[aeiou]", "")).cast("long")
          .as("novowel_len"),
        (length(col("text")) - length(regexp_replace(col("text"), "[ae]", "")))
          .cast("long").as("n_ae"))
      .orderBy("doc_id")

  /** String-function suite over part: case, substring, padding, replace,
    * trim, positional split — the scalar-function surface a SQL user
    * expects, oracle-checked for cross-engine semantics. */
  private def e4Strings(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
        regexp_replace(col("p_brand"), "#", "_").as("brand_u"),
        trim(col("p_type")).as("ptype"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")

  // ====================================================================
  // Multimodal plumbing (documents → binary payload → stub decode)
  // ====================================================================

  private def m1Multimodal(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeMeta(
      MultimodalOps.withPayload(T(s, dir, "documents"), "doc_id", "text"))
      .toDF()
      .orderBy("doc_id")

  /** Frame-sampling over the synthesized binary payload: 64-byte frames,
    * every 2nd kept, md5 of the sampled bytes. */
  private def m2FrameSample(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.frameSample(
      MultimodalOps.withPayload(T(s, dir, "documents"), "doc_id", "text"),
      frameLen = 64, stride = 2)
      .orderBy("doc_id")

  // ====================================================================
  // Round-3 coverage: moment statistics, collect/bool aggregates, cross &
  // sort-merge joins, SQL subqueries, rank-function suite, bigrams, TF-IDF,
  // int8-quantized ANN, array higher-order functions, partitioned write,
  // bucketed join.
  // ====================================================================

  /** Second-order statistics (variance / stddev / correlation) derived from
    * EXACT integer moments — one map-side-combinable pass collects
    * (n, Σx, Σx², Σy, Σy², Σxy) over small-int units, and the closed-form
    * derivation runs on identical integers in any engine, so the doubles
    * (and their rounding) are bit-reproducible. This is also the 100 TB
    * formulation: moments merge associatively, unlike quantile-style
    * stats. */
  private def e5Stats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("q"),
        round(col("l_discount") * 100).cast("long").as("d"))
      .groupBy("l_returnflag")
      .agg(count("*").as("n"),
        sum("q").as("sq"), sum(col("q") * col("q")).as("sqq"),
        sum("d").as("sd"), sum(col("d") * col("d")).as("sdd"),
        sum(col("q") * col("d")).as("sqd"))
      .select(col("l_returnflag"), col("n"),
        round((col("n") * col("sqq") - col("sq") * col("sq")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double") * 1000).cast("long")
          .as("var_q_milli"),
        round(sqrt((col("n") * col("sdd") - col("sd") * col("sd")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")) * 1000).cast("long")
          .as("std_d_milli"),
        round((col("n") * col("sqd") - col("sq") * col("sd")).cast("double") /
          (sqrt((col("n") * col("sqq") - col("sq") * col("sq")).cast("double")) *
           sqrt((col("n") * col("sdd") - col("sd") * col("sd")).cast("double"))) * 1000000)
          .cast("long").as("corr_qd_micro"))
      .orderBy("l_returnflag")

  /** collect_set/collect_list surfaced deterministically: the collected set
    * is sorted before joining, so the (inherently unordered) aggregation
    * becomes oracle-stable. */
  private def e5Collect(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .orderBy("o_orderpriority")

  /** Boolean aggregates: every / any / count_if. */
  private def e5Bool(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        bool_and(col("l_quantity") > 0).cast("int").cast("long").as("all_pos_qty"),
        bool_or(col("l_discount") >= 0.1).cast("int").cast("long").as("any_max_disc"),
        count_if(col("l_tax") >= 0.07).as("n_hitax"))
      .orderBy("l_returnflag")

  /** Cross join — bounded dimension × dimension (the only safe shape). */
  private def e6Cross(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "region")
      .crossJoin(T(s, dir, "nation"))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  /** Sort-merge join forced via the `merge` hint — the strategy for two
    * LARGE sides where broadcast is impossible; asserted in the pre-AQE
    * physical plan (AQE may still locally improve it at runtime). */
  private def e6SortMerge(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").hint("merge")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count("*").as("n"), max(cents(col("o_totalprice"))).as("max_price_c"))
      .orderBy("c_mktsegment")
    assert(df.queryExecution.sparkPlan.toString.contains("SortMergeJoin"),
      "merge hint did not produce a sort-merge join")
    df
  }

  /** SQL subquery surface: scalar subquery (average as exact-integer sum /
    * count — deterministic), uncorrelated IN, correlated EXISTS. */
  private def e6Subquery(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders").createOrReplaceTempView("v_orders")
    T(s, dir, "customer").createOrReplaceTempView("v_customer")
    T(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    s.sql(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM v_orders
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
        |      (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |              / count(*) FROM v_orders)
        |  AND o_custkey IN (SELECT c_custkey FROM v_customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |  AND EXISTS (SELECT 1 FROM v_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 30)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Rank-function suite: percent_rank / cume_dist (exact rationals of the
    * same integers in any engine → stable micro-units), lead, nth_value
    * over the default standard frame. */
  private def e7PercentRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w) * 1000000).cast("long").as("prank_micro"),
        round(cume_dist().over(w) * 1000000).cast("long").as("cdist_micro"),
        coalesce(lead(col("o_orderkey"), 1).over(w), lit(-1L)).as("next_key"),
        coalesce(nth_value(col("o_orderkey"), 2).over(w), lit(-1L)).as("second_key"))
      .orderBy("o_orderkey")
  }

  /** Word bigram counts — the n=2 instantiation of the shingle machinery
    * (staged tokens → explode_outer, see DedupOps.docShingles for why). */
  private def e4Bigrams(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(TF.tokens(col("text")).as("__t"))
      .select(TF.shinglesFromTokens(col("__t"), 2).as("__sh"))
      .select(explode_outer(col("__sh")).as("bigram"))
      .where(col("bigram").isNotNull)
      .groupBy("bigram").agg(count("*").as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  /** TF-IDF top term per document, log-free: score = tf · N / df is an
    * exact rational of integers (same double in any engine), and the
    * per-document argmax is a fully-ordered row_number. Two aggregations
    * (term frequency, document frequency) over one exploded token relation
    * + a broadcast-sized vocabulary join — the classic scalable shape. */
  /** Previous e4Tfidf call's persisted tf relation (next-call-release
    * lifecycle, same as e10PrevCaches / DedupOps.jaccardPrevCaches). */
  private var tfidfPrevCaches: Seq[DataFrame] = Nil

  private def e4Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val nDocs = docs.count() // parquet row-group count — metadata-cheap
    val toks = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("__t"))
      .select(col("doc_id"), explode_outer(col("__t")).as("token"))
      .where(col("token").isNotNull)
    // tf feeds BOTH the document-frequency aggregate and the scoring join;
    // Spark has no cross-branch CSE, so without the persist the
    // tokenize+explode+groupBy pipeline — the query's dominant cost —
    // evaluates twice (it was the worst sf0.1→sf1 scaler at 4.9×)
    val tf = toks.groupBy("doc_id", "token").agg(count("*").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized {
      tfidfPrevCaches.foreach(_.unpersist(blocking = false))
      tfidfPrevCaches = Seq(tf)
    }
    // document frequency FROM the tf relation (one row per doc×token), not
    // a second explode of the raw text: count(*) here IS countDistinct(doc)
    val dfreq = tf.groupBy("token").agg(count("*").as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("score_micro",
        round(col("tf").cast("double") * nDocs / col("df") * 1000).cast("long"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "token", "score_micro")
      .orderBy("doc_id")
  }

  /** int8 scalar quantization (SQ8): clamp(round(x·127)) — 4× smaller
    * vectors, exact integer dot products. */
  private def sq8(c: Column): Column =
    transform(c, x =>
      greatest(lit(-127L), least(lit(127L), round(x.cast("double") * 127).cast("long"))))

  /** Brute-force top-k cosine over SQ8-quantized vectors — the
    * memory-bandwidth-bound ANN variant (quarter the bytes per scan of the
    * float vectors; integer math throughout, so oracle-exact). */
  private def e3AnnSq8(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(sq8(col("embedding"))).head.getSeq[Long](0)
    val qv = array(q.map(lit): _*)
    val qn = math.sqrt(q.map(x => x * x).sum.toDouble)
    T(s, dir, "embeddings")
      .select(col("vec_id"), sq8(col("embedding")).as("q8"))
      .select(col("vec_id"),
        round(qdot(col("q8"), qv).cast("double") /
          (sqrt(qdot(col("q8"), col("q8")).cast("double")) * lit(qn)) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(10)
  }

  /** Array higher-order-function suite (filter / exists / forall /
    * aggregate / sort+slice / zip_with) over quantized vectors — all
    * integer outputs, all codegen-friendly single-pass lambdas. */
  private def e9HofArrays(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .select(col("vec_id"), qvec(col("embedding")).as("qe"))
      .select(col("vec_id"),
        size(filter(col("qe"), x => x > 0)).cast("long").as("n_pos"),
        exists(col("qe"), x => abs(x) >= 2000).cast("int").cast("long").as("has_big"),
        forall(col("qe"), x => abs(x) <= 5000).cast("int").cast("long").as("all_small"),
        aggregate(col("qe"), lit(0L), (a, x) => a + abs(x)).as("l1"),
        aggregate(slice(sort_array(col("qe"), asc = false), 1, 3), lit(0L),
          (a, x) => a + x).as("top3_sum"),
        (element_at(col("qe"), 1) + element_at(col("qe"), -1)).as("ends_sum"))
      .orderBy("vec_id")

  /** Map/struct function surface: map_from_arrays, element_at on maps,
    * map_keys (insertion-ordered for array-built maps), map_concat, struct
    * field access — emitted as plain strings so the oracle checks values
    * without needing cross-engine map encodings. */
  /** Typed Dataset[T] pipeline showcase: case-class encoders end to end —
    * `as[Doc]`, typed filter/map lambdas, `groupByKey` + typed Aggregator
    * column. The lambdas are opaque to Catalyst (no pushdown inside them,
    * encoder serialization at the boundary), which is why the engine's hot
    * paths stay in expression form; this query documents the API surface
    * AND pins its semantics to the same DuckDB oracle as everything else. */
  private def e9TypedPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new org.apache.spark.sql.expressions.Aggregator[
        (String, Long), (Long, Long), (Long, Long)] {
      def zero = (0L, 0L)
      def reduce(b: (Long, Long), a: (String, Long)) = (b._1 + 1, b._2 + a._2)
      def merge(x: (Long, Long), y: (Long, Long)) = (x._1 + y._1, x._2 + y._2)
      def finish(r: (Long, Long)) = r
      def bufferEncoder = implicitly[Encoder[(Long, Long)]]
      def outputEncoder = implicitly[Encoder[(Long, Long)]]
    }
    T(s, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars").as[DocRow]
      .filter((d: DocRow) => d.lang == "en" && d.n_chars >= 100)
      // limit -1 keeps trailing empty strings, matching both the engine's
      // TF.tokens (Spark split) and DuckDB string_split — Java's default
      // split(" ") drops them and would diverge on trailing-space text
      .map((d: DocRow) => (d.source, d.text.split(" ", -1).length.toLong))
      .groupByKey(_._1)
      .agg(agg.toColumn)
      .map { case (src, (n, tok)) => (src, n, tok) }
      .toDF("source", "n_docs", "n_tokens")
      .orderBy("source")
  }

  private def e9MapStruct(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        map_from_arrays(array(lit("lang"), lit("source")),
          array(col("lang"), col("source"))).as("m"),
        struct(col("lang").as("l"), col("n_chars").as("nc")).as("st"))
      .select(col("doc_id"),
        element_at(col("m"), "lang").as("m_lang"),
        array_join(map_keys(col("m")), ",").as("m_keys"),
        concat_ws(":", col("st.l"), col("st.nc").cast("string")).as("packed"),
        element_at(map_concat(col("m"), map(lit("x"), lit("1"))), "x")
          .as("extra"))
      .orderBy("doc_id")

  /** Hive-style partitioned write + partition-pruned read-back: the filter
    * on the partition column prunes directories at planning time (asserted
    * in ScaleShapeSpec) — the layout that turns a 100 TB scan into a
    * one-partition read. */
  /** Partitioned layouts already written this JVM (same once-per-JVM
    * rationale as the bucketed tables: the layout is written once and
    * queried many times — the query's cost is the pruned read). */
  private val partedReady = scala.collection.mutable.Set[String]()

  private def o19PartitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/events_parted_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    partedReady.synchronized {
      if (!partedReady.contains(out)) {
        T(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("vc"))
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        partedReady += out
      }
    }
    s.read.parquet(out)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count("*").as("n"), sum("vc").as("sum_c"))
      .orderBy("user_id")
  }

  /** Bucketed write + bucket-aligned join: both sides pre-hashed into the
    * same bucket count on the join key, so the join needs NO shuffle
    * (asserted in ScaleShapeSpec) — at 100 TB this converts every repeated
    * join on the key into a local zip of bucket files. */
  /** Table-kinds already bucketed this JVM: bucketed tables are written
    * ONCE and joined many times — re-bucketing per query would charge every
    * join with the one-time layout cost. */
  private val bucketedReady = scala.collection.mutable.Set[String]()

  private def o20BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val ot = s"g_orders_b_$sfx"
    val ct = s"g_cust_b_$sfx"
    bucketedReady.synchronized {
      if (!bucketedReady.contains(sfx)) {
        // The session catalog is in-memory, but the warehouse directory
        // persists across JVMs: a stale g_* location from a previous run
        // makes saveAsTable fail (non-empty location, no catalog entry).
        // Drop any catalog entry AND delete the stale directory first.
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq(ot, ct).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val loc = new org.apache.hadoop.fs.Path(wh, t.toLowerCase)
          if (fs.exists(loc)) fs.delete(loc, true)
        }
        T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
        T(s, dir, "customer").select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
        bucketedReady += sfx
      }
    }
    s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count("*").as("n"), sum(cents(col("o_totalprice"))).as("revenue_c"))
      .orderBy("c_mktsegment")
  }

  /** Dynamic partition overwrite — the warehouse upsert pattern at 100 TB:
    * an incremental job recomputes ONE partition's rows and `overwrite`
    * replaces exactly the partitions present in the incoming frame,
    * leaving every other partition's files untouched (no read-modify-write
    * of the table). Base layout: events partitioned by type; incremental:
    * the 'click' partition rewritten with doubled cents. The read-back
    * aggregate proves untouched partitions kept their data. */
  /** O27: small-file compaction (TableLog.compact) driven through the
    * gate: fragment a documents projection into a 64-file table, compact
    * it to target-size files with a narrow coalesce, and oracle the
    * read-back against the original table — layout changed, content
    * bit-identical. The file-count reduction itself is asserted here
    * from the snapshots (fail loud, not just fast) and pinned again in
    * ScaleShapeSpec. */
  private val compactReady = scala.collection.mutable.Set[String]()
  private def o27Compact(s: SparkSession, dir: String): DataFrame = {
    val t = s"$tmpRoot/compact_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    compactReady.synchronized {
      if (!compactReady.contains(t)) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
        graft.sinks.TableLog.create(s, t, T(s, dir, "documents")
          .select("doc_id", "lang", "n_chars").repartition(64))
        val before = graft.sinks.TableLog.snapshot(t).get.files.size
        graft.sinks.TableLog.compact(s, t, targetBytes = 8L * 1024 * 1024)
        val after = graft.sinks.TableLog.snapshot(t).get.files.size
        require(after < before, s"compaction must reduce files: $before -> $after")
        compactReady += t
      }
    }
    graft.sinks.TableLog.read(s, t).orderBy("doc_id")
  }

  /** O28: z-order clustered layout (TableLog.zOrder): lineitem laid
    * out by the Morton interleave of (l_partkey, l_suppkey), then a
    * two-dimensional range predicate aggregated off the clustered copy
    * through `scan`, whose z-interval stats prune the files the box
    * misses. Content equality is the oracle; the data-skipping property
    * (per-file min/max spans shrink on BOTH dimensions) is pinned in
    * ScaleShapeSpec. */
  private val zorderReady = scala.collection.mutable.Set[String]()
  private def o28ZOrder(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/zorder_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val li = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        cents(col("l_quantity")).as("qty_c"))
    val r = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (pLo, pHi, sLo, sHi) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    zorderReady.synchronized {
      if (!zorderReady.contains(out)) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        graft.sinks.TableLog.create(s, out, li)
        graft.sinks.TableLog.zOrder(s, out, nFiles = 16,
          "l_partkey", (pLo, pHi), "l_suppkey", (sLo, sHi))
        zorderReady += out
      }
    }
    // 2-d corner predicate: an eighth of each key range — the shape whose
    // file-skipping only a multi-dimensional layout serves
    graft.sinks.TableLog.scan(s, out)
      .where(col("l_partkey") < lit(pLo + (pHi - pLo) / 8) &&
        col("l_suppkey") < lit(sLo + (sHi - sLo) / 8))
      .groupBy("l_returnflag")
      .agg(count("*").as("n"), sum("qty_c").as("qty_sum_c"))
      .orderBy("l_returnflag")
  }

  /** O29: Bloom-reduced join (JoinOps.bloomReducedJoin): lineitem joined
    * to a selective supplier subset, with the big side pre-filtered by a
    * plan-embedded Bloom filter before its shuffle. Exact join on the
    * survivors keeps the result identical to the plain join — which is
    * exactly what the oracle checks. */
  private def o29BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    // 4000 keeps a non-empty subset at every driver sf (sf0.001's ten
    // suppliers top out near 6000); the shuffle-reduction property itself
    // is pinned in ScaleShapeSpec with a selective subset
    val sup = T(s, dir, "supplier").where(col("s_acctbal") >= 4000)
    JoinOps.bloomReducedJoin(li, "l_suppkey", sup, "s_suppkey",
        expectedItems = 100000)
      .groupBy("s_nationkey")
      .agg(count("*").as("n"), sum(cents(col("l_extendedprice"))).as("rev_c"))
      .orderBy("s_nationkey")
  }

  private def o24DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/events_dynover_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val base = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("vc"))
    base.write.mode("overwrite").partitionBy("event_type").parquet(out)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      base.where(col("event_type") === "click")
        .withColumn("vc", col("vc") * 2)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count("*").as("n"), sum("vc").as("sum_c"))
      .orderBy("event_type")
  }

  /** regexp_extract_all + split/slice array-string suite. */
  private def e4RegexAll(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        array_join(regexp_extract_all(col("text"), lit("([a-z]+ing)"), lit(1)), ",")
          .as("ings"),
        size(split(col("text"), " ")).cast("long").as("n_sp"),
        array_join(slice(split(col("text"), " "), 1, 3), "_").as("first3"))
      .orderBy("doc_id")

  /** BPE-ish REGEX tokenization (GPT-2-style pattern, ASCII-simplified):
    * contractions | space-prefixed letter runs | digit runs | punctuation
    * runs. Both engines use leftmost-first alternation with greedy runs, so
    * token counts agree exactly; compared against the whitespace count. */
  private def e4BpeTokens(s: SparkSession, dir: String): DataFrame = {
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"
    T(s, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
          .as("n_bpe"),
        TF.tokenCount(col("text")).cast("long").as("n_ws"))
      .orderBy("doc_id")
  }

  /** The fixed BPE rule list `e4_bpe_encode` runs under — hand-authored,
    * rank-ordered, with composing chains (th→the, an→and) so the oracle
    * exercises rule order, not just presence. Each rule consuming a
    * composite token follows the rule that created it, which is what
    * licenses the oracle's nested-replace formulation (see
    * functions/Bpe.scala's rank-monotonicity note). */
  private val bpeFixedMerges = Seq(
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"), ("i", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"))

  /** TRUE byte-pair encoding under a fixed rule list (`Bpe.encodeWith`,
    * a codegen expression running the classic lowest-rank merge loop
    * with a per-executor word memo). The oracle replays the rules as
    * nested boundary-safe string replaces — sound because applying
    * rules in rank order, each globally left-to-right, equals the
    * classic loop (a merge only ever creates higher-rank pairs; parity
    * spec-pinned in ExtOpsSpec). Output = corpus token histogram. */
  private def e4BpeEncode(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(explode(graft.functions.Bpe.encodeWith(col("text"),
        bpeFixedMerges)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(40)

  /** TRAINED BPE end-to-end, gated under the oracle by SELF-VERIFYING
    * INVARIANTS (the `recall_floor_ok` pattern): training is an
    * iterative argmax no SQL replays, but the trained model + encoder
    * satisfy corpus-wide properties whose expected values DuckDB
    * computes from the raw table — (1) every document round-trips:
    * the concatenated token stream equals the pre-tokenized text
    * (lowercased, non-alphanumerics dropped — `Bpe.words`' contract),
    * (2) every document's token count is bounded by its character
    * count, (3) the model is WELL-FORMED (driver-checked, folded to a
    * constant): non-empty, ≤ numMerges rules, and each rule's parts
    * are single training-set characters or EARLIER merge products
    * (rank monotonicity — the property that licenses the in-order
    * encoder). A trainer that emitted malformed rules, or an encoder
    * that dropped/duplicated a token anywhere in the corpus, changes
    * the hash. The merge loop itself is additionally pinned against a
    * hand-computed fixture and a partitioning-invariance property in
    * ExtOpsSpec; the encoder is the same expression `e4_bpe_encode`
    * oracles value-by-value under a fixed rule list. */
  private def e4BpeTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val model = graft.functions.Bpe.train(docs, "text", numMerges = 200)
    val wellFormed = model.merges.nonEmpty &&
      model.merges.length <= 200 && {
        val known = scala.collection.mutable.HashSet[String](
          model.chars.toIndexedSeq: _*)
        model.merges.forall { case (x, y) =>
          val ok = known(x) && known(y); known += x + y; ok
        }
      }
    docs
      .select(graft.functions.Bpe.encode(col("text"), model).as("toks"),
        col("text"), col("n_chars"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(concat_ws("", col("toks")) ===
            regexp_replace(lower(col("text")), "[^a-z0-9]+", ""), 1L)
          .otherwise(0L)).as("roundtrip_ok"),
        sum(when(size(col("toks")).cast("long") <= col("n_chars"), 1L)
          .otherwise(0L)).as("tokens_bounded"))
      .withColumn("rules_ok", lit(if (wellFormed) 1L else 0L))
  }

  /** Count-Min sketch over all document tokens, dumped as (depth, bucket,
    * count) rows. The md5-derived bucketing makes the ENTIRE sketch
    * deterministic, so the oracle rebuilds it with a plain GROUP BY — a
    * differential test of the sketch aggregate itself, not just its
    * estimates. */
  private def e5CmsSketch(s: SparkSession, dir: String): DataFrame = {
    val depth = 4; val width = 64
    T(s, dir, "documents")
      .select(TF.tokens(col("text")).as("__t"))
      .select(explode_outer(col("__t")).as("tok"))
      .where(col("tok").isNotNull)
      .agg(graft.functions.CountMin.countMinLong(col("tok"), depth, width)
        .as("sk"))
      .select(posexplode(col("sk")).as(Seq("idx", "n")))
      .where(col("n") > 0)
      .select(expr(s"CAST(idx div $width AS BIGINT)").as("depth"),
        (col("idx") % width).cast("long").as("bucket"), col("n"))
      .orderBy("depth", "bucket")
  }

  /** Equal-width histogram in exact integer math: bucket =
    * ⌊(x−lo)·10 / (hi−lo+1)⌋ over cents — the min/max scalars come from one
    * aggregation broadcast back via cross join, and every division is
    * integer, so bucket assignment is engine-exact. */
  private def e5Histogram(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(cents(col("o_totalprice")).as("pc"))
    val mm = o.agg(min("pc").as("lo"), max("pc").as("hi"))
    o.crossJoin(mm)
      .select(expr("CAST(((pc - lo) * 10) div (hi - lo + 1) AS BIGINT)")
        .as("bucket"))
      .groupBy("bucket").agg(count("*").as("n"))
      .orderBy("bucket")
  }

  /** LATERAL correlated subquery: per order-priority, that priority's two
    * most expensive orders — the SQL surface for correlated per-row
    * subplans (Spark plans it as a rewritten join). */
  private def e6Lateral(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders").createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT p.o_orderpriority, t.o_orderkey, t.price_c
        |FROM (SELECT DISTINCT o_orderpriority FROM v_orders) p,
        |LATERAL (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM v_orders o
        |  WHERE o.o_orderpriority = p.o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY o_orderpriority, price_c DESC, o_orderkey""".stripMargin)
  }

  /** Bitwise aggregates + shifts. */
  private def e5Bits(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        bit_and(col("l_suppkey")).as("k_and"),
        bit_or(col("l_suppkey")).as("k_or"),
        bit_xor(col("l_suppkey")).as("k_xor"),
        max(shiftleft(col("l_linenumber"), 2).cast("long")).as("max_shift"))
      .orderBy("l_returnflag")

  /** Full outer join: even-keyed customers ⟗ per-customer order counts —
    * both unmatched sides exercised (odd custkeys only from the right,
    * orderless customers only from the left). */
  private def e6FullOuter(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer").where(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_mktsegment")
    val ords = T(s, dir, "orders").groupBy("o_custkey")
      .agg(count("*").as("n_orders"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("seg"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("custkey")
  }

  /** Bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep multiplicity —
    * the survivor counts are the check that ALL semantics (not DISTINCT)
    * actually ran. */
  private def e5SetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    li.where(col("l_returnflag") === "R").select("l_suppkey")
      .intersectAll(li.where(col("l_returnflag") === "A").select("l_suppkey"))
      .exceptAll(li.where(col("l_quantity") >= 49).select("l_suppkey"))
      .groupBy("l_suppkey").agg(count("*").as("n"))
      .orderBy("l_suppkey")
  }

  /** Deterministic MODE per group: value counts + max_by over
    * (count, -value) — most frequent wins, ties to the smallest value;
    * two hash aggregations, no sort. */
  private def e5Mode(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(col("l_returnflag"), round(col("l_quantity")).cast("long").as("q"))
      .groupBy("l_returnflag", "q").agg(count("*").as("n"))
      .groupBy("l_returnflag")
      .agg(
        max_by(col("q"), struct(col("n"), (lit(0L) - col("q")).as("negq")))
          .as("mode_q"),
        max(struct(col("n"), (lit(0L) - col("q")).as("negq"))).as("k"))
      .select(col("l_returnflag"), col("mode_q"), col("k.n").as("mode_n"))
      .orderBy("l_returnflag")

  /** Calendar scalar-function suite: trunc/last_day/day-of-week/diff/add,
    * emitted as strings so cross-engine date rendering is explicit. */
  private def e5Dates(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        datediff(lit("1996-01-01").cast("date"), col("o_orderdate")).cast("long")
          .as("days_to_96"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"))
      .orderBy("o_orderkey")

  /** rank vs dense_rank under REAL ties (price bucketed to create them):
    * equal order-by values share a rank, and the two functions differ in
    * gap behavior — per-row output is still deterministic because rank
    * depends only on the value. */
  private def e7RankDense(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy(col("price_k").desc)
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") / 1000).cast("long").as("price_k"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("price_k"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy("o_orderkey")
  }

  /** IVF with exact integer centroids — the oracle-checkable IVF (unlike
    * e3_ann_ivf's float AVG centroids, which are rows-only). */
  private def e3IvfInt(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(qvec(col("embedding"))).head.getSeq[Long](0)
    SimilarityOps.topKIvfExact(T(s, dir, "embeddings"), "vec_id", "embedding",
      "label", q, k = 10, nprobe = 3)
  }

  /** The full training-data CLEANING PIPELINE as ONE declarative plan —
    * the composition story: length + quality + language-ID gates (all
    * computed from one staged tokenization), exact dedup keeping the
    * smallest doc_id per text, then MinHash-LSH near-dup removal dropping
    * every non-canonical pair member. Narrow gates → one dedup shuffle →
    * signature shuffles; nothing quadratic, nothing driver-side. */
  /** Previous invocation's cached stages, unpersisted on the next call —
    * the returned DataFrame is lazy, so the caches must outlive the call,
    * but CacheManager holds them forever otherwise (the ContextCleaner
    * only reclaims UNregistered cache entries). */
  private var e10PrevCaches: Seq[DataFrame] = Nil

  private def e10CleanPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    synchronized {
      e10PrevCaches.foreach(_.unpersist(blocking = false))
      e10PrevCaches = Nil
    }
    // staged feeds two join branches and exact feeds two consumers; Spark
    // re-evaluates each branch (no cross-branch CSE), so both are persisted
    // — the gates' token/quality/langid pass runs ONCE over the corpus
    val staged = T(s, dir, "documents")
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("__t"))
      .select(col("doc_id"), col("text"),
        size(col("__t")).cast("long").as("n_tokens"),
        round(TF.qualityScoreFromTokens(col("__t")) * 1000000).cast("long")
          .as("q_micro"),
        TF.langIdFromTokens(col("__t")).as("lang_pred"))
      .where(col("n_tokens") >= 5 && col("q_micro") >= 300000 &&
        col("lang_pred") === "en")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keep = staged.groupBy("text").agg(min("doc_id").as("doc_id"))
    val exact = staged.join(keep.select("doc_id"), Seq("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nearDupB = DedupOps
      .minhashCandidatePairs(exact, "doc_id", "text", bands = 4, shingleN = 3)
      .select(col("id_b").as("doc_id")).distinct()
    synchronized { e10PrevCaches = Seq(staged, exact) }
    exact.join(nearDupB, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_tokens", "q_micro")
      .orderBy("doc_id")
  }

  /** ANN over a CELL-PARTITIONED store: quantized vectors are written
    * partitioned by their IVF cell, the probe picks cells via exact
    * integer centroids, and the fine scan reads ONLY the probed partition
    * directories (PartitionFilters — asserted in ScaleShapeSpec). At
    * 100 TB this is the layout that turns every ANN query into an
    * nprobe-partition read. Same result (and oracle) as e3_ann_ivf_int. */
  private def o21AnnPartitioned(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/emb_cells_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val q = T(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(qvec(col("embedding"))).head.getSeq[Long](0)
    val quant = T(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), qvec(col("embedding")).as("qe"))
    // like o20's bucketed tables: the partitioned LAYOUT is written once
    // per JVM and queried many times
    bucketedReady.synchronized {
      if (!bucketedReady.contains(out)) {
        quant.write.mode("overwrite").partitionBy("label").parquet(out)
        bucketedReady += out
      }
    }
    val probed = SimilarityOps.exactProbeCells(quant, "label", q, nprobe = 3)
      .collect().map(_.get(0))
    val qv = array(q.map(lit): _*)
    val qn = math.sqrt(q.map(x => x * x).sum.toDouble)
    s.read.parquet(out)
      .where(col("label").isin(probed.toSeq: _*))
      .select(col("vec_id"),
        round(qdot(col("qe"), qv).cast("double") /
          (sqrt(qdot(col("qe"), col("qe")).cast("double")) * lit(qn)) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(10)
  }

  /** Near-dup clusters: connected components over the MinHash candidate
    * graph (iterative min-label propagation; oracle = recursive CTE). */
  private def e2DupClusters(s: SparkSession, dir: String): DataFrame =
    DedupOps.dupClusters(T(s, dir, "documents"), "doc_id", "text",
      bands = 4, shingleN = 3)
      .orderBy("doc_id")

  /** Audio-style windowed energy features over the synthesized binary
    * payload — 256-byte windows, one row per (doc, window). */
  private def m3AudioEnergy(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.audioEnergy(
      MultimodalOps.withPayload(T(s, dir, "documents"), "doc_id", "text"),
      win = 256)
      .orderBy("doc_id", "w")

  // ====================================================================
  // Round-5 additions: MERGE/SCD2 (CDC write path), profiling, search
  // (BM25 + inverted index).
  // ====================================================================

  /** MERGE INTO (upsert + conditional delete) through `MergeOps.merge`:
    * CDC batch = updates (key%7==3: status 'U', price bumped; every 5th
    * flagged delete) + inserts (key%97==0 re-keyed above the key space).
    * One full-outer shuffle on the key; oracle = the same FULL OUTER JOIN
    * CASE semantics in SQL. */
  private def o30MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        cents(col("o_totalprice")).as("price_c"))
    val upd = t.where(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"), lit("U").as("status"),
        (col("price_c") + 500).as("price_c"),
        when(col("o_orderkey") % 35 === 3, 1).otherwise(0).as("del"))
    // insert keys offset by max(o_orderkey)+1, not a constant: a fixed
    // offset collides with real keys once the table outgrows it (caught
    // at sf10 by the duplicate-source-key guard), and keys start at 0 so
    // the +1 keeps even key 0 strictly above every existing key
    val maxKey = t.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val ins = t.where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + maxKey).as("o_orderkey"),
        lit("I").as("status"), col("price_c"), lit(0).as("del"))
    MergeOps.merge(t, upd.unionByName(ins), Seq("o_orderkey"),
      deleteWhen = Some(col("del") === 1))
      .orderBy("o_orderkey")
  }

  /** SCD Type-2 dimension build from a change log: each purchase event is
    * a new version of (user, value); valid_to = next version's valid_from
    * (-1 = open), is_current flags the head. One window shuffle on the
    * natural key — the standard CDC-to-dimension pipeline stage. */
  private def e1Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("valid_from_us"), col("event_id"))
    val nextFrom = lead(col("valid_from_us"), 1).over(w)
    T(s, dir, "events").where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("valid_from_us"),
        cents(col("value")).as("value_c"))
      .select(col("user_id"), col("event_id"), col("value_c"),
        col("valid_from_us"),
        coalesce(nextFrom, lit(-1L)).as("valid_to_us"),
        when(nextFrom.isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "event_id")
  }

  /** One-pass column profiling (the data-quality gate a pipeline runs
    * before training): null count, exact distinct, min/max per column from
    * a SINGLE aggregate (Spark plans the multi-distinct via Expand — one
    * shuffle; the approximate sibling is e5_approx_distinct). */
  private def e10Profile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val aggs = count(lit(1)).as("n") +: cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_distinct"),
      min(col(c)).cast("string").as(s"${c}_min"),
      max(col(c)).cast("string").as(s"${c}_max"))
    }
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("n"),
        col(s"${c}_nulls").as("n_null"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_v"), col(s"${c}_max").as("max_v"))
    }
    T(s, dir, "documents").agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  // ====================================================================
  // Round-6 additions: training-data hygiene (decontamination, repetition
  // quality signals, domain mixing).
  // ====================================================================

  /** Benchmark decontamination: training docs sharing any 4-gram with the
    * held-out benchmark slice (doc_id % 97 == 0 stands in for an eval
    * set; 4 because the synthetic 10-100-token docs only collide at short
    * n — a real pipeline over web text uses 8-13). contaminationHits
    * broadcasts the benchmark shingles; output = contaminated doc ids
    * with distinct-shingle hit counts — the removal list a pretraining
    * pipeline feeds to a left_anti. */
  private def e10Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    DedupOps.contaminationHits(
      docs.where(col("doc_id") % 97 =!= 0),
      docs.where(col("doc_id") % 97 === 0),
      "doc_id", "text", shingleN = 4)
      .select(col("id").as("doc_id"), col("n_hits"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals: per-doc duplicate-bigram fraction
    * and top-bigram fraction, in exact integer micro-units (counts are
    * integers, so the fractions are the same integers on any engine).
    * One narrow explode + two keyed aggregations — the scan-local shape
    * of every quality gate in the cleaning pipeline. */
  private def e4Repetition(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        explode(TF.shinglesFromTokens(col("__t"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(sum("cnt").as("n_bigrams"),
        count(lit(1)).as("n_distinct"), max("cnt").as("max_cnt"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(n_bigrams - n_distinct) * 1000000 div n_bigrams")
          .as("dup_frac_micro"),
        expr("max_cnt * 1000000 div n_bigrams").as("top_frac_micro"))
      .orderBy("doc_id")

  /** Domain mixing: resample every source toward an equal target share,
    * with rates COMPUTED from the data (count aggregate → exact integer
    * rate_micro per source, capped at 1e6) instead of hand-configured —
    * the self-tuning sibling of e10_sample_strata. Selection is the same
    * deterministic md5 bucket, so the sample is reproducible under any
    * partitioning; the 20-row rate relation broadcasts. */
  private def e10MixDomains(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val rates = counts
      .withColumn("total", sum("n").over(Window.partitionBy()))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy()))
      .select(col("source"),
        least(lit(1000000L), expr("(total div n_src) * 1000000 div n"))
          .as("rate_micro"))
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
    docs.join(broadcast(rates), "source")
      .where(bucket < col("rate_micro"))
      .select(col("doc_id"), col("source"), col("rate_micro"))
      .orderBy("doc_id")
  }

  /** Unicode NFC canonicalization (codegen NormalizeNfc; oracle = DuckDB
    * nfc_normalize): the driver corpus is ASCII, so a decomposed suffix
    * (e+U+0301, i+U+0308) is injected per row — NFC must merge exactly
    * those two combining marks, and the normalized text must match the
    * oracle's byte-for-byte. */
  /** PII scrubbing under the oracle: deterministic synthetic PII
    * (email/phone/IP derived from `doc_id`) is appended to each
    * document, scrubbed with `TextExpressions.scrubPii` (pure
    * codegen'd `regexp_replace` composition, RE2-compatible
    * patterns), and the result is pinned byte-exactly — lengths,
    * per-type placeholder counts, and an md5 over the scrubbed
    * suffix region — against DuckDB running the SAME regexes with
    * its RE2 engine. Cross-engine regex agreement IS the test: a
    * pattern that strays outside the common subset (lookarounds,
    * dialect-specific classes) breaks the hash. */
  private def e4PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id"),
      lit("@example.com or +1 555 123 4"), col("doc_id") % 100,
      lit(" at 10.0."), col("doc_id") % 256, lit(".17 today"))
    val scrubbed = graft.functions.TextExpressions.scrubPii(withPii)
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), withPii.as("raw"),
        scrubbed.as("clean"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("raw")) - length(col("clean"))).cast("long")
          .as("delta_len"),
        sum(size(split(col("clean"), "<EMAIL>")) - 1).cast("long")
          .as("n_email"),
        sum(size(split(col("clean"), "<PHONE>")) - 1).cast("long")
          .as("n_phone"),
        sum(size(split(col("clean"), "<IP>")) - 1).cast("long")
          .as("n_ip"))
      .orderBy(col("lang"))
  }

  /** Rare-token / OOV-rate quality scoring — the corpus-statistics
    * JOIN-BACK pattern a lexicon-based quality filter runs at scale:
    * one distributed token histogram over the whole corpus (the
    * "language model"), broadcast-or-shuffle joined back to the
    * per-document token stream, and reduced to per-language rare-token
    * rates. A document whose tokens are mostly corpus-rare is
    * gibberish, boilerplate, or the wrong language — the
    * integer-exact cousin of unigram log-prob scoring (counts, not
    * float sums, so the oracle compares exactly). Tokenization is the
    * lowercase `[^a-z]+` split both engines implement identically. */
  private def e4Oov(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .where(col("tok") =!= "")
    val corpus = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("corpus_n"))
    toks.join(corpus, "tok")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("corpus_n") <= 2, 1L).otherwise(0L)).as("n_rare"),
        sum(when(col("corpus_n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        countDistinct(col("tok")).as("n_vocab"))
      .orderBy(col("lang"))
  }

  private def e4Normalize(s: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"), lit(" cafe\u0301 nai\u0308ve")) // decomposed escapes
    val nfc = graft.functions.TextExpressions.normalizeNfc(t)
    T(s, dir, "documents")
      .select(col("doc_id"),
        length(t).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"),
        substring(nfc, -12, 12).as("nfc_suffix"))
      .orderBy("doc_id")
  }

  /** Sign-bucket-ONLY blocking — the variant for a corpus with NO
    * natural base key (no label/cluster column): the bucket width alone
    * is derived from corpus size (`signBitsFor(n, 1, 32)`), so block
    * count still grows with the data and per-block pair work stays
    * ~32·n/2. Historical contrast recorded in DEVNOTES: the fixed-width
    * (4-bit) form of this query measured 4.9× time for 3× data and 26×
    * for 10× — the counter-example curve that width derivation removes.
    * Same quantized cosine and threshold as `e2_embed_neardup`; the
    * trade is recall across sign-bucket boundaries, standard for LSH
    * blocking. */
  private def e2EmbedNearDupBlocked(s: SparkSession, dir: String): DataFrame = {
    val n = T(s, dir, "embeddings").count()
    val bits = graft.operators.DedupOps.signBitsFor(n,
      baseBlocks = 1L, targetBlockRows = 32L)
    val base = T(s, dir, "embeddings")
      .select(col("vec_id"),
        VF.signBucket(col("embedding"), bits).as("blk"),
        qvec(col("embedding")).as("qe"))
      .select(col("vec_id"), col("blk"), col("qe"),
        sqrt(qdot(col("qe"), col("qe")).cast("double")).as("nrm"))
    val a = base.select(col("blk"), col("vec_id").as("id_a"),
      col("qe").as("qa"), col("nrm").as("na"))
    val b = base.select(col("blk"), col("vec_id").as("id_b"),
      col("qe").as("qb"), col("nrm").as("nb"))
    a.join(b, "blk")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(qdot(col("qa"), col("qb")).cast("double") /
          (col("na") * col("nb")) * 1000000).cast("long").as("cos_micro"))
      .where(col("cos_micro") >= 300000)
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-shaped semantic dedup: deterministic Lloyd clusters as
    * blocking keys, quantized-cosine pairs within each cluster. The
    * clustering is the SAME fit the kmeans-IVF oracle retrains, so the
    * whole pipeline — fit, assignment, pair cosines — hash-matches SQL.
    * nlist is DERIVED from the corpus (`nlistFor`: n/64, clamped), so
    * cell sizes — and with them the within-cell quadratic — hold
    * constant as the corpus grows; the oracle recomputes the identical
    * nlist from count(*). Threshold 0.40: the driver's embeddings are
    * diffuse (no planted near-identical vectors), so this demonstrates
    * the machinery on the natural within-cluster similarity tail. */
  private def e2SemanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.SimilarityOps.semanticDedupPairsAuto(
      T(s, dir, "embeddings"), "vec_id", "embedding",
      thresholdMicro = 400000, targetCellRows = 64L)
      .orderBy("id_a", "id_b")

  /** BM25 ranking for a fixed term query (k1=1.2, b=0.75) with Lucene's
    * idf ARGUMENT kept rational — no log(): transcendental libm calls
    * differ in the last ulp across engines, rational double arithmetic
    * does not (same IEEE ops in the same order ⇒ identical bits). Scores
    * quantized to micro per term BEFORE the per-doc sum, so the sum is
    * exact integer math in any order. */
  private def e4Bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("vector", "stream", "window")
    val docs = T(s, dir, "documents")
    // two exact-long scalars (corpus size / total token count) — bounded
    // driver work, same role as e4_tfidf's nDocs
    val st = docs.agg(count(lit(1)).as("n"),
      sum(size(TF.tokens(col("text"))).cast("long")).as("sdl")).head
    val nDocs = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / nDocs
    val tf = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
        explode_outer(col("__t")).as("token"))
      .where(col("token").isin(terms: _*))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // idf = 1 + (N - df + 0.5)/(df + 0.5)  (positive for every df)
    val idf = (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0
    val score = idf * (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf.join(dfreq, "token")
      .select(col("doc_id"),
        round(score * 1e6).cast("long").as("term_micro"))
      .groupBy("doc_id").agg(sum("term_micro").as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(20)
  }

  /** Inverted-index build (token → df + capped posting list): the search-
    * side counterpart of e4_tfidf. Postings are capped at 20 doc_ids PER
    * TOKEN BEFORE collect_list (row_number under the same hash
    * partitioning the groupBy reuses — no second exchange), so per-group
    * state stays bounded no matter how common the token is at 100 TB. */
  private def e4InvIndex(s: SparkSession, dir: String): DataFrame = {
    val posting = T(s, dir, "documents")
      .select(col("doc_id"), explode_outer(TF.tokens(col("text"))).as("token"))
      .where(col("token").isNotNull)
      .distinct()
    val w = Window.partitionBy("token").orderBy("doc_id")
    posting.withColumn("rn", row_number().over(w))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(
            sort_array(collect_list(when(col("rn") <= 20, col("doc_id")))),
            _.cast("string")),
          ",").as("postings"))
      .orderBy("token")
  }

  // ====================================================================

  /** Release every next-call-release memo held by the registry and its
    * operators — the long-lived-session shutdown/idle hook. Each memo
    * keeps at most ONE invocation's persists alive (next call releases
    * the previous call's), so a service looping over queries holds a
    * BOUNDED cache set; this empties even that bound once the last
    * results are materialized. CacheLifecycleSpec drives 3 sequential
    * invocation rounds and pins both properties (no growth between
    * rounds; cacheManager + persistent RDDs empty after release). */
  def releaseCaches(): Unit = {
    synchronized {
      (tfidfPrevCaches ++ e10PrevCaches).foreach(_.unpersist(blocking = false))
      tfidfPrevCaches = Nil
      e10PrevCaches = Nil
      o16PrevIds.foreach(_.close())
      o16PrevIds = None
    }
    graft.operators.DedupOps.releaseJaccardCaches()
    graft.operators.DedupOps.releaseIncrementalCaches()
    graft.operators.DedupOps.releaseEmbedCaches()
    graft.operators.SimilarityOps.releaseSemanticCaches()
  }

  /** Drop the per-JVM LAYOUT memos (o20's bucketed tables, o21's
    * cell-partitioned store): the next invocation re-derives the layout
    * from CURRENT data. A bucketed/partitioned layout is written once
    * and joined/probed many times — correct for immutable bench data,
    * stale in a long-lived service once the base tables change; this is
    * the invalidation hook that service calls after ingest. */
  def invalidateLayouts(): Unit =
    bucketedReady.synchronized { bucketedReady.clear() }

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "o01_tsv_roundtrip" -> (o01TsvRoundtrip _),
    "o02_comment_skip" -> (o02CommentSkip _),
    "o03_json_roundtrip" -> (o03JsonRoundtrip _),
    "o05_discovery" -> (o05Discovery _),
    "o08_cna_pack" -> (o08CnaPack _),
    "o09_sample_list" -> (o09SampleList _),
    "o11_unpivot" -> (o11Unpivot _),
    "o13_drift_projection" -> (o13Drift _),
    "o14_mutation_projection" -> (o14Mutation _),
    "o16_seq_id" -> (o16SeqId _),
    "o18_combine_union" -> (o18Combine _),
    "e5_q1_agg" -> (e5Q1 _),
    "e5_rollup" -> (e5Rollup _),
    "e5_distinct" -> (e5Distinct _),
    "e5_approx_distinct" -> (e5Approx _),
    "e5_date_agg" -> (e5DateAgg _),
    "e5_cube" -> (e5Cube _),
    "e5_grouping_sets" -> (e5GroupingSets _),
    "e5_pivot" -> (e5Pivot _),
    "e5_percentile" -> (e5Percentile _),
    "e5_conditional" -> (e5Conditional _),
    "e5_setops" -> (e5SetOps _),
    "e6_join_broadcast" -> (e6Broadcast _),
    "e6_join_cbo" -> (e6JoinCbo _),
    "e6_join_semi" -> (e6Semi _),
    "e6_join_anti" -> (e6Anti _),
    "e6_join_5way" -> (e6FiveWay _),
    "e6_join_salted" -> (e6Salted _),
    "e6_asof_join" -> (e6Asof _),
    "e6_range_join" -> (e6RangeJoin _),
    "e7_window_topk" -> (e7TopK _),
    "e7_topk_agg" -> (e7TopKAgg _),
    "e7_topk_rewrite" -> (e7TopKRewrite _),
    "e7_window_running" -> (e7Running _),
    "e7_window_lag" -> (e7Lag _),
    "e7_ntile" -> (e7Ntile _),
    "e7_first_last" -> (e7FirstLast _),
    "e7_range_frame" -> (e7RangeFrame _),
    "e8_tumbling" -> (e8Tumbling _),
    "e8_sliding" -> (e8Sliding _),
    "e8_session" -> (e8Session _),
    "e1_exact_dedup" -> (e1Exact _),
    "e1_latest_by_key" -> (e1LatestByKey _),
    "e2_minhash_pairs" -> (e2Minhash _),
    "e2_incremental_dedup" -> (e2IncrementalDedup _),
    "e2_incremental_embed" -> (e2IncrementalEmbed _),
    "e2_incremental_semantic" -> (e2IncrementalSemantic _),
    "e2_simhash_buckets" -> (e2Simhash _),
    "e2_jaccard_pairs" -> (e2Jaccard _),
    "e2_jaccard_derived" -> (e2JaccardDerived _),
    "e2_jaccard_sketch" -> (e2JaccardSketch _),
    "e2_embed_neardup" -> (e2EmbedNearDup _),
    "e3_topk_cosine" -> (e3TopK _),
    "e3_ann_signbucket" -> (e3SignBucket _),
    "e3_ann_ivf" -> (e3Ivf _),
    "e3_ann_ivf_kmeans" -> (e3IvfKmeans _),
    "o31_ann_store" -> (o31AnnStore _),
    "o33_avro_nested" -> (o33AvroNested _),
    "o34_table_log" -> (o34TableLog _),
    "o35_log_skipping" -> (o35LogSkipping _),
    "o36_time_travel" -> (o36TimeTravel _),
    "o37_incremental_agg" -> (o37IncrementalAgg _),
    "o38_schema_evolution" -> (o38SchemaEvolution _),
    "o39_categorical_skip" -> (o39CategoricalSkip _),
    "o40_manifest_rows" -> (o40ManifestRows _),
    "o41_type_widening" -> (o41TypeWidening _),
    "o42_change_feed" -> (o42ChangeFeed _),
    "o47_cdc_feed" -> (o47CdcFeed _),
    "o48_merge_cow" -> (o48MergeCow _),
    "o49_cdc_apply" -> (o49CdcApply _),
    "o50_cdc_merge_feed" -> (o50CdcMergeFeed _),
    "o51_update_where" -> (o51UpdateWhere _),
    "o43_index_compaction" -> (o43IndexCompaction _),
    "o44_delete_where" -> (o44DeleteWhere _),
    "o53_read_asof" -> (o53ReadAsOf _),
    "o54_merge_cow_str" -> (o54MergeCowStr _),
    "o52_delete_mor" -> (o52DeleteMor _),
    "o63_update_mor" -> (o63UpdateMor _),
    "o66_merge_mor" -> (o66MergeMor _),
    "o67_cdc_apply_mor" -> (o67CdcApplyMor _),
    "o55_schema_evolution" -> (o55SchemaEvolution _),
    "o56_history" -> (o56History _),
    "o57_log_scan" -> (o57LogScan _),
    "o58_compact_small" -> (o58CompactSmall _),
    "o59_dyn_join" -> (o59DynJoin _),
    "o64_dyn_join_str" -> (o64DynJoinStr _),
    "o65_sql_dml" -> (o65SqlDml _),
    "o68_sql_dml_mor" -> (o68SqlDmlMor _),
    "o69_sql_insert" -> (o69SqlInsert _),
    "o70_box_skip" -> (o70BoxSkip _),
    "o78_hilbert_skip" -> (o78HilbertSkip _),
    "o71_z3" -> (o71Z3 _),
    "o83_h3" -> (o83H3 _),
    "o72_zorder_maintain" -> (o72ZMaintain _),
    "o73_tags" -> (o73Tags _),
    "o74_sql_full" -> (o74SqlFull _),
    "o75_wap" -> (o75Wap _),
    "o76_catalog_sql" -> (o76CatalogSql _),
    "o79_metadata_cols" -> (o79MetadataCols _),
    "o80_dv_dml" -> (o80DvDml _),
    "o81_stream_table" -> (o81StreamTable _),
    "o82_stream_read" -> (o82StreamRead _),
    "o84_changes_table" -> (o84ChangesTable _),
    "o85_delta_dml" -> (o85DeltaDml _),
    "o86_metadata_delete" -> (o86MetadataDelete _),
    "o87_read_change_feed" -> (o87ReadChangeFeed _),
    "o91_rcf_vanilla_stream" -> (o91RcfVanillaStream _),
    "o92_rcf_batch_noinstall" -> (o92RcfBatchNoInstall _),
    "o93_mor_semidelete" -> (o93MorSemiDelete _),
    "o88_changes_between" -> (o88ChangesBetween _),
    "o89_replace_where" -> (o89ReplaceWhere _),
    "o90_merge_full" -> (o90MergeFull _),
    "o77_branch_merge" -> (o77BranchMerge _),
    "o60_sql_face" -> (o60SqlFace _),
    "o61_restore" -> (o61Restore _),
    "o62_clone" -> (o62Clone _),
    "o45_delete_in" -> (o45DeleteIn _),
    "o46_bloom_skip" -> (o46BloomSkip _),
    "e4_token_stats" -> (e4TokenStats _),
    "e4_chunking" -> (e4Chunking _),
    "e2_edit_verify" -> (e2EditVerify _),
    "e4_top_tokens" -> (e4TopTokens _),
    "e4_langid" -> (e4LangId _),
    "e4_json_props" -> (e4JsonProps _),
    "e9_variant" -> (e9Variant _),
    "e4_regex" -> (e4Regex _),
    "e4_strings" -> (e4Strings _),
    "e4_winnow" -> (e4Winnow _),
    "m1_multimodal" -> (m1Multimodal _),
    "m2_frame_sample" -> (m2FrameSample _),
    "e5_stats" -> (e5Stats _),
    "e5_collect" -> (e5Collect _),
    "e5_bool" -> (e5Bool _),
    "e6_join_cross" -> (e6Cross _),
    "e6_join_sortmerge" -> (e6SortMerge _),
    "e6_subquery" -> (e6Subquery _),
    "e7_percent_rank" -> (e7PercentRank _),
    "e4_bigrams" -> (e4Bigrams _),
    "e4_tfidf" -> (e4Tfidf _),
    "e3_ann_sq8" -> (e3AnnSq8 _),
    "e9_hof_arrays" -> (e9HofArrays _),
    "o19_partitioned_write" -> (o19PartitionedWrite _),
    "o20_bucketed_join" -> (o20BucketedJoin _),
    "e2_dup_clusters" -> (e2DupClusters _),
    "m3_audio_energy" -> (m3AudioEnergy _),
    "e6_join_full" -> (e6FullOuter _),
    "e5_setops_all" -> (e5SetOpsAll _),
    "e5_mode" -> (e5Mode _),
    "e5_dates" -> (e5Dates _),
    "e7_rank_dense" -> (e7RankDense _),
    "e3_ann_ivf_int" -> (e3IvfInt _),
    "e4_regex_all" -> (e4RegexAll _),
    "e5_bits" -> (e5Bits _),
    "e4_bpe_tokens" -> (e4BpeTokens _),
    "e4_bpe_encode" -> (e4BpeEncode _),
    "e4_bpe_train" -> (e4BpeTrain _),
    "e4_redact" -> (e4Redact _),
    "e10_sample_strata" -> (e10SampleStrata _),
    "e10_pack_chunks" -> (e10PackChunks _),
    "e5_cms_sketch" -> (e5CmsSketch _),
    "e10_clean_pipeline" -> (e10CleanPipeline _),
    "e8_funnel" -> (e8Funnel _),
    "o21_ann_partitioned" -> (o21AnnPartitioned _),
    "e5_histogram" -> (e5Histogram _),
    "e6_join_lateral" -> (e6Lateral _),
    "o22_orc_roundtrip" -> (o22OrcRoundtrip _),
    "o23_xml_roundtrip" -> (o23XmlRoundtrip _),
    "o26_avro_roundtrip" -> (o26AvroRoundtrip _),
    "o32_avro_array" -> (o32AvroArray _),
    "o27_compact" -> (o27Compact _),
    "o28_zorder" -> (o28ZOrder _),
    "o29_bloom_join" -> (o29BloomJoin _),
    "o24_dynamic_overwrite" -> (o24DynamicOverwrite _),
    "o25_combine_evolved" -> (o25CombineEvolved _),
    "e8_pattern" -> (e8Pattern _),
    "e8_seq_match" -> (e8SeqMatch _),
    "e5_stats_typed" -> (e5StatsTyped _),
    "e9_map_struct" -> (e9MapStruct _),
    "e9_typed_pipeline" -> (e9TypedPipeline _),
    "o30_merge_upsert" -> (o30MergeUpsert _),
    "e1_scd2" -> (e1Scd2 _),
    "e10_profile" -> (e10Profile _),
    "e4_bm25" -> (e4Bm25 _),
    "e4_inverted_index" -> (e4InvIndex _),
    "e10_decontaminate" -> (e10Decontaminate _),
    "e4_repetition" -> (e4Repetition _),
    "e10_mix_domains" -> (e10MixDomains _),
    "e2_semantic_dedup" -> (e2SemanticDedup _),
    "e4_normalize" -> (e4Normalize _),
    "e4_pii_scrub" -> (e4PiiScrub _),
    "e4_oov" -> (e4Oov _),
    "e2_embed_neardup_blocked" -> (e2EmbedNearDupBlocked _)
  )

  // ====================================================================
  // DuckDB oracle SQL — same tables, same aliases, same ORDER BY.
  // ====================================================================

  /** Shared SQL fragments (DuckDB dialect). */
  private val sqlTokens = "string_split(lower(text), ' ')"
  private def sqlShingles(n: Int) =
    s"CASE WHEN len($sqlTokens) >= $n THEN list_transform(range(len($sqlTokens) - ${n - 1}), " +
      s"i -> ${(1 to n).map(j => s"$sqlTokens[i+$j]").mkString(" || ' ' || ")})" +
      " ELSE CAST([] AS VARCHAR[]) END"
  private val sqlQvec =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** Lloyd assignment / centroid-aggregate SQL (DuckDB mirror of
    * `SimilarityOps.assignToCells` / `recomputeCentroids`'s sum+count
    * centroid representation): shared by the semantic-dedup family. */
  private def sqlLloydAssign(pts: String, cen: String) =
    s"""(SELECT vec_id, qe, cell FROM (
       |  SELECT p.vec_id, p.qe, s.cell,
       |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |      CAST(list_sum(list_transform(range(1,65), i -> (s.c*p.qe[i]-s.s[i])*(s.c*p.qe[i]-s.s[i]))) AS DOUBLE)/(s.c*s.c),
       |      s.cell) AS rn
       |  FROM $pts p CROSS JOIN $cen s) WHERE rn = 1)""".stripMargin

  private def sqlLloydAgg(asn: String) =
    s"""(SELECT cell, list(sv ORDER BY i) AS s, MAX(c) AS c FROM (
       |  SELECT cell, i, CAST(SUM(qe[CAST(i AS INTEGER)]) AS BIGINT) AS sv,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM $asn a, (SELECT unnest(range(1,65)) AS i) dims GROUP BY cell, i)
       |  GROUP BY cell)""".stripMargin

  /** (i, seed) VALUES rows for the 6×2 multi-row banding — the SAME
    * Scala-generated xor constants the plan embeds
    * (DedupOps.bandSeeds). */
  private lazy val sqlBandSeedRows: String =
    graft.operators.DedupOps.bandSeeds(12).zipWithIndex
      .map { case (s, i) => s"($i, $s)" }.mkString(", ")

  /** The first 144 bandSeeds constants (the widest derived family,
    * 36×4) — `lshParamsFor`'s SQL mirror filters this prefix-stable
    * list down to bands·rows. */
  private lazy val sqlBandSeedRows144: String =
    graft.operators.DedupOps.bandSeeds(144).zipWithIndex
      .map { case (s, i) => s"($i, $s)" }.mkString(", ")

  /** quality_micro over `text` — same formula as the e4_token_stats oracle. */
  private lazy val sqlQualityMicro: String =
    s"""CAST(round((
       |  0.4 * least(CAST(len($sqlTokens) AS DOUBLE) / 100.0, 1.0) +
       |  0.3 * (CAST(list_sum(list_transform($sqlTokens, x -> CASE WHEN x IN ('the','a','of','and','is','in','to','it','on','for') THEN 1 ELSE 0 END)) AS DOUBLE) / len($sqlTokens)) +
       |  0.3 * (CAST(len(list_distinct($sqlTokens)) AS DOUBLE) / len($sqlTokens))
       |) * 1000000) AS BIGINT)""".stripMargin

  /** Self-contained language-ID prediction over `text` (argmax with
    * alphabetical tie-break, 'und' on zero hits) — the WHERE-clause form of
    * the e4_langid oracle. */
  private lazy val sqlLangPred: String = {
    def score(markers: Seq[String]) =
      s"list_sum(list_transform($sqlTokens, x -> CASE WHEN x IN (${markers.map("'" + _ + "'").mkString(",")}) THEN 1 ELSE 0 END))"
    val scores = TF.langMarkers.map { case (l, m) => l -> score(m) }
    val mx = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (l, sc) => s"WHEN $sc = $mx THEN '$l'" }
      .mkString(" ")
    s"CASE WHEN $mx = 0 THEN 'und' $cases END"
  }

  /** The `e4_bpe_encode` rule replay as one nested-replace expression,
    * generated from the SAME `bpeFixedMerges` list the plan runs
    * (rule-list drift between code and oracle is impossible). Each
    * symbol is wrapped `|sym|`, so a rule's pattern `|x||y|` can only
    * match a whole adjacent symbol pair — a symbol merely ENDING in x
    * ("at" before "h") leaves no '|' ahead of the x and never matches
    * — and DuckDB's left-to-right non-overlapping replace() is exactly
    * the per-rule global pass rank-monotonicity licenses (parity with
    * the classic loop is spec-pinned in ExtOpsSpec). */
  private lazy val sqlBpeEncode: String =
    bpeFixedMerges.foldLeft("regexp_replace(w, '(.)', '|\\1|', 'g')") {
      case (acc, (x, y)) => s"replace($acc, '|$x||$y|', '|$x$y|')"
    }

  /** B^(k-1-j) mod M for the winnowing oracle's closed-form gram hash —
    * identical modular arithmetic to the rolling form. */
  private val winnowPowersSql: String = {
    val B = 257L; val M = 1000000007L; val k = 8
    (0 until k).map { j =>
      var v = 1L
      (0 until (k - 1 - j)).foreach(_ => v = v * B % M)
      v
    }.mkString("[", ", ", "]")
  }

  def oracleSql: Map[String, String] = {
    val m: Map[String, String] = ListMap(
    "o01_tsv_roundtrip" ->
      """SELECT CAST(p_partkey AS VARCHAR) AS p_partkey, p_name, p_brand
        |FROM part ORDER BY p_partkey""".stripMargin,
    "o02_comment_skip" ->
      """SELECT CAST(p_partkey AS VARCHAR) AS p_partkey, p_name, p_brand
        |FROM part ORDER BY p_partkey""".stripMargin,
    "o03_json_roundtrip" ->
      """SELECT doc_id, lang, source FROM documents ORDER BY doc_id""",
    "o05_discovery" ->
      """SELECT * FROM (VALUES
        |  ('cna', 'data_cna.txt', 'study_x', 'study_x_gistic'),
        |  ('cna', 'data_log2cna.txt', '', ''),
        |  ('mutations', 'data_mutations.txt', 'study_x', 'study_x_mutations'))
        |AS t(kind, file, study, profile) ORDER BY kind, file""".stripMargin,
    "o08_cna_pack" ->
      """SELECT 'tpch' AS CANCER_STUDY, 'tpch_gistic' AS GENETIC_PROFILE,
        |CAST(p_partkey AS VARCHAR) AS GENE_SYMBOL,
        |p_brand || ',' || p_type || ',' || CAST(p_size AS VARCHAR) AS "VALUES"
        |FROM part ORDER BY GENE_SYMBOL""".stripMargin,
    "o09_sample_list" ->
      """SELECT 'tpch' AS CANCER_STUDY, 'tpch_gistic' AS GENETIC_PROFILE,
        |'tpch_p_brand,tpch_p_type,tpch_p_size,tpch_p_retailprice' AS ORDERED_SAMPLE_LIST""".stripMargin,
    "o11_unpivot" ->
      """WITH u AS (
        |  SELECT 'tpch_p_brand' AS SAMPLE_ID, CAST(p_partkey AS VARCHAR) AS GENE_SYMBOL, p_brand AS ALTERATION FROM part
        |  UNION ALL
        |  SELECT 'tpch_p_type', CAST(p_partkey AS VARCHAR), p_type FROM part
        |  UNION ALL
        |  SELECT 'tpch_p_size', CAST(p_partkey AS VARCHAR), CAST(p_size AS VARCHAR) FROM part)
        |SELECT SAMPLE_ID, 'tpch' AS CANCER_STUDY, GENE_SYMBOL,
        |'tpch_gistic' AS GENETIC_PROFILE, ALTERATION
        |FROM u ORDER BY GENE_SYMBOL, SAMPLE_ID""".stripMargin,
    "o13_drift_projection" ->
      """SELECT doc_id, lang AS LANG, source AS SOURCE, '' AS CHROMOSOME
        |FROM documents ORDER BY doc_id""".stripMargin,
    "o14_mutation_projection" ->
      """SELECT doc_id, 'st_mut' AS GENETIC_PROFILE_ID,
        |'st_' || substr(text, 1, 8) AS SAMPLE_ID,
        |source AS CENTER, lang AS SEQUENCER,
        |'' AS MUTATION_STATUS, '' AS ANNOTATION_JSON
        |FROM documents ORDER BY doc_id""".stripMargin,
    "o16_seq_id" ->
      """SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS BIGINT) AS seq_id,
        |l_orderkey, l_linenumber
        |FROM lineitem ORDER BY seq_id""".stripMargin,
    "o18_combine_union" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e5_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(round(CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE) / count(*) * 10) AS BIGINT) AS avg_qty_milli
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "e5_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    // Self-verifying HLL: oracle emits the exact distinct count plus the
    // literal in-bound verdict the Spark plan computes — see e5Approx.
    "e5_approx_distinct" ->
      """SELECT l_returnflag,
        |CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |CAST(1 AS BIGINT) AS bound_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e5_distinct" ->
      """SELECT l_returnflag,
        |CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e5_date_agg" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
        |CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "e4_json_props" ->
      """SELECT json_extract_string(props, '$.k') AS k, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY length(k), k""".stripMargin,
    "e9_variant" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(min(event_id) AS BIGINT) AS first_id
        |FROM events GROUP BY k ORDER BY k NULLS FIRST""".stripMargin,
    "e5_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "e5_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |COALESCE(CAST(EXTRACT(year FROM l_shipdate) AS BIGINT), -1) AS sy,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, EXTRACT(year FROM l_shipdate)), (l_returnflag), ())
        |ORDER BY rf, sy""".stripMargin,
    "e5_pivot" ->
      """SELECT l_returnflag,
        |CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity*100) AS BIGINT) END) AS BIGINT) AS qty_f_c,
        |CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity*100) AS BIGINT) END) AS BIGINT) AS qty_o_c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e5_percentile" ->
      """SELECT o_orderstatus,
        |CAST(round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5) * 10) AS BIGINT) AS p50_milli,
        |CAST(round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.9) * 10) AS BIGINT) AS p90_milli
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "e5_conditional" ->
      """SELECT l_returnflag,
        |CAST(SUM(CASE WHEN l_discount >= 0.08 THEN CAST(round(l_extendedprice*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS disc_rev_c,
        |CAST(SUM(CASE WHEN l_discount >= 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
        |CAST(MAX(CASE WHEN l_discount >= 0.05 THEN CAST(round(l_quantity*100) AS BIGINT) END) AS BIGINT) AS max_disc_qty_c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e5_setops" ->
      """SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT
        |SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
        |EXCEPT
        |SELECT l_suppkey FROM lineitem
        |WHERE l_quantity >= 48 AND l_discount >= 0.1 AND l_returnflag = 'N'
        |ORDER BY l_suppkey""".stripMargin,
    "e6_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
        |  CAST(round(value*100) AS BIGINT) AS vc FROM events)
        |SELECT c.event_id AS click_id,
        |CAST(count(*) AS BIGINT) AS n_purchases,
        |CAST(SUM(p.vc) AS BIGINT) AS sum_purchase_c
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.us > c.us AND p.us <= c.us + 600000000
        |GROUP BY c.event_id ORDER BY click_id""".stripMargin,
    "e7_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "e7_first_last" ->
      """SELECT DISTINCT o_custkey,
        |first_value(o_orderkey) OVER w AS best_order,
        |last_value(o_orderkey) OVER w AS worst_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    "e7_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) OVER (
        |  PARTITION BY l_suppkey ORDER BY CAST(round(l_extendedprice*100) AS BIGINT)
        |  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS range_qty_c
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "e4_regex" ->
      """SELECT doc_id,
        |COALESCE(regexp_extract(text, '([a-z]+ing)', 1), '') AS first_ing,
        |CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS novowel_len,
        |CAST(length(text) - length(regexp_replace(text, '[ae]', '', 'g')) AS BIGINT) AS n_ae
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e4_strings" ->
      """SELECT p_partkey,
        |upper(p_name) AS uname,
        |substr(p_name, 1, 5) AS prefix5,
        |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |regexp_replace(p_brand, '#', '_', 'g') AS brand_u,
        |trim(p_type) AS ptype,
        |string_split(p_type, ' ')[1] AS type_head,
        |CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "e6_join_salted" ->
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |CAST(count(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "e6_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
        |  CAST(round(value*100) AS BIGINT) AS vc FROM events),
        |u AS (SELECT event_id, user_id, us, 0 AS mk, CAST(NULL AS BIGINT) AS rv
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, user_id, us, 1 AS mk, vc FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT *, last_value(rv IGNORE NULLS) OVER (
        |  PARTITION BY user_id ORDER BY us, mk DESC, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_c FROM u)
        |SELECT event_id, user_id, COALESCE(asof_c, -1) AS last_purchase_c
        |FROM w WHERE mk = 0 ORDER BY event_id""".stripMargin,
    "e6_join_broadcast" ->
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |CAST(count(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "e6_join_cbo" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey <= 150
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "e6_join_semi" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "e6_join_anti" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "e6_join_5way" ->
      """SELECT r_name, n_name,
        |CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "e7_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "e7_topk_agg" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "e7_topk_rewrite" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "e7_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) OVER (
        |  PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty_c
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "e7_window_lag" ->
      """SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_c,
        |COALESCE(lag(CAST(round(value*100) AS BIGINT), 1) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id), 0) AS prev_value_c
        |FROM events ORDER BY event_id""".stripMargin,
    "e8_tumbling" ->
      """SELECT (epoch_us(ts) // 600000000) * 600 AS bucket_start, event_type,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,
    "e8_sliding" ->
      """WITH b AS (SELECT (epoch_us(ts) // 1000000) AS es, event_type FROM events),
        |w AS (SELECT (es // 300) * 300 AS window_start, event_type FROM b
        |      UNION ALL
        |      SELECT (es // 300) * 300 - 300, event_type FROM b)
        |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "e8_session" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |  CAST(round(value*100) AS BIGINT) AS vc FROM events),
        |m AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |  OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL THEN 1 ELSE 0 END AS new_s FROM e),
        |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, CAST(MIN(us) // 1000000 AS BIGINT) AS session_start,
        |CAST(count(*) AS BIGINT) AS n, CAST(SUM(vc) AS BIGINT) AS sum_value_c
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "e1_exact_dedup" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "e1_latest_by_key" ->
      """SELECT user_id, event_id, value_c, us FROM (
        |  SELECT user_id, event_id, CAST(round(value*100) AS BIGINT) AS value_c,
        |  epoch_us(ts) AS us,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "e2_minhash_pairs" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM documents),
        |e AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM e),
        |sig AS (SELECT doc_id, b.band, MIN(h1 + b.band * h2) AS sig
        |  FROM h, (SELECT unnest(range(4)) AS band) b GROUP BY doc_id, b.band)
        |SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |FROM sig a JOIN sig c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    // retrains both phases of the incremental lifecycle: base signatures
    // (= the index at v1), batch signatures, the cross/within dup rules,
    // and the final index = base ∪ survivor signatures
    "e2_incremental_dedup" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM documents),
        |e AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM e),
        |sig AS (SELECT doc_id, b.band, MIN(h1 + b.band * h2) AS sig
        |  FROM h, (SELECT unnest(range(4)) AS band) b GROUP BY doc_id, b.band),
        |base AS (SELECT * FROM sig WHERE doc_id % 4 != 0),
        |bat AS (SELECT * FROM sig WHERE doc_id % 4 = 0),
        |cm AS (SELECT bat.doc_id, MIN(base.doc_id) AS cmid FROM bat
        |  JOIN base ON bat.band = base.band AND bat.sig = base.sig
        |  GROUP BY bat.doc_id),
        |wm AS (SELECT b2.doc_id, MIN(b1.doc_id) AS wmid FROM bat b1
        |  JOIN bat b2 ON b1.band = b2.band AND b1.sig = b2.sig
        |    AND b1.doc_id < b2.doc_id
        |  GROUP BY b2.doc_id),
        |dec AS (SELECT d.doc_id,
        |  (cmid IS NOT NULL OR wmid IS NOT NULL) AS dup,
        |  CASE WHEN cmid IS NULL AND wmid IS NULL THEN CAST(-1 AS BIGINT)
        |    ELSE least(coalesce(cmid, 9223372036854775807),
        |      coalesce(wmid, 9223372036854775807)) END AS match_id
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
        |  LEFT JOIN cm ON d.doc_id = cm.doc_id
        |  LEFT JOIN wm ON d.doc_id = wm.doc_id),
        |fin AS (SELECT * FROM base
        |  UNION ALL SELECT bat.* FROM bat
        |  JOIN dec ON bat.doc_id = dec.doc_id AND NOT dec.dup),
        |ia AS (SELECT count(DISTINCT doc_id) AS idx_docs,
        |  count(*) AS idx_rows FROM fin)
        |SELECT dec.doc_id, dec.dup, dec.match_id, ia.idx_docs, ia.idx_rows
        |FROM dec, ia ORDER BY dec.doc_id""".stripMargin,
    // embedding twin: bit width re-derived from the BASE corpus stats
    // (the same integer signBitsFor rule the index pins), cosine via
    // quantized integer dots — see e2_embed_neardup for the formula
    "e2_incremental_embed" ->
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT label) AS BIGINT) AS nlab
        |  FROM embeddings WHERE vec_id % 4 != 0),
        |bb AS (SELECT COALESCE(MIN(b), 16) AS bits
        |  FROM (SELECT unnest(range(17)) AS b) t, nn
        |  WHERE nlab * (1::BIGINT << b) * 32 >= n),
        |q AS (SELECT vec_id,
        |  CAST(label AS VARCHAR) || '|' || array_to_string(list_transform(
        |    range(1, 1 + (SELECT bits FROM bb)),
        |    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS blk,
        |  $sqlQvec AS qe FROM embeddings),
        |base AS (SELECT * FROM q WHERE vec_id % 4 != 0),
        |bat AS (SELECT * FROM q WHERE vec_id % 4 = 0),
        |cm AS (SELECT b2.vec_id, MIN(b1.vec_id) AS cmid
        |  FROM bat b2 JOIN base b1 ON b2.blk = b1.blk
        |  WHERE CAST(round(CAST(list_sum(list_transform(range(1, 65),
        |      i -> b2.qe[i] * b1.qe[i])) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(b2.qe, x -> x*x)) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(b1.qe, x -> x*x)) AS DOUBLE)))
        |    * 1000000) AS BIGINT) >= 300000
        |  GROUP BY b2.vec_id),
        |wm AS (SELECT b2.vec_id, MIN(b1.vec_id) AS wmid
        |  FROM bat b1 JOIN bat b2 ON b1.blk = b2.blk
        |    AND b1.vec_id < b2.vec_id
        |  WHERE CAST(round(CAST(list_sum(list_transform(range(1, 65),
        |      i -> b2.qe[i] * b1.qe[i])) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(b2.qe, x -> x*x)) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(b1.qe, x -> x*x)) AS DOUBLE)))
        |    * 1000000) AS BIGINT) >= 300000
        |  GROUP BY b2.vec_id),
        |dec AS (SELECT d.vec_id,
        |  (cmid IS NOT NULL OR wmid IS NOT NULL) AS dup,
        |  CASE WHEN cmid IS NULL AND wmid IS NULL THEN CAST(-1 AS BIGINT)
        |    ELSE least(coalesce(cmid, 9223372036854775807),
        |      coalesce(wmid, 9223372036854775807)) END AS match_id
        |  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0) d
        |  LEFT JOIN cm ON d.vec_id = cm.vec_id
        |  LEFT JOIN wm ON d.vec_id = wm.vec_id),
        |fin AS (SELECT vec_id FROM base
        |  UNION ALL SELECT bat.vec_id FROM bat
        |  JOIN dec ON bat.vec_id = dec.vec_id AND NOT dec.dup),
        |ia AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS idx_vecs,
        |  count(*) AS idx_rows FROM fin)
        |SELECT dec.vec_id, dec.dup, dec.match_id, ia.idx_vecs, ia.idx_rows
        |FROM dec, ia ORDER BY dec.vec_id""".stripMargin,
    // semantic twin: the identical Lloyd fit as e2_semantic_dedup but
    // trained on the BASE partition only; both sides assigned with the
    // fit codebook (c1), then the incremental cross/within/accounting
    // structure of e2_incremental_embed over cell blocks
    "e2_incremental_semantic" ->
      s"""WITH pts AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings),
        |base AS (SELECT * FROM pts WHERE vec_id % 4 != 0),
        |bat AS (SELECT * FROM pts WHERE vec_id % 4 = 0),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |nl AS (SELECT CAST(GREATEST(2, LEAST(4096, n // 64)) AS BIGINT) AS k FROM nn),
        |st AS (SELECT CAST(GREATEST(1, nn.n // (nl.k * 20)) AS BIGINT) AS step FROM nn, nl),
        |fitp AS (SELECT * FROM base
        |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    % (SELECT step FROM st) = 0),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM fitp),
        |rk AS (SELECT vec_id, qe, row_number() OVER (ORDER BY vec_id) - 1 AS r FROM fitp),
        |seeds AS (SELECT j AS cell, qe AS s, CAST(1 AS BIGINT) AS c
        |  FROM (SELECT unnest(range((SELECT k FROM nl))) AS j) js, mm
        |  JOIN rk ON rk.r = (j * mm.m) // (SELECT k FROM nl)),
        |a1 AS ${sqlLloydAssign("fitp", "seeds")},
        |c1 AS ${sqlLloydAgg("a1")},
        |abase AS ${sqlLloydAssign("base", "c1")},
        |abat AS ${sqlLloydAssign("bat", "c1")},
        |cm AS (SELECT b2.vec_id, MIN(b1.vec_id) AS cmid
        |  FROM abat b2 JOIN abase b1 ON b2.cell = b1.cell
        |  WHERE CAST(round(CAST(list_sum(list_transform(range(1, 65),
        |      i -> b2.qe[i] * b1.qe[i])) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(b2.qe, x -> x*x)) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(b1.qe, x -> x*x)) AS DOUBLE)))
        |    * 1000000) AS BIGINT) >= 400000
        |  GROUP BY b2.vec_id),
        |wm AS (SELECT b2.vec_id, MIN(b1.vec_id) AS wmid
        |  FROM abat b1 JOIN abat b2 ON b1.cell = b2.cell
        |    AND b1.vec_id < b2.vec_id
        |  WHERE CAST(round(CAST(list_sum(list_transform(range(1, 65),
        |      i -> b2.qe[i] * b1.qe[i])) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(b2.qe, x -> x*x)) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(b1.qe, x -> x*x)) AS DOUBLE)))
        |    * 1000000) AS BIGINT) >= 400000
        |  GROUP BY b2.vec_id),
        |dec AS (SELECT d.vec_id,
        |  (cmid IS NOT NULL OR wmid IS NOT NULL) AS dup,
        |  CASE WHEN cmid IS NULL AND wmid IS NULL THEN CAST(-1 AS BIGINT)
        |    ELSE least(coalesce(cmid, 9223372036854775807),
        |      coalesce(wmid, 9223372036854775807)) END AS match_id
        |  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0) d
        |  LEFT JOIN cm ON d.vec_id = cm.vec_id
        |  LEFT JOIN wm ON d.vec_id = wm.vec_id),
        |fin AS (SELECT vec_id FROM abase
        |  UNION ALL SELECT abat.vec_id FROM abat
        |  JOIN dec ON abat.vec_id = dec.vec_id AND NOT dec.dup),
        |ia AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS idx_vecs,
        |  count(*) AS idx_rows FROM fin)
        |SELECT dec.vec_id, dec.dup, dec.match_id, ia.idx_vecs, ia.idx_rows
        |FROM dec, ia ORDER BY dec.vec_id""".stripMargin,
    "e2_simhash_buckets" ->
      (s"""WITH s AS (SELECT doc_id, """ +
        (1 to 8).map(p =>
          s"""CASE WHEN list_sum(list_transform($sqlTokens, x -> CASE WHEN substr(md5(x), $p, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END""")
          .mkString(" || ") +
        s""" AS simhash FROM documents)
        |SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS min_id
        |FROM s GROUP BY simhash HAVING count(*) >= 2 ORDER BY simhash""".stripMargin),
    // multi-row banding: 6 bands × 2 xor-family minima (bandSeeds
    // literals — the same Scala-generated constants the plan embeds);
    // band signature = the comma-joined pair of minima
    "e2_jaccard_pairs" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM documents),
        |ds AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM ds),
        |bm AS (SELECT doc_id, i, MIN(xor(h1, sd)) AS m
        |  FROM h, (VALUES $sqlBandSeedRows) ks(i, sd) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, i // 2 AS band,
        |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
        |  FROM bm GROUP BY doc_id, i // 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM sig a JOIN sig c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY doc_id),
        |inter AS (SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM pairs p JOIN ds da ON da.doc_id = p.id_a
        |  WHERE EXISTS (SELECT 1 FROM ds db WHERE db.doc_id = p.id_b AND db.s = da.s)
        |  GROUP BY p.id_a, p.id_b),
        |j AS (SELECT i.id_a, i.id_b,
        |  CAST(round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) * 1000000) AS BIGINT) AS jaccard_micro
        |  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b)
        |SELECT id_a, id_b, jaccard_micro FROM j WHERE jaccard_micro >= 200000
        |ORDER BY id_a, id_b""".stripMargin,
    // corpus-derived banding: (bands, rows) from count(*) — rows =
    // 1 + digits(max(1, n//5000)) capped at 4, bands from the midpoint
    // table (6, 15, 36) — the identical integer derivation as
    // DedupOps.lshParamsFor; the 144-seed list is filtered to
    // bands·rows (bandSeeds is prefix-stable)
    "e2_jaccard_derived" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM documents),
        |ds AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM ds),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |pp AS (SELECT least(4, 1 + length(CAST(greatest(1, n // 5000) AS VARCHAR))) AS rws FROM nn),
        |pb AS (SELECT rws, CASE rws WHEN 2 THEN 6 WHEN 3 THEN 15 ELSE 36 END AS bnds FROM pp),
        |bm AS (SELECT doc_id, i, MIN(xor(h1, sd)) AS m
        |  FROM h, (VALUES $sqlBandSeedRows144) ks(i, sd), pb
        |  WHERE ks.i < pb.bnds * pb.rws GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, i // rws AS band,
        |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
        |  FROM bm, pb GROUP BY doc_id, i // rws),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM sig a JOIN sig c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY doc_id),
        |inter AS (SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM pairs p JOIN ds da ON da.doc_id = p.id_a
        |  WHERE EXISTS (SELECT 1 FROM ds db WHERE db.doc_id = p.id_b AND db.s = da.s)
        |  GROUP BY p.id_a, p.id_b),
        |j AS (SELECT i.id_a, i.id_b,
        |  CAST(round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) * 1000000) AS BIGINT) AS jaccard_micro
        |  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b)
        |SELECT id_a, id_b, jaccard_micro FROM j WHERE jaccard_micro >= 200000
        |ORDER BY id_a, id_b""".stripMargin,
    "e2_jaccard_sketch" -> {
      // per-position xor constants — the SAME Scala-generated literals
      // the plan embeds (DedupOps.sketchSeeds)
      val seedRows = graft.operators.DedupOps.sketchSeeds(64).zipWithIndex
        .map { case (s, i) => s"($i, $s)" }.mkString(", ")
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM documents),
        |ds AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM ds),
        |bm AS (SELECT doc_id, i, MIN(xor(h1, sd)) AS m
        |  FROM h, (VALUES $sqlBandSeedRows) ks(i, sd) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, i // 2 AS band,
        |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
        |  FROM bm GROUP BY doc_id, i // 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM sig a JOIN sig c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |mh AS (SELECT doc_id, i, MIN(xor(h1, sd)) AS m
        |  FROM h, (VALUES $seedRows) ks(i, sd) GROUP BY doc_id, i),
        |sg AS (SELECT doc_id, list(m ORDER BY i) AS mh FROM mh GROUP BY doc_id),
        |est AS (SELECT p.id_a, p.id_b,
        |  CAST(round(CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN a.mh[i] = b.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE)
        |    * 1000000 / 64) AS BIGINT) AS est_jaccard_micro
        |  FROM pairs p JOIN sg a ON a.doc_id = p.id_a JOIN sg b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, est_jaccard_micro FROM est
        |WHERE est_jaccard_micro >= 200000 ORDER BY id_a, id_b""".stripMargin
    },
    // data-driven blocking: bits = smallest b with nlab·2^b·32 ≥ n —
    // the same integer derivation as DedupOps.signBitsFor
    "e2_embed_neardup" ->
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT label) AS BIGINT) AS nlab FROM embeddings),
        |bb AS (SELECT COALESCE(MIN(b), 16) AS bits
        |  FROM (SELECT unnest(range(17)) AS b) t, nn
        |  WHERE nlab * (1::BIGINT << b) * 32 >= n),
        |q AS (SELECT vec_id,
        |  CAST(label AS VARCHAR) || '|' || array_to_string(list_transform(
        |    range(1, 1 + (SELECT bits FROM bb)),
        |    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS blk,
        |  $sqlQvec AS qe FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.qe AS qa, b.qe AS qb
        |  FROM q a JOIN q b ON a.blk = b.blk AND a.vec_id < b.vec_id),
        |c AS (SELECT id_a, id_b,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qa[i] * qb[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qa, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qb, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM p)
        |SELECT id_a, id_b, cos_micro FROM c WHERE cos_micro >= 300000
        |ORDER BY id_a, id_b""".stripMargin,
    "e3_topk_cosine" ->
      s"""WITH q AS (SELECT $sqlQvec AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings)
        |SELECT vec_id,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qv[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM s, q ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin,
    // Self-verifying IVF baseline: output rows are the exact brute-force
    // top-10 (reproducible here) + the in-plan recall verdict, which the
    // oracle asserts as literal 1 — see e3Ivf scaladoc.
    "e3_ann_ivf" ->
      s"""WITH q AS (SELECT $sqlQvec AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings)
        |SELECT vec_id,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qv[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro,
        |CAST(1 AS BIGINT) AS recall_floor_ok
        |FROM s, q ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin,
    "e3_ann_signbucket" ->
      s"""WITH s AS (SELECT vec_id, $sqlQvec AS qe,
        |  array_to_string(list_transform(range(1, 7),
        |    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
        |  FROM embeddings),
        |q AS (SELECT qe AS qv, bucket AS qb FROM s WHERE vec_id = 0)
        |SELECT vec_id,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qv[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM s, q WHERE s.bucket = q.qb
        |ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin,
    "e4_chunking" ->
      """WITH d AS (SELECT source, text, length(text) AS L FROM documents),
        |c AS (SELECT source,
        |  substr(text, CAST(i * 90 + 1 AS BIGINT), 120) AS chunk
        |  FROM d CROSS JOIN generate_series(0, 255) AS t(i)
        |  WHERE i <= greatest(0, ceil((L - 120.0) / 90)))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(length(chunk)) AS BIGINT) AS sum_len,
        |  CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS n_uniq
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "e2_edit_verify" ->
      """WITH d AS (SELECT doc_id, text, substr(text, 1, 24) AS pfx,
        |  length(text) // 16 AS lb FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_left,
        |  CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_right,
        |  CAST(sum(levenshtein(a.text, b.text)) AS BIGINT) AS sum_dist
        |FROM d a JOIN d b
        |  ON a.pfx = b.pfx AND a.lb = b.lb AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 25""".stripMargin,
    "e4_token_stats" ->
      s"""SELECT doc_id,
        |CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
        |CAST(list_sum(list_transform($sqlTokens, w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe_est,
        |CAST(round((
        |  0.4 * least(CAST(len($sqlTokens) AS DOUBLE) / 100.0, 1.0) +
        |  0.3 * (CAST(list_sum(list_transform($sqlTokens, x -> CASE WHEN x IN ('the','a','of','and','is','in','to','it','on','for') THEN 1 ELSE 0 END)) AS DOUBLE) / len($sqlTokens)) +
        |  0.3 * (CAST(len(list_distinct($sqlTokens)) AS DOUBLE) / len($sqlTokens))
        |) * 1000000) AS BIGINT) AS quality_micro,
        |md5(array_to_string(list_sort(list_distinct($sqlTokens)), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e4_top_tokens" ->
      s"""SELECT t.token, CAST(count(*) AS BIGINT) AS n
        |FROM documents, unnest($sqlTokens) AS t(token)
        |GROUP BY t.token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "e4_langid" -> {
      def score(markers: Seq[String]) =
        s"list_sum(list_transform($sqlTokens, x -> CASE WHEN x IN (${markers.map("'" + _ + "'").mkString(",")}) THEN 1 ELSE 0 END))"
      val scores = TF.langMarkers.map { case (l, m) => l -> score(m) }
      val greatest = s"greatest(${scores.map(_._2).mkString(", ")})"
      val caseExpr = scores.map { case (l, sc) =>
        s"WHEN $sc = __mx THEN '$l'"
      }.mkString(" ")
      s"""WITH p AS (SELECT lang, $greatest AS __mx,
        |CASE WHEN $greatest = 0 THEN 'und' $caseExpr END AS predicted
        |FROM documents)
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
    },
    "e4_winnow" ->
      s"""WITH h AS (SELECT doc_id,
        |  list_transform(range(strlen(text) - 7), i ->
        |    CAST(list_sum(list_transform(range(8), j ->
        |      CAST(ord(substr(text, CAST(i + j + 1 AS INTEGER), 1)) AS BIGINT) * ($winnowPowersSql)[j + 1]
        |    )) % 1000000007 AS BIGINT)) AS hs
        |  FROM documents),
        |w AS (SELECT doc_id,
        |  list_transform(range(len(hs) - 3), w -> list_min(hs[w+1:w+4])) AS mins
        |  FROM h)
        |SELECT DISTINCT doc_id, CAST(unnest(mins) AS BIGINT) AS fp
        |FROM w ORDER BY doc_id, fp""".stripMargin,
    "m1_multimodal" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |CAST((ord(substr(text, 1, 1)) % 64) + 1 AS INTEGER) AS width,
        |CAST((strlen(text) % 64) + 1 AS INTEGER) AS height,
        |'fake/v1' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m2_frame_sample" ->
      """SELECT doc_id,
        |CAST(ceil(CAST(strlen(text) AS DOUBLE) / 64) AS BIGINT) AS n_frames,
        |md5(array_to_string(list_transform(
        |  range(CAST(greatest(ceil(ceil(CAST(strlen(text) AS DOUBLE) / 64) / 2), 1) AS BIGINT)),
        |  j -> substr(text, CAST(1 + j * 128 AS BIGINT), 64)), '')) AS sample_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e5_stats" ->
      """WITH m AS (SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sqq,
        |  CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sd,
        |  CAST(SUM(CAST(round(l_discount*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sdd,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sqd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |CAST(round(CAST(n*sqq - sq*sq AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) * 1000) AS BIGINT) AS var_q_milli,
        |CAST(round(sqrt(CAST(n*sdd - sd*sd AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)) * 1000) AS BIGINT) AS std_d_milli,
        |CAST(round(CAST(n*sqd - sq*sd AS DOUBLE) /
        |  (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) * 1000000) AS BIGINT) AS corr_qd_micro
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "e5_collect" ->
      """SELECT o_orderpriority,
        |array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
        |CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "e5_bool" ->
      """SELECT l_returnflag,
        |CAST(CAST(bool_and(l_quantity > 0) AS INTEGER) AS BIGINT) AS all_pos_qty,
        |CAST(CAST(bool_or(l_discount >= 0.1) AS INTEGER) AS BIGINT) AS any_max_disc,
        |CAST(count(*) FILTER (WHERE l_tax >= 0.07) AS BIGINT) AS n_hitax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e6_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "e6_join_sortmerge" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |CAST(MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS max_price_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "e6_subquery" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
        |      (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |              / count(*) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 30)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "e7_percent_rank" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(round(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_micro,
        |CAST(round(cume_dist() OVER w * 1000000) AS BIGINT) AS cdist_micro,
        |COALESCE(lead(o_orderkey, 1) OVER w, -1) AS next_key,
        |COALESCE(nth_value(o_orderkey, 2) OVER w, -1) AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "e4_bigrams" ->
      s"""SELECT s.bigram, CAST(count(*) AS BIGINT) AS n
        |FROM documents, unnest(${sqlShingles(2)}) AS s(bigram)
        |GROUP BY s.bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "e4_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sc AS (SELECT doc_id, token,
        |  CAST(round(CAST(tf AS DOUBLE) * nd.n / dfq.df * 1000) AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (token), nd),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score_micro DESC, token) AS rn FROM sc)
        |SELECT doc_id, token, score_micro FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "e3_ann_sq8" -> {
      val q8 = "list_transform(embedding, x -> greatest(-127, least(127, CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT))))"
      s"""WITH q AS (SELECT $q8 AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id, $q8 AS q8 FROM embeddings)
        |SELECT vec_id,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> q8[i] * qv[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(q8, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM s, q ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin
    },
    "e9_hof_arrays" ->
      s"""WITH v AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings)
        |SELECT vec_id,
        |CAST(len(list_filter(qe, x -> x > 0)) AS BIGINT) AS n_pos,
        |CAST(CASE WHEN list_sum(list_transform(qe, x -> CASE WHEN abs(x) >= 2000 THEN 1 ELSE 0 END)) > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_big,
        |CAST(CASE WHEN list_sum(list_transform(qe, x -> CASE WHEN abs(x) > 5000 THEN 1 ELSE 0 END)) = 0 THEN 1 ELSE 0 END AS BIGINT) AS all_small,
        |CAST(list_sum(list_transform(qe, x -> abs(x))) AS BIGINT) AS l1,
        |CAST(list_sum(list_sort(qe, 'DESC')[1:3]) AS BIGINT) AS top3_sum,
        |CAST(qe[1] + qe[-1] AS BIGINT) AS ends_sum
        |FROM v ORDER BY vec_id""".stripMargin,
    "o19_partitioned_write" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_c
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "o20_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "e2_dup_clusters" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM documents),
        |e AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM e),
        |sig AS (SELECT doc_id, b.band, MIN(h1 + b.band * h2) AS sig
        |  FROM h, (SELECT unnest(range(4)) AS band) b GROUP BY doc_id, b.band),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM sig a JOIN sig c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src)
        |SELECT src AS doc_id, CAST(least(src, MIN(dst)) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "m3_audio_energy" ->
      """WITH e AS (SELECT doc_id,
        |  unnest(range(CAST(ceil(CAST(strlen(text) AS DOUBLE) / 256) AS BIGINT))) AS w
        |  FROM documents)
        |SELECT d.doc_id, CAST(e.w AS BIGINT) AS w,
        |CAST(list_sum(list_transform(
        |  range(CAST(least(256, strlen(d.text) - e.w * 256) AS INTEGER)),
        |  j -> ord(substr(d.text, CAST(e.w * 256 + j + 1 AS INTEGER), 1)))) AS BIGINT) AS energy
        |FROM e JOIN documents d USING (doc_id) ORDER BY doc_id, w""".stripMargin,
    "e6_join_full" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0),
        |ords AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey,
        |COALESCE(c_mktsegment, 'NONE') AS seg,
        |COALESCE(n_orders, 0) AS n_orders
        |FROM cust FULL OUTER JOIN ords ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "e5_setops_all" ->
      """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |   INTERSECT ALL
        |   SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A')
        |  EXCEPT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "e5_mode" ->
      """WITH c AS (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
        |  CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY l_returnflag ORDER BY n DESC, q) AS rn FROM c)
        |SELECT l_returnflag, q AS mode_q, n AS mode_n FROM r WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin,
    "e5_dates" ->
      """SELECT o_orderkey,
        |strftime(o_orderdate, '%Y-%m-%d') AS d,
        |strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |CAST(date_diff('day', o_orderdate, DATE '1996-01-01') AS BIGINT) AS days_to_96,
        |strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "e7_rank_dense" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(round(o_totalprice / 1000) AS BIGINT) AS price_k,
        |CAST(rank() OVER w AS BIGINT) AS rnk,
        |CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY CAST(round(o_totalprice / 1000) AS BIGINT) DESC)
        |ORDER BY o_orderkey""".stripMargin,
    // deterministic integer Lloyd: the oracle retrains the quantizer —
    // same seeds (id-ranks j*n/8), same two assignment/recompute passes,
    // same exact-integer distances with one double division — then probes
    // and ranks identically to the Spark side (topKIvfLloydExact)
    "e3_ann_ivf_kmeans" -> {
      def assignSql(pts: String, cen: String) = sqlLloydAssign(pts, cen)
      def aggSql(asn: String) = sqlLloydAgg(asn)
      s"""WITH pts AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings),
         |q AS (SELECT $sqlQvec AS qv FROM embeddings WHERE vec_id = 0),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
         |rk AS (SELECT vec_id, qe, row_number() OVER (ORDER BY vec_id) - 1 AS r FROM pts),
         |seeds AS (SELECT j AS cell, qe AS s, CAST(1 AS BIGINT) AS c
         |  FROM (SELECT unnest(range(8)) AS j) js, nn JOIN rk ON rk.r = (j * nn.n) // 8),
         |a1 AS ${assignSql("pts", "seeds")},
         |c1 AS ${aggSql("a1")},
         |a2 AS ${assignSql("pts", "c1")},
         |c2 AS ${aggSql("a2")},
         |probe AS (SELECT cell FROM c2, q ORDER BY
         |  CAST(list_sum(list_transform(range(1,65), i -> (c2.c*q.qv[i]-c2.s[i])*(c2.c*q.qv[i]-c2.s[i]))) AS DOUBLE)/(c2.c*c2.c),
         |  cell LIMIT 3)
         |SELECT a2.vec_id,
         |CAST(round(CAST(list_sum(list_transform(range(1,65), i -> qe[i]*qv[i])) AS DOUBLE) /
         |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
         |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
         |FROM a2 JOIN probe USING (cell), q
         |ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin
    },
    "o31_ann_store" -> {
      // the store's lifecycle retrained in SQL: base (vec_id % 10 <> 9)
      // seeds + two Lloyd passes; STORED rows keep the first-pass (c1)
      // assignment while the codebook is its aggregation (c2); appended
      // rows (vec_id % 10 = 9) assign against c2; probe = 3 cells of c2
      // nearest the query, ranked by quantized cosine over the union
      def assignSql(pts: String, cen: String) = sqlLloydAssign(pts, cen)
      def aggSql(asn: String) = sqlLloydAgg(asn)
      s"""WITH pts AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings WHERE vec_id % 10 <> 9),
         |app AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings WHERE vec_id % 10 = 9),
         |q AS (SELECT $sqlQvec AS qv FROM embeddings WHERE vec_id = 0),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
         |rk AS (SELECT vec_id, qe, row_number() OVER (ORDER BY vec_id) - 1 AS r FROM pts),
         |seeds AS (SELECT j AS cell, qe AS s, CAST(1 AS BIGINT) AS c
         |  FROM (SELECT unnest(range(8)) AS j) js, nn JOIN rk ON rk.r = (j * nn.n) // 8),
         |a1 AS ${assignSql("pts", "seeds")},
         |c1 AS ${aggSql("a1")},
         |a2 AS ${assignSql("pts", "c1")},
         |c2 AS ${aggSql("a2")},
         |aapp AS ${assignSql("app", "c2")},
         |allv AS (SELECT * FROM a2 UNION ALL SELECT * FROM aapp),
         |probe AS (SELECT cell FROM c2, q ORDER BY
         |  CAST(list_sum(list_transform(range(1,65), i -> (c2.c*q.qv[i]-c2.s[i])*(c2.c*q.qv[i]-c2.s[i]))) AS DOUBLE)/(c2.c*c2.c),
         |  cell LIMIT 3)
         |SELECT allv.vec_id,
         |CAST(round(CAST(list_sum(list_transform(range(1,65), i -> qe[i]*qv[i])) AS DOUBLE) /
         |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
         |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
         |FROM allv JOIN probe USING (cell), q
         |ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin
    },
    "e3_ann_ivf_int" ->
      s"""WITH q AS (SELECT $sqlQvec AS qv FROM embeddings WHERE vec_id = 0),
        |v AS (SELECT vec_id, label, $sqlQvec AS qe FROM embeddings),
        |cen AS (SELECT label, i,
        |  CAST(SUM(qe[CAST(i AS INTEGER)]) AS BIGINT) AS s,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM v, (SELECT unnest(range(1, 65)) AS i) dims GROUP BY label, i),
        |d2 AS (SELECT label,
        |  CAST(SUM((c * qv[CAST(i AS INTEGER)] - s) * (c * qv[CAST(i AS INTEGER)] - s)) AS DOUBLE)
        |    / (MAX(c) * MAX(c)) AS d2
        |  FROM cen, q GROUP BY label),
        |probe AS (SELECT label FROM d2 ORDER BY d2, label LIMIT 3)
        |SELECT vec_id,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qv[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM v JOIN probe USING (label), q
        |ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin,
    "e4_regex_all" ->
      """SELECT doc_id,
        |COALESCE(array_to_string(regexp_extract_all(text, '([a-z]+ing)', 1), ','), '') AS ings,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_sp,
        |array_to_string(string_split(text, ' ')[1:3], '_') AS first3
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e5_bits" ->
      """SELECT l_returnflag,
        |CAST(bit_and(l_suppkey) AS BIGINT) AS k_and,
        |CAST(bit_or(l_suppkey) AS BIGINT) AS k_or,
        |CAST(bit_xor(l_suppkey) AS BIGINT) AS k_xor,
        |CAST(MAX(l_linenumber << 2) AS BIGINT) AS max_shift
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the trained-BPE invariants: the oracle predicts every in-plan
    // check holds corpus-wide (round-trip and token-bound counts =
    // n_docs; the driver-verified model well-formedness = 1)
    "e4_bpe_train" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(*) AS BIGINT) AS roundtrip_ok,
        |CAST(count(*) AS BIGINT) AS tokens_bounded,
        |CAST(1 AS BIGINT) AS rules_ok
        |FROM documents""".stripMargin,
    "e4_bpe_tokens" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+', 0)) AS BIGINT) AS n_bpe,
        |CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e4_bpe_encode" ->
      s"""WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |  FROM documents
        |), enc AS (
        |  SELECT $sqlBpeEncode AS s FROM words WHERE length(w) > 0
        |), toks AS (
        |  SELECT unnest(string_split(trim(s, '|'), '||')) AS token FROM enc
        |)
        |SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 40""".stripMargin,
    "e5_cms_sketch" ->
      s"""WITH t AS (SELECT unnest($sqlTokens) AS tok FROM documents),
        |b AS (SELECT d.d AS depth,
        |  CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || tok), 1, 15)) AS BIGINT) % 64 AS bucket
        |  FROM t, (SELECT unnest(range(4)) AS d) d)
        |SELECT CAST(depth AS BIGINT) AS depth, CAST(bucket AS BIGINT) AS bucket,
        |CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2 ORDER BY depth, bucket""".stripMargin,
    "e10_clean_pipeline" ->
      s"""WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
        |    $sqlQualityMicro AS q_micro
        |  FROM documents
        |  WHERE len($sqlTokens) >= 5 AND $sqlQualityMicro >= 300000
        |    AND ($sqlLangPred) = 'en'),
        |k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text),
        |fk AS (SELECT f.* FROM f JOIN k USING (doc_id)),
        |sh AS (SELECT doc_id, list_distinct(${sqlShingles(3)}) AS sl FROM fk),
        |e AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2 FROM e),
        |sig AS (SELECT doc_id, b.band, MIN(h1 + b.band * h2) AS sig
        |  FROM h, (SELECT unnest(range(4)) AS band) b GROUP BY doc_id, b.band),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM sig a JOIN sig c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |dropb AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
        |SELECT doc_id, n_tokens, q_micro FROM fk
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropb)
        |ORDER BY doc_id""".stripMargin,
    "e8_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.us) AS c_us FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.us) AS p_us FROM ev e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY e.user_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        |(SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
        |(SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel""".stripMargin,
    "o21_ann_partitioned" ->
      s"""WITH q AS (SELECT $sqlQvec AS qv FROM embeddings WHERE vec_id = 0),
        |v AS (SELECT vec_id, label, $sqlQvec AS qe FROM embeddings),
        |cen AS (SELECT label, i,
        |  CAST(SUM(qe[CAST(i AS INTEGER)]) AS BIGINT) AS s,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM v, (SELECT unnest(range(1, 65)) AS i) dims GROUP BY label, i),
        |d2 AS (SELECT label,
        |  CAST(SUM((c * qv[CAST(i AS INTEGER)] - s) * (c * qv[CAST(i AS INTEGER)] - s)) AS DOUBLE)
        |    / (MAX(c) * MAX(c)) AS d2
        |  FROM cen, q GROUP BY label),
        |probe AS (SELECT label FROM d2 ORDER BY d2, label LIMIT 3)
        |SELECT vec_id,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qv[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qe, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM v JOIN probe USING (label), q
        |ORDER BY cos_micro DESC, vec_id LIMIT 10""".stripMargin,
    "e5_histogram" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |mm AS (SELECT MIN(pc) AS lo, MAX(pc) AS hi FROM o)
        |SELECT CAST(((pc - lo) * 10) // (hi - lo + 1) AS BIGINT) AS bucket,
        |CAST(count(*) AS BIGINT) AS n
        |FROM o, mm GROUP BY 1 ORDER BY bucket""".stripMargin,
    "e6_join_lateral" ->
      """SELECT p.o_orderpriority, t.o_orderkey, t.price_c
        |FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
        |LATERAL (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders o
        |  WHERE o.o_orderpriority = p.o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY o_orderpriority, price_c DESC, o_orderkey""".stripMargin,
    "o22_orc_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars >= 0 ORDER BY doc_id""".stripMargin,
    "o23_xml_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "o26_avro_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "o32_avro_array" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |CAST(list_sum(list_transform($sqlQvec, x -> x * x)) AS BIGINT) AS qnorm2
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "o27_compact" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",
    "o28_zorder" ->
      """WITH r AS (SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
        |  min(l_suppkey) AS slo, max(l_suppkey) AS shi FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_sum_c
        |FROM lineitem, r
        |WHERE l_partkey < plo + (phi - plo) // 8
        |  AND l_suppkey < slo + (shi - slo) // 8
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "o29_bloom_join" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_acctbal >= 4000
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "o25_combine_evolved" ->
      """WITH u AS (
        |  SELECT doc_id, lang, NULL AS n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(count(n_chars) AS BIGINT) AS n_with_chars,
        |CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_chars
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,
    "o24_dynamic_overwrite" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |CAST(SUM(CASE WHEN event_type = 'click'
        |  THEN 2 * CAST(round(value*100) AS BIGINT)
        |  ELSE CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS sum_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e4_redact" ->
      """SELECT doc_id,
        |md5(regexp_replace(text, '\b(customer|key|window)\b', '[X]', 'g')) AS red_md5,
        |CAST(len(regexp_extract_all(text, '\b(customer|key|window)\b')) AS BIGINT) AS n_red
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e10_sample_strata" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 <
        |  CASE lang WHEN 'en' THEN 10 WHEN 'fr' THEN 50 WHEN 'es' THEN 25
        |            WHEN 'zh' THEN 100 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "e10_pack_chunks" ->
      """SELECT doc_id, lang,
        |CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |CAST(COALESCE(SUM(CAST(len(string_split(lower(text), ' ')) AS BIGINT))
        |  OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS chunk
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e8_seq_match" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |w AS (SELECT user_id, event_id, event_type,
        |  lead(event_type, 1) OVER win AS t1,
        |  lead(event_type, 2) OVER win AS t2,
        |  lead(event_id, 2) OVER win AS eid2
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id AS start_eid, eid2 AS end_eid FROM w
        |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        |ORDER BY user_id, start_eid""".stripMargin,
    "e8_pattern" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type,
        |  event_type FROM e)
        |SELECT user_id,
        |CAST(count(*) FILTER (WHERE prev_type = 'view' AND event_type = 'click') AS BIGINT) AS n_view_click
        |FROM l GROUP BY user_id
        |HAVING count(*) FILTER (WHERE prev_type = 'view' AND event_type = 'click') > 0
        |ORDER BY user_id""".stripMargin,
    "e5_stats_typed" ->
      """WITH m AS (SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |CAST(round(CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) * 1000) AS BIGINT) AS var_q_milli
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "e9_map_struct" ->
      """SELECT doc_id, lang AS m_lang, 'lang,source' AS m_keys,
        |lang || ':' || CAST(n_chars AS VARCHAR) AS packed, '1' AS extra
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e9_typed_pipeline" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents WHERE lang = 'en' AND n_chars >= 100
        |GROUP BY source ORDER BY source""".stripMargin,
    "o30_merge_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus AS status,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders),
        |u AS (SELECT o_orderkey, 'U' AS status, price_c + 500 AS price_c,
        |  CASE WHEN o_orderkey % 35 = 3 THEN 1 ELSE 0 END AS del
        |  FROM t WHERE o_orderkey % 7 = 3),
        |i AS (SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM t) AS o_orderkey,
        |  'I' AS status, price_c, 0 AS del FROM t WHERE o_orderkey % 97 = 0),
        |src AS (SELECT * FROM u UNION ALL SELECT * FROM i)
        |SELECT COALESCE(src.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.status ELSE t.status END AS status,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.price_c ELSE t.price_c END AS price_c
        |FROM t FULL OUTER JOIN src ON t.o_orderkey = src.o_orderkey
        |WHERE NOT (t.o_orderkey IS NOT NULL AND src.o_orderkey IS NOT NULL AND src.del = 1)
        |ORDER BY o_orderkey""".stripMargin,
    // the three captured mutations (merge, update, delete) replayed
    // relationally — what a silver built from the typed feed must equal
    "o50_cdc_merge_feed" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 19),
        |u AS (SELECT o_orderkey, price_c + 500 AS price_c, 'U' AS priority
        |  FROM t WHERE o_orderkey % 7 = 2),
        |i AS (SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM t) AS o_orderkey,
        |  price_c, 'I' AS priority FROM t WHERE o_orderkey % 97 = 0),
        |s1 AS (SELECT * FROM t WHERE o_orderkey % 7 <> 2
        |  UNION ALL SELECT * FROM u UNION ALL SELECT * FROM i),
        |s2 AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 4000
        |    THEN price_c + 777 ELSE price_c END AS price_c, priority FROM s1),
        |s3 AS (SELECT * FROM s2 WHERE o_orderkey NOT BETWEEN 5000 AND 9000)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM s3 GROUP BY priority ORDER BY priority""".stripMargin,
    // the same CASE WHEN transform over the raw slice — a rewrite that
    // touched an out-of-range row or dropped one changes the groups
    "o51_update_where" ->
      """WITH li AS (SELECT l_orderkey,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 7),
        |u AS (SELECT l_orderkey,
        |  CASE WHEN l_orderkey BETWEEN 2000 AND 20000
        |    THEN qty + 100 ELSE qty END AS qty,
        |  CASE WHEN l_orderkey BETWEEN 2000 AND 20000
        |    THEN 'X' ELSE l_returnflag END AS l_returnflag FROM li)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM u GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the SAME CASE WHEN transform as o51 — which commit strategy the
    // update took (COW rewrite vs MOR sidecar) must be invisible to
    // the reader; only the zero-rewrite mechanics differ (spec-pinned)
    "o63_update_mor" ->
      """WITH li AS (SELECT l_orderkey,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 7),
        |u AS (SELECT l_orderkey,
        |  CASE WHEN l_orderkey BETWEEN 2000 AND 20000
        |    THEN qty + 100 ELSE qty END AS qty,
        |  CASE WHEN l_orderkey BETWEEN 2000 AND 20000
        |    THEN 'X' ELSE l_returnflag END AS l_returnflag FROM li)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM u GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the same latest-wins merge algebra as o48, aggregated — the MOR
    // sidecar commit must read identically to the COW rewrite
    "o66_merge_mor" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus AS status,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders),
        |u AS (SELECT o_orderkey, 'U' AS status, price_c + 500 AS price_c
        |  FROM t WHERE o_orderkey % 7 = 3),
        |i AS (SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM t) AS o_orderkey,
        |  'I' AS status, price_c FROM t WHERE o_orderkey % 97 = 0),
        |src AS (SELECT * FROM u UNION ALL SELECT * FROM i),
        |m AS (SELECT COALESCE(src.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.status ELSE t.status END AS status,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.price_c ELSE t.price_c END AS price_c
        |  FROM t FULL OUTER JOIN src ON t.o_orderkey = src.o_orderkey)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM m GROUP BY status ORDER BY status""".stripMargin,
    // the same latest-version-wins algebra as o49 on its own slice —
    // the MOR apply's sidecar commits must read identically to COW
    "o67_cdc_apply_mor" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) + 1000 AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 22),
        |k2 AS (SELECT * FROM t WHERE o_orderkey NOT BETWEEN 2000 AND 3500)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM k2 GROUP BY priority ORDER BY priority""".stripMargin,
    // latest-version-wins over the typed feed: every key re-inserted at
    // v2 (update), the v3 delete range erased — the final keyed state
    "o49_cdc_apply" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) + 1000 AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 18),
        |k2 AS (SELECT * FROM t WHERE o_orderkey NOT BETWEEN 2000 AND 3500)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM k2 GROUP BY priority ORDER BY priority""".stripMargin,
    // the same upsert algebra as o30 minus its delete clause — which
    // files the copy-on-write merge chose to rewrite is invisible here
    "o48_merge_cow" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus AS status,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders),
        |u AS (SELECT o_orderkey, 'U' AS status, price_c + 500 AS price_c
        |  FROM t WHERE o_orderkey % 7 = 3),
        |i AS (SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM t) AS o_orderkey,
        |  'I' AS status, price_c FROM t WHERE o_orderkey % 97 = 0),
        |src AS (SELECT * FROM u UNION ALL SELECT * FROM i)
        |SELECT COALESCE(src.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.status ELSE t.status END AS status,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.price_c ELSE t.price_c END AS price_c
        |FROM t FULL OUTER JOIN src ON t.o_orderkey = src.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    // round-trip identity through two levels of Avro nesting: the read
    // flattens struct fields and the inner array back to scalars
    "o33_avro_nested" ->
      """SELECT doc_id, lang, n_chars, n_chars * 2 AS n2
        |FROM documents ORDER BY doc_id""".stripMargin,
    // create slice(ok%3=0) → append slice(ok%3=1) → upsert (+1000 qty on
    // ok%3=0 & line 1) → compact: the same slice algebra the TableLog
    // lifecycle publishes through four manifest commits
    "o34_table_log" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem),
        |base AS (SELECT * FROM li WHERE l_orderkey % 30 = 0),
        |app AS (SELECT * FROM li WHERE l_orderkey % 30 = 1),
        |upd AS (SELECT l_orderkey, l_linenumber, MAX(qty) + 1000 AS qty,
        |  MAX(l_returnflag) AS l_returnflag
        |  FROM li WHERE l_orderkey % 30 = 0 AND l_linenumber = 1
        |  GROUP BY l_orderkey, l_linenumber),
        |merged AS (
        |  SELECT * FROM base WHERE NOT (l_orderkey % 30 = 0 AND l_linenumber = 1)
        |  UNION ALL SELECT * FROM app
        |  UNION ALL SELECT * FROM upd)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM merged GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the same range aggregate over the raw table: a wrongly-skipped
    // manifest file would change every output column
    "o35_log_skipping" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0 AND l_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    "o57_log_scan" ->
      """WITH li AS (SELECT l_orderkey,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT * FROM (
        |  SELECT 'range' AS slice, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty,
        |    min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |  FROM li WHERE l_orderkey BETWEEN 1000 AND 5000
        |  UNION ALL
        |  SELECT 'flag', CAST(count(*) AS BIGINT),
        |    CAST(sum(qty) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |  FROM li WHERE l_returnflag = 'R'
        |) ORDER BY slice""".stripMargin,
    "o62_clone" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'dst' AS side, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(price_c) AS BIGINT) AS sum_c,
        |    min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |  FROM o WHERE o_orderkey % 20 IN (6, 7, 8)
        |  UNION ALL
        |  SELECT 'src', CAST(count(*) AS BIGINT),
        |    CAST(sum(price_c) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |  FROM o WHERE o_orderkey % 20 IN (6, 7)
        |    AND o_orderkey NOT BETWEEN 1 AND 3000
        |) ORDER BY side""".stripMargin,
    "o61_restore" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem WHERE l_orderkey % 20 IN (3, 4, 5)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "o60_sql_face" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_bal,
        |  min(c_custkey) AS min_ck, max(c_custkey) AS max_ck
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey BETWEEN 100 AND 700 AND n_regionkey = 1
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "o59_dyn_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_bal,
        |  min(c_custkey) AS min_ck, max(c_custkey) AS max_ck
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the three SQL statements replayed relationally IN ORDER: the
    // +777 update first (so merged rows see it only where unmatched),
    // the range delete second (so a deleted key re-enters via the
    // merge's NOT MATCHED branch), the latest-wins merge last
    "o65_sql_dml" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 21),
        |s1 AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 4000
        |    THEN price_c + 777 ELSE price_c END AS price_c, priority
        |  FROM t),
        |s2 AS (SELECT * FROM s1 WHERE o_orderkey NOT BETWEEN 5000 AND 9000),
        |u AS (SELECT o_orderkey, price_c + 500 AS price_c, 'U' AS priority
        |  FROM t WHERE o_orderkey % 7 = 2),
        |i AS (SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM t) AS o_orderkey,
        |  price_c, 'I' AS priority FROM t WHERE o_orderkey % 97 = 0),
        |src AS (SELECT * FROM u UNION ALL SELECT * FROM i),
        |s3 AS (SELECT COALESCE(src.o_orderkey, s2.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.price_c ELSE s2.price_c END AS price_c,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.priority ELSE s2.priority END AS priority
        |  FROM s2 FULL OUTER JOIN src ON s2.o_orderkey = src.o_orderkey)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM s3 GROUP BY priority ORDER BY priority""".stripMargin,
    // the catalog lifecycle replayed relationally in statement order:
    // CTAS slice ('ctas' rows = the VERSION AS OF 1 read — atomic
    // CTAS is one commit), native
    // insert, +7 update, range delete ('live' rows)
    "o76_catalog_sql" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 26),
        |ins AS (SELECT * FROM t
        |  UNION ALL SELECT 88000001, 700, 'X'),
        |upd AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 5000
        |    THEN price_c + 7 ELSE price_c END AS price_c, priority
        |  FROM ins),
        |del AS (SELECT o_orderkey, price_c, priority,
        |    CAST(NULL AS VARCHAR) AS channel,
        |    CAST(NULL AS BIGINT) AS units FROM upd
        |  WHERE o_orderkey NOT BETWEEN 9000 AND 16000),
        |alt AS (SELECT * FROM del
        |  UNION ALL SELECT 88000002, 900, 'X', 'web', NULL
        |  UNION ALL SELECT 88000003, 900, 'X', 'web', 5
        |  UNION ALL SELECT 88000004, 900, 'X', 'web', 6000000000)
        |SELECT 'live' AS state, priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  CAST(count(channel) AS BIGINT) AS n_channel,
        |  CAST(sum(units) AS BIGINT) AS sum_units
        |FROM alt GROUP BY priority
        |UNION ALL
        |SELECT 'ctas' AS state, priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  CAST(0 AS BIGINT) AS n_channel,
        |  CAST(NULL AS BIGINT) AS sum_units
        |FROM t GROUP BY priority
        |ORDER BY state, priority""".stripMargin,
    // per-row provenance replayed relationally: v1 = the CTAS slice
    // minus the rows the MOR update moved, v2 = the insert slice
    // (its +40M keys are outside the update range), v3 = the updated
    // rows at +5 — exact BECAUSE the update was merge-on-read: no
    // untouched file was rewritten, so no untouched row changed
    // _version
    "o79_metadata_cols" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 24),
        |ins AS (SELECT o_orderkey + 40000000 AS o_orderkey,
        |  price_c + 3 AS price_c, 'I' AS priority
        |  FROM t WHERE o_orderkey % 97 = 11),
        |rows_v AS (
        |  SELECT CAST(1 AS BIGINT) AS _version, o_orderkey, price_c,
        |    priority FROM t WHERE o_orderkey NOT BETWEEN 2000 AND 7000
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), o_orderkey, price_c, priority
        |    FROM ins
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), o_orderkey, price_c + 5, priority
        |    FROM t WHERE o_orderkey BETWEEN 2000 AND 7000)
        |SELECT _version, priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM rows_v GROUP BY _version, priority
        |ORDER BY _version, priority""".stripMargin,
    // both streamed waves replayed relationally — the result is the
    // union of the two epochs' content whatever the epoch granularity
    "o81_stream_table" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 6),
        |w AS (SELECT o_orderkey, price_c, priority FROM t
        |    WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, price_c + 1000, 'W2' FROM t
        |    WHERE o_orderkey % 2 = 1)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM w GROUP BY priority ORDER BY priority""".stripMargin,
    // the two streamed waves (all of the filtered orders slice) land
    // in silver exactly once whatever the epoch granularity — the
    // relational replay is just the slice's aggregate
    "o82_stream_read" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM orders WHERE o_orderkey % 30 = 7
        |GROUP BY priority ORDER BY priority""".stripMargin,
    // the change LOG replayed relationally: inserts = both waves,
    // deletes = the first wave's rows in the deleted range (typed
    // full-row capture) — grouped by change type
    "o84_changes_table" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 8),
        |ins AS (SELECT * FROM t WHERE o_orderkey % 60 = 8
        |  UNION ALL SELECT * FROM t WHERE o_orderkey % 60 = 38),
        |del AS (SELECT * FROM t WHERE o_orderkey % 60 = 8
        |  AND o_orderkey BETWEEN 2000 AND 9000),
        |ch AS (SELECT 'insert' AS _change_type, o_orderkey, price_c,
        |    priority FROM ins
        |  UNION ALL SELECT 'delete', o_orderkey, price_c, priority
        |    FROM del)
        |SELECT _change_type, priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM ch GROUP BY _change_type, priority
        |ORDER BY _change_type, priority""".stripMargin,
    // the two positional statements replayed relationally in order:
    // the modulo+string delete, then the conditional update
    "o80_dv_dml" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 20),
        |d AS (SELECT * FROM t
        |  WHERE NOT (price_c % 10 = 3 AND priority <> '1-URGENT')),
        |u AS (SELECT o_orderkey,
        |  CASE WHEN priority = '2-HIGH' AND o_orderkey % 13 = 5
        |    THEN price_c + 9 ELSE price_c END AS price_c, priority
        |  FROM d)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM u GROUP BY priority ORDER BY priority""".stripMargin,
    // the three delta statements replayed relationally in order: the
    // modulo+string delete, the conditional update, then the merge
    // (matched rows +1000; deleted source keys reinsert)
    "o85_delta_dml" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 21),
        |d AS (SELECT * FROM t
        |  WHERE NOT (price_c % 10 = 3 AND priority <> '1-URGENT')),
        |u AS (SELECT o_orderkey,
        |  CASE WHEN priority = '2-HIGH' AND o_orderkey % 13 = 5
        |    THEN price_c + 9 ELSE price_c END AS price_c, priority
        |  FROM d),
        |src AS (SELECT o_orderkey, price_c FROM t
        |  WHERE o_orderkey % 7 = 1),
        |m AS (SELECT u.o_orderkey,
        |    CASE WHEN src.o_orderkey IS NOT NULL THEN u.price_c + 1000
        |      ELSE u.price_c END AS price_c, u.priority
        |  FROM u LEFT JOIN src ON u.o_orderkey = src.o_orderkey
        |  UNION ALL
        |  SELECT src.o_orderkey, src.price_c, 'REINSERTED' AS priority
        |  FROM src
        |  WHERE src.o_orderkey NOT IN (SELECT o_orderkey FROM u))
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM m GROUP BY priority ORDER BY priority""".stripMargin,
    // the two deletes replayed relationally in order: the whole-bucket
    // (metadata-only) drop, then the modulo fallback
    "o86_metadata_delete" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderkey % 90 AS bucket
        |  FROM orders WHERE o_orderkey % 30 = 22),
        |d1 AS (SELECT * FROM t WHERE NOT (bucket = 52)),
        |d2 AS (SELECT * FROM d1 WHERE NOT (o_orderkey % 7 = 3))
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM d2 GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the two replaces replayed relationally: final = base outside
    // both (disjoint) slices + the first slice recomputed (+100, the
    // DataFrame face) + the second (+200, CALL replace_where)
    "o89_replace_where" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 29),
        |fin AS (
        |  SELECT * FROM t WHERE o_orderkey NOT BETWEEN 5000 AND 15000
        |    AND o_orderkey NOT BETWEEN 20000 AND 30000
        |  UNION ALL
        |  SELECT o_orderkey, price_c + 100, priority FROM t
        |    WHERE o_orderkey BETWEEN 5000 AND 15000
        |  UNION ALL
        |  SELECT o_orderkey, price_c + 200, priority FROM t
        |    WHERE o_orderkey BETWEEN 20000 AND 30000)
        |SELECT priority AS grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM fin GROUP BY priority ORDER BY grp""".stripMargin,
    // the five-clause merge replayed relationally: the matched /
    // source-only / target-only partitions are disjoint key residues
    // (mod-60 24 / mod-30 26 / mod-60 54), so each clause's effect is
    // a filter on its slice — no join needed
    "o90_merge_full" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority FROM orders),
        |upd AS (SELECT o_orderkey, price_c * 2 AS price_c, priority
        |  FROM t WHERE o_orderkey % 60 = 24
        |    AND price_c * 2 <= 40000000),
        |ins AS (SELECT o_orderkey, price_c * 2 AS price_c, priority
        |  FROM t WHERE o_orderkey % 30 = 26 AND o_orderkey % 4 = 2),
        |stale AS (SELECT o_orderkey, price_c, 'STALE' AS priority
        |  FROM t WHERE o_orderkey % 60 = 54 AND price_c >= 10000000),
        |fin AS (SELECT * FROM upd UNION ALL SELECT * FROM ins
        |  UNION ALL SELECT * FROM stale)
        |SELECT priority AS grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM fin GROUP BY priority ORDER BY grp""".stripMargin,
    // every window reconstructed relationally from the same base
    // slices: all = the full typed log; mutations [v3,v4] = the COW
    // delete + the MOR update's pre/post pair; after the wave1 tag
    // (exclusive) = mutations + wave2
    "o88_changes_between" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 19),
        |w1 AS (SELECT * FROM t WHERE o_orderkey % 60 = 19),
        |w2 AS (SELECT * FROM t WHERE o_orderkey % 60 = 49),
        |dels AS (SELECT * FROM w1
        |  WHERE o_orderkey BETWEEN 2000 AND 9000),
        |live1 AS (SELECT * FROM w1
        |  WHERE o_orderkey NOT BETWEEN 2000 AND 9000),
        |updo AS (SELECT * FROM live1
        |  WHERE o_orderkey BETWEEN 10000 AND 20000),
        |updn AS (SELECT o_orderkey, price_c + 77 AS price_c, priority
        |  FROM updo),
        |log AS (
        |  SELECT 'all' AS face, 'insert' AS ct, * FROM w1
        |  UNION ALL SELECT 'all', 'insert', * FROM updn
        |  UNION ALL SELECT 'all', 'insert', * FROM w2
        |  UNION ALL SELECT 'all', 'delete', * FROM dels
        |  UNION ALL SELECT 'all', 'delete', * FROM updo
        |  UNION ALL SELECT 'mutations', 'insert', * FROM updn
        |  UNION ALL SELECT 'mutations', 'delete', * FROM dels
        |  UNION ALL SELECT 'mutations', 'delete', * FROM updo
        |  UNION ALL SELECT 'after_wave1', 'insert', * FROM updn
        |  UNION ALL SELECT 'after_wave1', 'insert', * FROM w2
        |  UNION ALL SELECT 'after_wave1', 'delete', * FROM dels
        |  UNION ALL SELECT 'after_wave1', 'delete', * FROM updo
        |  UNION ALL SELECT 'by_timestamp', 'insert', * FROM updn
        |  UNION ALL SELECT 'by_timestamp', 'delete', * FROM dels
        |  UNION ALL SELECT 'by_timestamp', 'delete', * FROM updo)
        |SELECT face, ct AS grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM log GROUP BY face, ct ORDER BY face, grp""".stripMargin,
    // capture AND apply replayed relationally: the typed log is
    // inserts = wave1 + the MOR update's post-images + wave2, deletes
    // = the COW-deleted slice + the update's pre-images; the silver
    // state is latest-version-wins over that log
    "o87_read_change_feed" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 9),
        |w1 AS (SELECT * FROM t WHERE o_orderkey % 60 = 9),
        |w2 AS (SELECT * FROM t WHERE o_orderkey % 60 = 39),
        |live1 AS (SELECT * FROM w1
        |  WHERE o_orderkey NOT BETWEEN 2000 AND 9000),
        |updo AS (SELECT * FROM live1
        |  WHERE o_orderkey BETWEEN 10000 AND 20000),
        |updn AS (SELECT o_orderkey, price_c + 55 AS price_c, priority
        |  FROM updo),
        |log AS (
        |  SELECT 'insert' AS ct, * FROM w1
        |  UNION ALL SELECT 'insert', * FROM updn
        |  UNION ALL SELECT 'insert', * FROM w2
        |  UNION ALL SELECT 'delete', * FROM w1
        |    WHERE o_orderkey BETWEEN 2000 AND 9000
        |  UNION ALL SELECT 'delete', * FROM updo),
        |silver AS (
        |  SELECT * FROM live1
        |    WHERE o_orderkey NOT BETWEEN 10000 AND 20000
        |  UNION ALL SELECT * FROM updn
        |  UNION ALL SELECT * FROM w2)
        |SELECT 'log' AS face, ct AS grp,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM log GROUP BY ct
        |UNION ALL
        |SELECT 'silver' AS face, priority AS grp,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM silver GROUP BY priority
        |ORDER BY face, grp""".stripMargin,
    // the vanilla-session streaming change feed replayed relationally:
    // two insert waves + one typed-captured range delete
    "o91_rcf_vanilla_stream" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 21),
        |w1 AS (SELECT * FROM t WHERE o_orderkey % 60 = 21),
        |w2 AS (SELECT * FROM t WHERE o_orderkey % 60 = 51),
        |log AS (
        |  SELECT 'insert' AS ct, * FROM w1
        |  UNION ALL SELECT 'insert', * FROM w2
        |  UNION ALL SELECT 'delete', * FROM w1
        |    WHERE o_orderkey BETWEEN 2000 AND 9000)
        |SELECT ct AS grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM log GROUP BY ct
        |ORDER BY grp""".stripMargin,
    // the no-install batch change feed replayed relationally: full
    // window (two insert waves + the typed range delete) and the
    // from-v4 window (the second insert wave alone)
    "o92_rcf_batch_noinstall" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 27),
        |w1 AS (SELECT * FROM t WHERE o_orderkey % 60 = 27),
        |w2 AS (SELECT * FROM t WHERE o_orderkey % 60 = 57),
        |log AS (
        |  SELECT 'insert' AS ct, * FROM w1
        |  UNION ALL SELECT 'delete', * FROM w1
        |    WHERE o_orderkey BETWEEN 3000 AND 12000
        |  UNION ALL SELECT 'insert', * FROM w2)
        |SELECT 'full' AS face, ct AS grp,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM log GROUP BY ct
        |UNION ALL
        |SELECT 'from_v4' AS face, 'insert' AS grp,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM w2
        |ORDER BY face, grp""".stripMargin,
    // the IN-subquery delta delete replayed relationally: drop the
    // bottom third of the key domain (floor division on both sides)
    "o93_mor_semidelete" ->
      """WITH base AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 20),
        |kept AS (SELECT * FROM base WHERE o_orderkey NOT IN (
        |  SELECT o_orderkey FROM base
        |  WHERE o_orderkey <= (SELECT max(o_orderkey) // 3 FROM base)))
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM kept GROUP BY priority ORDER BY priority""".stripMargin,
    // the three-way merge replayed relationally: live = base minus the
    // branch's delete range plus BOTH sides' derived appends; the fork
    // rows = the pristine base
    "o77_branch_merge" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 25),
        |live AS (SELECT * FROM t
        |    WHERE o_orderkey NOT BETWEEN 3000 AND 9000
        |  UNION ALL
        |  SELECT o_orderkey + 60000000, price_c, 'S'
        |    FROM t WHERE o_orderkey % 97 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 70000000, price_c, 'B'
        |    FROM t WHERE o_orderkey % 97 = 5)
        |SELECT 'fork' AS state, priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
        |FROM t GROUP BY priority
        |UNION ALL
        |SELECT 'live' AS state, priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
        |FROM live GROUP BY priority
        |ORDER BY state, priority""".stripMargin,
    // published = base minus the branch's delete range plus its
    // derived appends; the fork row = the pristine base (sum over
    // BIGINT cents, count, max key — integer-exact)
    "o75_wap" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 28),
        |pub AS (SELECT * FROM t
        |    WHERE o_orderkey NOT BETWEEN 4000 AND 10000
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, price_c, 'W'
        |    FROM t WHERE o_orderkey % 97 = 1)
        |SELECT 'fork' AS state, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  max(o_orderkey) AS max_ok
        |FROM t
        |UNION ALL
        |SELECT 'published' AS state, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  max(o_orderkey) AS max_ok
        |FROM pub
        |ORDER BY state""".stripMargin,
    // the five-statement SQL lifecycle replayed relationally in
    // statement order: CTAS slice, +11 update, one insert, range
    // delete, aggregate
    "o74_sql_full" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 29),
        |s1 AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 2000 AND 6000
        |    THEN price_c + 11 ELSE price_c END AS price_c, priority
        |  FROM t),
        |s2 AS (SELECT * FROM s1
        |  UNION ALL SELECT 77000001, 500, 'X'),
        |s3 AS (SELECT * FROM s2
        |  WHERE o_orderkey NOT BETWEEN 8000 AND 15000)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM s3 GROUP BY priority ORDER BY priority""".stripMargin,
    // live = base minus the deleted range; the tag row = the PRISTINE
    // base, read after an aggressive vacuum
    "o73_tags" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 30 = 27)
        |SELECT 'live' AS state, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
        |FROM t WHERE o_orderkey NOT BETWEEN 3000 AND 12000
        |UNION ALL
        |SELECT 'tag_baseline' AS state, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
        |FROM t
        |ORDER BY state""".stripMargin,
    // the full derived grid (both halves) and 2-D box replayed
    // relationally — incremental re-clustering must be invisible
    "o72_zorder_maintain" ->
      """WITH g AS (SELECT event_id % 256 AS a,
        |  (event_id * 2654435761) % 256 AS b, event_type
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM g WHERE a BETWEEN 0 AND 100 AND b BETWEEN 50 AND 150
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the derived 64³ grid and 3-D box replayed relationally —
    // octree pruning must be invisible to semantics
    "o71_z3" ->
      """WITH g AS (SELECT event_id % 64 AS a,
        |  (event_id * 2654435761) % 64 AS b,
        |  (event_id * 2246822519) % 64 AS c, event_type
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(sum(c) AS BIGINT) AS sum_c
        |FROM g WHERE a BETWEEN 0 AND 10 AND b BETWEEN 20 AND 40
        |  AND c BETWEEN 0 AND 31
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same derived grid, hilbert3-clustered — the curve is layout,
    // never semantics, so the relational replay is the plain box
    "o83_h3" ->
      """WITH g AS (SELECT event_id % 64 AS a,
        |  (event_id * 2654435761) % 64 AS b,
        |  (event_id * 2246822519) % 64 AS c, event_type
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(sum(c) AS BIGINT) AS sum_c
        |FROM g WHERE a BETWEEN 0 AND 15 AND b BETWEEN 32 AND 52
        |  AND c BETWEEN 8 AND 40
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the derived 256×256 grid and 2-D box replayed relationally —
    // z-box pruning must be invisible to semantics
    "o70_box_skip" ->
      """WITH g AS (SELECT event_id % 256 AS a,
        |  (event_id * 2654435761) % 256 AS b, event_type
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM g WHERE a BETWEEN 0 AND 40 AND b BETWEEN 64 AND 100
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // o70's grid at full 16-bit resolution, laid out by the hilbert
    // curve instead — identical relational answer, the files-opened
    // exactness is pinned in-plan
    "o78_hilbert_skip" ->
      """WITH g AS (SELECT event_id % 65536 AS a,
        |  (event_id * 2654435761) % 65536 AS b, event_type
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM g WHERE a BETWEEN 0 AND 9999 AND b BETWEEN 0 AND 19999
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the two inserts replayed relationally; the asof_v1 row must
    // equal the PRISTINE base (a time-travel leak of either insert
    // changes the hash)
    "o69_sql_insert" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 25),
        |v AS (SELECT * FROM t
        |  UNION ALL SELECT 9000001, 111, 'V'
        |  UNION ALL SELECT 9000002, 222, 'V'
        |  UNION ALL SELECT o_orderkey + 20000000, price_c + 1, 'S'
        |    FROM t WHERE o_orderkey % 11 = 3)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM v GROUP BY priority
        |UNION ALL
        |SELECT 'asof_v1' AS priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM t
        |ORDER BY priority""".stripMargin,
    // o65's replay on the %30=23 slice — MOR-routed commits must read
    // identically to the COW ones
    "o68_sql_dml_mor" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |  o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 30 = 23),
        |s1 AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 4000
        |    THEN price_c + 777 ELSE price_c END AS price_c, priority
        |  FROM t),
        |s2 AS (SELECT * FROM s1 WHERE o_orderkey NOT BETWEEN 5000 AND 9000),
        |u AS (SELECT o_orderkey, price_c + 500 AS price_c, 'U' AS priority
        |  FROM t WHERE o_orderkey % 7 = 2),
        |i AS (SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM t) AS o_orderkey,
        |  price_c, 'I' AS priority FROM t WHERE o_orderkey % 97 = 0),
        |src AS (SELECT * FROM u UNION ALL SELECT * FROM i),
        |s3 AS (SELECT COALESCE(src.o_orderkey, s2.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.price_c ELSE s2.price_c END AS price_c,
        |  CASE WHEN src.o_orderkey IS NOT NULL THEN src.priority ELSE s2.priority END AS priority
        |  FROM s2 FULL OUTER JOIN src ON s2.o_orderkey = src.o_orderkey)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM s3 GROUP BY priority ORDER BY priority""".stripMargin,
    "o64_dyn_join_str" ->
      """WITH docs AS (SELECT concat('doc-',
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS key, lang
        |  FROM documents),
        |dim AS (SELECT concat('doc-',
        |    lpad(CAST(i AS VARCHAR), 8, '0')) AS key,
        |  CAST(i * 2 AS BIGINT) AS w FROM range(150, 170) t(i))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(w) AS BIGINT) AS sum_w,
        |  min(key) AS min_key, max(key) AS max_key
        |FROM docs JOIN dim USING (key)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "o58_compact_small" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem WHERE l_orderkey % 30 < 19
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // recomputes each VERSION's row multiset from the slice algebra,
    // then the v2 aggregate and the v1→v3 multiset diffs
    "o36_time_travel" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem),
        |v1 AS (SELECT * FROM li WHERE l_orderkey % 30 = 2),
        |app AS (SELECT * FROM li WHERE l_orderkey % 30 = 3),
        |v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM app),
        |upd AS (SELECT l_orderkey, l_linenumber, MAX(qty) + 1000 AS qty,
        |  MAX(l_returnflag) AS l_returnflag
        |  FROM li WHERE l_orderkey % 30 = 2 AND l_linenumber = 1
        |  GROUP BY l_orderkey, l_linenumber),
        |v3 AS (SELECT * FROM v2 WHERE NOT (l_orderkey % 30 = 2 AND l_linenumber = 1)
        |  UNION ALL SELECT * FROM upd),
        |keys AS (SELECT DISTINCT l_returnflag FROM v2),
        |a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_v2,
        |  CAST(sum(qty) AS BIGINT) AS qty_v2 FROM v2 GROUP BY l_returnflag),
        |ad AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_added,
        |  CAST(sum(qty) AS BIGINT) AS qty_added
        |  FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1) GROUP BY l_returnflag),
        |rm AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_removed
        |  FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3) GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  coalesce(n_v2, 0) AS n_v2, coalesce(qty_v2, 0) AS qty_v2,
        |  coalesce(n_added, 0) AS n_added, coalesce(qty_added, 0) AS qty_added,
        |  coalesce(n_removed, 0) AS n_removed
        |FROM keys LEFT JOIN a USING (l_returnflag)
        |  LEFT JOIN ad USING (l_returnflag) LEFT JOIN rm USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    // the maintained aggregate equals the full recompute by the
    // readChanges multiset identity, so the oracle emits the v3
    // aggregate under both column sets — a broken delta path diverges
    "o37_incremental_agg" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem),
        |v1 AS (SELECT * FROM li WHERE l_orderkey % 30 = 4),
        |app AS (SELECT * FROM li WHERE l_orderkey % 30 = 5),
        |upd AS (SELECT l_orderkey, l_linenumber, MAX(qty) + 1000 AS qty,
        |  MAX(l_returnflag) AS l_returnflag
        |  FROM li WHERE l_orderkey % 30 = 4 AND l_linenumber = 1
        |  GROUP BY l_orderkey, l_linenumber),
        |v3 AS (SELECT * FROM v1 WHERE NOT (l_orderkey % 30 = 4 AND l_linenumber = 1)
        |  UNION ALL SELECT * FROM app UNION ALL SELECT * FROM upd),
        |agg AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(qty) AS BIGINT) AS q FROM v3 GROUP BY l_returnflag)
        |SELECT l_returnflag, n AS n_inc, q AS qty_inc,
        |  n AS n_full, q AS qty_full
        |FROM agg ORDER BY l_returnflag""".stripMargin,
    // the union with NULL priority for the pre-evolution slice IS the
    // schema-evolution read semantics
    "o38_schema_evolution" ->
      """WITH v AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |    CAST(NULL AS VARCHAR) AS priority
        |  FROM orders WHERE o_orderkey % 20 = 6
        |  UNION ALL
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 20 = 7)
        |SELECT coalesce(priority, 'NONE') AS priority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
        |FROM v GROUP BY coalesce(priority, 'NONE') ORDER BY priority""".stripMargin,
    // the same IN-filter aggregate over the raw table: a wrongly-skipped
    // manifest file would change every output row
    "o39_categorical_skip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // per-version row counts from the slice algebra — manifest and scan
    // columns are the SAME number when the accounting is right
    "o40_manifest_rows" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber FROM lineitem),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li WHERE l_orderkey % 30 = 8),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li WHERE l_orderkey % 30 = 9),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT * FROM li WHERE l_orderkey % 30 = 8
        |    AND NOT (l_linenumber = 1)
        |  UNION ALL SELECT * FROM li WHERE l_orderkey % 30 = 9
        |  UNION ALL SELECT DISTINCT l_orderkey, l_linenumber FROM li
        |    WHERE l_orderkey % 30 = 8 AND l_linenumber = 1))
        |SELECT CAST(1 AS BIGINT) AS version, 'create' AS action,
        |  b.n AS n_manifest, b.n AS n_scan FROM b
        |UNION ALL SELECT 2, 'append', b.n + a.n, b.n + a.n FROM b, a
        |UNION ALL SELECT 3, 'merge', m.n, m.n FROM m
        |UNION ALL SELECT 4, 'compact', m.n, m.n FROM m
        |ORDER BY version""".stripMargin,
    // v1 narrow (int/int/float) ∪ v2 wide (long/long/double), read under
    // the widened schema — the FLOAT→DOUBLE upcast is IEEE-exact and the
    // money column collapses to integer cents, so the hash is stable
    "o41_type_widening" ->
      """WITH v1 AS (SELECT l_orderkey AS okey,
        |    CAST(CAST(l_quantity AS INTEGER) AS BIGINT) AS qty,
        |    CAST(CAST(l_extendedprice AS FLOAT) AS DOUBLE) AS price
        |  FROM lineitem WHERE l_orderkey % 10 = 3),
        |v2 AS (SELECT l_orderkey AS okey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(l_extendedprice AS DOUBLE) AS price
        |  FROM lineitem WHERE l_orderkey % 10 = 4),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT okey % 7 AS g, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // the feed must hold exactly the three appended slices — the
    // intervening compaction re-delivers nothing, the vacuum of the
    // originals removes nothing
    "o42_change_feed" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem),
        |f AS (SELECT * FROM li WHERE l_orderkey % 30 IN (10, 11, 12))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM f GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // silver state derived from the typed feed alone (inserts ⊖ captured
    // deletes) must equal the relational survivors of the same delete
    "o47_cdc_feed" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem),
        |u AS (SELECT * FROM li WHERE l_orderkey % 30 IN (16, 17)),
        |k AS (SELECT * FROM u WHERE l_orderkey NOT BETWEEN 2000 AND 3500)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // survivors of a range delete over the two appended slices — which
    // files the engine chose to rewrite is invisible here, as it must be
    "o44_delete_where" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem),
        |u AS (SELECT * FROM li WHERE l_orderkey % 30 IN (13, 14)),
        |k AS (SELECT * FROM u WHERE l_orderkey NOT BETWEEN 2000 AND 3500)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "o53_read_asof" ->
      """WITH li AS (SELECT l_orderkey,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag FROM lineitem)
        |SELECT 'v1' AS snap, l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM li WHERE l_orderkey % 30 = 16 GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'v2' AS snap, l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM li WHERE l_orderkey % 30 IN (16, 17) GROUP BY l_returnflag
        |ORDER BY snap, l_returnflag""".stripMargin,
    "o54_merge_cow_str" ->
      """WITH d AS (SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |    lang, source, n_chars FROM documents),
        |src AS (
        |  SELECT key, 'xx' AS lang, source, n_chars * 2 AS n_chars
        |  FROM d WHERE key BETWEEN 'doc-00000100' AND 'doc-00000199'
        |  UNION ALL
        |  SELECT 'new-' || lpad(CAST(doc_id AS VARCHAR), 8, '0'), lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |merged AS (
        |  SELECT * FROM d WHERE key NOT IN (SELECT key FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(key) AS min_key, max(key) AS max_key
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,
    "o52_delete_mor" ->
      """WITH li AS (SELECT l_orderkey,
        |  CAST(round(l_quantity) AS BIGINT) AS qty, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 30 = 19),
        |k AS (SELECT * FROM li WHERE l_orderkey % 7 <> 3)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "o55_schema_evolution" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  o_orderstatus FROM orders),
        |t AS (
        |  SELECT o_orderkey, price_cents, NULL AS status FROM o
        |  WHERE o_orderkey % 20 IN (11, 12)
        |  UNION ALL
        |  SELECT o_orderkey, price_cents, o_orderstatus AS status FROM o
        |  WHERE o_orderkey % 20 = 13)
        |SELECT coalesce(status, '-') AS status,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM t GROUP BY 1 ORDER BY status""".stripMargin,
    "o56_history" ->
      """WITH n1 AS (SELECT count(*) c FROM orders WHERE o_orderkey % 10 = 1),
        |n2 AS (SELECT count(*) c FROM orders WHERE o_orderkey % 10 = 2),
        |nd AS (SELECT count(*) c FROM orders
        |       WHERE o_orderkey % 10 IN (1, 2)
        |         AND o_orderkey BETWEEN 1 AND 6000)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'create' AS action,
        |    'full' AS kind, CAST((SELECT c FROM n1) AS BIGINT) AS n_rows
        |  UNION ALL
        |  SELECT 2, 'append', 'delta',
        |    CAST((SELECT c FROM n1) + (SELECT c FROM n2) AS BIGINT)
        |  UNION ALL
        |  SELECT 3, 'delete', 'delta',
        |    CAST((SELECT c FROM n1) + (SELECT c FROM n2)
        |      - (SELECT c FROM nd) AS BIGINT)
        |) ORDER BY version""".stripMargin,
    "o45_delete_in" ->
      """WITH k AS (SELECT doc_id, source, lang,
        |  CAST(length(text) AS BIGINT) AS text_len
        |  FROM documents WHERE source NOT IN ('src3', 'src7'))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(text_len) AS BIGINT) AS sum_len,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // which files the bloom pruned is invisible here (as it must be);
    // the aggregate pins that pruning lost no matching row
    "o46_bloom_skip" ->
      """WITH li AS (SELECT l_orderkey, l_partkey,
        |  CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 30 = 15),
        |tv AS (SELECT min(l_partkey) AS v FROM li)
        |SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM li, tv WHERE l_partkey = v
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    "e1_scd2" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
        |  CAST(round(value * 100) AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id, value_c, valid_from_us,
        |  CAST(COALESCE(lead(valid_from_us) OVER win, -1) AS BIGINT) AS valid_to_us,
        |  CAST(CASE WHEN lead(valid_from_us) OVER win IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM p WINDOW win AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "e10_profile" ->
      """SELECT * FROM (
        |SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
        |FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT lang) AS BIGINT),
        |  CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'source', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT source) AS BIGINT),
        |  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT n_chars) AS BIGINT),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents
        |) ORDER BY col_name""".stripMargin,
    "e4_bm25" ->
      s"""WITH c AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(len($sqlTokens)) AS DOUBLE) / count(*) AS avgdl FROM documents),
        |tok AS (SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS dl,
        |  unnest($sqlTokens) AS token FROM documents),
        |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE token IN ('vector', 'stream', 'window')
        |  GROUP BY doc_id, dl, token),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
        |SELECT doc_id, CAST(SUM(CAST(round(
        |  ((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        |  (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_micro
        |FROM tf JOIN dfreq USING (token) CROSS JOIN c
        |GROUP BY doc_id
        |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin,
    "e4_inverted_index" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        |t AS (SELECT DISTINCT doc_id, token FROM tok WHERE token IS NOT NULL),
        |r AS (SELECT doc_id, token,
        |  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM t)
        |SELECT token, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 20)), ',') AS postings
        |FROM r GROUP BY token ORDER BY token""".stripMargin,
    "e10_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlShingles(4)}) AS sl FROM documents),
        |e AS (SELECT doc_id, unnest(sl) AS s FROM sh),
        |b AS (SELECT DISTINCT s FROM e WHERE doc_id % 97 = 0)
        |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM e JOIN b USING (s) WHERE e.doc_id % 97 <> 0
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,
    "e4_repetition" ->
      s"""WITH sh AS (SELECT doc_id, ${sqlShingles(2)} AS sl FROM documents),
        |e AS (SELECT doc_id, unnest(sl) AS bg FROM sh),
        |c AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY doc_id, bg)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        |  CAST((SUM(cnt) - count(*)) * 1000000 // SUM(cnt) AS BIGINT) AS dup_frac_micro,
        |  CAST(MAX(cnt) * 1000000 // SUM(cnt) AS BIGINT) AS top_frac_micro
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e10_mix_domains" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_src FROM c),
        |r AS (SELECT source, least(1000000, (total // n_src) * 1000000 // n) AS rate_micro FROM c, t)
        |SELECT d.doc_id, d.source, CAST(r.rate_micro AS BIGINT) AS rate_micro
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < r.rate_micro
        |ORDER BY d.doc_id""".stripMargin,
    "e2_semantic_dedup" -> {
      // identical Lloyd retrain as the e3_ann_ivf_kmeans oracle, but with
      // nlist derived from count(*) (SimilarityOps.nlistFor: n/64 clamped
      // to [2,4096]) and the fit run on the deterministic md5-bucket
      // sample of ~20 rows/cell (fit-on-sample, assign-everything —
      // lloydAssign's fitSampleTarget path); the final stage pairs
      // within cells instead of probing a query
      def assignSql(pts: String, cen: String) = sqlLloydAssign(pts, cen)
      def aggSql(asn: String) = sqlLloydAgg(asn)
      s"""WITH pts AS (SELECT vec_id, $sqlQvec AS qe FROM embeddings),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
         |nl AS (SELECT CAST(GREATEST(2, LEAST(4096, n // 64)) AS BIGINT) AS k FROM nn),
         |st AS (SELECT CAST(GREATEST(1, nn.n // (nl.k * 20)) AS BIGINT) AS step FROM nn, nl),
         |fitp AS (SELECT * FROM pts
         |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    % (SELECT step FROM st) = 0),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM fitp),
         |rk AS (SELECT vec_id, qe, row_number() OVER (ORDER BY vec_id) - 1 AS r FROM fitp),
         |seeds AS (SELECT j AS cell, qe AS s, CAST(1 AS BIGINT) AS c
         |  FROM (SELECT unnest(range((SELECT k FROM nl))) AS j) js, mm
         |  JOIN rk ON rk.r = (j * mm.m) // (SELECT k FROM nl)),
         |a1 AS ${assignSql("fitp", "seeds")},
         |c1 AS ${aggSql("a1")},
         |a2 AS ${assignSql("pts", "c1")}
         |SELECT * FROM (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |  CAST(round(CAST(list_sum(list_transform(range(1,65), i -> x.qe[i]*y.qe[i])) AS DOUBLE) /
         |    (sqrt(CAST(list_sum(list_transform(x.qe, v -> v*v)) AS DOUBLE)) *
         |     sqrt(CAST(list_sum(list_transform(y.qe, v -> v*v)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
         |  FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id)
         |WHERE cos_micro >= 400000
         |ORDER BY id_a, id_b""".stripMargin
    },
    "e4_normalize" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS s
        |FROM documents)
        |SELECT doc_id,
        |CAST(length(s) AS BIGINT) AS n_raw,
        |CAST(length(nfc_normalize(s)) AS BIGINT) AS n_nfc,
        |right(nfc_normalize(s), 12) AS nfc_suffix
        |FROM t ORDER BY doc_id""".stripMargin,
    // the corpus token histogram joined back to the token stream,
    // reduced to integer-exact per-language rarity counts
    "e4_oov" ->
      """WITH toks AS (SELECT doc_id, lang, tok
        |  FROM (SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |corpus AS (SELECT tok, count(*) AS corpus_n FROM toks GROUP BY tok)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN corpus_n <= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rare,
        |  CAST(sum(CASE WHEN corpus_n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(count(DISTINCT t.tok) AS BIGINT) AS n_vocab
        |FROM toks t JOIN corpus USING (tok)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the SAME RE2-compatible regexes replayed by DuckDB's RE2 engine
    // ('g' = replace-all, Spark's default) — cross-engine agreement
    // is the point of restricting scrubPii to the common subset
    "e4_pii_scrub" ->
      """WITH d AS (SELECT doc_id, lang,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or +1 555 123 4'
        |    || CAST(doc_id % 100 AS VARCHAR)
        |    || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.17 today' AS raw
        |  FROM documents),
        |c AS (SELECT lang, raw,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS clean
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(raw) - length(clean)) AS BIGINT) AS delta_len,
        |  CAST(sum((length(clean) - length(replace(clean, '<EMAIL>', '')))
        |    / 7) AS BIGINT) AS n_email,
        |  CAST(sum((length(clean) - length(replace(clean, '<PHONE>', '')))
        |    / 7) AS BIGINT) AS n_phone,
        |  CAST(sum((length(clean) - length(replace(clean, '<IP>', '')))
        |    / 4) AS BIGINT) AS n_ip
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    // bucket width derived with NO base key: bits = smallest b with
    // 2^b·32 ≥ n (DedupOps.signBitsFor(n, 1, 32))
    "e2_embed_neardup_blocked" ->
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        |bb AS (SELECT COALESCE(MIN(b), 16) AS bits
        |  FROM (SELECT unnest(range(17)) AS b) t, nn
        |  WHERE (1::BIGINT << b) * 32 >= n),
        |s AS (SELECT vec_id,
        |  array_to_string(list_transform(range(1, 1 + (SELECT bits FROM bb)),
        |    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS blk,
        |  $sqlQvec AS qe FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.qe AS qa, b.qe AS qb
        |  FROM s a JOIN s b ON a.blk = b.blk AND a.vec_id < b.vec_id),
        |c AS (SELECT id_a, id_b,
        |CAST(round(CAST(list_sum(list_transform(range(1, 65), i -> qa[i] * qb[i])) AS DOUBLE) /
        |  (sqrt(CAST(list_sum(list_transform(qa, x -> x*x)) AS DOUBLE)) *
        |   sqrt(CAST(list_sum(list_transform(qb, x -> x*x)) AS DOUBLE))) * 1000000) AS BIGINT) AS cos_micro
        |FROM p)
        |SELECT id_a, id_b, cos_micro FROM c WHERE cos_micro >= 300000
        |ORDER BY id_a, id_b""".stripMargin
    )
    // o43 runs the SAME slices through the same dedup semantics with a
    // clustered compaction of the index in between — a layout-only
    // rewrite may change no decision and no accounting, so its oracle
    // is LITERALLY e2_incremental_semantic's SQL
    m + ("o43_index_compaction" -> m("e2_incremental_semantic"))
  }
}

/** Row type for the typed Dataset showcase (top-level so the case-class
  * encoder derives outside the query closure). */
final case class DocRow(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)
