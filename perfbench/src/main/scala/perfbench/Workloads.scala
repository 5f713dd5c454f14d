package perfbench

import graft.core.StudyDiscovery
import graft.pipelines.Pipelines
import graft.sinks.TableLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Per-kind totals over the traced rounds, from the spans and the Spark
  * jobs each span caused. */
final case class KindAgg(n: Int, wallMs: Double, jobs: Long, taskMs: Long,
    gapMs: Double, inputBytes: Long) {
  def per(x: Double): Double = if (n == 0) 0.0 else x / n
  def +(b: KindAgg): KindAgg = KindAgg(n + b.n, wallMs + b.wallMs, jobs + b.jobs,
    taskMs + b.taskMs, gapMs + b.gapMs, inputBytes + b.inputBytes)
}

/** A workload: set-up (repeatable, so its median can be reported), one
  * warm-up round, then measured rounds. Every round runs the same fixed,
  * seeded sequence of operations on the same inputs, so per-round counters
  * repeat exactly and the round count does not change any ratio. */
trait Workload {
  def ctx: Ctx
  /** Input sizes recorded in the artifact. */
  def inputs: Seq[(String, Any)]
  def setupRep(): Unit
  def round(): Unit
  /** Runs once after set-up, so caches fill and the JIT warms before timing. */
  def warmup(): Unit = round()
  /** Output checks that need the state the last round left. */
  def finish(): Unit = ()
  /** How many operations of each kind one round runs. */
  def mix: Map[String, Int]
  /** The workload's own end-to-end metrics: name → (value, unit). */
  def named(med: String => Double, roundMs: Seq[Double]): Seq[(String, Double, String)]
  /** Per-layer metrics from the traced rounds' aggregates. */
  def layer(agg: Map[String, KindAgg], rounds: Int): Map[String, Double]

  protected def dir(name: String): Path = ctx.work.resolve(name)
  protected def spark = ctx.spark
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "import" => new ImportWorkload(ctx)
    case "ingest" => new IngestWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("import", "ingest")

  private val planHelper = new AdaptiveSparkPlanHelper {}

  /** (files read, rows scanned) over the file-scan nodes of an executed
    * plan, adaptive stages included. */
  def scanCounts(df: DataFrame): (Long, Long) = {
    var files, rows = 0L
    planHelper.foreach(df.queryExecution.executedPlan) { (p: SparkPlan) =>
      if (p.nodeName.startsWith("Scan") || p.getClass.getSimpleName == "FileSourceScanExec") {
        p.metrics.get("numFiles").foreach(files += _.value)
        p.metrics.get("numOutputRows").foreach(rows += _.value)
      }
    }
    (files, rows)
  }

  /** Per-layer observations of one executed read: files read against the
    * files of the version it read, rows scanned, rows returned (matched, for
    * aggregates) and planning time. */
  def noteRead(ctx: Ctx, df: DataFrame, kind: String, liveFiles: Int,
      returned: Long): Unit = {
    val (files, scanned) = scanCounts(df)
    ctx.note(s"files_read.$kind", files.toDouble)
    ctx.note(s"live_files.$kind", liveFiles.toDouble)
    ctx.note(s"rows_scanned.$kind", scanned.toDouble)
    ctx.note(s"rows_returned.$kind", returned.toDouble)
    ctx.note(s"plan_ms.$kind", planMs(df))
  }

  /** The read-path layer metrics over every read kind. */
  def readLayer(ctx: Ctx, agg: Map[String, KindAgg], queries: Int): Map[String, Double] = {
    val o = (k: String) => ctx.obs.collect { case (n, v) if n.startsWith(k) => v }.flatten.toSeq
    val pruned = Seq("point", "bloom", "sql", "asof")
    val reads = agg.filter { case (k, _) => pruned.contains(k) }
    Map(
      "sinks.tablelog.files_read_ratio" ->
        pruned.flatMap(k => o(s"files_read.$k")).sum / pruned.flatMap(k => o(s"live_files.$k")).sum.max(1),
      "sinks.tablelog.rows_scanned_per_row_returned" ->
        pruned.flatMap(k => o(s"rows_scanned.$k")).sum / pruned.flatMap(k => o(s"rows_returned.$k")).sum.max(1),
      "plans.plan_ms" -> Stats.median(o("plan_ms.")),
      "spark.jobs_per_query" -> reads.values.map(_.jobs).sum.toDouble / queries.max(1))
  }

  /** Analysis + optimization + planning time of an executed query. */
  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.collect {
      case (k, v) if Set("analysis", "optimization", "planning")(k) => v.durationMs
    }.sum.toDouble
}

// ───────────────────────────────── import ─────────────────────────────────

/** The paper's own path: convert every CNA matrix (with the derived long
  * table) and every MAF of a datahub tree to Parquet, gather the per-study
  * files into one directory and combine them into one file per table. No
  * TableLog code runs here. */
final class ImportWorkload(val ctx: Ctx) extends Workload {
  val studies = 2; val genes = 400; val samples = 80; val mafRows = 2500
  private val root = dir("hub")
  private val gathered = dir("hub-gathered")
  private var hub: Gen.Hub = _
  private var outputs = Seq.empty[String]

  def inputs = Seq("studies" -> studies, "cna_files" -> studies,
    "genes" -> genes, "samples" -> samples, "maf_files" -> studies,
    "maf_rows_per_file" -> mafRows,
    "tsv_bytes" -> Option(hub).map(_.tsvBytes).getOrElse(0L))

  def setupRep(): Unit = {
    Fs.delete(root)
    hub = Gen.writeHub(root, ctx.seed, studies, genes, samples, mafRows)
  }

  /** The first passes run markedly slower while the JIT compiles the
    * per-file job path (measured: 3.2, 2.5, 2.5, 2.3 s after one warm-up
    * pass), so two passes warm up. */
  override def warmup(): Unit = (1 to 2).foreach(_ => round())

  def round(): Unit = {
    Fs.delete(gathered)
    Files.createDirectories(gathered)
    val r = hub.root
    ctx.op("discover", "StudyDiscovery.find*Files", "core") {
      (StudyDiscovery.findCnaFiles(r), StudyDiscovery.findMutationFiles(r))
    }
    val cna = ctx.op("convert_cna", "Pipelines.convertCna", "pipelines") {
      Pipelines.convertCna(spark, r, withDerived = true)
    }
    val mut = ctx.op("convert_mutations", "Pipelines.convertMutations", "pipelines") {
      Pipelines.convertMutations(spark, r)
    }
    // the per-study files are moved into one directory, as a user of the
    // combine modes does before combining them
    val moved = (cna ++ mut).map { o =>
      val p = java.nio.file.Paths.get(o)
      Files.move(p, gathered.resolve(p.getFileName)).toString
    }
    val comb = Seq(Pipelines.cnaDerivedSuffixes, Pipelines.mutationSuffixes).flatMap { sfx =>
      ctx.op("combine", "Pipelines.combine", "pipelines") {
        Pipelines.combine(spark, gathered.toString, "combined", sfx)
      }
    }
    outputs = moved ++ comb
    if (ctx.tracer.on) ctx.note("out_bytes",
      Fs.bytes(outputs.flatMap(o => Fs.dataFiles(java.nio.file.Paths.get(o)))).toDouble)
  }

  override def finish(): Unit = {
    val pq = (p: String) => spark.read.parquet(p)
    val byName = outputs.groupBy(p => java.nio.file.Paths.get(p).getFileName.toString)
      .map { case (k, v) => k -> v.head }
    def out(f: String, suffix: String): String = {
      val p = java.nio.file.Paths.get(f)
      val base = p.getFileName.toString.stripSuffix(".txt")
      byName(s"${p.getParent.getFileName}_${base}_$suffix.parquet")
    }
    ctx.check("import.outputs_written",
      outputs.size == hub.cnaFiles.size * 3 + hub.mafFiles.size * 2 + 5,
      s"${outputs.size} outputs")
    hub.cnaFiles.foreach { f =>
      val ga = pq(out(f.path, "genetic_alterations"))
      val rows = ga.select(col("GENE_SYMBOL"), col("VALUES")).collect()
      ctx.check("import.one_row_per_gene",
        rows.length == f.genes && rows.map(_.getString(0)).distinct.length == f.genes,
        s"${f.path}: ${rows.length} rows")
      val expect = (0 until f.genes).map(g => Gen.geneName(g) ->
        (0 until f.samples.size).map(s => Gen.cnaCell(ctx.seed, f.idx, g, s)).mkString(",")).toMap
      ctx.check("import.values_align_with_sample_list",
        rows.forall(r => expect.get(r.getString(0)).contains(r.getString(1))),
        s"${f.path}: VALUES differ")
      val osl = pq(out(f.path, "genetic_profile_samples"))
        .select("ORDERED_SAMPLE_LIST").collect().map(_.getString(0)).toSeq
      ctx.check("import.values_align_with_sample_list",
        osl == Seq(f.samples.map(s => s"${f.study}_$s").mkString(",")),
        s"${f.path}: ORDERED_SAMPLE_LIST differs")
      val derived = pq(out(f.path, "derived")).count()
      ctx.check("import.derived_rows_genes_x_samples",
        derived == f.genes.toLong * f.samples.size, s"${f.path}: $derived")
    }
    val events = spark.read.parquet(hub.mafFiles.map(f => out(f.path, "mutation_event")): _*)
      .agg(count(lit(1)), min("MUTATION_EVENT_ID"), max("MUTATION_EVENT_ID"),
        countDistinct("MUTATION_EVENT_ID")).head()
    val n = hub.mafFiles.map(_.rows.toLong).sum
    ctx.check("import.event_ids_contiguous",
      events.getLong(0) == n && events.getLong(1) == 0L &&
        events.getLong(2) == n - 1 && events.getLong(3) == n, events.toString)
    hub.mafFiles.foreach { f =>
      val blanks = pq(out(f.path, "mutation")).where(col("CENTER") =!= "").count()
      val dropped = !f.columns.contains("Center")
      ctx.check("import.missing_maf_columns_empty",
        if (dropped) blanks == 0 else blanks == f.rows, s"${f.path}: $blanks non-empty CENTER")
    }
    // each per-file output's row count is checked above against the
    // generator, so a combined table must hold the sum of those counts
    val genes = hub.cnaFiles.map(_.genes.toLong).sum
    Seq("genetic_alterations" -> genes,
      "genetic_profile_samples" -> hub.cnaFiles.size.toLong,
      "derived" -> hub.cnaFiles.map(f => f.genes.toLong * f.samples.size).sum,
      "mutation_event" -> n, "mutation" -> n).foreach { case (sfx, rows) =>
      val combined = pq(gathered.resolve(s"combined_$sfx.parquet").toString).count()
      ctx.check("import.combined_is_sum_of_inputs", combined == rows,
        s"$sfx: $combined rows, inputs hold $rows")
    }
  }

  def mix = Map("discover" -> 1, "convert_cna" -> 1, "convert_mutations" -> 1,
    "combine" -> 2)

  def named(med: String => Double, roundMs: Seq[Double]) =
    Seq(("import_s", Stats.median(roundMs) / 1000, "s"))

  def layer(agg: Map[String, KindAgg], rounds: Int): Map[String, Double] = {
    val conv = Seq("convert_cna", "convert_mutations").flatMap(agg.get)
    Map(
      "core.discover_ms" -> agg.get("discover").map(a => a.per(a.wallMs)).getOrElse(0.0),
      "pipelines.convert_cna_ms" -> agg.get("convert_cna").map(a => a.per(a.wallMs)).getOrElse(0.0),
      "pipelines.convert_mutations_ms" -> agg.get("convert_mutations").map(a => a.per(a.wallMs)).getOrElse(0.0),
      "pipelines.combine_ms" -> agg.get("combine").map(a => a.wallMs / math.max(1, rounds)).getOrElse(0.0),
      "operators.read_amp" -> conv.map(_.inputBytes).sum.toDouble / math.max(1, rounds) / hub.tsvBytes,
      "sinks.parquet.out_bytes_per_in_byte" ->
        ctx.obs.get("out_bytes").map(x => Stats.median(x.toSeq)).getOrElse(0.0) / hub.tsvBytes)
  }
}

// ───────────────────────────────── ingest ─────────────────────────────────

/** The table-format write path: a fixed cycle of commits — appends with
  * key/string/bloom stats under a CHECK constraint, one deletion-vector
  * delete and one upsert merge — on a copy of a base table, so every round
  * commits the same versions. The table is read back before the merge,
  * while every file still carries the stats the appends wrote
  * (`mergeUpsert` takes no stats columns, so the files it rewrites have
  * none to prune on). */
final class IngestWorkload(val ctx: Ctx) extends Workload {
  val batchRows = 10000L; val batches = 8; val mergeRows = 2000L
  private val stats = Seq("id", "amount")
  private val strStats = Seq("cat")
  private val bloom = Seq("tag")
  // the base table is versions 1-6: b0 creates, the check follows, b1-b4
  // append. A round commits versions 7-11.
  private val basePlan = Seq("create", "check", "append:1", "append:2",
    "append:3", "append:4")
  private val plan = Seq("append:5", "delete", "append:6", "append:7", "merge")
  /** Every tenth version writes a full checkpoint manifest instead of a
    * delta (the engine's checkpoint interval), so the append that lands on
    * one is timed as its own kind. */
  private val checkpointEvery = 10L
  private val base = dir("ingest-base")
  private def deleted(id: Long) = id < 3 * batchRows && id % 7 == 3
  private val mergeLo = batchRows // upserts of existing keys…
  private val mergeNew = batches * batchRows // …and of new keys
  private var expected: (Long, Long) = (0L, 0L)
  /** The table before the merge and after the round, as the benchmark's own
    * sequential model: live id → which amount draw it holds (1 for upserted
    * rows). */
  private var beforeMerge = mutable.LongMap.empty[Int]
  private var model = mutable.LongMap.empty[Int]
  private val span = 2000L
  private val baseVersion = basePlan.size.toLong
  /** Reads between the last append and the merge: key and bloom point
    * lookups through the declarative scan, a key range aggregate as SQL
    * text, and the same range at the base version. */
  private val reads: Seq[(String, Long)] = Seq(
    "point" -> Gen.pick(Gen.h(ctx.seed, 51), batches * batchRows),
    "point" -> Gen.pick(Gen.h(ctx.seed, 52), 3 * batchRows),
    "bloom" -> Gen.pick(Gen.h(ctx.seed, 55), batches * batchRows),
    "sql" -> Gen.pick(Gen.h(ctx.seed, 53), batches * batchRows - span),
    "asof" -> Gen.pick(Gen.h(ctx.seed, 54), 5 * batchRows - span))
  private val view = "ingest_t"

  def inputs = Seq("batch_rows" -> batchRows, "batches" -> batches,
    "merge_rows" -> mergeRows, "base_commits" -> basePlan.size,
    "commits_per_round" -> plan.size, "reads_per_round" -> reads.size)

  private val half = mergeRows / 2
  private def batch(i: Int) =
    Gen.rows(spark, ctx.seed, i * batchRows, (i + 1) * batchRows, 2)
  private def mergeSource =
    Gen.rows(spark, ctx.seed, mergeLo, mergeLo + half, 1, gen = 1)
      .unionByName(Gen.rows(spark, ctx.seed, mergeNew, mergeNew + half, 1, gen = 1))

  /** Set-up computes the sequential model of the table; the batches are
    * generated inside the commits' own jobs. */
  def setupRep(): Unit = {
    model = mutable.LongMap.empty[Int]
    def put(id: Long, gen: Int): Unit = model(id) = gen
    (basePlan ++ plan).foreach {
      case "create" => (0L until batchRows).foreach(put(_, 0))
      case "check" =>
      case "delete" => model.keys.filter(deleted).toVector.foreach(model.remove)
      case "merge" =>
        beforeMerge = model.clone()
        (mergeLo until mergeLo + half).foreach(put(_, 1))
        (mergeNew until mergeNew + half).foreach(put(_, 1))
      case a => val i = a.stripPrefix("append:").toInt
        (i * batchRows until (i + 1) * batchRows).foreach(put(_, 0))
    }
    expected = (model.size.toLong, model.map { case (id, gen) =>
      Gen.rowHash(id, Gen.amount(ctx.seed, id, gen), Gen.tag(ctx.seed, id)) }.sum)
  }

  /** Builds the base table once, then three rounds warm up: rounds keep
    * getting faster for most of a minute while the JIT compiles the commit
    * path (measured after one warm-up round: 4.3, 3.6, 3.2, 3.1, 3.0, 2.8 s). */
  override def warmup(): Unit = {
    Fs.delete(base)
    run(base, basePlan, 1L)
    ctx.check("ingest.one_version_per_commit",
      TableLog.latestVersion(base.toString) == baseVersion, "base table")
    (1 to 3).foreach(_ => round())
  }

  def round(): Unit = {
    val t = dir("ingest-t")
    Fs.delete(t)
    Fs.copy(base, t)
    run(t, plan.init, baseVersion + 1)
    reads.foreach { case (kind, k) => read(t.toString, kind, k) }
    run(t, plan.takeRight(1), baseVersion + plan.size)
    if (ctx.tracer.on) {
      val live = TableLog.snapshot(t.toString).get.files.map(f => Files.size(t.resolve(f.path))).sum
      ctx.note("space_amp", Fs.bytes(Fs.files(t)).toDouble / live)
    }
    val fp = udf((id: Long, amount: Long, tag: String) => Gen.rowHash(id, amount, tag))
    val got = TableLog.read(spark, t.toString)
      .agg(count(lit(1)), sum(fp(col("id"), col("amount"), col("tag")))).head()
    ctx.check("ingest.rows_and_checksum_match_model",
      got.getLong(0) == expected._1 && got.getLong(1) == expected._2,
      s"table (${got.getLong(0)}, ${got.get(1)}) vs model $expected")
    val v = TableLog.latestVersion(t.toString)
    ctx.check("ingest.one_version_per_commit", v == baseVersion + plan.size,
      s"round ended at version $v")
  }

  private def kindOf(step: String, version: Long): String = step.takeWhile(_ != ':') match {
    case "append" if version % checkpointEvery == 0 => "append_ckpt"
    case k => k
  }

  /** Commits `steps` to `table`; the first of them lands on `version`. */
  private def run(table: Path, steps: Seq[String], version: Long): Unit = {
    val t = table.toString
    steps.zipWithIndex.foreach { case (step, i) =>
      val kind = kindOf(step, version + i)
      val (files0, bytes0, log0, v0) =
        if (ctx.tracer.on) tableState(t) else (0, 0L, 0L, 0L)
      val rows = step match {
        case "create" =>
          ctx.op(kind, "TableLog.create", "sinks.tablelog") {
            TableLog.create(spark, t, batch(0), stats,
              strStats, bloomStatsCols = bloom)
          }; batchRows
        case "check" =>
          ctx.op(kind, "TableLog.addCheckConstraint", "sinks.tablelog") {
            TableLog.addCheckConstraint(spark, t, "amount_nonneg", "amount >= 0")
          }; 0L
        case "delete" =>
          ctx.op(kind, "TableLog.deleteDv", "sinks.tablelog") {
            TableLog.deleteDv(spark, t,
              col("id") < 3 * batchRows && pmod(col("id"), lit(7L)) === 3,
              statsCols = stats, strStatsCols = strStats, bloomStatsCols = bloom)
          }; (0L until 3 * batchRows).count(deleted).toLong
        case "merge" =>
          ctx.op(kind, "TableLog.mergeUpsert", "sinks.tablelog") {
            TableLog.mergeUpsert(spark, t, mergeSource, Seq("id"))
          }; mergeRows
        case a =>
          val b = a.stripPrefix("append:").toInt
          ctx.op(kind, "TableLog.append", "sinks.tablelog") {
            TableLog.append(spark, t, batch(b), stats,
              strStatsCols = strStats, bloomStatsCols = bloom)
          }; batchRows
      }
      if (ctx.tracer.on) {
        val (files1, bytes1, log1, v1) = tableState(t)
        ctx.note("files_per_commit", files1 - files0)
        ctx.note("data_bytes", (bytes1 - bytes0).toDouble)
        ctx.note("rows", rows.toDouble)
        ctx.note("manifest_bytes_per_commit", (log1 - log0).toDouble)
        ctx.note("versions_per_commit", (v1 - v0).toDouble)
        val (_, ms) = ctx.tracer.call("TableLog.snapshot", "sinks.tablelog") {
          TableLog.snapshot(t)
        }
        ctx.note("snapshot_ms", ms)
      }
    }
  }

  private def rangeOf(lo: Long, live: Long => Option[Int]): Seq[Seq[Any]] = {
    val amounts = (lo until lo + span).flatMap(id => live(id).map(Gen.amount(ctx.seed, id, _)))
    Seq(Seq(amounts.size.toLong, if (amounts.isEmpty) null else amounts.sum))
  }

  private def rowOf(k: Long): Seq[Seq[Any]] =
    beforeMerge.get(k).toSeq.map(gen => Seq(k, Gen.amount(ctx.seed, k, gen),
      Gen.tag(ctx.seed, k), Gen.cat(ctx.seed, k)))

  /** One read is one operation: the public call that builds the DataFrame
    * (a nested span) and the collect that plans and runs it. */
  private def read(t: String, kind: String, k: Long): Unit = {
    val cols = Seq("id", "amount", "tag", "cat").map(col)
    val (df, expect, got) = ctx.op(kind, "query", "plans") {
      val ((df, expect), _) = kind match {
        case "point" => ctx.tracer.call("TableLog.scan", "sinks.tablelog") {
          TableLog.scan(spark, t).where(col("id") === k).select(cols: _*) -> rowOf(k)
        }
        case "bloom" => ctx.tracer.call("TableLog.scan", "sinks.tablelog") {
          TableLog.scan(spark, t).where(col("tag") === Gen.tag(ctx.seed, k))
            .select(cols: _*) -> rowOf(k)
        }
        case "sql" => ctx.tracer.call("TableLog.sql", "sinks.tablelog") {
          TableLog.registerSqlTable(spark, view, t)
          TableLog.sql(spark, s"SELECT count(1), sum(amount) FROM $view " +
            s"WHERE id BETWEEN $k AND ${k + span - 1}") -> rangeOf(k, beforeMerge.get)
        }
        case "asof" => ctx.tracer.call("TableLog.scanVersion", "sinks.tablelog") {
          TableLog.scanVersion(spark, t, baseVersion).where(col("id").between(k, k + span - 1))
            .agg(count(lit(1)), sum("amount")) -> rangeOf(k, id => Some(0).filter(_ => id < 5 * batchRows))
        }
      }
      val (rows, _) = ctx.tracer.call("Dataset.collect", "plans")(df.collect())
      (df, expect, rows.map(_.toSeq).toSeq)
    }
    ctx.check(s"ingest.${kind}_answers_match_model", got == expect, s"$kind $k: $got vs $expect")
    if (ctx.tracer.on) {
      val live = (if (kind == "asof") TableLog.snapshotAt(t, baseVersion)
        else TableLog.snapshot(t)).get.files.size
      Workloads.noteRead(ctx, df, kind, live,
        if (kind == "point" || kind == "bloom") got.size.toLong
        else got.head.head.asInstanceOf[Long])
    }
  }

  /** (data files, data bytes, log bytes, latest version) of the table. */
  private def tableState(t: String): (Int, Long, Long, Long) = {
    val p = java.nio.file.Paths.get(t)
    val data = Fs.dataFiles(p.resolve("data"))
    (data.size, Fs.bytes(data), Fs.bytes(Fs.files(p.resolve("_log"))),
      TableLog.latestVersion(t))
  }

  def mix: Map[String, Int] =
    (plan.zipWithIndex.map { case (s, i) => kindOf(s, baseVersion + 1 + i) } ++ reads.map(_._1))
      .groupBy(identity).map { case (k, v) => k -> v.size }
  /** Committed rows per round, deleted and merged rows included. */
  private def itemsPerRound: Long = plan.count(_.startsWith("append")) * batchRows +
    mergeRows + (0L until 3 * batchRows).count(deleted)

  def named(med: String => Double, roundMs: Seq[Double]) = Seq(
    ("append_ms", med("append"), "ms"), ("checkpoint_append_ms", med("append_ckpt"), "ms"),
    ("delete_ms", med("delete"), "ms"), ("merge_ms", med("merge"), "ms"),
    ("point_ms", med("point"), "ms"), ("bloom_ms", med("bloom"), "ms"),
    ("sql_ms", med("sql"), "ms"), ("asof_ms", med("asof"), "ms"),
    ("ingest_rows_per_s", itemsPerRound / (Stats.median(roundMs) / 1000), "rows/s"))

  def layer(agg: Map[String, KindAgg], rounds: Int): Map[String, Double] = {
    val appends = Seq("append", "append_ckpt").flatMap(agg.get).reduceOption(_ + _)
    val commits = agg.filter { case (k, _) => Set("append", "append_ckpt", "delete", "merge")(k) }.values
    val n = commits.map(_.n).sum.max(1)
    val o = (k: String) => ctx.obs.get(k).map(_.toSeq).getOrElse(Nil)
    Map(
      "sinks.tablelog.jobs_per_append" -> appends.map(a => a.per(a.jobs)).getOrElse(0.0),
      "sinks.tablelog.jobs_per_delete" -> agg.get("delete").map(a => a.per(a.jobs)).getOrElse(0.0),
      "sinks.tablelog.jobs_per_merge" -> agg.get("merge").map(a => a.per(a.jobs)).getOrElse(0.0),
      "sinks.tablelog.task_ms_per_commit" -> commits.map(_.taskMs).sum.toDouble / n,
      "sinks.tablelog.driver_gap_ms_per_commit" -> commits.map(_.gapMs).sum / n,
      "sinks.tablelog.files_per_commit" -> Stats.mean(o("files_per_commit")),
      "sinks.tablelog.bytes_written_per_row" -> o("data_bytes").sum / o("rows").sum.max(1),
      "sinks.tablelog.manifest_bytes_per_commit" -> Stats.mean(o("manifest_bytes_per_commit")),
      "sinks.tablelog.space_amp" -> Stats.mean(o("space_amp")),
      "sinks.tablelog.versions_per_commit" -> Stats.mean(o("versions_per_commit")),
      "sinks.tablelog.snapshot_ms" -> Stats.median(o("snapshot_ms"))) ++
      Workloads.readLayer(ctx, agg, reads.size * rounds)
  }
}
