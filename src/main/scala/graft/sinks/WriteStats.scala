package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{
  Expand, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.graft.{
  Bridge, ParquetWrite, ParquetWriteFactory, RowFileWriter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Write-time file statistics: every staged data file's manifest entry
  * is measured by the task that writes it, in the same pass over the
  * rows.
  *
  * The driver states what to measure ([[WriteStats.Spec]]: long, string
  * and derived stat columns, bloom columns, CHECK-style audits) and
  * binds it against the write schema into ONE projection of Catalyst
  * expressions — the same `cast`, `xxhash64`/`pmod` and predicate
  * expressions a DataFrame `min`/`max`/`count` over the written files
  * and a `bloomPositions` probe evaluate, so ranges, null counts and
  * bloom bits are bit-identical with both. Each writer task folds that
  * projection into an accumulator as it writes
  * ([[WriteStats.StagedFile]]) and returns a [[WriteStats.FileSummary]];
  * the driver turns summaries into `FileEntry`s and refuses the commit
  * on any audit violation.
  * Min/max, counts and bloom bit sets are one-pass summaries, so no
  * commit reads back a file it wrote. */
private[graft] object WriteStats {

  import TableLog.{FileEntry, FileStat, FileStrStat, StagedAudit}

  /** What one writer task measured over the file it wrote. `ranges`:
    * per long stat column then per derived stat, the (min, max) of the
    * long-cast values (None = no non-null value); `nonNull`: per long
    * stat column; `strRanges`: per string stat column in UTF8String
    * binary order; `blooms`: per bloom column, the bit set as longs;
    * `violations`: per audit, the rows it flagged. */
  final case class FileSummary(name: String, rows: Long, bytes: Long,
      ranges: Seq[Option[(Long, Long)]], nonNull: Seq[Long],
      strRanges: Seq[Option[(String, String)]],
      blooms: Seq[Array[Long]], violations: Seq[Long])

  /** The statistics a write records, on the driver. */
  final case class Spec(statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      derived: Seq[(String, Column)] = Nil,
      audits: Seq[StagedAudit] = Nil) {

    /** Resolve every measured expression against `schema` (the rows the
      * writer tasks receive) and bind it to their ordinals. Analysis
      * errors — an unknown column in a CHECK, say — surface here, on
      * the driver, before any file is written. */
    def bind(spark: SparkSession, schema: StructType): Bound = {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val cols: Seq[Column] =
        statsCols.flatMap(c => Seq(col(c).cast("long"), col(c).isNotNull)) ++
          strStatsCols.map(c => col(c).cast("string")) ++
          derived.map(_._2.cast("long")) ++
          bloomCols.flatMap(c => (0 until TableLog.bloomK).map(i =>
            pmod(xxhash64(lit(i), col(c)), lit(TableLog.bloomM.toLong))
              .cast("int"))) ++
          audits.map(_.bad)
      val exprs =
        if (cols.isEmpty) Nil
        else rowGen(spark, schema)(_.select(cols.zipWithIndex.map {
          case (c, i) => c.as(s"_ws$i") }: _*)).steps match {
          case Seq(Seq(list)) => list
          case other => throw new IllegalStateException(
            s"write stats: expected one projection, got $other")
        }
      new Bound(exprs, statsCols.size, strStatsCols.size, derived.size,
        bloomCols.size, audits.size)
    }

    /** The manifest entry for a summarized file at table-relative
      * `rel`. An all-null column records no range stat; a bloom filled
      * past `bloomMaxFill` is omitted (absence keeps the file). */
    def entry(rel: String, s: FileSummary): FileEntry = {
      val longs = statsCols.zipWithIndex.flatMap { case (c, i) =>
        s.ranges(i).map { case (mn, mx) =>
          FileStat(c, mn, mx, s.rows - s.nonNull(i)) }
      } ++ derived.zipWithIndex.flatMap { case ((n, _), i) =>
        s.ranges(statsCols.size + i).map { case (mn, mx) =>
          FileStat(n, mn, mx) }
      }
      val strs = strStatsCols.zipWithIndex.flatMap { case (c, i) =>
        s.strRanges(i).map { case (mn, mx) => FileStrStat(c, mn, mx) }
      } ++ bloomCols.zipWithIndex.flatMap { case (c, i) =>
        val bits = java.util.BitSet.valueOf(s.blooms(i))
        if (bits.cardinality.toDouble / TableLog.bloomM >
            TableLog.bloomMaxFill) None
        else Some(TableLog.bloomStat(c, bits))
      }
      FileEntry(rel, longs, strs, bytes = s.bytes, rows = s.rows)
    }

    /** Refuse the write if any audit flagged a row in any file. */
    def enforce(files: Seq[FileSummary]): Unit =
      audits.zipWithIndex.foreach { case (a, i) =>
        val bad = files.map(_.violations(i)).sum
        require(bad == 0L, a.msg(bad))
      }
  }

  /** The bound projection, shipped to writer tasks. Output layout:
    * per long stat column (cast value, is-not-null), per string stat
    * column the cast value, per derived stat the cast value, per bloom
    * column `bloomK` bit positions, per audit its flag. */
  final class Bound(exprs: Seq[Expression], nLong: Int, nStr: Int,
      nDerived: Int, nBloom: Int, nAudit: Int) extends Serializable {
    def accumulator(partition: Int): Accumulator =
      new Accumulator(exprs, partition, nLong, nStr, nDerived, nBloom,
        nAudit)
  }

  /** Executor-side fold of the bound projection over one file's rows. */
  final class Accumulator(exprs: Seq[Expression], partition: Int,
      nLong: Int, nStr: Int, nDerived: Int, nBloom: Int, nAudit: Int) {
    private val proj =
      if (exprs.isEmpty) null
      else {
        val p = UnsafeProjection.create(exprs)
        p.initialize(partition)
        p
      }
    private val nRange = nLong + nDerived
    private val has = new Array[Boolean](nRange)
    private val mins = new Array[Long](nRange)
    private val maxs = new Array[Long](nRange)
    private val nonNull = new Array[Long](nLong)
    private val sMin = new Array[UTF8String](nStr)
    private val sMax = new Array[UTF8String](nStr)
    private val bits =
      Array.fill(nBloom)(new java.util.BitSet(TableLog.bloomM))
    private val bad = new Array[Long](nAudit)
    private val strBase = 2 * nLong
    private val derivedBase = strBase + nStr
    private val bloomBase = derivedBase + nDerived
    private val auditBase = bloomBase + nBloom * TableLog.bloomK
    private var rows = 0L

    private def range(i: Int, v: Long): Unit =
      if (!has(i)) { has(i) = true; mins(i) = v; maxs(i) = v }
      else if (v < mins(i)) mins(i) = v
      else if (v > maxs(i)) maxs(i) = v

    def add(row: InternalRow): Unit = {
      rows += 1
      if (proj == null) return
      val r = proj(row)
      var i = 0
      while (i < nLong) {
        if (!r.isNullAt(2 * i)) range(i, r.getLong(2 * i))
        if (r.getBoolean(2 * i + 1)) nonNull(i) += 1
        i += 1
      }
      i = 0
      while (i < nStr) {
        if (!r.isNullAt(strBase + i)) {
          val s = r.getUTF8String(strBase + i)
          if (sMin(i) == null || s.compareTo(sMin(i)) < 0) sMin(i) = s.clone()
          if (sMax(i) == null || s.compareTo(sMax(i)) > 0) sMax(i) = s.clone()
        }
        i += 1
      }
      i = 0
      while (i < nDerived) {
        if (!r.isNullAt(derivedBase + i))
          range(nLong + i, r.getLong(derivedBase + i))
        i += 1
      }
      i = 0
      while (i < nBloom * TableLog.bloomK) {
        if (!r.isNullAt(bloomBase + i))
          bits(i / TableLog.bloomK).set(r.getInt(bloomBase + i))
        i += 1
      }
      i = 0
      while (i < nAudit) {
        if (!r.isNullAt(auditBase + i) && r.getBoolean(auditBase + i))
          bad(i) += 1
        i += 1
      }
    }

    def summary(name: String, bytes: Long): FileSummary =
      FileSummary(name, rows, bytes,
        (0 until nRange).map(i =>
          if (has(i)) Some((mins(i), maxs(i))) else None),
        nonNull.toSeq,
        (0 until nStr).map(i =>
          if (sMin(i) == null) None
          else Some((sMin(i).toString, sMax(i).toString))),
        bits.map(_.toLongArray).toSeq, bad.toSeq)
  }

  /** One task's staged parquet file: opened lazily on the first row (an
    * empty task leaves no file, so no manifest ever lists an empty
    * one), measured while it is written, and deleted on abort even when
    * closing the half-written file throws. */
  final class StagedFile(pw: ParquetWriteFactory, stats: Bound,
      absPath: String, name: String, partition: Int, attempt: Int) {
    private var w: RowFileWriter = null
    private var acc: Accumulator = null

    def write(row: InternalRow): Unit = {
      if (w == null) {
        Files.createDirectories(Paths.get(absPath).getParent)
        acc = stats.accumulator(partition)
        w = pw.open(absPath, partition, attempt)
      }
      acc.add(row)
      w.write(row)
    }

    /** Close the file and summarize it; null when no row was written. */
    def commit(): FileSummary =
      if (w == null) null
      else {
        w.close()
        acc.summary(name, Files.size(Paths.get(absPath)))
      }

    def abort(): Unit = if (w != null) {
      try w.close() catch { case _: Throwable => () }
      finally deleteStaged(absPath)
    }
  }

  /** The rows of one output as a narrow plan over the rows a write task
    * receives, bound on the driver: `steps` run from the input up, each
    * a list of projections that turns one row into one row per
    * projection (a Project is one, an Expand — unpivot — several). No
    * step at all writes the input rows as they come. */
  final class RowGen private[WriteStats] (val schema: StructType,
      private[WriteStats] val steps: Seq[Seq[Seq[Expression]]])
      extends Serializable {

    /** Per task: a function that pushes one input row's output rows
      * into `out`. The rows are the projections' reused buffers, valid
      * until `out` returns. */
    def open(partition: Int, out: InternalRow => Unit): InternalRow => Unit =
      steps.foldRight(out) { (projections, next) =>
        val ps = projections.map { e =>
          val p = UnsafeProjection.create(e)
          p.initialize(partition)
          p
        }.toArray
        (r: InternalRow) => {
          var i = 0
          while (i < ps.length) { next(ps(i)(r)); i += 1 }
        }
      }
  }

  /** The input rows unchanged. */
  def identity(schema: StructType): RowGen = new RowGen(schema, Nil)

  /** Bind `f`, a narrow plan over rows of `schema`, to a [[RowGen]]: the
    * plan is built over an RDD-backed leaf the optimizer cannot fold
    * away, so its optimized form is fully evaluable (runtime-replaceable
    * functions replaced) and still reads the writer's row layout. The
    * same DataFrame code that defines an output as a query defines it
    * inside a write task. Refuses anything but projections and
    * expansions. */
  def rowGen(spark: SparkSession, schema: StructType)(
      f: DataFrame => DataFrame): RowGen = {
    val leaf = Bridge.fromInternalRows(spark,
      spark.sparkContext.emptyRDD[InternalRow], schema)
    def bind(list: Seq[Expression], input: Seq[Attribute]) =
      list.map(e => BindReferences.bindReference(e match {
        case a: Alias => a.child
        case other => other
      }, input))
    def steps(plan: LogicalPlan): Seq[Seq[Seq[Expression]]] = plan match {
      case Project(list, child) => steps(child) :+ Seq(bind(list, child.output))
      case Expand(projections, _, child) =>
        steps(child) :+ projections.map(bind(_, child.output))
      case l: LeafNode if l.output.size == schema.size => Nil
      case other => throw new IllegalStateException(
        s"staged write: not a narrow plan over the written rows\n$other")
    }
    val plan = f(leaf).queryExecution.optimizedPlan
    new RowGen(plan.schema, steps(plan))
  }

  /** One output of [[writeStaged]]: the directory its files go to, its
    * rows and what to measure over them. */
  final case class Output(dir: String, rows: RowGen, stats: Spec = Spec())

  /** The staged write (the batch twin of the streaming sink's
    * DataWriters): ONE Spark job over `rdd` in which each task writes,
    * per output, one parquet file straight into that output's `dir`
    * through the writer stack a batch `df.write` uses (ParquetWrite
    * bridge — bytes identical), and measures the output's `stats` over
    * the rows as it writes them. Every output is fed from the same pass
    * over the task's input rows, so one scan serves them all. Files are
    * opened lazily on the first row, so an empty task leaves none. No
    * FileOutputCommitter protocol — no `_temporary` staging, no
    * task/job-commit renames, no `_SUCCESS`, no write-command
    * re-planning: each `dir` is a staging directory the caller makes
    * visible (a manifest CAS, a rename) only after this returns. Only
    * files reported by WINNING task attempts are returned (a failed
    * attempt deletes its partial files; a killed speculative loser's
    * file stays behind, see [[dropLosers]]). Returns per output the
    * winners' summaries, sorted by file name. */
  def writeStaged(spark: SparkSession, rdd: => RDD[InternalRow],
      outs: Seq[Output]): Seq[Seq[FileSummary]] = {
    val pws = outs.map(o => ParquetWrite.factory(spark, o.rows.schema)).toArray
    val bounds = outs.map(o => o.stats.bind(spark, o.rows.schema)).toArray
    val gens = outs.map(_.rows).toArray
    val dirs = outs.map(_.dir).toArray
    dirs.foreach(d => Files.createDirectories(Paths.get(d)))
    val input = rdd
    // a provably-empty write (0 partitions after AQE finalization, e.g.
    // an empty-source commit) stages nothing — skip the job dispatch
    if (input.getNumPartitions == 0) return outs.map(_ => Nil)
    val written = spark.sparkContext.runJob(input,
      (ctx: TaskContext, it: Iterator[InternalRow]) => {
        // attempt ids make retried/speculative attempts collision-free;
        // only the winner's summaries are returned to the driver
        val name = f"part-${ctx.partitionId()}%05d-" +
          s"a${ctx.attemptNumber()}-t${ctx.taskAttemptId()}.parquet"
        val files = dirs.indices.map(i => new StagedFile(pws(i), bounds(i),
          s"${dirs(i)}/$name", name, ctx.partitionId(), ctx.attemptNumber()))
        val feeds = files.indices
          .map(i => gens(i).open(ctx.partitionId(), files(i).write)).toArray
        var ok = false
        try {
          while (it.hasNext) {
            val r = it.next()
            var i = 0
            while (i < feeds.length) { feeds(i)(r); i += 1 }
          }
          val s = files.map(_.commit())
          ok = true
          s
        } finally if (!ok) files.foreach(_.abort())
      })
    outs.indices.map(i =>
      written.map(_(i)).filter(_ != null).sortBy(_.name).toSeq)
  }

  /** Delete the staged parquet files in `dir` that no winning attempt
    * reported — before a caller publishes `dir` whole. */
  def dropLosers(dir: String, winners: Seq[FileSummary]): Unit = {
    val keep = winners.map(_.name).toSet
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !keep(n)).toList
      .foreach(n => deleteStaged(s"$dir/$n"))
    finally ls.close()
  }

  /** Delete one staged parquet file and its checksum sidecar. */
  def deleteStaged(absPath: String): Unit = {
    val p = Paths.get(absPath)
    Files.deleteIfExists(p)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    ()
  }
}
