package graft.catalog

import graft.sinks.{TableLog, WriteStats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.{expressions => cx}
import org.apache.spark.sql.connector.expressions.{
  Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns,
  SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite,
  DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graft.{
  ParquetRead, ParquetWrite, ParquetWriteFactory}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED row-level DELETE/UPDATE/MERGE through Spark's OWN
  * framework (`SupportsRowLevelOperations`) — the face a VANILLA
  * session (no GraftExtensions, no registered views) uses to mutate a
  * catalog table with plain SQL. Spark's analyzer rewrites the
  * command into a ReplaceData plan over this operation: the SCAN
  * half plans the candidate files (manifest-pruned from the pushed
  * condition, then narrowed at runtime to exactly the groups holding
  * matching rows — `SupportsRuntimeV2Filtering` on the `_file`
  * metadata column this operation requires), Spark itself computes
  * the surviving/updated rows, and the WRITE half lands them as new
  * data files and commits ONE delta manifest replacing the scanned
  * groups ([[TableLog.replaceFilesCommit]] — copy-on-write with
  * by-reference carry of every untouched file, the copy-on-write
  * `TableLog.delete` shape driven by Spark's planner instead of ours).
  *
  * The runtime group-filter subquery scans the ORIGINAL table
  * through a regular batch scan (NOT this builder), so its `_file`
  * values are absolute URIs where the candidate paths are
  * manifest-relative — both sides normalize via `lastTwo` before
  * comparing, and files added at a version past the operation's
  * group-filter snapshot are kept unconditionally
  * (`f.ver > op.groupFilterVersion` in filter(): the subquery never
  * saw them, e.g. the self-heal's rewrite outputs). Pending
  * positional sidecars compose (the raw readers filter their
  * positions); pending KEY sidecars self-heal (see below); and the
  * commit re-validates that every scanned group is still live —
  * a concurrent rewrite fails the statement instead of losing its
  * update. Schema-op tables scan through the same per-file physical
  * projection as the streaming source ([[PhysicalProjection]]). */
/** What both row-level modes share: the planned-group linkage between
  * the SCAN half and the WRITE half (each scan records what it
  * planned; the write commits against the unique planned set), and
  * pending-sidecar admission. Pending POSITIONAL (deletion-vector)
  * sidecars COMPOSE with both modes — the raw-file readers filter
  * their positions on the shared physical row index, so neither a
  * group rewrite nor a delta scan can resurrect or re-delete a
  * vectored row. Pending KEY sidecars SELF-HEAL: their anti-join
  * cohorts don't exist in the raw-file scan, so the operation runs
  * one `morMaintain(maxSidecars = 0)` (layout-only, byte-identical
  * rows) and re-pins the maintained snapshot — gated by
  * `spark.graft.rowLevel.maxAutoMaintainBytes` (default 1 GiB) on
  * the fenced-file rewrite weight, refusing with guidance past it.
  * The maintenance commit is DEFERRED to the operation's first
  * forcing point — the scan's `planInputPartitions` or the write's
  * commit path — so a plain EXPLAIN of the statement (whose physical
  * planning builds the scan but never plans partitions) stays
  * side-effect-free: analysis of a read-only plan must not write,
  * and a cancelled statement must not leave a commit behind. Past
  * the gate the refusal likewise fires at execution, not EXPLAIN.
  * The commit is a visible 'mor_materialize' in `history()`. */
abstract class GraftRlOpBase(private[catalog] val t: GraftTable,
    cmdLabel: String) extends RowLevelOperation {

  /** The manifest version the statement's OTHER scans see: Spark's
    * runtime group-filter subquery (and the condition scans of
    * UPDATE/MERGE) read the ORIGINAL pinned table, NOT this
    * operation's possibly self-healed snapshot — any file this
    * operation sees beyond this version is invisible to them, so
    * their `_file` output must never narrow it away. */
  private[catalog] val groupFilterVersion: Long = t.snapshot.version

  /** The snapshot this operation scans and commits against: the
    * table's pinned snapshot, or — when KEY sidecars were pending —
    * the re-pinned snapshot after the gated self-heal above. LAZY:
    * first forced at `planInputPartitions`/write time, never by
    * EXPLAIN (see the class scaladoc). */
  private[catalog] lazy val snap: TableLog.Snapshot = {
    val base = t.snapshot
    val healed =
      if (base.dels.forall(_.keyCol == TableLog.DvKeyCol)) base
      else {
        val spark = SparkSession.active
        val fencedBytes = base.files.filter(f =>
          base.dels.exists(d => TableLog.sidecarFences(base, f, d)))
          .map(_.bytes).sum
        val gate = spark.conf
          .getOption("spark.graft.rowLevel.maxAutoMaintainBytes")
          .map(_.toLong).getOrElse(1L << 30)
        require(fencedBytes <= gate,
          s"row-level $cmdLabel on ${t.name}: pending KEY merge-on-read " +
            "sidecars fence " + fencedBytes + " bytes of data files — " +
            s"above the auto-materialization gate ($gate); run " +
            "morMaintain/compact first, use the graft SQL DML face, or " +
            "raise spark.graft.rowLevel.maxAutoMaintainBytes")
        TableLog.morMaintain(spark, t.path, maxSidecars = 0)
        TableLog.snapshotOrFail(t.path)
      }
    require(healed.dels.forall(_.keyCol == TableLog.DvKeyCol),
      s"row-level $cmdLabel on ${t.name}: a concurrent writer " +
        "committed a KEY merge-on-read sidecar during planning — the " +
        "raw-file scan cannot apply its anti-join cohort; retry the " +
        "statement")
    healed
  }

  /** The pending deletion-vector sidecars the scan filters — also the
    * commit's evidence for MOR-aware removed-row accounting. */
  private[catalog] lazy val pendingDv: Seq[TableLog.DeleteEntry] =
    snap.dels.filter(_.keyCol == TableLog.DvKeyCol)

  /** Every row-level Scan built for this operation, each carrying the
    * file set IT planned (captured at `planInputPartitions`, after
    * pushdown pruning and runtime group filtering). The write half
    * consumes [[plannedFiles]] — the UNIQUE planned set — instead of
    * a shared last-write-wins field, so commit correctness no longer
    * depends on Spark's scan-planning ORDER: if an engine change ever
    * makes two scans of this operation plan different file sets, the
    * statement fails loudly instead of committing a removal of files
    * whose surviving rows were never rewritten. */
  private[catalog] val builtScans =
    new java.util.concurrent.CopyOnWriteArrayList[GraftRowLevelScan]()

  /** The file set the executed scan actually planned. Exactly one
    * scan having planned is the only shape Spark's row-level rewrite
    * produces (the runtime group-filter subquery scans the ORIGINAL
    * table, not this operation); agreement across several planned
    * scans (plan reuse) is accepted, disagreement or zero planned
    * scans refuses the commit. */
  private[catalog] def plannedFiles: Seq[TableLog.FileEntry] = {
    import scala.jdk.CollectionConverters._
    val planned = builtScans.asScala.flatMap(s => Option(s.plannedSet))
    require(planned.nonEmpty,
      s"row-level $cmdLabel on ${t.name}: the write half is " +
        "committing but no row-level scan planned input partitions — " +
        "refusing to guess the replaced file set")
    val sets = planned.map(_.map(_.path).toSet).distinct
    require(sets.size == 1,
      s"row-level $cmdLabel on ${t.name}: ${planned.size} row-level " +
        s"scans planned ${sets.size} DIFFERENT file sets — cannot " +
        "bind the write to a unique scanned set; retry the statement")
    planned.head
  }

  /** Pending deletion vectors as the loaded set the raw-file readers
    * filter; null = none (the common zero-overhead path). */
  private[catalog] lazy val scanDv: graft.functions.DvSet =
    if (pendingDv.isEmpty) null
    else TableLog.loadDv(SparkSession.active, t.path, pendingDv)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this)
}

final class GraftRowLevelOperation(t0: GraftTable,
    info: RowLevelOperationInfo)
    extends GraftRlOpBase(t0, info.command.toString) {

  override def command(): RowLevelOperation.Command = info.command()

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftReplaceDataWrite(
        GraftRowLevelOperation.this, t0, winfo)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))
}

/** DELTA-BASED row-level DELETE/UPDATE/MERGE (`SupportsDelta`) — the
  * `rowLevelMode = 'mor'` face of Spark's own framework. Where the
  * group-based operation rewrites every file holding a matched row
  * (ReplaceData), this one commits the matched rows' POSITIONS as a
  * deletion-vector sidecar and new images as ordinary data files
  * (WriteDelta) — zero data-file rewrites, write cost O(changed
  * rows), the vanilla-session twin of `TableLog.delete` /
  * `TableLog.update` on a `mor` table. The row id is `(_file, _pos)` — the scan's
  * physical address space, captured below any pending deletion-vector
  * filter so positions stay exact. Updates arrive as delete+insert
  * pairs (`representUpdateAsDeleteAndInsert`), so the writer needs
  * only the two primitives. Positions are collected DISTRIBUTED (each
  * task writes its own sidecar shard), so no driver-side bound like
  * the spec's `maxDvPositions` applies at the statement level; the
  * aggregate pending-vector weight is still bounded by
  * `morMaintain`'s policy face.
  *
  * Pending POSITIONAL sidecars compose (the scan filters them, the
  * new sidecar unions at read); pending KEY sidecars refuse — their
  * anti-join cohorts don't exist in the raw-file scan, and scanning
  * through them would re-delete rows a key sidecar already removed
  * (double-counted manifest rows). */
final class GraftDeltaOperation(t0: GraftTable,
    info: RowLevelOperationInfo)
    extends GraftRlOpBase(t0, s"delta ${info.command}")
    with SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  override def newWriteBuilder(
      winfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(GraftDeltaOperation.this, t0, winfo)
    }

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
}

final class GraftRowLevelScanBuilder(op: GraftRlOpBase)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private val t: GraftTable = op.t

  private var required: StructType = t.schema()
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Filters narrow the candidate FILE set through the manifest
    * stats ([[GraftRowLevelScan.keptFiles]]); rows are still filtered
    * by Spark (every filter returns as residual), so partial
    * translation is always sound. */
  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan = {
    // op.snap is NOT forced here: scan build runs during physical
    // planning (EXPLAIN included), and forcing it would run the
    // KEY-sidecar self-heal commit from a read-only plan. The pushed
    // filters are captured and the prune happens when the scan first
    // needs its file set (planInputPartitions / runtime filtering).
    val pushedNow = pushed.toSeq
    val scan = new GraftRowLevelScan(op, required, () =>
      GraftRowLevelScan.keptFiles(op.snap, pushedNow))
    op.builtScans.add(scan)
    scan
  }
}

final class GraftRowLevelScan(op: GraftRlOpBase,
    required: StructType, initial: () => Seq[TableLog.FileEntry])
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  private val t: GraftTable = op.t

  // lazily initialized from the thunk (first forcing point of the
  // operation's snapshot — execution, never EXPLAIN); runtime group
  // filtering narrows it in place under the same lock
  private var filesOpt: Option[Seq[TableLog.FileEntry]] = None
  private def files: Seq[TableLog.FileEntry] = synchronized {
    filesOpt.getOrElse { val f = initial(); filesOpt = Some(f); f }
  }
  private def narrow(f: Seq[TableLog.FileEntry] => Seq[TableLog
      .FileEntry]): Unit = synchronized { filesOpt = Some(f(files)) }

  /** The file set THIS scan planned — null until
    * `planInputPartitions` runs; re-planning (AQE) overwrites with
    * the then-current narrowed set, which is what actually executed. */
  @volatile private[catalog] var plannedSet: Seq[TableLog.FileEntry] = _

  private lazy val proj = new PhysicalProjection(t.name, t.schema(),
    required.fields, op.snap.schemaOps,
    opLabel = "row-level operation",
    staleHint = "retry the statement")

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Declared up front (this scan serves rows, never columnar
    * batches) so `supportsColumnar` — evaluated during PHYSICAL
    * PLANNING, i.e. by EXPLAIN — answers from the mode instead of
    * forcing `inputPartitions`, which is the operation's first
    * forcing point and must stay execution-only (the KEY-sidecar
    * self-heal commit hangs off it). */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  /** Columns runtime filters may arrive on. Both routes accept the
    * group filter's `_file`. The DELTA route (round-20) additionally
    * exposes every stats column: Spark 4.1's
    * `RowLevelOperationRuntimeGroupFiltering` matches ReplaceData
    * ONLY (bytecode-verified — the MOR route structurally never gets
    * a group filter from it), but `PartitionPruning` serves V2 scans
    * too (SPARK-35779), so a MERGE's target⨝source join key that
    * carries manifest stats gets a dynamic-pruning IN-set of the
    * SOURCE keys at runtime — file-level pruning of the target scan
    * by actual source content, the delta twin of the COW group
    * filter. The group-based scan does NOT expose them: the group
    * filter builds ONE multi-key subquery over ALL filterAttributes,
    * and a `(_file, k)` struct-IN is a shape [[filter]] would ignore
    * — strictly worse than the live single-key `_file` prune. Only
    * stat columns this scan reads qualify: a MERGE whose actions need
    * no target column but the key scans `(k, _file, _pos)`, and a
    * filter attribute outside the scan output fails analysis. */
  override def filterAttributes(): Array[NamedReference] = {
    val statCols = op match {
      case _: GraftDeltaOperation =>
        (t.snapshot.spec.longCols ++ t.snapshot.spec.strCols)
          .filter(required.fieldNames.contains)
      case _ => Nil
    }
    ("_file" +: statCols).map(Expressions.column).toArray
  }

  /** Runtime group filter: Spark hands back the DISTINCT `_file`
    * values of the rows matching the condition — collected by a
    * group-filter subquery that scans through the table's ORDINARY
    * read path, whose `_file` is `_metadata.file_path` (DETERMINISTIC
    * by design — `CleanupDynamicPruningFilters` strips the filter
    * otherwise; see `TableLog.attachMeta`): an ABSOLUTE
    * URI, while manifest entries are table-relative. Both sides
    * normalize to the last two path segments (`data/<set>/<part>` —
    * unique per table, the deletion-vector machinery's convention)
    * before comparing; a representation mismatch here would silently
    * narrow the group set to EMPTY and turn the whole DELETE into a
    * no-op (caught by the scale-shape spec). Unrecognized predicate
    * shapes are ignored (no narrowing — strictly more files
    * rewritten, never fewer). Files this operation sees BEYOND the
    * group filter's own snapshot (`op.groupFilterVersion` — the KEY-
    * sidecar self-heal re-pins past the original table pin) are kept
    * unconditionally: the subquery never saw their paths, so its
    * output cannot be evidence they hold no matching rows. */
  override def filter(predicates: Array[Predicate]): Unit = {
    predicates.foreach { p =>
      GraftRowLevelScan.inSetOn(p) match {
        case Some(("_file", raw)) =>
          val set = raw.map(v => TableLog.lastTwo(v.toString)).toSet
          narrow(_.filter(f => f.ver > op.groupFilterVersion ||
            set.contains(TableLog.lastTwo(f.path))))
        case Some((c, vals)) =>
          // a dynamic-pruning IN-set on a data column (the MERGE
          // source's join keys, PartitionPruning over the delta
          // route): manifest-stat prune through the same pruner as the
          // pushed filters — files without a stat on c are kept, so
          // partial coverage is always sound. No version guard: the
          // values come from the SOURCE side of the join, not a table
          // snapshot, so they bound matched rows in EVERY file.
          narrow(fs => GraftRowLevelScan.keptFiles(
            op.snap.copy(files = fs), Seq(sources.In(c, vals))))
        case None => ()
      }
    }
    // events carry the scan's table path (count first — paths may
    // contain ':'): the queue is process-global, so an assert draining
    // it around one statement must be able to drop events an unrelated
    // concurrent row-level scan interleaved (parallel suites, AQE
    // re-planning) instead of flaking on them
    RowLevelDiag.add(s"filter:${files.size}:${t.path}")
  }

  override def planInputPartitions(): Array[InputPartition] = {
    plannedSet = files
    RowLevelDiag.add(s"planned:${files.size}:${t.path}")
    files.map(f => GraftFilePartition(s"${t.path}/${f.path}",
      f.bytes, f.ver, f.path,
      proj.projFor(f.ver))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStreamReaderFactory(
      ParquetRead.factory(SparkSession.active, proj.expandedSchema),
      required.fields.map(_.dataType), proj.identity, op.scanDv)
}

/** Diagnostic tap for the V2 row-level read path (round-20: the
  * OptAudit dead-rule method extended to
  * `RowLevelOperationRuntimeGroupFiltering`): every
  * [[GraftRowLevelScan]] appends one event when Spark DELIVERS a
  * runtime group filter (`filter:<files-after-narrowing>`) and one
  * when it plans (`planned:<files>`), so a spec/audit can assert the
  * filter was actually RECEIVED and what it narrowed to — the
  * oracle-green-while-rule-dead failure mode checked structurally.
  * Drain-on-read keeps it bounded; two queue appends per scan is the
  * whole cost. Same pattern as `TableLog.morFilesPlanned`. */
private[graft] object RowLevelDiag {
  private val events =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private[catalog] def add(e: String): Unit = events.add(e)
  def drain(): Seq[String] = {
    val b = Seq.newBuilder[String]
    var e = events.poll()
    while (e != null) { b += e; e = events.poll() }
    b.result()
  }
}

object GraftRowLevelScan {

  /** The files of `s` that can hold a row matching every one of the
    * source `filters`. The filters translate to ONE resolved Catalyst
    * predicate over the snapshot's recorded schema (plus the
    * `_version` metadata column unless a data column claims the name),
    * which the declarative face's tree pruner evaluates
    * ([[graft.plans.PruneLogScan.keptFilesOf]]: long ranges, IN-lists,
    * equality by range and bloom, `_version`, OR, z-boxes). The
    * translation only ever widens: an untranslatable leaf prunes
    * nothing, `And` keeps whichever side translates, and `Or` prunes
    * only when both sides do. */
  private[catalog] def keptFiles(s: TableLog.Snapshot,
      filters: Seq[sources.Filter]): Seq[TableLog.FileEntry] = {
    val attrs = (StructField("_version", LongType) +: s.schema.struct.fields)
      .map(f => f.name -> cx.AttributeReference(f.name, f.dataType)())
      .toMap
    def lit(a: cx.AttributeReference, v: Any): Option[cx.Literal] =
      scala.util.Try(cx.Literal(v)).toOption.filter(_.dataType == a.dataType)
    def cmp(c: String, v: Any)(
        op: (cx.Expression, cx.Expression) => cx.Expression) =
      for (a <- attrs.get(c); l <- lit(a, v)) yield op(a, l)
    def tr(f: sources.Filter): Option[cx.Expression] = f match {
      case sources.EqualTo(c, v) => cmp(c, v)(cx.EqualTo(_, _))
      case sources.GreaterThan(c, v) => cmp(c, v)(cx.GreaterThan(_, _))
      case sources.GreaterThanOrEqual(c, v) =>
        cmp(c, v)(cx.GreaterThanOrEqual(_, _))
      case sources.LessThan(c, v) => cmp(c, v)(cx.LessThan(_, _))
      case sources.LessThanOrEqual(c, v) =>
        cmp(c, v)(cx.LessThanOrEqual(_, _))
      case sources.In(c, vs) if vs.nonEmpty =>
        attrs.get(c).flatMap { a =>
          val ls = vs.toSeq.flatMap(lit(a, _))
          if (ls.size == vs.length) Some(cx.In(a, ls)) else None
        }
      case sources.And(l, r) => (tr(l), tr(r)) match {
        case (Some(x), Some(y)) => Some(cx.And(x, y))
        case (x, y) => x.orElse(y)
      }
      case sources.Or(l, r) => for (x <- tr(l); y <- tr(r)) yield cx.Or(x, y)
      case _ => None
    }
    filters.flatMap(tr).reduceOption(cx.And(_, _))
      .fold(s.files)(graft.plans.PruneLogScan.keptFilesOf(s, _))
  }

  /** Parse a runtime `IN` predicate on ONE top-level column into
    * `(column, values)` — the shape both runtime-filter producers
    * emit (the group filter on `_file`, join DPP on a data column).
    * UTF8String literals convert to String so [[keptFiles]] sees the
    * JVM values a source filter carries. Any other shape → None (ignored:
    * strictly more files scanned, never fewer). */
  private[catalog] def inSetOn(p: Predicate): Option[(String, Array[Any])] = {
    if (p.name() != "IN") return None
    val children = p.children()
    if (children.isEmpty) return None
    val colName = children.head match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        r.fieldNames().head
      case _ => return None
    }
    val vals = children.tail.flatMap {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Option(l.value).map {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case v => v
        }
      case _ => None
    }
    if (vals.length == children.length - 1) Some((colName, vals.toArray))
    else None
  }
}

/** The write half: executor DataWriters land the replacement groups
  * as parquet files under `data/rl-<uuid>/` (lazy-opened — empty
  * tasks leave no file), measuring their stats and CHECK audits as
  * they write, and the driver commit swaps them in for the scanned
  * groups via ONE manifest. Abort deletes whatever was staged;
  * nothing unmanifested is ever visible. */
final class GraftReplaceDataWrite(op: GraftRowLevelOperation,
    t: GraftTable, info: LogicalWriteInfo) extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private val setId =
      java.util.UUID.randomUUID().toString.take(8)
    private def command =
      op.command().toString.toLowerCase(java.util.Locale.ROOT)
    // set at execution (createBatchWriterFactory), never at planning:
    // op.snap would run the KEY-sidecar self-heal from EXPLAIN
    @volatile private var stats: WriteStats.Spec = WriteStats.Spec()

    override def createBatchWriterFactory(
        pinfo: PhysicalWriteInfo): DataWriterFactory = {
      val spark = SparkSession.active
      // UPDATE/MERGE rewrites carry NEW row values — their CHECK
      // constraints are audited by the writer tasks (a DELETE's output
      // is survivors a prior commit already certified — skipped); a
      // violation throws from commit() into Spark's abort()
      stats = op.snap.spec.writeStats(info.schema(), audits =
        if (op.command() != RowLevelOperation.Command.DELETE)
          TableLog.checkAudits(t.path, op.snap.checks,
            s"row-level $command")
        else Nil)
      new GraftBatchWriterFactory(t.path, s"data/rl-$setId",
        ParquetWrite.factory(spark, info.schema()),
        stats.bind(spark, info.schema()))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      TableLog.replaceFilesCommit(SparkSession.active, t.path, command,
        op.plannedFiles.map(_.path), GraftFileMessage.files(messages),
        stats, op.snap.version, op.pendingDv)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftFileMessage.files(messages).foreach(f =>
        WriteStats.deleteStaged(s"${t.path}/${f.name}"))
  }
}

/** The delta write half: executor [[DeltaWriter]]s land DELETE row
  * ids as per-task deletion-vector sidecar shards and INSERT rows as
  * per-task data files (updates arrive pre-split), each with its
  * write-time stats and CHECK audits measured as it is written — no
  * second pass over either; the driver commits ONE manifest carrying
  * the sidecars as `DeleteEntry`s and the new images by reference
  * ([[TableLog.writeDeltaCommit]]). Abort deletes whatever was
  * staged. */
final class GraftDeltaWrite(op: GraftDeltaOperation, t: GraftTable,
    info: LogicalWriteInfo) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val setId =
      java.util.UUID.randomUUID().toString.take(8)
    // def, not val: toBatch may be called during planning, and
    // forcing op.snap there would run the self-heal from EXPLAIN
    private def planVersion = op.snap.version
    private def command =
      op.command().toString.toLowerCase(java.util.Locale.ROOT)
    @volatile private var stats: WriteStats.Spec = WriteStats.Spec()

    override def createBatchWriterFactory(
        pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
      val spark = SparkSession.active
      // delta UPDATE/MERGE lands new images as data files — the writer
      // tasks audit CHECK constraints over exactly those; a violation
      // throws from commit() into Spark's abort(), which deletes the
      // staging. An operation that only deletes writes no data row and
      // gets an empty row schema.
      stats =
        if (info.schema().isEmpty) WriteStats.Spec()
        else op.snap.spec.writeStats(info.schema(), audits =
          TableLog.checkAudits(t.path, op.snap.checks, s"delta $command"))
      new GraftDeltaWriterFactory(t.path, s"data/rld-$setId",
        ParquetWrite.factory(spark, info.schema()),
        stats.bind(spark, info.schema()),
        ParquetWrite.factory(spark, GraftDeltaWrite.dvSchema),
        GraftDeltaWrite.dvStats.bind(spark, GraftDeltaWrite.dvSchema))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.toSeq.collect { case m: GraftDeltaMessage => m }
      val dvs = ms.flatMap(m => Option(m.dv))
      TableLog.writeDeltaCommit(SparkSession.active, t.path,
        s"write_delta_$command", planVersion,
        op.plannedFiles.map(_.path),
        dvs.map(d => GraftDeltaWrite.dvStats.entry(d.name, d)),
        dvs.map(_.rows).sum, ms.flatMap(m => Option(m.data)), stats)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.foreach {
        case m: GraftDeltaMessage =>
          Seq(m.data, m.dv).filter(_ != null).foreach(f =>
            WriteStats.deleteStaged(s"${t.path}/${f.name}"))
        case _ => ()
      }
  }
}

object GraftDeltaWrite {
  /** The deletion-vector sidecar schema — identical to the one
    * `TableLog.delete` writes on a `mor` table, so read-side fencing,
    * folding, and maintenance treat both indistinguishably. */
  private[catalog] val dvSchema = StructType(Seq(
    StructField(TableLog.DvFileField,
      org.apache.spark.sql.types.StringType, nullable = false),
    StructField(TableLog.DvPosField,
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The sidecar's stats — the same position range and file-key range
    * `TableLog.delete` records, which file-identity fencing reads. */
  private[catalog] val dvStats = TableLog.dvSpec.writeStats(dvSchema)
}

/** One delta task's staged output: the data-file shard (inserts) and
  * the deletion-vector shard (deletes), each null when absent. The
  * commit builds its `DeleteEntry` from the vector shard's measured
  * position and file-key ranges — file-identity fencing needs them,
  * and a second read of the sidecar just to learn them would double
  * the write's I/O. */
final case class GraftDeltaMessage(data: WriteStats.FileSummary,
    dv: WriteStats.FileSummary) extends WriterCommitMessage

final class GraftDeltaWriterFactory(tablePath: String, setDir: String,
    dataPw: ParquetWriteFactory, dataStats: WriteStats.Bound,
    dvPw: ParquetWriteFactory, dvStats: WriteStats.Bound)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val attempt = (taskId & 0x7fffffffL).toInt
      private def staged(pw: ParquetWriteFactory, stats: WriteStats.Bound,
          rel: String) = new WriteStats.StagedFile(pw, stats,
        s"$tablePath/$rel", rel, partitionId, attempt)
      private val data = staged(dataPw, dataStats,
        f"$setDir/p$partitionId%05d-t$taskId.parquet")
      private val dv = staged(dvPw, dvStats,
        f"$setDir/dv-p$partitionId%05d-t$taskId.parquet")
      private val dvRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)

      /** `id` = the rowId projection in `rowId()` order:
        * (_file, _pos). The stored key is the file's last two path
        * segments — the deletion-vector convention (`DvSet` keys,
        * `sidecarFences` stat fencing). */
      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        dvRow.update(0, org.apache.spark.unsafe.types.UTF8String
          .fromString(TableLog.lastTwo(id.getUTF8String(0).toString)))
        dvRow.update(1, id.getLong(1))
        dv.write(dvRow)
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new IllegalStateException(
          "graft delta write: updates are represented as " +
            "delete+insert (representUpdateAsDeleteAndInsert)")

      override def insert(row: InternalRow): Unit = data.write(row)

      override def commit(): WriterCommitMessage =
        GraftDeltaMessage(data.commit(), dv.commit())

      override def abort(): Unit =
        try data.abort() finally dv.abort()

      override def close(): Unit = ()
    }
}

/** Batch twin of the streaming writer factory: one lazily-opened
  * parquet file per task under the write's staging set. */
final class GraftBatchWriterFactory(tablePath: String, setDir: String,
    pw: ParquetWriteFactory, stats: WriteStats.Bound)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val rel = f"$setDir/p$partitionId%05d-t$taskId.parquet"
    new GraftFileWriter(new WriteStats.StagedFile(pw, stats,
      s"$tablePath/$rel", rel, partitionId, (taskId & 0x7fffffffL).toInt))
  }
}
