package graft.catalog

import graft.sinks.TableLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  Expression, GenericInternalRow, JoinedRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, ReadMaxFiles,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.{ParquetRead, ParquetReadFactory}
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Offset = manifest version: the commit log IS the stream's
  * write-ahead log, so offsets are exact, totally ordered, and free. */
final case class GraftStreamOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The NATIVE streaming READ: `spark.readStream.table("graft.ns.t")`.
  *
  * The symmetric half of [[GraftStreamingWrite]]: offsets are manifest
  * versions, and a micro-batch `(start, end]` is EXACTLY the data
  * files the commits in that window added — the same per-version
  * delta `TableLog.readChanges` computes, planned here as one
  * `InputPartition` per file with zero snapshot folds and zero
  * filesystem listings (lengths ride in the manifest). Admission
  * control via `maxFilesPerTrigger`; `startingVersion` is
  * `earliest` (default — deliver the whole table, then the tail),
  * `latest` (new commits only), or a version number (deliver FROM
  * that version inclusive).
  *
  * Semantics are the append-only CHANGE LOG, like every
  * commit-log-table streaming source: `create`/`append`/`clone`
  * commits deliver their added files raw (a MOR sidecar can only
  * fence files OLDER than itself, so files are unfenced at their own
  * commit — raw reads are exact as-of delivery); layout/metadata
  * commits (`compact`, `zorder`, `mor_materialize`, `mor_fold`,
  * `schema`, checks, `noop`) are skipped — their adds are rewrites of
  * rows already delivered; row-CHANGING commits (delete/update/merge/
  * overwrite/restore in any face) refuse with guidance unless
  * `skipChangeCommits=true` (then they are skipped whole, the Delta
  *-style contract), or the consumer reads the typed CDC feed instead.
  *
  * Schema evolution: rename/drop ops are PURE METADATA here, so a
  * file may store a streamed logical column under an older physical
  * name, or carry a dead incarnation that must read as null. The
  * reader therefore decodes an EXPANDED physical schema — the
  * logical fields plus every historical physical alias the op log can
  * produce, plus one typed void sentinel per field where a resolution
  * can be "absent" — and each partition ships a per-file projection
  * from expanded ordinals to the stream's output (identity, and
  * zero-copy, whenever the file's physical names ARE the logical
  * ones — every file written since the last rename). Ops committed
  * AFTER stream start refuse at planning with restart guidance (the
  * pinned stream schema cannot represent them — the file-source /
  * Delta contract).
  *
  * Exactly-once: offsets live in the CONSUMER's checkpoint; restarts
  * re-plan from the last committed offset, and the file delta for a
  * version window is immutable, so replays are byte-identical. */
final class GraftMicroBatchStream(path: String, tableName: String,
    dataSchema: StructType, readSchema: StructType,
    options: CaseInsensitiveStringMap) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** For the metadata-column guard in `ResolveGraftCatalogReads`:
    * Spark never prunes metadata columns into a streaming scan
    * (`V2ScanRelationPushDown` matches batch relations only), so a
    * `readStream.table(…).select("_pos")` plan binds ordinals the
    * stream's rows don't carry — the rule refuses it per batch with
    * guidance instead of letting codegen misread. */
  private[graft] def tableNameForErrors: String = tableName
  private[graft] def dataFieldNames: Set[String] =
    dataSchema.fieldNames.toSet

  /** `Trigger.AvailableNow` bound: the version frontier captured at
    * query start — the drain processes up to here (respecting
    * `maxFilesPerTrigger` pacing) and stops, commits after the
    * capture wait for the next run. */
  @volatile private var availableNowBound: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = TableLog.latestVersion(path)

  private val maxFiles: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt)
  private val maxBytes: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map(_.trim.toLong)
  private val skipChange: Boolean =
    options.getBoolean("skipChangeCommits", false)

  // ── schema plumbing (driver, once per stream) ──

  // the op log pinned at stream start: resolution for any file version
  // in the stream is decided by the ops AFTER it, all known here;
  // later-committed ops refuse at planning (checked per batch)
  private val pinnedOps = TableLog.snapshot(path).map(_.schemaOps)
    .getOrElse(Nil)
  private val pinnedOpsKey = pinnedOps.toSet

  private val proj = new PhysicalProjection(tableName, dataSchema,
    readSchema.fields, pinnedOps,
    opLabel = "streaming read",
    staleHint = "a rename/drop was committed mid-stream; restart the " +
      "stream to pin the new schema")
  private def fields = readSchema.fields
  private def expandedSchema = proj.expandedSchema
  private def projFor(fileVer: Long): Array[Int] = proj.projFor(fileVer)
  private def identityProj: Array[Int] =
    if (proj.identity) fields.indices.toArray else null

  // ── offsets ──

  /** `startingTag` is EXCLUSIVE — the tag names a snapshot the
    * consumer already holds (seeded via `readTag`), so the stream
    * delivers what came AFTER it; `startingVersion` stays INCLUSIVE
    * (deliver FROM that version); `startingTimestamp` INCLUSIVE from
    * the first version committed at or after the instant (epoch
    * millis). Mutually exclusive options. */
  private def startingVersion: Long = {
    val names = Seq("startingVersion", "startingTag",
      "startingTimestamp").filter(options.get(_) != null)
    require(names.size <= 1, s"streaming read of $tableName: " +
      s"${names.mkString(" and ")} are mutually exclusive")
    val tag = Option(options.get("startingTag")).map(_.trim)
    val ts = Option(options.get("startingTimestamp")).map(_.trim.toLong)
    tag.map(TableLog.resolveTag(path, _))
      .orElse(ts.map(TableLog.versionAtOrAfter(path, _) - 1))
      .getOrElse(
        Option(options.get("startingVersion")).map(_.trim) match {
          case None | Some("earliest") => 0L
          case Some("latest") => TableLog.latestVersion(path)
          case Some(v) => math.max(v.toLong - 1, 0L) // deliver FROM v
        })
  }

  override def initialOffset(): Offset = GraftStreamOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = {
    val ls = maxFiles.map(n => ReadLimit.maxFiles(n)).toSeq ++
      maxBytes.map(b => ReadLimit.maxBytes(b)).toSeq
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Files a commit contributes to the stream (empty for skipped
    * kinds); refuses row-changing commits unless opted out. */
  private def streamedFiles(d: TableLog.CommitDelta)
      : Seq[TableLog.FileEntry] =
    if (TableLog.streamDeliverActions(d.action)) d.added
    else if (TableLog.streamLayoutActions(d.action)) Nil
    else if (skipChange) Nil
    else sys.error(s"streaming read of $tableName: version " +
      s"${d.version} is a row-changing '${d.action}' commit, which " +
      "an append-only stream cannot represent — set " +
      "option(\"skipChangeCommits\", \"true\") to skip such commits, " +
      "or read the typed CDC feed: " +
      "option(\"readChangeFeed\", \"true\") on this table (sessions " +
      s"built with GraftExtensions), or the ${tableName}__changes face")

  override def latestOffset(): Offset =
    latestOffset(GraftStreamOffset(startingVersion),
      getDefaultReadLimit)

  /** Flatten a (possibly composite) limit into file/byte caps. */
  private def capsOf(limit: ReadLimit): (Int, Long) = limit match {
    case m: ReadMaxFiles => (m.maxFiles(), Long.MaxValue)
    case m: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
      (Int.MaxValue, m.maxBytes())
    case c: org.apache.spark.sql.connector.read.streaming
        .CompositeReadLimit =>
      c.getReadLimits.map(capsOf).foldLeft((Int.MaxValue, Long.MaxValue)) {
        case ((f1, b1), (f2, b2)) => (math.min(f1, f2), math.min(b1, b2))
      }
    case _ => (Int.MaxValue, Long.MaxValue)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftStreamOffset].version
    val head = TableLog.latestVersion(path)
    val latest =
      if (availableNowBound >= 0) math.min(head, availableNowBound)
      else head
    if (latest <= from) return GraftStreamOffset(from)
    val (fileCap, byteCap) = capsOf(limit)
    var v = from
    var n = 0
    var bytes = 0L
    TableLog.commitDeltas(path, from + 1, latest).foreach { d =>
      if (v == d.version - 1) { // still contiguous (not capped out)
        val fs = streamedFiles(d)
        val add = fs.size
        val addBytes = fs.map(_.bytes).sum
        // always admit at least one version so the stream progresses
        if (n == 0 || (n + add <= fileCap && bytes + addBytes <= byteCap)) {
          v = d.version; n += add; bytes += addBytes
        }
      }
    }
    GraftStreamOffset(v)
  }

  // ── planning + reading ──

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[GraftStreamOffset].version,
      end.asInstanceOf[GraftStreamOffset].version)
    if (e <= s) return Array.empty
    // a rename/drop committed after stream start cannot be projected
    // into the pinned schema — fail the batch with restart guidance
    TableLog.snapshot(path).map(_.schemaOps).getOrElse(Nil)
      .filterNot(pinnedOpsKey).foreach(op => sys.error(
        s"streaming read of $tableName: schema op '${op.kind} " +
          s"${op.col}' committed at version ${op.ver} after stream " +
          "start — restart the stream to pin the new schema"))
    TableLog.commitDeltas(path, s + 1, e).flatMap { d =>
      val fs = streamedFiles(d)
      if (fs.isEmpty) Nil
      else {
        val proj = projFor(d.version)
        fs.map(f => GraftFilePartition(
          s"$path/${f.path}", f.bytes, d.version,
          f.path, proj))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val identity = identityProj
    new GraftStreamReaderFactory(
      ParquetRead.factory(SparkSession.active, expandedSchema),
      fields.map(_.dataType), identity != null)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One data file of one commit; `proj` maps output ordinals to
  * expanded-schema ordinals (-1 = version, -2 = file path). */
final case class GraftFilePartition(absPath: String, length: Long,
    version: Long, relPath: String, proj: Array[Int])
    extends InputPartition

/** Per-file physical-name projection for RAW file scans (the native
  * streaming source and the row-level-operation scan): rename/drop
  * schema ops are pure metadata in this engine, so a file may store a
  * logical column under an older physical name, or carry a dead
  * incarnation that must read as null. The reader decodes an EXPANDED
  * physical schema — the logical fields plus every historical alias
  * the op log can produce (resolution outcomes only change at op
  * versions, so probing "ops after v" at v ∈ {0} ∪ op versions is
  * exhaustive), plus one typed void sentinel per type where a
  * resolution can be "absent" — and each file gets an ordinal map
  * from expanded to output (identity, and zero-copy, whenever the
  * file's physical names ARE the logical ones). */
private[catalog] final class PhysicalProjection(tableName: String,
    dataSchema: StructType, val fields: Array[StructField],
    ops: Seq[TableLog.SchemaOp], opLabel: String, staleHint: String) {

  private val dataNames = dataSchema.fieldNames.toSet

  private def variantsOf(logical: String): Seq[Option[String]] = {
    val fences = 0L +: ops.map(_.ver)
    fences.distinct.map(v =>
      TableLog.resolvePhysical(logical, ops.filter(_.ver > v)))
      .distinct
  }

  val (expandedSchema: StructType,
      expandedIdx: Map[(Int, Option[String]), Int]) = {
    val fieldsOut = scala.collection.mutable.ArrayBuffer[StructField]()
    val idx = scala.collection.mutable.Map[(Int, Option[String]), Int]()
    val byName = scala.collection.mutable.Map[String, (Int, DataType)]()
    var voidByType = Map[DataType, Int]()
    fields.zipWithIndex.foreach { case (f, i) =>
      if (dataNames.contains(f.name)) {
        variantsOf(f.name).foreach {
          case Some(p) =>
            byName.get(p) match {
              case Some((j, dt)) =>
                require(dt == f.dataType, s"$opLabel of " +
                  s"$tableName: physical column '$p' served two " +
                  s"logical fields with different types " +
                  s"(${dt.simpleString} vs ${f.dataType.simpleString})" +
                  " across the rename history — compact() to rewrite " +
                  "files to current names first")
                idx((i, Some(p))) = j
              case None =>
                val j = fieldsOut.length
                fieldsOut += StructField(p, f.dataType, nullable = true)
                byName(p) = (j, f.dataType)
                idx((i, Some(p))) = j
            }
          case None =>
            val j = voidByType.getOrElse(f.dataType, {
              val j = fieldsOut.length
              fieldsOut += StructField(
                s"__graft_void_${voidByType.size}__", f.dataType,
                nullable = true)
              voidByType += f.dataType -> j
              j
            })
            idx((i, None)) = j
        }
      }
    }
    (StructType(fieldsOut.toSeq), idx.toMap)
  }

  /** Output ordinal i ← expanded ordinal; -1 = commit version,
    * -2 = file path, -3 = row index within the file (the raw reader
    * serves whole files in order, so a per-partition counter IS
    * `_metadata.row_index`). */
  def projFor(fileVer: Long): Array[Int] =
    fields.zipWithIndex.map { case (f, i) =>
      if (!dataNames.contains(f.name)) {
        if (f.name == "_version") -1
        else if (f.name == "_file") -2
        else if (f.name == "_pos") -3
        else sys.error(s"$opLabel of $tableName: unsupported " +
          s"metadata column '${f.name}'")
      } else {
        val phys = TableLog.resolvePhysical(f.name,
          ops.filter(_.ver > fileVer))
        expandedIdx.getOrElse((i, phys), sys.error(
          s"$opLabel of $tableName: column '${f.name}' resolved to " +
            s"an alias unknown when this operation planned — " +
            staleHint))
      }
    }

  val identity: Boolean =
    fields.length == expandedSchema.length &&
      fields.indices.forall(i => dataNames.contains(fields(i).name) &&
        expandedSchema(i).name == fields(i).name)
}

final class GraftStreamReaderFactory(pr: ParquetReadFactory,
    outTypes: Array[DataType], identity: Boolean,
    dv: graft.functions.DvSet = null)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val base = pr.open(p.absPath, p.length)
    val it =
      if (identity && dv == null) base
      else {
        val dvKey = if (dv == null) null
          else graft.sinks.TableLog.lastTwo(p.relPath)
        var rowIdx = -1L
        // filter BEFORE projecting, on the shared physical index:
        // `rowIdx` advances for every raw row (positions stay the
        // deletion-vector address space), and the projection reads the
        // accepted row's index — filter and map run in lockstep on a
        // strictly sequential iterator, so a pending positional MOR
        // delete drops exactly its vectored rows with survivors'
        // `_pos` untouched
        val filtered = base.filter { _ =>
          rowIdx += 1
          dv == null || !dv.containsKey(dvKey, rowIdx)
        }
        if (identity) filtered
        // ^ vector-filtered identity scan (the common vanilla-session
        //   row-level shape): survivors pass through as the same
        //   reused views the plain identity path serves — zero copies
        else {
          // codegen'd UnsafeProjection into ONE reused row buffer —
          // no per-row allocation or boxing (the old path paid a
          // row.copy() + a boxed GenericInternalRow per row). Reuse
          // is the source contract: the identity path has always
          // returned the vectorized reader's mutable views, so every
          // consumer copies when it buffers. The per-row metadata
          // (the shared physical index) rides a 1-field row joined
          // LEFT of the data row; constants (version, file) fold as
          // literals into the generated code.
          val exprs: Seq[Expression] =
            p.proj.toSeq.zipWithIndex.map { case (src, i) =>
              src match {
                case -1 => Literal(p.version, LongType)
                case -2 =>
                  Literal(UTF8String.fromString(p.relPath), StringType)
                case -3 => BoundReference(0, LongType, nullable = false)
                case j => BoundReference(1 + j, outTypes(i),
                  nullable = true)
              }
            }
          val project = UnsafeProjection.create(exprs)
          val meta = new GenericInternalRow(1)
          val joined = new JoinedRow
          filtered.map { row =>
            meta.setLong(0, rowIdx)
            project(joined(meta, row)): InternalRow
          }
        }
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
