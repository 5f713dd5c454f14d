package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import graft.sinks.TableLog
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{
  NamespaceAlreadyExistsException, NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write,
  Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource-V2 `TableCatalog` over a warehouse directory of
  * commit-log tables — the catalog-native face of the table format:
  *
  * {{{
  *   spark.sql.catalog.graft          = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /lake/warehouse
  *
  *   CREATE NAMESPACE graft.bronze;
  *   CREATE TABLE graft.bronze.events (k BIGINT, v BIGINT)
  *     TBLPROPERTIES ('statsCols' = 'k');
  *   INSERT INTO graft.bronze.events SELECT id, id % 7 FROM range(10);
  *   SELECT * FROM graft.bronze.events VERSION AS OF 2;
  * }}}
  *
  * Names resolve through Spark's own `CatalogManager` — no temp-view
  * registration — and every verb lands on the same `TableLog` commit
  * primitives as the Scala and registered-view faces:
  *
  *   - READS: `loadTable` pins the snapshot; the optimizer rule
  *     `plans.ResolveGraftCatalogReads` swaps the V2 relation for the
  *     proven [[graft.plans.GraftLogRelation]] leaf, so catalog reads
  *     get the full manifest machinery — stat/bloom/z-box file
  *     pruning, metadata-only aggregates, dynamic join pruning, MOR
  *     sidecars — identically to `TableLog.scan`. (Without the rule a
  *     correct-but-unpruned `V1Scan` fallback reads the same pinned
  *     snapshot.)
  *   - TIME TRAVEL: `VERSION AS OF n` and `TIMESTAMP AS OF ts` resolve
  *     through Spark's native `loadTable(ident, version)` overloads —
  *     a version number, or a TAG name created via `CALL tag(...)` /
  *     `TableLog.tagVersion`.
  *   - WRITES: `INSERT INTO` appends one manifest commit;
  *     `INSERT OVERWRITE` is the whole-table replace through
  *     `TableLog.rewrite` (history keeps the prior version readable).
  *     The table's WRITE SPEC is declared once as TABLE PROPERTIES
  *     (`statsCols`/`strStatsCols`/`bloomStatsCols`/`rowLevelMode`/
  *     `maxDvPositions`, the same names as the `USING graft` DDL
  *     OPTIONS): CREATE records it in the table's version-1 manifest,
  *     `ALTER TABLE … SET/UNSET TBLPROPERTIES` on those keys commits
  *     ONE `TableLog.setWriteSpec`, every write measures what the
  *     snapshot's spec declares, and its `rowLevelMode` picks Spark's
  *     row-level plan: `cow` → group-based ReplaceData, `mor` →
  *     delta-based WriteDelta. Other (user) properties live in an
  *     unversioned `_catalog.properties` sidecar.
  *   - DDL: CREATE/DROP/RENAME TABLE, namespaces. Tables are MANAGED:
  *     they live under the warehouse and DROP deletes their bytes
  *     (the registered-view face keeps its EXTERNAL semantics for
  *     user-supplied paths).
  *
  * Scale: every catalog call is O(manifest) driver metadata — list a
  * directory, read one manifest, read one properties sidecar. Nothing
  * here scans data; reads and writes inherit the log's pruning and
  * commit costs unchanged.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  private var catName: String = _
  private var warehouse: Path = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"catalog '$name': spark.sql.catalog.$name.warehouse is required " +
        "— the directory the catalog's tables live under")
    warehouse = Paths.get(wh)
  }

  override def name(): String = catName

  // ── identifier ⇄ filesystem layout ──────────────────────────────

  /** One directory level per namespace segment, then the table dir.
    * Segments are validated so an identifier can never escape the
    * warehouse (`..`, separators) or collide with the log's own
    * entries (leading `_`/`.`). */
  private def checkSegment(seg: String): String = {
    require(seg.nonEmpty && !seg.contains("/") && !seg.contains("\\") &&
      seg != "." && seg != ".." && !seg.startsWith("_") &&
      !seg.startsWith("."),
      s"catalog '$catName': invalid name segment '$seg' — segments " +
        "must be non-empty, contain no path separators, and not start " +
        "with '_' or '.'")
    seg
  }

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, s) => p.resolve(checkSegment(s)))

  /** The table's path as a STRING — the `TableLog` face's table id. */
  private[graft] def tablePath(ident: Identifier): String =
    nsPath(ident.namespace).resolve(checkSegment(ident.name)).toString

  private def isTableDir(p: Path): Boolean =
    Files.isDirectory(p.resolve("_log"))

  private def identName(ident: Identifier): String =
    (Seq(catName) ++ ident.namespace :+ ident.name).mkString(".")

  // ── TableCatalog ────────────────────────────────────────────────

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(Paths.get(tablePath(ident)))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      Array(catName) ++ namespace)
    listDir(dir).filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .sortBy(_.name())
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    TableLog.snapshot(path) match {
      case Some(snap) =>
        GraftTable(path, snap, GraftCatalog.readProps(path),
          identName(ident))
      case None =>
        // the CHANGES face: `graft.ns.t__changes` reads/streams the
        // published change feed of feed-enabled table `t`
        val n = ident.name()
        if (n.endsWith("__changes")) {
          val base = Identifier.of(ident.namespace(),
            n.stripSuffix("__changes"))
          val basePath = tablePath(base)
          if (TableLog.snapshot(basePath).isDefined &&
              TableLog.feedEnabled(basePath))
            return GraftChangesTable(basePath, identName(ident))
          if (TableLog.snapshot(basePath).isDefined)
            sys.error(s"${identName(ident)}: table exists but has no " +
              "change feed — enableFeed/enableCdcFeed first")
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <v>` — a version number, or a tag name created via
    * `TableLog.tagVersion` / `CALL tag(...)`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!isTableDir(Paths.get(path))) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(
      TableLog.tags(path).getOrElse(version, sys.error(
        s"${identName(ident)}: VERSION AS OF '$version' is neither a " +
          "version number nor a tag — see table_tags()")))
    val snap = TableLog.snapshotAt(path, v).getOrElse(sys.error(
      s"${identName(ident)}: version $v not found (earliest retained " +
        "may have been vacuumed)"))
    GraftTable(path, snap, GraftCatalog.readProps(path), identName(ident))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePath(ident)
    if (!isTableDir(Paths.get(path))) throw new NoSuchTableException(ident)
    val v = TableLog.versionAsOf(path, Math.floorDiv(timestampMicros, 1000L))
    val snap = TableLog.snapshotAt(path, v).getOrElse(sys.error(
      s"${identName(ident)}: version $v unresolvable"))
    GraftTable(path, snap, GraftCatalog.readProps(path), identName(ident))
  }

  /** The parser accepts constraint syntax only when the catalog
    * claims it; graft enforces CHECK constraints on every write face,
    * so the claim is honest (informational kinds refuse — see
    * [[GraftCatalog.addConstraintChange]]). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** CREATE TABLE with inline `CONSTRAINT … CHECK (…)` clauses: the
    * table creates first (one commit), then each constraint commits
    * through the SAME `addCheckConstraint` face ALTER uses — the
    * table is empty, so existing-data validation is the no-op it
    * should be, but an unresolvable predicate still refuses at
    * CREATE (and the half-created table is removed). */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = createTable(ident, info.schema, info.partitions,
      info.properties)
    if (info.constraints != null && info.constraints.nonEmpty) {
      try info.constraints.foreach(c => GraftCatalog.addConstraintChange(
        SparkSession.active, tablePath(ident), identName(ident), c))
      catch { case e: Throwable => dropTable(ident); throw e }
      loadTable(ident)
    } else t
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (props, spec) = validate(ident, schema, partitions, properties)
    val path = tablePath(ident)
    if (isTableDir(Paths.get(path)))
      throw new TableAlreadyExistsException(ident)
    val spark = SparkSession.active
    Files.createDirectories(Paths.get(path))
    GraftCatalog.writeProps(path, props)
    // version 1 carries the schema, the write spec and zero files — the
    // same manifest an empty create commits, so every later face (scan,
    // DML, detail) sees an ordinary log table
    TableLog.create(spark, path,
      spark.createDataFrame(new util.ArrayList[Row](), schema),
      statsCols = spec.longCols, strStatsCols = spec.strCols,
      bloomStatsCols = spec.bloomCols, rowLevelMode = spec.rowLevelMode,
      maxDvPositions = spec.maxDvPositions)
    loadTable(ident)
  }

  // ── StagingTableCatalog: ATOMIC CTAS / RTAS ─────────────────────
  // The non-staged execs are create-then-append (a reader could see
  // the empty v1 between the two commits) and, for REPLACE, DROP-
  // then-recreate (history erased on top of the failure window). The
  // staged table writes its data files UNCOMMITTED and publishes
  // everything — properties sidecar included — as ONE manifest commit
  // in commitStagedChanges: CTAS is v1 with data, REPLACE is one
  // overwrite version with history preserved (the same semantics as
  // the view-face REPLACE TABLE). Abort deletes the staged files and,
  // for a fresh CREATE, the table directory.

  /** CREATE's refusals, shared by the plain and the staged paths:
    * PARTITIONED BY, LOCATION, a bad `rowLevelMode`, and a write spec
    * naming a column the schema lacks (at CREATE, not at the first
    * INSERT that would silently derive no stats). */
  private def validate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : (Map[String, String], TableLog.WriteSpec) = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      s"${identName(ident)}: PARTITIONED BY does not apply to log " +
        "tables — cluster with zOrder/zOrder3/hilbertOrder after load")
    val props = properties.asScala.toMap
    props.keys.find(_.equalsIgnoreCase(TableCatalog.PROP_LOCATION))
      .foreach(_ => throw new UnsupportedOperationException(
        s"${identName(ident)}: LOCATION is not supported — catalog " +
          "tables are MANAGED under the warehouse; for an external " +
          "path use TableLog.registerSqlTable / CREATE TABLE <name> " +
          "USING graft LOCATION …"))
    (props, TableLog.checkedSpec(identName(ident), schema,
      GraftCatalog.specOf(props, identName(ident))))
  }

  // constraints on CTAS/RTAS would need the staged commit to validate
  // content it has not produced yet — refuse with the working recipe
  // instead of the default overloads silently DROPPING the clauses
  private def refuseStagedConstraints(ident: Identifier,
      info: TableInfo): Unit =
    if (info.constraints != null && info.constraints.nonEmpty)
      throw new UnsupportedOperationException(
        s"${identName(ident)}: constraints on CTAS/RTAS are not " +
          "supported — create the table, then ALTER TABLE … ADD " +
          "CONSTRAINT (which validates the data it covers)")

  override def stageCreate(ident: Identifier,
      info: TableInfo): StagedTable = {
    refuseStagedConstraints(ident, info)
    stageCreate(ident, info.schema, info.partitions, info.properties)
  }

  override def stageReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    refuseStagedConstraints(ident, info)
    stageReplace(ident, info.schema, info.partitions, info.properties)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    refuseStagedConstraints(ident, info)
    stageCreateOrReplace(ident, info.schema, info.partitions,
      info.properties)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val props = validate(ident, schema, partitions, properties)._1
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(tablePath(ident), identName(ident), schema,
      props, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val props = validate(ident, schema, partitions, properties)._1
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftStagedTable(tablePath(ident), identName(ident), schema,
      props, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val props = validate(ident, schema, partitions, properties)._1
    new GraftStagedTable(tablePath(ident), identName(ident), schema,
      props, replace = true)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTableDir(Paths.get(path))) throw new NoSuchTableException(ident)
    var props = GraftCatalog.readProps(path)
    GraftCatalog.refuseMorKey(changes.collect {
      case set: TableChange.SetProperty => set.property }, identName(ident))
    // write-spec keys collect here and commit as ONE setWriteSpec after
    // the other changes; the rest go to the sidecar
    var specProps = Option.empty[Map[String, String]]
    def specKeys = specProps.getOrElse(
      GraftCatalog.specProps(TableLog.writeSpec(path)))
    changes.foreach {
      case set: TableChange.SetProperty
          if GraftCatalog.isSpecKey(set.property) =>
        specProps = Some(specKeys.filterNot(_._1.equalsIgnoreCase(
          set.property)) + (set.property -> set.value))
      case rm: TableChange.RemoveProperty
          if GraftCatalog.isSpecKey(rm.property) =>
        specProps = Some(specKeys.filterNot(
          _._1.equalsIgnoreCase(rm.property)))
      case set: TableChange.SetProperty =>
        props = props.filterNot(
          _._1.equalsIgnoreCase(set.property)) + (set.property -> set.value)
      case rm: TableChange.RemoveProperty =>
        props = props.filterNot(_._1.equalsIgnoreCase(rm.property))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"${identName(ident)}: nested column renames are not supported")
        TableLog.renameColumn(SparkSession.active, path,
          rn.fieldNames.head, rn.newName)
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"${identName(ident)}: nested column adds are not supported")
        require(add.position() == null,
          s"${identName(ident)}: FIRST/AFTER column positions are not " +
            "supported — new columns append at the end (column order " +
            "is metadata; reads resolve by name)")
        TableLog.addColumn(SparkSession.active, path,
          add.fieldNames.head, add.dataType, add.isNullable)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"${identName(ident)}: nested column drops are not supported")
        TableLog.dropColumn(SparkSession.active, path,
          del.fieldNames.head)
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          s"${identName(ident)}: nested column type changes are not " +
            "supported")
        TableLog.widenColumnType(SparkSession.active, path,
          ut.fieldNames.head, ut.newDataType())
      case ac: TableChange.AddConstraint =>
        // ADD validates existing data inside addCheckConstraint (one
        // scan) regardless of what the engine believes it validated
        GraftCatalog.addConstraintChange(SparkSession.active, path,
          identName(ident), ac.constraint)
      case dc: TableChange.DropConstraint =>
        val known = TableLog.snapshot(path)
          .exists(_.checks.exists(_._1 == dc.name))
        if (known) TableLog.dropCheckConstraint(path, dc.name)
        else if (!dc.ifExists) throw new IllegalArgumentException(
          s"${identName(ident)}: no constraint named '${dc.name}'")
      case other => throw new UnsupportedOperationException(
        s"${identName(ident)}: unsupported ALTER TABLE change $other — " +
          "supported: SET/UNSET TBLPROPERTIES, RENAME COLUMN, " +
          "ADD COLUMNS, DROP COLUMN, ALTER COLUMN TYPE (lossless " +
          "widening), ADD/DROP CONSTRAINT (CHECK)")
    }
    specProps.foreach(p => TableLog.setWriteSpec(path,
      GraftCatalog.specOf(p, identName(ident))))
    GraftCatalog.writeProps(path, props)
    loadTable(ident)
  }

  /** MANAGED semantics: the table lives under the catalog's warehouse,
    * so DROP deletes its bytes (contrast the registered-view face,
    * whose DROP is EXTERNAL — it unregisters and leaves user paths
    * untouched). */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(tablePath(ident))
    if (!isTableDir(dir)) return false
    deleteRecursively(dir)
    true
  }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = Paths.get(tablePath(oldIdent))
    val to = Paths.get(tablePath(newIdent))
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    if (Files.exists(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ── SupportsNamespaces ──────────────────────────────────────────

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace)
    Files.isDirectory(p) && !isTableDir(p)
  }

  override def listNamespaces(): Array[Array[String]] =
    if (!Files.isDirectory(warehouse)) Array.empty
    else listDir(warehouse)
      .filter(p => Files.isDirectory(p) && !isTableDir(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => Array(p.getFileName.toString))
      .sortBy(_.head)
      .toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir) || isTableDir(dir))
      throw new NoSuchNamespaceException(Array(catName) ++ namespace)
    listDir(dir)
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => namespace :+ p.getFileName.toString)
      .sortBy(_.last)
      .toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(Array(catName) ++ namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    if (Files.exists(p))
      throw new NamespaceAlreadyExistsException(Array(catName) ++ namespace)
    Files.createDirectories(p)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog '$catName': namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p) || isTableDir(p)) return false
    if (!cascade) {
      val nonEmpty = listDir(p).nonEmpty
      if (nonEmpty) throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(Array(catName) ++ namespace)
      Files.deleteIfExists(p)
    } else deleteRecursively(p)
    true
  }

  // ── helpers ─────────────────────────────────────────────────────

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object GraftCatalog {

  /** Route one DSv2 constraint onto the log's CHECK face. Only CHECK
    * is accepted: PRIMARY KEY / FOREIGN KEY / UNIQUE are informational
    * in Spark (never enforced), and recording a constraint this engine
    * does not enforce would certify nothing — refuse loudly. A CHECK
    * declared NOT ENFORCED is refused for the symmetric reason: graft
    * enforces every committed constraint on every row-adding face. */
  private[catalog] def addConstraintChange(spark: SparkSession,
      path: String, name: String,
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : Unit = c match {
    case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
      if (!ck.enforced) throw new UnsupportedOperationException(
        s"$name: CHECK … NOT ENFORCED is not supported — graft " +
          "enforces every committed constraint; drop NOT ENFORCED")
      TableLog.addCheckConstraint(spark, path, ck.name, ck.predicateSql)
    case other => throw new UnsupportedOperationException(
      s"$name: ${other.getClass.getSimpleName} constraints are " +
        "informational in Spark (never enforced) — graft refuses to " +
        "record a constraint it does not enforce; only CHECK is " +
        "supported")
  }

  private val SIDECAR = "_catalog.properties"

  /** The property keys that declare the table's write spec — the same
    * names as the `USING graft` DDL OPTIONS. */
  private val specKeys = Seq("statsCols", "strStatsCols", "bloomStatsCols",
    "rowLevelMode", "maxDvPositions")

  private[graft] def isSpecKey(k: String): Boolean =
    specKeys.exists(_.equalsIgnoreCase(k))

  /** `morKey`, the retired merge-on-read declaration, is refused by
    * name rather than kept as a user key that would declare nothing. */
  private[graft] def refuseMorKey(keys: Iterable[String],
      name: String): Unit =
    keys.find(_.equalsIgnoreCase("morKey")).foreach(k =>
      throw new IllegalArgumentException(s"$name: '$k' is not a table " +
        "property — declare rowLevelMode = 'mor' for merge-on-read " +
        "deletes, updates and one-key upserts"))

  /** The write spec `props` declare (keys case-insensitive; column
    * lists comma-separated). */
  private[graft] def specOf(props: Map[String, String],
      name: String): TableLog.WriteSpec = {
    refuseMorKey(props.keys, name)
    def prop(k: String) = props.find(_._1.equalsIgnoreCase(k)).map(_._2.trim)
    def cols(k: String): Seq[String] = prop(k).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    TableLog.WriteSpec(cols("statsCols"), cols("strStatsCols"),
      cols("bloomStatsCols"), prop("rowLevelMode").getOrElse(TableLog.Cow),
      prop("maxDvPositions").map(v => v.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"$name: maxDvPositions must be a long (got '$v')")))
        .getOrElse(TableLog.DefaultMaxDvPositions))
  }

  /** `spec` as the table properties that declare it. */
  private[graft] def specProps(spec: TableLog.WriteSpec): Map[String, String] =
    Seq("statsCols" -> spec.longCols.mkString(","),
      "strStatsCols" -> spec.strCols.mkString(","),
      "bloomStatsCols" -> spec.bloomCols.mkString(","),
      "rowLevelMode" -> spec.rowLevelMode).filter(_._2.nonEmpty).toMap ++
      (if (spec.maxDvPositions == TableLog.DefaultMaxDvPositions) Map.empty
       else Map("maxDvPositions" -> spec.maxDvPositions.toString))

  /** The table's other declared properties (user keys):
    * plain `key=value` lines at the table root (OUTSIDE `_log`, so the
    * manifest codec and vacuum never see it; vacuum sweeps only
    * `data/`). The write-spec keys are versioned in the manifest
    * instead, and never stored here. */
  private[graft] def readProps(table: String): Map[String, String] = {
    val p = Paths.get(table, SIDECAR)
    if (!Files.exists(p)) return Map.empty
    Files.readAllLines(p).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  private[graft] def writeProps(table: String,
      allProps: Map[String, String]): Unit = {
    val props = allProps.filterNot(p => isSpecKey(p._1))
    props.keys.foreach(k => require(
      !k.contains("=") && !k.contains("\n") && k.nonEmpty,
      s"table property key '$k' must be non-empty and contain no " +
        "'=' or newline"))
    props.values.foreach(v => require(!v.contains("\n"),
      s"table property values must not contain newlines (got '$v')"))
    val body = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    Files.write(Paths.get(table, SIDECAR),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The configured `GraftCatalog` named `name` on this session, if
    * any — the DML face uses this to claim `catalog.ns.table`
    * identifiers. Conf check first so non-graft catalog names never
    * force-instantiate a plugin. */
  private[graft] def catalogOf(spark: SparkSession,
      name: String): Option[GraftCatalog] =
    spark.conf.getOption(s"spark.sql.catalog.$name")
      .filter(_ == classOf[GraftCatalog].getName)
      .map(_ => org.apache.spark.sql.graft.Bridge
        .catalogPlugin(spark, name))
      .collect { case g: GraftCatalog => g }

  /** Resolve a multipart identifier (`Seq("graft", "ns", "t")`)
    * through a configured GraftCatalog to the table path and its DML
    * registration — how the SQL DML face claims catalog identifiers
    * without a temp-view registration. */
  private[graft] def resolveIdent(spark: SparkSession,
      parts: Seq[String]): Option[(String, graft.plans.GraftSqlDml.Reg)] = {
    if (parts.size < 2) return None
    catalogOf(spark, parts.head).flatMap { cat =>
      val ident = Identifier.of(parts.tail.init.toArray, parts.last)
      val path = try cat.tablePath(ident) catch {
        case _: IllegalArgumentException => return None
      }
      if (TableLog.latestVersion(path) == 0) None
      else Some((path, graft.plans.GraftSqlDml.Reg(path)))
    }
  }
}

/** One catalog table at one PINNED snapshot — `loadTable` resolves the
  * manifest once, so every query plan over this instance is
  * snapshot-isolated (the same contract as `TableLog.scan`). The fast
  * read path is the optimizer substitution to
  * [[graft.plans.GraftLogRelation]]; the `V1Scan` below is the
  * correct-but-column-pruned fallback for sessions without the rule.
  *
  * METADATA COLUMNS: `_version` (the manifest version whose commit
  * added the row's file) and `_file` (the row's physical file) resolve
  * through Spark's own `SupportsMetadataColumns` machinery — hidden
  * from `SELECT *`, spliced in only when referenced, shadowed by
  * same-named data columns. Both faces produce them: the substitution
  * rule asks `morScan` to attach them AT THE SCAN (before any MOR
  * anti-join, where file identity is still live; served as
  * `_metadata.file_path` — deterministic, so runtime group-filter
  * subqueries over this path survive Spark's DPP cleanup), and the V1
  * fallback sees them in its pruned required schema. */
final case class GraftTable(path: String, snapshot: TableLog.Snapshot,
    props: Map[String, String], nameStr: String)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  /** METADATA-ONLY delete: when the condition's exact file coverage
    * is provable from manifest stats (range + null counts), Spark's
    * own `OptimizeMetadataOnlyDeleteFromTable` converts the row-level
    * plan to this — whole files drop from the manifest with ZERO data
    * reads or writes, the cheapest delete shape and the common one on
    * a range-clustered table (retention drops). `deleteWhere`
    * re-plans against the CURRENT snapshot inside the commit loop, so
    * a concurrent commit that breaks exactness fails the statement
    * loudly instead of dropping a boundary row. TRUNCATE TABLE rides
    * the same face (always-true covers every file). */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    GraftTable.translateMd(predicates).exists(p =>
      TableLog.canMetadataDelete(path, p))

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    val p = GraftTable.translateMd(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"$nameStr: condition not translatable for a metadata-only " +
          "delete"))
    TableLog.metadataDelete(SparkSession.active, path, p)
    ()
  }

  /** Group-based DELETE/UPDATE/MERGE through Spark's own row-level
    * framework — the vanilla-session mutation path
    * ([[GraftRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        if (snapshot.spec.mor)
          new GraftDeltaOperation(GraftTable.this, info)
        else
          new GraftRowLevelOperation(GraftTable.this, info)
    }

  override def name(): String = nameStr

  override def schema(): StructType = snapshot.schema.struct

  override def version(): String = snapshot.version.toString

  /** The sidecar's properties plus the write spec of THIS snapshot
    * (so `VERSION AS OF` shows that version's spec). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    (props ++ GraftCatalog.specProps(snapshot.spec))
      .foreach { case (k, v) => m.put(k, v) }
    m.put(TableCatalog.PROP_PROVIDER, "graft")
    m.put("version", snapshot.version.toString)
    m.put("rows", snapshot.rows.toString)
    m.put("files", snapshot.files.size.toString)
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  /** The snapshot's CHECK constraints, reported through Spark's own
    * constraint metadata (DESCRIBE shows them; ADD CONSTRAINT through
    * the catalog validated existing data, hence VALID). Enforcement
    * itself is commit-side in TableLog — reporting is metadata. */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snapshot.checks.map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints
          .Constraint
    }.toArray

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftTable.VersionCol, GraftTable.FileCol, GraftTable.PosCol,
      GraftTable.ChangeTypeCol, GraftTable.ChangeVersionCol)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // the readChangeFeed option is honored BEFORE any scan runs: by
    // the ResolveChangeFeedReads ANALYZER rule on GraftExtensions
    // sessions (the relation re-points at the changes face before a
    // scan is built), or by the ResolveGraftCatalogReads OPTIMIZER
    // substitution on live sessions that called `install` (batch
    // only). Reaching EXECUTION of this builder's scan with the
    // option still set means neither is present and the
    // semantics-changing option would be silently dropped — the user
    // asked for the typed change feed and would get current table
    // rows. The batch refusal sits in buildScan (execution), not
    // here: V2ScanRelationPushDown builds the scan BEFORE user
    // optimizer rules run, so a build-time throw would break the
    // install path it exists to protect.
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // starts at the full data schema; Spark narrows it to the
      // referenced columns (PLUS any requested metadata columns — they
      // ride in the relation's output, so the pruned schema carries
      // them here by name)
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        // the native streaming READ — offsets = manifest versions,
        // partitions = the commits' file deltas (GraftMicroBatchStream)
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming
              .MicroBatchStream = {
          // streaming readChangeFeed WITHOUT extensions or a sibling
          // session (round-19): the scan builder itself is the
          // substitution point — the option is in hand here, and the
          // CDC columns are METADATA columns of this table (r18), so
          // a vanilla session resolves them through
          // StreamingRelationV2.metadataOutput. Streaming scans get
          // NO column-pruning negotiation, and the analyzer appends
          // the relation's WHOLE metadataOutput to the output when
          // ANY metadata column is referenced — so the relation's
          // output is one of exactly two shapes: data columns alone,
          // or data ++ every metadata column in metadataColumns()
          // order. Serving rows of the second (wider) shape satisfies
          // BOTH positionally: the narrow plan reads the data-column
          // prefix of the wider row. `_version` = the change version,
          // `_file`/`_pos` = the feed link file and row index (the
          // change row's physical identity). Same stream class as the
          // __changes face — same offsets, exactly-once, options.
          if (options.getBoolean("readChangeFeed", false)) {
            require(TableLog.feedEnabled(path),
              s"readChangeFeed on $name: the table has no change " +
                s"feed — TableLog.enableCdcFeed('$path') to capture " +
                "row changes as typed rows (enableFeed for " +
                "insert-only), then retry")
            val data = GraftTable.this.schema()
            // mirror metadataOutputWithOutConflicts: a data column
            // claiming a metadata name hides the metadata column
            val metas = metadataColumns().filterNot(m =>
              data.fieldNames.contains(m.name))
            val full = StructType(data.fields ++ metas.map(m =>
              StructField(m.name, m.dataType(), nullable = true)))
            def idx(n: String) = full.fieldNames.indexOf(n)
            // The positional-prefix contract is only sound while the
            // analyzer serves exactly two shapes (data alone, or
            // data ++ ALL metadata columns in metadataColumns()
            // order) — if a data column shadows any CDC metadata
            // column the wider rows this stream serves would
            // misalign silently (long _version bytes read as
            // _change_type strings), so refuse loudly here. Checked
            // against the DATA field names directly: `full` always
            // contains each name (the shadowing data column itself
            // satisfies an indexOf), so an index-existence check can
            // never fire — and verIdx/fileIdx/posIdx would resolve to
            // the DATA ordinal and the reader would overwrite that
            // slot with spliced literals. `_change_type` /
            // `_change_version` shadowing corrupts ctIdx/cvIdx
            // resolution in createReaderFactory the same way, so all
            // FIVE names refuse. The two-shapes analyzer behavior
            // itself is pinned at test time (CatalogSpec's vanilla-rcf
            // shape pin): the resolved plan's schema never crosses the
            // MicroBatchStream API, so a Spark version change is
            // caught by the pin, not at runtime.
            val cdcCols = Seq(TableLog.changeTypeCol,
              TableLog.changeVersionCol, GraftTable.VersionCol.name,
              GraftTable.FileCol.name, GraftTable.PosCol.name)
            val shadowed = cdcCols.filter(data.fieldNames.contains)
            require(shadowed.isEmpty,
              s"streaming readChangeFeed on $name: data column(s) " +
                shadowed.mkString("[", ",", "]") +
                " shadow the CDC metadata columns — the positional " +
                "change-feed contract cannot hold; rename the data " +
                "column(s) or read the __changes face instead")
            return new GraftChangesStream(path, nameStr, full, options,
              verIdx = idx(GraftTable.VersionCol.name),
              fileIdx = idx(GraftTable.FileCol.name),
              posIdx = idx(GraftTable.PosCol.name))
          }
          new GraftMicroBatchStream(path, nameStr,
            GraftTable.this.schema(), required, options)
        }
        override def toV1TableScan[R <: BaseRelation with TableScan](
            context: SQLContext): R =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = required
            override def buildScan(): RDD[Row] = {
              if (options.getBoolean("readChangeFeed", false)) {
                // round 19: the scan itself honors the option — no
                // installed rule or extensions needed for the BATCH
                // face either (the install/analyzer paths still win
                // when present: they substitute before this executes
                // and serve richer plans). Bounds resolve exactly
                // like the __changes table; the pruned schema
                // carries any referenced CDC metadata columns by
                // name. The other metadata columns have no meaning
                // on feed rows — refuse, pointing at the richer face.
                require(TableLog.feedEnabled(path),
                  s"readChangeFeed on $name: the table has no " +
                    s"change feed — TableLog.enableCdcFeed('$path') " +
                    "to capture row changes as typed rows " +
                    "(enableFeed for insert-only), then retry")
                val servable = GraftTable.this.schema().fieldNames
                  .toSet + TableLog.changeTypeCol +
                  TableLog.changeVersionCol
                val alien = required.fieldNames.toSeq
                  .filterNot(servable)
                if (alien.nonEmpty)
                  throw new UnsupportedOperationException(
                    s"$name: ${alien.mkString(", ")} are not " +
                      "servable on the readChangeFeed batch face — " +
                      s"read ${name}__changes or install graft.plans" +
                      ".ResolveGraftCatalogReads")
                val (lo, hi) =
                  GraftChangesTable.batchBounds(path, nameStr, options)
                return TableLog
                  .readFeedBetween(context.sparkSession, path, lo, hi)
                  .select(required.fieldNames.toIndexedSeq.map(n =>
                    org.apache.spark.sql.functions.col(s"`$n`")): _*)
                  .rdd
              }
              val dataNames = GraftTable.this.schema().fieldNames.toSet
              val meta = required.fieldNames.toSeq.filterNot(dataNames)
              val cdcCols = meta.filter(n =>
                n == TableLog.changeTypeCol ||
                  n == TableLog.changeVersionCol)
              if (cdcCols.nonEmpty)
                throw new UnsupportedOperationException(
                  s"$name: ${cdcCols.mkString(", ")} are change-feed " +
                    "columns — add .option(\"readChangeFeed\", " +
                    s"\"true\") (with the substitution rule installed)" +
                    s" or read the ${name}__changes face")
              val df = TableLog.morScan(context.sparkSession, path,
                snapshot, snapshot.files, meta)
              df.select(required.fieldNames.toIndexedSeq.map(n =>
                org.apache.spark.sql.functions.col(s"`$n`")): _*).rdd
            }
          }.asInstanceOf[R]
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this, info)
}

object GraftTable {
  /** The metadata columns every graft catalog table exposes.
    * `_version` is nullable only in theory (a manifest entry always
    * knows its commit); declared nullable so the declared type matches
    * the produced expression exactly. `_file` and `_pos` are declared
    * NON-nullable: they are this table's delta-operation row identity
    * (`SupportsDelta.rowId`), and Spark's row-level rewrite refuses a
    * nullable row id — the producing expressions (`_metadata.file_path`,
    * the raw reader's physical row counter) never yield null. */
  val VersionCol: MetadataColumn = new MetadataColumn {
    override def name(): String = "_version"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "manifest version whose commit added this row's file"
  }
  val FileCol: MetadataColumn = new MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "physical file this row was read from"
  }
  /** Row index within the row's physical file — captured below any
    * deletion-vector filter, so `(_file, _pos)` is the row's STABLE
    * identity (the positional-DML address space) until a rewrite
    * moves it: the row id of delta-based row-level operations
    * (`SupportsDelta.rowId`). */
  val PosCol: MetadataColumn = new MetadataColumn {
    override def name(): String = "_pos"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "row index within the row's physical file"
  }
  /** The CDC columns, resolvable as METADATA columns so a batch
    * `spark.read.option("readChangeFeed","true").table(t)` can
    * reference them on a session WITHOUT GraftExtensions — the
    * [[graft.plans.ResolveGraftCatalogReads]] substitution (installed
    * via `install(spark)`) re-points the read at the change feed and
    * serves them; referenced WITHOUT the option (or without the rule)
    * they refuse loudly. Sessions built with GraftExtensions get the
    * richer analyzer-rule swap where both ride the flat schema. */
  val ChangeTypeCol: MetadataColumn = new MetadataColumn {
    override def name(): String = TableLog.changeTypeCol
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = true
    override def comment(): String =
      "change-feed row kind (insert/delete/update_pre/update_post) — " +
        "served only under readChangeFeed or the __changes face"
  }
  val ChangeVersionCol: MetadataColumn = new MetadataColumn {
    override def name(): String = TableLog.changeVersionCol
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "commit version that published this change-feed row — " +
        "served only under readChangeFeed or the __changes face"
  }

  /** Translate Spark's V2 predicates (implicitly ANDed) into the
    * metadata-delete IR — integral comparisons, IN lists, null tests,
    * AND/OR structure. Any untranslatable leaf fails the WHOLE
    * translation (None → Spark keeps the row-level plan): partial
    * translation would drop files a residual was supposed to keep. */
  private[catalog] def translateMd(
      preds: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Option[TableLog.MdPred] = {
    import TableLog.MdPred
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.filter.{
      AlwaysFalse, AlwaysTrue, And, Or, Predicate}
    type V2Expr = org.apache.spark.sql.connector.expressions.Expression
    def colOf(e: V2Expr): Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames().head)
      case _ => None
    }
    def litOf(e: V2Expr): Option[Long] = e match {
      case l: org.apache.spark.sql.connector.expressions
          .Literal[_] => l.value match {
        case v: java.lang.Long => Some(v.longValue)
        case v: java.lang.Integer => Some(v.longValue)
        case v: java.lang.Short => Some(v.longValue)
        case v: java.lang.Byte => Some(v.longValue)
        case _ => None
      }
      case _ => None
    }
    def flip(op: String): String = op match {
      case "<" => ">"
      case "<=" => ">="
      case ">" => "<"
      case ">=" => "<="
      case other => other
    }
    def one(p: Predicate): Option[MdPred] = p match {
      case a: And =>
        for { l <- one(a.left()); r <- one(a.right()) }
          yield MdPred.AndP(l, r)
      case o: Or =>
        for { l <- one(o.left()); r <- one(o.right()) }
          yield MdPred.OrP(l, r)
      case _: AlwaysTrue => Some(MdPred.True)
      case _: AlwaysFalse => Some(MdPred.False)
      case _ => p.name() match {
        case op @ ("=" | "<" | "<=" | ">" | ">=")
            if p.children().length == 2 =>
          val l = p.children()(0)
          val r = p.children()(1)
          (colOf(l), litOf(r)) match {
            case (Some(c), Some(v)) => Some(MdPred.Cmp(op, c, v))
            case _ => (litOf(l), colOf(r)) match {
              case (Some(v), Some(c)) => Some(MdPred.Cmp(flip(op), c, v))
              case _ => None
            }
          }
        case "IN" if p.children().length >= 2 =>
          colOf(p.children().head).flatMap { c =>
            val vs = p.children().drop(1).flatMap(litOf)
            if (vs.length == p.children().length - 1)
              Some(MdPred.InLongs(c, vs.toIndexedSeq))
            else None
          }
        case "IS_NULL" if p.children().length == 1 =>
          colOf(p.children().head).map(MdPred.NullTest(_, isNull = true))
        case "IS_NOT_NULL" if p.children().length == 1 =>
          colOf(p.children().head).map(MdPred.NullTest(_, isNull = false))
        case _ => None
      }
    }
    if (preds.isEmpty) return Some(MdPred.True)
    preds.toSeq.map(one).reduce((a, b) =>
      for { l <- a; r <- b } yield MdPred.AndP(l, r))
  }

  /** V1 source filters → one Catalyst Column, EXACT or refuse: the
    * predicate-overwrite path must delete precisely the rows the
    * user's expression names, so an untranslatable filter is a loud
    * error, never a broader rewrite. (Contrast with pruning, where
    * untranslatable just means "keep the file".) */
  private[catalog] def filterColumn(name: String,
      f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isInCollection(vs.toSeq)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, p) => col(a).startsWith(p)
      case StringEndsWith(a, p) => col(a).endsWith(p)
      case StringContains(a, p) => col(a).contains(p)
      case And(l, r) => filterColumn(name, l) && filterColumn(name, r)
      case Or(l, r) => filterColumn(name, l) || filterColumn(name, r)
      case Not(c) => !filterColumn(name, c)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"$name: overwrite predicate '$other' has no exact " +
          "translation — rewrite the condition with comparisons, " +
          "IN, NULL tests, string prefix/suffix/contains, AND/OR/NOT")
    }
  }
}

/** The staged table an atomic CTAS/RTAS writes into: the V1 write
  * stages data files (no commit, invisible to readers), and
  * `commitStagedChanges` publishes files + schema + properties as ONE
  * manifest — v1 on CREATE, a history-preserving overwrite on
  * REPLACE. `abortStagedChanges` deletes whatever was staged. */
final class GraftStagedTable(path: String, nameStr: String,
    declared: StructType, props: Map[String, String], replace: Boolean)
    extends StagedTable with SupportsWrite {

  // (files, rows, actual written schema) — set by the write, read by
  // the commit; Spark drives both on the driver thread
  @volatile private var staged: Option[(Seq[TableLog.FileEntry], Long,
    StructType)] = None

  override def name(): String = nameStr
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the RTAS exec truncates before writing; staging IS the
      // truncate (the commit replaces the whole file list)
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              java.nio.file.Files.createDirectories(
                java.nio.file.Paths.get(path))
              staged = Some(TableLog.stageDataFiles(data.sparkSession,
                path, data, GraftCatalog.specOf(props, nameStr)) match {
                case (fs, n) => (fs, n, data.schema)
              })
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val (files, rows, written) = staged.getOrElse(
      // a CTAS whose query produced no write call still creates the
      // declared-schema table, empty
      (Seq.empty[TableLog.FileEntry], 0L, declared))
    GraftCatalog.writeProps(path, props)
    TableLog.commitStaged(path, files, rows, written, replace,
      GraftCatalog.specOf(props, nameStr))
  }

  override def abortStagedChanges(): Unit = {
    staged.foreach { case (files, _, _) =>
      files.foreach { f =>
        val p = java.nio.file.Paths.get(path, f.path)
        java.nio.file.Files.deleteIfExists(p)
        Option(p.getParent).foreach { d =>
          try java.nio.file.Files.deleteIfExists(d)
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
      }
    }
    // a fresh CREATE that never committed leaves no table behind
    if (!replace) {
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.deleteIfExists(root.resolve("_catalog.properties"))
      Seq(root.resolve("data"), root).foreach { d =>
        try java.nio.file.Files.deleteIfExists(d)
        catch { case _: java.io.IOException => () }
      }
    }
  }
}

/** `INSERT INTO` → one `TableLog.append` commit; `INSERT OVERWRITE`
  * (Spark calls `truncate()` on the builder for an unpartitioned
  * target) → the whole-table replace through `TableLog.rewrite`, so
  * history keeps the pre-overwrite version readable; PREDICATE
  * overwrite (`df.writeTo(t).overwrite(cond)` — Delta's replaceWhere)
  * → ONE atomic `TableLog.replaceWhere` commit: affected files prune
  * by manifest stats from the same pushed filters, the condition
  * translates EXACTLY or refuses, and new rows must satisfy it. Every
  * write measures the stats of the table's write spec — Spark has
  * already aligned and cast the incoming frame to the table schema
  * (`TableOutputResolver`), so the append sees exactly the declared
  * column set. */
final class GraftWriteBuilder(t: GraftTable, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  private var overwriteAll = false
  private var replaceCond: Option[(org.apache.spark.sql.Column,
    TableLog.Snapshot => Seq[TableLog.FileEntry])] = None

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(filters: Array[org.apache.spark.sql.sources
      .Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)) {
      overwriteAll = true
    } else {
      // exact translation (or loud refusal) for the rewrite filter;
      // the SAME pushed filters drive manifest-stat pruning of which
      // files rewrite at all (conservative: untranslated leaves keep)
      val cond = filters.map(GraftTable.filterColumn(t.name, _))
        .reduce(_ && _)
      val prune = (s: TableLog.Snapshot) =>
        GraftRowLevelScan.keptFiles(s, filters.toSeq)
      replaceCond = Some((cond, prune))
    }
    this
  }

  override def build(): Write = new V1Write {
    // the NATIVE streaming path: writeStream.toTable("graft.ns.t") —
    // Append mode only; Complete (truncate-per-epoch) refuses
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (overwriteAll) throw new UnsupportedOperationException(
        s"${t.name}: streaming Complete mode (truncate per epoch) is " +
          "not supported on a commit-log table — use Append mode, or " +
          "aggregate into a batch face")
      new GraftStreamingWrite(t.path, info.schema(), info.queryId())
    }

    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit = {
          val spark = data.sparkSession
          if (overwriteAll)
            TableLog.rewrite(spark, t.path, "overwrite",
              expectRows = _ => None)(_ => data)
          else replaceCond match {
            case Some((cond, prune)) =>
              TableLog.replaceWhere(spark, t.path, cond, data,
                prune = prune)
            case None => TableLog.append(spark, t.path, data)
          }
        }
      }
  }
}
