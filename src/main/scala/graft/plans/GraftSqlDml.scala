package graft.plans

import graft.sinks.TableLog
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** The SQL face of the commit-log table format — a user who only
  * speaks SQL gets the whole lake from text alone:
  *   - DML: UPDATE / DELETE / MERGE / INSERT / INSERT OVERWRITE over
  *     a registered view route to the `TableLog` faces (COW or MOR
  *     per the table's write spec) — same stats-pruned commits, same
  *     audits, same CDC capture as the Scala API;
  *   - DDL: `CREATE [OR REPLACE] TABLE … USING graft LOCATION … AS
  *     SELECT`, `REPLACE TABLE`, and `DROP TABLE` (external
  *     semantics — unregister, bytes stay);
  *   - time travel: `VERSION AS OF <n | 'tag'>` / `TIMESTAMP AS OF`
  *     anywhere in a query (and in INSERT/MERGE sources);
  *   - TVFs: `table_changes` / `table_history` / `table_detail` /
  *     `table_tags`;
  *   - maintenance: `CALL compact_small / mor_maintain /
  *     zorder_maintain / vacuum_keep / tag / delete_tag`.
  * This completes the "behaves like a catalog table" story the
  * declarative `scan` started for SELECT.
  *
  * Two entry points share one translation:
  *   - `TableLog.registerSqlTable` + `TableLog.sql(spark, text)` on
  *     any live session (the Verify/driver path), and
  *   - `GraftSqlParser`, injected at session build via
  *     `GraftExtensions` (`spark.sql.extensions=graft.GraftExtensions`),
  *     which makes plain `spark.sql("UPDATE …")` work.
  *
  * Translation is deliberately CONSERVATIVE: Spark's own parser
  * produces the DML plans (full SQL grammar — no hand parsing), and
  * the rewrite only claims statements whose target is a REGISTERED
  * view and whose shape maps exactly onto a face — any deterministic
  * DELETE / UPDATE predicate (Spark evaluates it; `TableLog.delete` /
  * `TableLog.update` prune the manifest by it), and the canonical
  * `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  * upsert for MERGE. A registered target with an untranslatable shape
  * FAILS LOUDLY with what to use instead — falling through to Spark
  * would produce a misleading "table does not support DELETE" on the
  * temp view. Unregistered targets pass through untouched.
  *
  * CATALOG identifiers: UPDATE / DELETE / MERGE, the CALL procedures,
  * and the TVFs also claim `catalog.ns.table` names resolved through a
  * configured [[graft.catalog.GraftCatalog]] — there is no view to
  * refresh (every catalog query re-pins its snapshot via `loadTable`).
  * SELECT, time travel, INSERT, and CREATE/DROP on catalog names stay
  * on Spark's NATIVE DSv2 path
  * (the catalog + `ResolveGraftCatalogReads` handle them); the rewrite
  * only claims the row-level verbs V2 tables cannot express without
  * SupportsRowLevelOperations. */
object GraftSqlDml {

  /** The DML registry entry `TableLog.registerSqlTable` records: the
    * table path alone. Everything else is the table's own write spec,
    * read by each commit from its base snapshot: the stats every
    * commit measures, and the `rowLevelMode` that picks the commit of
    * DELETE (`TableLog.delete`), UPDATE (`TableLog.update`) and MERGE
    * (`TableLog.mergeUpsert`) — copy-on-write of the pruned files, or
    * the zero-rewrite deletion-vector / key-sidecar commits. */
  final case class Reg(table: String) {
    def spec: TableLog.WriteSpec = TableLog.writeSpec(table)
  }

  def rewrite(spark: SparkSession, plan: LogicalPlan)
      : Option[LogicalPlan] = plan match {
    case DeleteFromTable(t, cond) =>
      for { (v, reg) <- targetReg(spark, t) }
        yield delete(v, reg, cond)
    case UpdateTable(t, assigns, cond) =>
      for { (v, reg) <- targetReg(spark, t) }
        yield update(v, reg, assigns, cond)
    case m: MergeIntoTable =>
      for { (v, reg) <- targetReg(spark, m.targetTable) }
        yield merge(spark, v, reg, m)
    case i: InsertIntoStatement =>
      for { v <- viewName(i.table); reg <- TableLog.sqlDmlReg(spark, v) }
        yield insert(spark, v, reg, i)
    case c: CreateTableAsSelect => ctas(spark, c)
    case r: ReplaceTableAsSelect => rtas(spark, r)
    case d: DropTable => dropTable(spark, d)
    case c: Call => call(spark, c)
    case other => timeTravel(spark, other)
  }

  /** SQL maintenance verbs as `CALL` procedures over registered
    * views — the operational faces from text alone, each returning
    * the table's version as its one-row result and refreshing the
    * view:
    *   - `CALL compact_small('<view>', smallBytes)`
    *   - `CALL mor_maintain('<view>', maxSidecars)` /
    *     `CALL mor_fold('<view>')`
    *   - `CALL zorder_maintain('<view>', targetBytes[, smallBytes])`
    *   - `CALL vacuum_keep('<view>', keepVersions)`
    *   - `CALL tag('<view>', '<name>', version)` /
    *     `CALL delete_tag('<view>', '<name>')`
    *   - `CALL publish_branch('<view>', '<branch path>')` /
    *     `CALL merge_branch('<view>', '<branch path>'[, '<keyCol>'])`
    *   - `CALL zorder('<view>', nFiles, 'cA', aLo, aHi, 'cB', bLo,
    *     bHi)` / `hilbert_order(…)` / `zorder3(… , 'cC', cLo, cHi)`
    *   - `CALL replace_where('<view>', '<cond SQL>', '<source view
    *     or SELECT …>')` — the SQL-text twin of
    *     `df.writeTo(t).overwrite(cond)` (Spark has no `INSERT …
    *     REPLACE WHERE` grammar): one atomic predicate-overwrite
    *     commit, the condition evaluated by Spark itself (exact by
    *     construction; unresolvable columns and nondeterminism refuse
    *     BEFORE any file is written), manifest-stat pruning through
    *     the same machinery as the positional faces, and the new-row
    *     enforcement / NULL-keep / CDC semantics of
    *     `TableLog.replaceWhere`.
    * Claimed only when the procedure name is one of these AND its
    * first argument is a registered view; everything else passes
    * through (Spark reports its own unresolved-procedure error). Every
    * rewriting tick measures the table's declared stats. */
  private val callProcs = Set("compact_small", "mor_maintain",
    "mor_fold", "zorder_maintain", "vacuum_keep", "vacuum_feed",
    "tag", "delete_tag", "replace_where", "restore", "clone",
    "publish_branch", "merge_branch", "zorder", "zorder3",
    "hilbert_order", "hilbert_order3")

  private def call(spark: SparkSession, c: Call): Option[LogicalPlan] = {
    val nameOpt = c.procedure match {
      case p: org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure
          if p.nameParts.size == 1 =>
        Some(p.nameParts.head.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
    for {
      proc <- nameOpt
      if callProcs(proc)
      view <- c.args.headOption.flatMap(strOf)
      reg <- regOfName(spark, view)
    } yield {
      def longArg(i: Int): Long = c.args.lift(i).flatMap(longOf)
        .getOrElse(unsupported(s"CALL $proc('$view', …)",
          s"argument ${i + 1} must be an integer literal"))
      def strArg(i: Int): String = c.args.lift(i).flatMap(strOf)
        .getOrElse(unsupported(s"CALL $proc('$view', …)",
          s"argument ${i + 1} must be a string literal"))
      GraftDmlCommand(proc, view, reg.table, s => proc match {
        case "compact_small" =>
          TableLog.compactSmall(s, reg.table, longArg(1))
        case "mor_maintain" =>
          TableLog.morMaintain(s, reg.table, maxSidecars = longArg(1).toInt)
        case "mor_fold" =>
          TableLog.morFold(s, reg.table)
        case "zorder_maintain" =>
          TableLog.zOrderMaintain(s, reg.table, targetBytes = longArg(1),
            smallBytes =
              if (c.args.size > 2) longArg(2) else 0L)
        case "vacuum_keep" =>
          TableLog.vacuum(s, reg.table,
            keepVersions = longArg(1).toInt)
          TableLog.latestVersion(reg.table)
        case "vacuum_feed" =>
          TableLog.vacuumFeed(reg.table, keepVersions = longArg(1).toInt)
          TableLog.latestVersion(reg.table)
        case "replace_where" =>
          val cond = org.apache.spark.sql.graft.Bridge.column(
            s.sessionState.sqlParser.parseExpression(strArg(1)))
          val srcText = strArg(2).trim
          val src =
            if (srcText.matches("[A-Za-z_][A-Za-z0-9_.]*")) s.table(srcText)
            else s.sql(srcText)
          // align the source to the table schema by NAME (refusing
          // missing columns / type drift loudly) — the catalog face
          // gets this from TableOutputResolver; text-alone must not
          // silently write a reordered or mistyped frame
          val sch = TableLog.tableSchemaOf(reg.table)
          sch.fields.foreach { f =>
            val g = src.schema.fields.find(_.name == f.name)
              .getOrElse(unsupported(
                s"CALL replace_where('$view', …)",
                s"source is missing table column ${f.name}"))
            if (g.dataType != f.dataType) unsupported(
              s"CALL replace_where('$view', …)",
              s"source column ${f.name} is ${g.dataType
                .simpleString}, table has ${f.dataType.simpleString}")
          }
          val aligned = src.select(sch.fieldNames.map(
            org.apache.spark.sql.functions.col(_)).toIndexedSeq: _*)
          // resolve + refuse (unknown columns, nondeterminism) BEFORE
          // the new slice is written; the same call is the per-CAS
          // manifest prune
          def pruned(b: TableLog.Snapshot) =
            TableLog.dvPrune(s, reg.table, b, cond,
              face = s"CALL replace_where('$view', …)")
          TableLog.snapshot(reg.table).foreach(pruned)
          TableLog.replaceWhere(s, reg.table, cond, aligned, prune = pruned)
        // the acting half of time travel from SQL text: rewind the
        // table to a VERSION (integer) or a TAG (string) — one full-
        // manifest commit, history intact, same refusals as the Scala
        // face (vacuumed target, feed tables, CHECK re-validation)
        case "restore" =>
          val v = c.args.lift(1).flatMap(longOf).getOrElse(
            TableLog.resolveTag(reg.table, strArg(1)))
          TableLog.restore(s, reg.table, v)
        // zero-copy clone into a PATH (clones are unregistered
        // working copies, the branch/WAP convention)
        case "clone" =>
          TableLog.cloneTable(s, reg.table, strArg(1))
        case "tag" =>
          TableLog.tagVersion(reg.table, strArg(1), longArg(2))
          TableLog.latestVersion(reg.table)
        case "delete_tag" =>
          TableLog.deleteTag(reg.table, strArg(1))
          TableLog.latestVersion(reg.table)
        // branch verbs: arg 2 is the BRANCH PATH (branches are
        // unregistered working clones); merge_branch's optional arg 3
        // is the key column for the added-file disjointness contract
        case "publish_branch" =>
          TableLog.publishBranch(s, reg.table, strArg(1))
        case "merge_branch" =>
          TableLog.mergeBranch(s, reg.table, strArg(1),
            keyCol = c.args.lift(2).flatMap(strOf))
        // layout verbs: the one-time clustering rewrites —
        // (nFiles, colA, aLo, aHi, colB, bLo, bHi[, colC, cLo, cHi]);
        // zorder_maintain keeps whichever spec these stamp
        case "zorder" =>
          TableLog.zOrder(s, reg.table, longArg(1).toInt,
            strArg(2), (longArg(3), longArg(4)),
            strArg(5), (longArg(6), longArg(7)))
        case "hilbert_order" =>
          TableLog.hilbertOrder(s, reg.table, longArg(1).toInt,
            strArg(2), (longArg(3), longArg(4)),
            strArg(5), (longArg(6), longArg(7)))
        case "zorder3" =>
          TableLog.zOrder3(s, reg.table, longArg(1).toInt,
            strArg(2), (longArg(3), longArg(4)),
            strArg(5), (longArg(6), longArg(7)),
            strArg(8), (longArg(9), longArg(10)))
        case "hilbert_order3" =>
          TableLog.hilbertOrder3(s, reg.table, longArg(1).toInt,
            strArg(2), (longArg(3), longArg(4)),
            strArg(5), (longArg(6), longArg(7)),
            strArg(8), (longArg(9), longArg(10)))
      })
    }
  }

  /** `CREATE TABLE <name> USING graft LOCATION '<path>' [OPTIONS
    * (statsCols 'a,b', strStatsCols 'c', bloomStatsCols 'd',
    * rowLevelMode 'mor')] AS SELECT …` — the DDL verb: commits version 1 of
    * a NEW commit-log table at the LOCATION and registers `<name>`
    * for the whole SQL face (SELECT through the declarative scan,
    * UPDATE/DELETE/MERGE/INSERT, AS OF, the TVFs). Claimed only for
    * `USING graft`; any other provider passes through to Spark
    * untouched. LOCATION is required (the commit log lives there);
    * `PARTITIONED BY` refuses (cluster with zOrder/zOrder3 after
    * load); `IF NOT EXISTS` on an existing log is a no-op that still
    * registers the view — and refuses when its OPTIONS declare a
    * different write spec than the log records. The OPTIONS are the
    * table's write spec, recorded in version 1. */
  /** The shared CTAS/RTAS spec: name, LOCATION, the OPTIONS-declared
    * write spec, and the (possibly time-traveling) source plan. */
  private final case class DdlSpec(name: String, loc: String,
      spec: TableLog.WriteSpec, srcPlan: LogicalPlan)

  private def ddlSpecOf(spark: SparkSession, verb: String,
      nm: LogicalPlan, ts0: TableSpecBase,
      partitioning: Seq[_], query: LogicalPlan): Option[DdlSpec] =
    ts0 match {
      case ts: UnresolvedTableSpec
          if ts.provider.exists(_.equalsIgnoreCase("graft")) =>
        val name = nm match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier if u.nameParts.size == 1 =>
            u.nameParts.head
          // `CREATE TABLE graft.ns.t USING graft …` — a CATALOG
          // identifier: fall through untouched so Spark's own catalog
          // path (graft.catalog.GraftCatalog) handles the DDL
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier if u.nameParts.size > 1 &&
              graft.catalog.GraftCatalog.catalogOf(
                spark, u.nameParts.head).isDefined =>
            return None
          case other => unsupported(s"$verb … USING graft",
            s"single-part table names only (got ${other.toString.trim})")
        }
        val loc = ts.location.getOrElse(unsupported(
          s"$verb $name USING graft",
          "a LOCATION '<table path>' is required — the commit log " +
            "lives there"))
        if (partitioning.nonEmpty) unsupported(
          s"$verb $name USING graft",
          "PARTITIONED BY does not apply to log tables — cluster with " +
            "zOrder/zOrder3 after load")
        val opts: Map[String, String] =
          ts.optionExpression.options.map { case (k, e) =>
            k.toLowerCase(java.util.Locale.ROOT) ->
              strOf(e).getOrElse(unsupported(
                s"$verb $name USING graft",
                s"OPTION '$k' must be a string literal"))
          }.toMap
        graft.catalog.GraftCatalog.refuseMorKey(opts.keys, s"$verb $name")
        opts.keys.filterNot(graft.catalog.GraftCatalog.isSpecKey)
          .foreach(k => unsupported(s"$verb $name USING graft",
            s"unknown OPTION '$k' — supported: statsCols, strStatsCols, " +
              "bloomStatsCols, rowLevelMode, maxDvPositions"))
        Some(DdlSpec(name, loc,
          graft.catalog.GraftCatalog.specOf(opts, s"$verb $name"),
          timeTravel(spark, query).getOrElse(query)))
      case _ => None
    }

  private def ctas(spark: SparkSession,
      c: CreateTableAsSelect): Option[LogicalPlan] =
    ddlSpecOf(spark, "CREATE TABLE", c.name, c.tableSpec,
      c.partitioning, c.query).map { d =>
      val ifNotExists = c.ignoreIfExists
      GraftDmlCommand("create", d.name, d.loc, s => {
        val v =
          if (ifNotExists && TableLog.latestVersion(d.loc) > 0) {
            val have = TableLog.writeSpec(d.loc)
            val asked = TableLog.checkedSpec(d.loc,
              TableLog.tableSchemaOf(d.loc), d.spec)
            if (d.spec != TableLog.WriteSpec() && asked != have) unsupported(
              s"CREATE TABLE IF NOT EXISTS ${d.name}",
              s"the log at ${d.loc} records $have, the OPTIONS declare " +
                s"$asked — drop the OPTIONS, or change the spec with " +
                "TableLog.setWriteSpec")
            TableLog.latestVersion(d.loc)
          } else createAs(s, d)
        TableLog.registerSqlTable(s, d.name, d.loc)
        v
      })
    }

  /** `REPLACE TABLE` / `CREATE OR REPLACE TABLE … USING graft … AS
    * SELECT` — the atomic-swap DDL verb: an EXISTING log table gets
    * one full-rewrite commit with the new content (history keeps the
    * pre-replace version readable — the replace is an ordinary
    * commit, not an erasure), `OR CREATE` falls back to `create` on a
    * fresh location, plain REPLACE on a fresh location refuses. Feed
    * tables refuse through the rewrite face. */
  private def rtas(spark: SparkSession,
      r: ReplaceTableAsSelect): Option[LogicalPlan] =
    ddlSpecOf(spark, "REPLACE TABLE", r.name, r.tableSpec,
      r.partitioning, r.query).map { d =>
      val orCreate = r.orCreate
      GraftDmlCommand("replace", d.name, d.loc, s => {
        val exists = TableLog.latestVersion(d.loc) > 0
        val v =
          if (exists)
            TableLog.rewrite(s, d.loc, "overwrite",
              expectRows = _ => None, respec = Some(d.spec))(_ =>
              org.apache.spark.sql.graft.Bridge.ofRows(s, d.srcPlan))
          else if (orCreate) createAs(s, d)
          else sys.error(s"REPLACE TABLE ${d.name}: no committed " +
            s"version at ${d.loc} — use CREATE TABLE, or CREATE OR " +
            "REPLACE")
        TableLog.registerSqlTable(s, d.name, d.loc)
        v
      })
    }

  private def createAs(s: SparkSession, d: DdlSpec): Long =
    TableLog.create(s, d.loc,
      org.apache.spark.sql.graft.Bridge.ofRows(s, d.srcPlan),
      statsCols = d.spec.longCols, strStatsCols = d.spec.strCols,
      bloomStatsCols = d.spec.bloomCols, rowLevelMode = d.spec.rowLevelMode,
      maxDvPositions = d.spec.maxDvPositions)

  /** `DROP TABLE <registered view>` — EXTERNAL-table semantics:
    * unregisters the view and the DML registration, leaving the
    * commit log and its bytes untouched on disk (re-register to get
    * them back; `vacuum` + directory removal to purge). `PURGE`
    * refuses loudly with the table path rather than silently
    * destroying a durable log. Unregistered names pass through. */
  private def dropTable(spark: SparkSession,
      d: DropTable): Option[LogicalPlan] = d.child match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        if u.nameParts.size == 1 =>
      val v = u.nameParts.head
      TableLog.sqlDmlReg(spark, v).map { reg =>
        if (d.purge) unsupported(s"DROP TABLE $v PURGE",
          "graft tables are EXTERNAL — DROP unregisters the view and " +
            s"leaves the commit log at ${reg.table}; remove that " +
            "directory to purge bytes")
        GraftDmlCommand("drop", v, reg.table, s => {
          val ver = TableLog.latestVersion(reg.table)
          TableLog.unregisterSqlTable(s, v)
          ver
        }, reRegister = false)
      }
    case _ => None
  }

  /** The READ-side rewrites, applied anywhere in a query (and to
    * INSERT/MERGE sources):
    *   - `FROM <registered view> VERSION AS OF n` / `TIMESTAMP AS OF
    *     ts` — splice the pinned scan's plan in place of the
    *     time-travel node (which Spark itself cannot resolve over a
    *     temp view), same manifest pruning as `scanVersion`/`scanAsOf`;
    *   - `FROM table_changes('<registered view>', vFrom, vTo)` — the
    *     CDC read as a table-valued function: `TableLog.readChanges`'
    *     added side tagged `_change_type = 'insert'` unioned with the
    *     removed side tagged `'delete'` (the multiset delta between
    *     the two versions, MOR- and schema-op-aware);
    *   - `FROM table_history('<registered view>')` /
    *     `table_detail('<registered view>')` — DESCRIBE HISTORY /
    *     DESCRIBE DETAIL as table-valued functions (the observability
    *     faces, queryable and joinable from SQL alone).
    * All pass through untouched over unregistered names. */
  private def timeTravel(spark: SparkSession,
      plan: LogicalPlan): Option[LogicalPlan] = {
    var hit = false
    val out = plan.transformUp {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        viewName(tt.relation)
          .flatMap(v => TableLog.sqlDmlReg(spark, v).map((v, _))) match {
          case Some((v, reg)) =>
            hit = true
            val df = (tt.version, tt.timestamp) match {
              case (Some(ver), None) =>
                // an integer pins the version directly; anything else
                // resolves as a TAG name (resolveTag fails loudly with
                // the available tags)
                val n = try ver.toLong catch {
                  case _: NumberFormatException =>
                    TableLog.resolveTag(reg.table, ver)
                }
                TableLog.scanVersion(spark, reg.table, n)
              case (None, Some(ts)) =>
                TableLog.scanAsOf(spark, reg.table, tsMillisOf(v, ts))
              case _ => unsupported(s"$v AS OF",
                "exactly one of VERSION / TIMESTAMP must be given")
            }
            SubqueryAlias(v, df.queryExecution.logical)
          case None => tt
        }
      case tvf: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("table_changes") && tvf.functionArgs.size == 3 =>
        strOf(tvf.functionArgs(0))
          .flatMap(v => regOfName(spark, v).map((v, _))) match {
          case Some((v, reg)) =>
            hit = true
            // endpoints are versions or TAG names
            def endpoint(i: Int): Long =
              longOf(tvf.functionArgs(i)).orElse(
                strOf(tvf.functionArgs(i)).map(
                  TableLog.resolveTag(reg.table, _)))
                .getOrElse(unsupported(s"table_changes('$v', …)",
                  s"endpoint ${i + 1} must be an integer version or " +
                    "a tag name string"))
            import org.apache.spark.sql.functions.lit
            val (a, r) = TableLog.readChanges(spark, reg.table,
              endpoint(1), endpoint(2))
            val df = a.withColumn("_change_type", lit("insert"))
              .unionByName(r.withColumn("_change_type", lit("delete")))
            SubqueryAlias(v, df.queryExecution.logical)
          case None => tvf
        }
      case tvf: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction
          if Seq("table_history", "table_detail", "table_tags").contains(
            tvf.name.map(_.toLowerCase(java.util.Locale.ROOT))
              .mkString(".")) && tvf.functionArgs.size == 1 &&
            strOf(tvf.functionArgs(0)).isDefined =>
        val v = strOf(tvf.functionArgs(0)).get
        regOfName(spark, v) match {
          case Some(reg) =>
            hit = true
            val fn = tvf.name.head.toLowerCase(java.util.Locale.ROOT)
            val df = fn match {
              case "table_history" => TableLog.history(spark, reg.table)
              case "table_detail" => TableLog.detail(spark, reg.table)
              case _ =>
                import spark.implicits._
                TableLog.tags(reg.table).toSeq.sortBy(_._1)
                  .toDF("tag", "version")
            }
            SubqueryAlias(v, df.queryExecution.logical)
          case None => tvf
        }
    }
    if (hit) Some(out) else None
  }

  private def tsMillisOf(view: String, e: Expression): Long = e match {
    case Literal(s: UTF8String, StringType) =>
      val str = s.toString
      try {
        if (str.contains("T")) java.time.Instant.parse(str).toEpochMilli
        else if (str.length == 10)
          java.time.LocalDate.parse(str).atStartOfDay
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        else java.time.LocalDateTime.parse(str.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch {
        case _: java.time.format.DateTimeParseException =>
          unsupported(s"TIMESTAMP AS OF over $view",
            s"cannot parse '$str' — use 'yyyy-MM-dd[ HH:mm:ss[.SSS]]' " +
              "(UTC) or ISO-8601 instant")
      }
    case Literal(us: Long, TimestampType) => Math.floorDiv(us, 1000L)
    case _ => unsupported(s"TIMESTAMP AS OF over $view",
      "only literal timestamps are supported")
  }

  /** `INSERT INTO <registered view>` (VALUES or SELECT source) →
    * `TableLog.append` — the most common DML verb, completing the SQL
    * mutation story. Source columns align POSITIONALLY (standard
    * SQL); an explicit column list (or BY NAME) must cover every table
    * column — log tables have no column defaults, so a partial insert
    * is refused rather than null-filled. Values cast to the table's
    * recorded types.
    * `INSERT OVERWRITE` is the whole-table REPLACE (standard Spark
    * semantics for an unpartitioned target) — one full-rewrite commit
    * through `TableLog.rewrite`, so history keeps the pre-overwrite
    * version readable and feed-enabled tables refuse loudly (an
    * append-only feed cannot represent a replace). */
  private def insert(spark: SparkSession, view: String, reg: Reg,
      i: InsertIntoStatement): LogicalPlan = {
    import org.apache.spark.sql.functions.col
    if (i.partitionSpec.nonEmpty) unsupported(s"INSERT INTO $view",
      "PARTITION clauses do not apply to log tables")
    val schema = TableLog.tableSchemaOf(reg.table)
    val lowerTarget = schema.fieldNames.map(
      _.toLowerCase(java.util.Locale.ROOT)).toSeq
    val explicitCols = i.userSpecifiedCols.map(
      _.toLowerCase(java.util.Locale.ROOT))
    if (explicitCols.nonEmpty && explicitCols.sorted != lowerTarget.sorted)
      unsupported(s"INSERT INTO $view",
        s"the column list must cover every table column " +
          s"(${schema.fieldNames.mkString(", ")}) exactly once — log " +
          "tables have no column defaults to fill the rest")
    // the source SELECT may itself time-travel a registered view
    // ("INSERT … SELECT … FROM v VERSION AS OF n")
    val srcPlan = timeTravel(spark, i.query).getOrElse(i.query)
    GraftDmlCommand("insert", view, reg.table, s => {
      val src = org.apache.spark.sql.graft.Bridge.ofRows(s, srcPlan)
      val srcNames = src.schema.fieldNames.toSeq
      // src position → target column name: explicit list, BY NAME, or
      // table order
      val targetOf: Seq[String] =
        if (explicitCols.nonEmpty) explicitCols
        else if (i.byName) {
          val lowerSrc = srcNames.map(_.toLowerCase(java.util.Locale.ROOT))
          if (lowerSrc.sorted != lowerTarget.sorted)
            unsupported(s"INSERT INTO $view BY NAME",
              s"source columns (${srcNames.mkString(", ")}) must match " +
                s"the table's (${schema.fieldNames.mkString(", ")})")
          lowerSrc
        } else lowerTarget
      if (srcNames.size != targetOf.size)
        unsupported(s"INSERT INTO $view",
          s"source has ${srcNames.size} columns, expected " +
            s"${targetOf.size}")
      val srcColFor = targetOf.zip(srcNames).toMap
      val aligned = src.select(schema.fields.toIndexedSeq.map { f =>
        col(srcColFor(f.name.toLowerCase(java.util.Locale.ROOT)))
          .cast(f.dataType).as(f.name)
      }: _*)
      if (i.overwrite)
        TableLog.rewrite(s, reg.table, "overwrite",
          expectRows = _ => None)(_ => aligned)
      else TableLog.append(s, reg.table, aligned)
    })
  }

  private def viewName(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
      Some(u.multipartIdentifier.head)
    case SubqueryAlias(_, child) => viewName(child)
    case _ => None
  }

  /** A DML-claimable TARGET: a registered view (single-part name) or a
    * `catalog.ns.table` identifier through a configured
    * [[graft.catalog.GraftCatalog]]. The returned display name is what
    * error messages and the command's view-refresh use — catalog names
    * have no temp view, so `GraftDmlCommand` skips the refresh for them
    * (each catalog query re-resolves its snapshot through `loadTable`
    * anyway). */
  private def targetReg(spark: SparkSession,
      p: LogicalPlan): Option[(String, Reg)] = p match {
    case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
      TableLog.sqlDmlReg(spark, u.multipartIdentifier.head)
        .map((u.multipartIdentifier.head, _))
    case u: UnresolvedRelation =>
      graft.catalog.GraftCatalog.resolveIdent(spark, u.multipartIdentifier)
        .map { case (_, reg) => (u.multipartIdentifier.mkString("."), reg) }
    case SubqueryAlias(_, child) => targetReg(spark, child)
    case _ => None
  }

  /** String-argument twin of `targetReg` for CALL procedures and the
    * TVFs: the whole string as a registered view first, then as a
    * dotted catalog identifier. */
  private def regOfName(spark: SparkSession,
      s: String): Option[Reg] =
    TableLog.sqlDmlReg(spark, s).orElse {
      val parts = s.split("\\.").toSeq
      if (parts.size < 2) None
      else graft.catalog.GraftCatalog.resolveIdent(spark, parts).map(_._2)
    }

  private def unsupported(what: String, detail: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft SQL DML: $what — $detail")

  private def attrOf(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case _ => None
  }
  private def longOf(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    case _ => None
  }
  private def strOf(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, StringType) => Some(v.toString)
    case _ => None
  }

  private def delete(view: String, reg: Reg,
      cond: Expression): LogicalPlan =
    GraftDmlCommand("delete", view, reg.table, s => TableLog.delete(s,
      reg.table, org.apache.spark.sql.graft.Bridge.column(cond)))

  private def update(view: String, reg: Reg, assigns: Seq[Assignment],
      condOpt: Option[Expression]): LogicalPlan = {
    val cond = condOpt.getOrElse(unsupported(s"UPDATE $view",
      "an UPDATE without WHERE rewrites the whole table — state the " +
        "intent with a predicate, or use a rewrite face directly"))
    // standard SQL store-assignment: cast each value to the RECORDED
    // column type (an `UPDATE … SET v = -1` on a BIGINT column must
    // not be refused for the literal parsing as INT, nor silently
    // drift the manifest schema); unknown columns refuse here, with
    // the schema, not downstream
    val schema = TableLog.tableSchemaOf(reg.table)
    val set = assigns.map { case Assignment(k, v) =>
      val name = attrOf(k).getOrElse(unsupported(s"UPDATE $view",
        s"assignment target ${k.sql} is not a plain column"))
      val f = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(unsupported(s"UPDATE $view",
          s"SET names column '$name' which is not in the table " +
            s"schema (${schema.fieldNames.mkString(", ")})"))
      name -> org.apache.spark.sql.graft.Bridge.column(v).cast(f.dataType)
    }.toMap
    GraftDmlCommand("update", view, reg.table, s => TableLog.update(s,
      reg.table, org.apache.spark.sql.graft.Bridge.column(cond), set))
  }

  private def merge(spark: SparkSession, view: String, reg: Reg,
      m: MergeIntoTable): LogicalPlan = {
    val canonical =
      m.matchedActions.forall {
        case UpdateStarAction(None) => true; case _ => false } &&
      m.matchedActions.size == 1 &&
      m.notMatchedActions.forall {
        case InsertStarAction(None) => true; case _ => false } &&
      m.notMatchedActions.size == 1 &&
      m.notMatchedBySourceActions.isEmpty
    if (!canonical) unsupported(s"MERGE INTO $view",
      "supported form on a REGISTERED VIEW is WHEN MATCHED THEN " +
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT * (the latest-wins " +
        "upsert mergeUpsert implements); the full clause matrix — " +
        "conditional actions, WHEN NOT MATCHED BY SOURCE — is " +
        "supported on CATALOG tables (MERGE INTO graft.ns.t, through " +
        "Spark's own row-level framework)")
    val key = m.mergeCondition match {
      case EqualTo(a, b) =>
        (attrOf(a), attrOf(b)) match {
          case (Some(ka), Some(kb)) if ka == kb => ka
          case _ => unsupported(s"MERGE INTO $view",
            "ON must equate one identically-named key column " +
              "(t.k = s.k)")
        }
      case _ => unsupported(s"MERGE INTO $view",
        "ON must be a single equi-key condition")
    }
    // the MERGE source may time-travel a registered view
    val source = timeTravel(spark, m.sourceTable).getOrElse(m.sourceTable)
    GraftDmlCommand("merge", view, reg.table, s =>
      TableLog.mergeUpsert(s, reg.table,
        org.apache.spark.sql.graft.Bridge.ofRows(s, source), Seq(key)))
  }
}

/** One translated DML statement as an eagerly-run command: `run`
  * executes the TableLog face (the commit, with all its audits and
  * CAS retries), then RE-REGISTERS the target's temp view — the view
  * pins a snapshot at `scan` time, so without the refresh a
  * subsequent SELECT would read the pre-DML version. Returns the
  * committed version as the statement's one-row result. */
final case class GraftDmlCommand(kind: String, view: String,
    table: String, body: SparkSession => Long,
    reRegister: Boolean = true)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val v = body(session)
    // DROP must not resurrect the view it just removed; CATALOG targets
    // (dotted names, no sqlDmlReg entry) have no temp view to refresh —
    // every catalog query re-resolves its snapshot through loadTable
    if (reRegister && TableLog.sqlDmlReg(session, view).isDefined)
      TableLog.scan(session, table).createOrReplaceTempView(view)
    Seq(Row(v))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDmlCommand $kind $view -> $table"
}

/** `ParserInterface` wrapper for builder-time injection
  * (`GraftExtensions`): parse with the delegate (full Spark grammar),
  * then hand DML over registered log tables to `GraftSqlDml`.
  * Everything else — including DML on unregistered names — passes
  * through untouched. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan = {
    val plan = delegate.parsePlan(sqlText)
    GraftSqlDml.rewrite(session, plan).getOrElse(plan)
  }
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
