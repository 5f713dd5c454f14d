package graft.plans

import graft.sinks.TableLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The DECLARATIVE face of the commit-log table format: `TableLog.scan`
  * hands Catalyst this resolved leaf instead of an eager file-list scan,
  * and the `PruneLogScan` optimizer rule turns whatever `Filter` the
  * query put on top — DataFrame `.where`, SQL over a temp view, a join
  * key condition Catalyst inferred — into MANIFEST-level file pruning
  * before expanding to the ordinary parquet scan. It is the table's
  * only filtered read: the OPTIMIZER, not the caller, chooses the
  * pruned path, which is what makes the log table behave like a
  * partitioned catalog table in plain `spark.sql`.
  *
  * The leaf pins the SNAPSHOT, not just the path: schema, file list,
  * MOR sidecars and schema-op history are all resolved once at `scan`
  * time, so a query plan is snapshot-isolated no matter when it
  * executes (same contract as every other read face).
  */
final case class GraftLogRelation(table: String, snapshot: TableLog.Snapshot,
    output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {

  /** Self-joins: the analyzer deduplicates via fresh expr ids; the
    * expansion maps scan output to relation output BY NAME, so new ids
    * are safe. */
  override def newInstance(): GraftLogRelation =
    copy(output = output.map(_.newInstance()))

  /** Real bytes from the MANIFEST's write-time sizes — so anything
    * consulting logical stats before expansion (join-size heuristics,
    * the dynamic-prune gate) sees the table's actual footprint with
    * ZERO filesystem calls at planning. */
  override def computeStats(): Statistics = Statistics(sizeInBytes =
    BigInt(snapshot.files.map(_.bytes).sum).max(1))

  override def simpleString(maxFields: Int): String =
    s"GraftLogRelation $table v${snapshot.version} " +
      s"(${snapshot.files.size} files)"
}

/** Optimizer rule: `Filter(cond, GraftLogRelation)` ⇒ `Filter(cond,
  * <parquet scan of only the manifest-stat-surviving files>)`; a bare
  * relation expands to the full scan. Runs in the user-rule batch
  * AFTER predicate pushdown has collapsed every filter in the query
  * onto the leaf, so one match sees the whole conjunction; parquet
  * row-group pushdown still happens later at physical planning
  * (V1 FileSourceStrategy), so manifest pruning and footer pruning
  * stack. Supported conjuncts — long ranges, equalities of any
  * literal type (range + bloom stats), IN-lists over literals — prune;
  * everything else is ignored and re-applied by the Filter that stays
  * on top: stats prune IO, never semantics. Expansion goes through
  * `morScan`, so delete sidecars and schema-op name resolution apply
  * exactly as on the eager faces. */
object PruneLogScan extends Rule[LogicalPlan] with PredicateHelper {

  /** Idempotently register on a live session (builder path:
    * GraftExtensions). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // transformDown so the whole-table aggregate and Filter-on-relation
    // cases match before the bare relation underneath them would expand
    plan.transformDown {
      case agg @ Aggregate(Nil, _, AggChild(r: GraftLogRelation), _) =>
        // unanswerable ⇒ return agg unchanged; transformDown then
        // recurses into its children and the cases below expand the leaf
        metadataAnswer(agg, r).getOrElse(agg)
      case j: Join if RelSide.unapply(j.left).isDefined ||
          RelSide.unapply(j.right).isDefined =>
        // bail ⇒ unchanged join; recursion expands the leaves normally
        tryDynPrune(j).getOrElse(j)
      case Filter(cond, r: GraftLogRelation) =>
        Filter(cond, expand(r, boxPrune(r.snapshot, keptFiles(r, cond),
          cond)))
      case r: GraftLogRelation =>
        expand(r, r.snapshot.files)
    }
  }

  /** A log relation as a join child, possibly under the Filter the
    * main optimizer pushed onto it. */
  private object RelSide {
    def unapply(p: LogicalPlan)
        : Option[(GraftLogRelation, Option[Expression])] = p match {
      case r: GraftLogRelation => Some((r, None))
      case Filter(c, r: GraftLogRelation) => Some((r, Some(c)))
      case _ => None
    }
  }

  val DYN_KEY = "spark.graft.logPrune.dynJoin.enabled"
  val DYN_MAX_KEYS = "spark.graft.logPrune.dynJoin.maxKeys"
  val DYN_BYTES = "spark.graft.logPrune.dynJoin.bytes"

  /** JOIN-DRIVEN dynamic file pruning — the manifest-level analogue of
    * dynamic partition pruning: when a log relation joins a PROVABLY
    * SMALL other side on a long equi-key, execute the other side's key
    * projection at planning time (bounded by `maxKeys` distinct keys —
    * the same driver budget the upsert key prune spends), and open only
    * the fact files whose key stats can contain one of them. Safe
    * exactly when the relation sits on a NON-PRESERVED side — its
    * rows without a join partner are dropped anyway: inner and
    * left-semi (either side), the right side of a left-outer, the
    * left side of a right-outer. The other side runs twice (once for
    * keys, once in the real join) — the `bytes` gate keeps that
    * planning-time spend bounded; with the gate, a 1000-file scan
    * shrinking to the dim's few files is the difference between a
    * lake-wide shuffle and a handful of reads in plain
    * `fact.join(dim, "k")` code. */
  private def tryDynPrune(j: Join): Option[LogicalPlan] = {
    if (!conf.getConfString(DYN_KEY, "true").toBoolean) return None
    val cond = j.condition.getOrElse(return None)
    def preservedLeft = j.joinType match {
      case Inner | LeftSemi | RightOuter => false
      case _ => true // left rows survive without a partner: no pruning
    }
    def preservedRight = j.joinType match {
      case Inner | LeftSemi | LeftOuter => false
      case _ => true
    }
    val (r, fc, relLeft, other) = (j.left, j.right) match {
      case (RelSide(rel, c), o) if !preservedLeft => (rel, c, true, o)
      case (o, RelSide(rel, c)) if !preservedRight => (rel, c, false, o)
      case _ => return None
    }
    // the other side executes TWICE — once here for its key set, once
    // in the real join. A nondeterministic plan (rand() filter,
    // unseeded sample) yields DIFFERENT rows across the two runs, so
    // files would be pruned against a stale key set and matching rows
    // silently vanish — violating "stats prune IO, never semantics".
    // Bail unless fully deterministic, mirroring InjectRuntimeFilter's
    // guard on Spark's own runtime filters.
    if (other.exists(_.expressions.exists(!_.deterministic))) return None
    // never execute an other side that itself contains an unexpanded
    // log relation of a LARGE table — the bytes gate below covers it,
    // but a missing-stats default must not sneak through
    val otherBytes = try other.stats.sizeInBytes catch {
      case _: Exception => return None
    }
    val maxBytes = conf.getConfString(DYN_BYTES, (8L << 20).toString).toLong
    if (otherBytes > maxBytes) return None
    // first long- or string-typed equi-pair between the two sides
    // (long keys prune via the long range stats, string keys — the
    // document/content-table shape — via the string stats in UTF-8
    // binary order, the same primitives the COW merges use)
    val relOut = r.outputSet
    val otherOut = other.outputSet
    def keyType(t: DataType) = t == LongType || t == StringType
    val pair = splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if keyType(a.dataType) && relOut.contains(a) &&
            otherOut.contains(b) => (a, b)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if keyType(a.dataType) && relOut.contains(a) &&
            otherOut.contains(b) => (a, b)
    }
    val (relKey, otherKey) = pair.getOrElse(return None)
    val maxKeys = conf.getConfString(DYN_MAX_KEYS, "100000").toInt
    val spark = SparkSession.active
    val keyCol = org.apache.spark.sql.graft.Bridge.column(otherKey)
    // single-stage collect + driver dedupe, NOT distinct(): a
    // distinct is a two-stage shuffle job, and this runs at PLANNING
    // time — its fixed cost is the whole overhead of the feature. A
    // truncated collect (> maxKeys rows) means the key set may be
    // incomplete, so it must bail, never prune on a partial set.
    val rows = org.apache.spark.sql.graft.Bridge.ofRows(spark, other)
      .select(keyCol).where(keyCol.isNotNull)
      .limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) return None // big or unknowable: bail
    val statKept = fc.map(keptFiles(r, _)).getOrElse(r.snapshot.files)
    val kept =
      if (relKey.dataType == LongType)
        TableLog.prunedFilesByKeys(r.snapshot.copy(files = statKept),
          relKey.name, rows.map(_.getLong(0)).distinct.sorted)
      else
        TableLog.prunedFilesByKeysStr(r.snapshot.copy(files = statKept),
          relKey.name,
          TableLog.utf8SortKeys(rows.map(_.getString(0)).distinct))
    val expanded = expand(r, kept)
    val relSide = fc.map(Filter(_, expanded)).getOrElse(expanded)
    Some(if (relLeft) j.copy(left = relSide) else j.copy(right = relSide))
  }

  /** ColumnPruning may have narrowed the relation through a Project of
    * bare attributes; look through it. */
  private object AggChild {
    def unapply(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Project(ps, child) if ps.forall(_.isInstanceOf[Attribute]) =>
        Some(child)
      case other => Some(other)
    }
  }

  /** A whole-table `count(*)` / `min(longCol)` / `max(longCol)`
    * aggregate answered from the MANIFEST — count from the audited
    * per-version row count, min/max from the per-file stats — turning
    * `SELECT count(*), max(k) FROM lake` into a zero-IO local relation.
    * Answers ONLY when provably exact: no grouping, no DISTINCT/FILTER
    * clauses, count of a non-null literal, min/max of a LONG column
    * whose stat exists on EVERY file under the file's own physical
    * name (a dead-incarnation file is all-null and contributes
    * nothing; a file MISSING the stat bails the whole rewrite), and no
    * pending MOR sidecar (a sidecar delete could have removed the
    * extreme row — `rows` is maintained through deletes, so count
    * stays answerable). */
  private def metadataAnswer(agg: Aggregate, r: GraftLogRelation)
      : Option[LogicalPlan] = {
    val s = r.snapshot
    val values = agg.aggregateExpressions.map {
      case Alias(AggregateExpression(fn, _, isDistinct, filter, _), _) =>
        if (isDistinct || filter.isDefined) return None
        fn match {
          case Count(Seq(Literal(v, _))) if v != null => s.rows
          case Count(Seq(e)) if e.references.isEmpty && e.foldable &&
              e.eval(null) != null => s.rows
          case Min(a: AttributeReference) if a.dataType == LongType =>
            (if (versionMeta(s, a.name)) verExtreme(s, isMin = true)
             else statExtreme(s, a.name, isMin = true))
              .getOrElse(return None)
          case Max(a: AttributeReference) if a.dataType == LongType =>
            (if (versionMeta(s, a.name)) verExtreme(s, isMin = false)
             else statExtreme(s, a.name, isMin = false))
              .getOrElse(return None)
          case _ => return None
        }
      case _ => return None
    }
    Some(LocalRelation(agg.output.map(_.asInstanceOf[Attribute]),
      Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(values))))
  }

  /** `_version` is the catalog metadata column unless a DATA column
    * in the recorded schema claims the name (Spark's conflict rule
    * shadows the metadata one). Its per-row value IS the manifest
    * entry's `ver`, so both pruning and extremes over it are EXACT
    * manifest arithmetic, no stats. */
  private def versionMeta(s: TableLog.Snapshot, c: String): Boolean =
    c == "_version" && !s.schema.struct.fieldNames.contains("_version")

  /** min/max of `_version`: exact over the live files' commit versions
    * — every manifest entry has ≥1 row (a writer task opens its file
    * on its first row), but a pending MOR sidecar could have emptied
    * the extreme file, so bail like `statExtreme` does. */
  private def verExtreme(s: TableLog.Snapshot, isMin: Boolean)
      : Option[Any] = {
    if (s.dels.nonEmpty) return None
    if (s.files.isEmpty) return Some(null)
    val vs = s.files.map(_.ver)
    Some(if (isMin) vs.min else vs.max)
  }

  /** Some(Some(v)) = exact extreme; Some(None) would be "provably all
    * null" which we encode as a null literal value; None = cannot
    * answer exactly. */
  private def statExtreme(s: TableLog.Snapshot, c: String, isMin: Boolean)
      : Option[Any] = {
    if (s.dels.nonEmpty) return None
    val phys = s.files.map(f => TableLog.resolvePhysical(c,
      s.schemaOps.filter(_.ver > f.ver)) -> f)
    // live files must ALL carry the stat; dead-incarnation files are
    // all-null for this column and drop out of min/max
    val live = phys.collect { case (Some(p), f) => (p, f) }
    val stats = live.map { case (p, f) => f.stats.find(_.col == p) }
    if (stats.exists(_.isEmpty)) return None
    val vals = stats.flatten
    if (vals.isEmpty) return Some(null) // every file predates the column
    Some(if (isMin) vals.map(_.min).min else vals.map(_.max).max)
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    // the ANALYZED (unoptimized) tree wraps a narrower literal in a
    // widening cast (`k >= CAST(1200 AS bigint)`) — exact in long
    // space, so unwrap; the non-declarative faces (positional DML,
    // CALL replace_where) prune from analyzed conditions where
    // ConstantFolding hasn't run
    case c: Cast if c.dataType == LongType => longLit(c.child)
    case _ => None
  }
  private def strLit(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, StringType) => Some(v.toString)
    case _ => None
  }
  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def keptFiles(r: GraftLogRelation, cond: Expression)
      : Seq[TableLog.FileEntry] =
    pruneTree(r.snapshot, cond).getOrElse(r.snapshot.files)

  /** File-prune entry point for the non-declarative faces (the
    * positional DML's predicate pruning): evaluate a RESOLVED
    * predicate tree against the snapshot's stats exactly as the
    * optimizer rule would — per-leaf ranges, IN-lists, equality +
    * bloom, and the conjunction z-box pass. */
  private[graft] def keptFilesOf(s: TableLog.Snapshot, cond: Expression)
      : Seq[TableLog.FileEntry] =
    boxPrune(s, pruneTree(s, cond).getOrElse(s.files), cond)

  /** The MULTI-DIMENSIONAL tightening pass over a per-leaf-pruned file
    * set: collect the top-level CONJUNCTS' per-column long ranges (a
    * row must satisfy all of them, so the joint box is sound whatever
    * OR-subtrees ride alongside) and hand them to the z-interval box
    * prune — on a z-ordered table a file whose bounding box overlaps
    * the query box but whose z run never enters it drops here, where
    * the per-column stats could not. No z2 stats ⇒ identity. */
  private def boxPrune(s: TableLog.Snapshot,
      kept: Seq[TableLog.FileEntry], cond: Expression)
      : Seq[TableLog.FileEntry] = {
    val ranges = splitConjunctivePredicates(cond)
      .flatMap(leafRange)
      .groupBy(_._1)
      .map { case (c, vs) =>
        c -> vs.map(v => (v._2, v._3)).reduce((x, y) =>
          (math.max(x._1, y._1), math.min(x._2, y._2)))
      }
    // contradictory conjuncts on one column (`k > 50 AND k < 40`,
    // `BETWEEN 5 AND 1`) match no row in any file
    if (ranges.exists { case (_, (lo, hi)) => lo > hi }) Nil
    else if (ranges.size < 2) kept
    else TableLog.prunedFilesByBox(s.copy(files = kept), ranges)
  }

  /** One comparison leaf as (column, lo, hi) — the shape both the
    * per-leaf range prune and the conjunction box pass consume
    * (`literal op column` reads as `column op' literal`). */
  private def leafRange(e: Expression): Option[(String, Long, Long)] = {
    val (c, v, colLeft) = e match {
      case b: BinaryComparison
          if attrName(b.left).isDefined && longLit(b.right).isDefined =>
        (attrName(b.left).get, longLit(b.right).get, true)
      case b: BinaryComparison
          if attrName(b.right).isDefined && longLit(b.left).isDefined =>
        (attrName(b.right).get, longLit(b.left).get, false)
      case _ => return None
    }
    (e, colLeft) match {
      case (_: EqualTo, _) => Some((c, v, v))
      case (_: GreaterThanOrEqual, true) | (_: LessThanOrEqual, false) =>
        Some((c, v, Long.MaxValue))
      case (_: GreaterThan, true) | (_: LessThan, false) =>
        Some((c, v + 1, Long.MaxValue))
      case (_: LessThanOrEqual, true) | (_: GreaterThanOrEqual, false) =>
        Some((c, Long.MinValue, v))
      case (_: LessThan, true) | (_: GreaterThan, false) =>
        Some((c, Long.MinValue, v - 1))
      case _ => None // EqualNullSafe
    }
  }

  /** Evaluate the whole predicate TREE to a surviving file set: AND
    * intersects (an unprunable side simply contributes nothing), OR
    * unions — and is prunable only when BOTH branches are, since an
    * unprunable disjunct can match rows anywhere. This is what makes
    * `k = 1 OR k = 4000` prune exactly like `k IN (1, 4000)`, instead
    * of the conjunct-only treatment where any OR defeats pruning.
    * None = this subtree cannot prune (its Filter re-applies
    * unchanged — stats prune IO, never semantics). */
  private def pruneTree(s: TableLog.Snapshot, e: Expression)
      : Option[Seq[TableLog.FileEntry]] = e match {
    case And(l, r) =>
      (pruneTree(s, l), pruneTree(s, r)) match {
        case (Some(a), Some(b)) =>
          val bp = b.map(_.path).toSet
          Some(a.filter(f => bp(f.path)))
        case (a, None) => a
        case (None, b) => b
      }
    case Or(l, r) =>
      for { a <- pruneTree(s, l); b <- pruneTree(s, r) } yield {
        val ap = a.map(_.path).toSet
        a ++ b.filterNot(f => ap(f.path))
      }
    case leaf => pruneLeaf(s, leaf)
  }

  private def pruneLeaf(s: TableLog.Snapshot, e: Expression)
      : Option[Seq[TableLog.FileEntry]] = e match {
    case ColEqLit(c, l) if !versionMeta(s, c) => Some(eqPrune(s, c, l))
    // long comparisons, both literal sides (shared shape with the
    // conjunction box pass). `_version` prunes EXACTLY on the manifest
    // entry's commit version — `WHERE _version = 5` opens only the
    // files commit 5 added, the audit-query fast path.
    case _ if leafRange(e).isDefined =>
      val (c, lo, hi) = leafRange(e).get
      if (versionMeta(s, c))
        Some(s.files.filter(f => f.ver >= lo && f.ver <= hi))
      else Some(TableLog.prunedFilesOf(s, c, lo, hi))
    case In(a, vs) if attrName(a).isDefined && vs.nonEmpty &&
        vs.forall(longLit(_).isDefined) =>
      Some(longInPrune(s, attrName(a).get, vs.flatMap(longLit)))
    case In(a, vs) if attrName(a).isDefined && vs.nonEmpty &&
        vs.forall(strLit(_).isDefined) =>
      Some(TableLog.prunedFilesInOf(s, attrName(a).get, vs.flatMap(strLit)))
    // OptimizeIn rewrites literal IN-lists past the threshold to InSet
    // over Catalyst-internal values
    case InSet(a, hs) if attrName(a).isDefined && hs.nonEmpty &&
        hs.forall(_.isInstanceOf[java.lang.Long]) =>
      Some(longInPrune(s, attrName(a).get,
        hs.toSeq.map(_.asInstanceOf[java.lang.Long].longValue)))
    case InSet(a, hs) if attrName(a).isDefined && hs.nonEmpty &&
        hs.forall(_.isInstanceOf[UTF8String]) =>
      Some(TableLog.prunedFilesInOf(s, attrName(a).get,
        hs.toSeq.map(_.toString)))
    case _ => None // unsupported leaf: no pruning, Filter re-applies
  }

  /** A long IN-list: exact on `_version`, else by the long stats. */
  private def longInPrune(s: TableLog.Snapshot, c: String, vs: Seq[Long])
      : Seq[TableLog.FileEntry] =
    if (!versionMeta(s, c)) TableLog.prunedFilesInLongOf(s, c, vs)
    else { val set = vs.toSet; s.files.filter(f => set(f.ver)) }

  /** `column = literal`, either side, with a non-null value (the
    * analyzed tree's widening cast around a narrower long literal
    * unwraps as in `longLit`). */
  private object ColEqLit {
    def unapply(e: Expression): Option[(String, Literal)] = e match {
      case EqualTo(a: AttributeReference, v) => eqLit(v).map(a.name -> _)
      case EqualTo(v, a: AttributeReference) => eqLit(v).map(a.name -> _)
      case _ => None
    }
    private def eqLit(e: Expression): Option[Literal] = e match {
      case l @ Literal(v, _) => Option(v).map(_ => l)
      case _ => longLit(e).map(Literal(_))
    }
  }

  /** An equality prunes twice: by the [min,max] range (long stats for
    * a long literal, string stats for a string one), then by the
    * per-file blooms. */
  private def eqPrune(s: TableLog.Snapshot, c: String, l: Literal)
      : Seq[TableLog.FileEntry] = {
    val ranged = (longLit(l), strLit(l)) match {
      case (Some(v), _) => TableLog.prunedFilesOf(s, c, v, v)
      case (_, Some(v)) => TableLog.prunedFilesInOf(s, c, Seq(v))
      case _ => s.files
    }
    TableLog.prunedFilesPointOf(s.copy(files = ranged), c, bloomProbes(l))
  }

  private val numericLattice =
    Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** A file's bloom hashed each value under the type that FILE was
    * written with, which is narrower than the column's for files
    * written before a `widenColumnType` or appended as a narrower batch
    * (an int file in a long column). So probe the literal under its own
    * type and under every narrower type of `TableLog.widen`'s lattice
    * that holds the value exactly; strings never widen and probe once. */
  private def bloomProbes(l: Literal): Seq[Literal] =
    l +: numericLattice.filter(t => t != l.dataType &&
        TableLog.widen(t, l.dataType).contains(l.dataType))
      .flatMap { t =>
        // exact = round-trips to the same boxed value (NaN included)
        Option(Cast(l, t, evalMode = EvalMode.TRY).eval())
          .filter(n => java.util.Objects.equals(l.value,
            Cast(Literal(n, t), l.dataType, evalMode = EvalMode.TRY).eval()))
          .map(Literal(_, t))
      }

  /** Replace the leaf with the ordinary snapshot scan of `files`
    * (MOR- and schema-op-aware), output re-aliased to the relation's
    * attribute ids BY NAME so every parent reference stays valid. An
    * empty survivor set is a constant-empty relation. */
  private def expand(r: GraftLogRelation,
      files: Seq[TableLog.FileEntry]): LogicalPlan = {
    if (files.isEmpty) return LocalRelation(r.output)
    val spark = SparkSession.active
    // metadata columns the catalog face spliced into the relation's
    // output (attachMeta skips names a data column already claims)
    val meta = r.output.map(_.name)
      .filter(n => n == "_file" || n == "_version" || n == "_pos")
    val df = TableLog.morScan(spark, r.table, r.snapshot, files, meta)
    // the OPTIMIZED child plan, not the analyzed one: this rule runs in
    // the user batch AFTER the main optimizer, so analysis-level nodes
    // the scan may contain (Deduplicate/ExceptAll from the MOR
    // anti-joins) would never be lowered and physical planning would
    // refuse them. Re-entrant optimization of the child is safe — it
    // contains no GraftLogRelation.
    val scan = df.queryExecution.optimizedPlan
    val byName = scan.output.map(a => a.name -> a).toMap
    Project(r.output.map { want =>
      val have = byName.getOrElse(want.name, throw new IllegalStateException(
        s"GraftLogRelation ${r.table}: scan lacks column '${want.name}'"))
      Alias(have, want.name)(exprId = want.exprId)
    }, scan)
  }
}
