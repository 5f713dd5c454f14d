package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions — so `spark.sql("... dot_long(a,
  * b)")` works anywhere the Scala `Column` API does — and its optimizer
  * rules.
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or: spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // readChangeFeed option on table reads → the CHANGES face (an
    // ANALYZER rule: the relation's output changes, so it cannot be
    // installed on a live session — GraftSessions.withExtensions
    // bridges; the __changes identifier is the option-free alias)
    e.injectResolutionRule(_ => graft.plans.ResolveChangeFeedReads)
    // conf-gated (spark.graft.topkRewrite.enabled); see the rule's scaladoc
    e.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToTopK)
    // catalog reads (graft.catalog.GraftCatalog tables) become
    // GraftLogRelation leaves, so they prune like TableLog.scan
    // (spark.graft.catalogReads.enabled, default on)
    e.injectOptimizerRule(_ => graft.plans.ResolveGraftCatalogReads)
    // expands TableLog.scan leaves, pruning files from query filters
    e.injectOptimizerRule(_ => graft.plans.PruneLogScan)
    // SQL DML face: UPDATE/DELETE/MERGE text over tables registered
    // via TableLog.registerSqlTable routes to the TableLog faces
    // (live sessions without extensions use TableLog.sql instead)
    e.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    GraftFunctionRegistry.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(clazz, name), builder))
    }
  }
}

/** The engine's SQL-function surface, shared by the builder-time
  * (GraftExtensions) and live-session (GraftFunctions.register) paths.
  * Integer parameters arrive as SQL literals and are folded at
  * registration. */
object GraftFunctionRegistry {
  /** Folds a constant function parameter; a non-foldable argument (a column
    * reference) raises the standard NON_FOLDABLE_ARGUMENT AnalysisException
    * naming the function, instead of a confusing NPE from eval(null). */
  private def lit(e: Expression, fn: String, param: String,
      tpe: org.apache.spark.sql.types.DataType): Any = {
    if (!e.foldable)
      throw org.apache.spark.sql.graft.Bridge.nonFoldableArgument(fn, param, tpe)
    e.eval(null)
  }

  private def int(e: Expression, fn: String, param: String): Int =
    lit(e, fn, param, org.apache.spark.sql.types.IntegerType) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn($param): expected integer literal, got $other")
    }

  private def dbl(e: Expression, fn: String, param: String): Double =
    lit(e, fn, param, org.apache.spark.sql.types.DoubleType).toString.toDouble

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_long", classOf[DotProductLong].getName,
      es => DotProductLong(es(0), es(1))),
    ("dot_float", classOf[DotProductFloat].getName,
      es => DotProductFloat(es(0), es(1))),
    ("quantize_vector", classOf[QuantizeVector].getName,
      es => QuantizeVector(es(0), dbl(es(1), "quantize_vector", "scale"))),
    ("simhash_bits", classOf[SimHashBits].getName,
      es => SimHashBits(es(0), int(es(1), "simhash_bits", "bits"))),
    ("md5_halves", classOf[Md5Halves].getName,
      es => Md5Halves(es(0))),
    ("winnow_fingerprints", classOf[WinnowFingerprints].getName,
      es => WinnowFingerprints(es(0), int(es(1), "winnow_fingerprints", "k"),
        int(es(2), "winnow_fingerprints", "window"))),
    ("window_energy", classOf[WindowEnergy].getName,
      es => WindowEnergy(es(0), int(es(1), "window_energy", "win"))),
    // SQL ints cast up to the expression's bigint contract here (the
    // sql-api AbstractDataType needed for ImplicitCastInputTypes is
    // private[sql])
    ("z_order_long", classOf[ZOrderLong].getName,
      es => ZOrderLong(
        org.apache.spark.sql.catalyst.expressions.Cast(es(0), org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(es(1), org.apache.spark.sql.types.LongType))),
    ("z_order3_long", classOf[ZOrder3Long].getName,
      es => ZOrder3Long(
        org.apache.spark.sql.catalyst.expressions.Cast(es(0), org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(es(1), org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(es(2), org.apache.spark.sql.types.LongType))),
    ("hilbert_long", classOf[HilbertLong].getName,
      es => HilbertLong(
        org.apache.spark.sql.catalyst.expressions.Cast(es(0), org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(es(1), org.apache.spark.sql.types.LongType))),
    ("normalize_nfc", classOf[NormalizeNfc].getName,
      es => NormalizeNfc(es(0))),
    // PII redaction from SQL — same three RE2-subset patterns as the
    // Column face (one definition, TextExpressions.piii*Re)
    ("scrub_pii",
      classOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]
        .getName,
      es => TextExpressions.scrubPiiExpr(es(0))),
    // AggregateFunction builders: the analyzer wraps them in an
    // AggregateExpression like any built-in aggregate
    ("vector_sum_long", classOf[VectorSumLong].getName,
      es => VectorSumLong(es(0))),
    ("count_min_long", classOf[CountMinLong].getName,
      es => CountMinLong(es(0), int(es(1), "count_min_long", "depth"),
        int(es(2), "count_min_long", "width"))))
}

/** A sibling SparkSession on the SAME SparkContext built WITH
  * [[GraftExtensions]] — for live sessions that need an
  * extension-only surface (`readChangeFeed`, the injected parser):
  * optimizer rules and functions install onto a live session
  * (`ResolveGraftCatalogReads.install`, `GraftFunctions.register`),
  * but ANALYZER rules are fixed at session construction, so those
  * surfaces need a session built with the extensions. Public-API
  * bridge: `Builder.getOrCreate` returns the active/default session
  * when one exists, so both are cleared around the build (and
  * restored after) — the new session shares the SparkContext, all
  * cluster state, and the warehouse; runtime SQL confs (catalog
  * registrations, shuffle partitions) are per-session and must be
  * set by the caller on the returned session. Cached per context.
  *
  * Concurrency: the default/active globals are JVM-wide, and Spark's
  * own `Builder.build` guards its default-session check/create with
  * the CLASSIC SparkSession companion monitor — so the clear → build
  * → restore window below holds THAT monitor. A concurrent
  * `getOrCreate` on another thread (without its own active session)
  * blocks at the same monitor until the prior state is restored,
  * instead of observing no default and silently binding a brand-new
  * unrelated session. (A thread with an ACTIVE session returns it
  * before the lock — untouched either way: actives are thread-local
  * and only this thread's is cleared.) */
object GraftSessions {
  import org.apache.spark.sql.SparkSession

  @volatile private var cached: SparkSession = _

  def withExtensions(spark: SparkSession): SparkSession = synchronized {
    val c = cached
    if (c != null && (c.sparkContext eq spark.sparkContext) &&
        !c.sparkContext.isStopped) return c
    // the monitor Spark's Builder.build takes around its
    // default-session check — holding it makes clear/build/restore
    // atomic w.r.t. every concurrent getOrCreate
    org.apache.spark.sql.classic.SparkSession.synchronized {
      val prevDefault = SparkSession.getDefaultSession
      val prevActive = SparkSession.getActiveSession
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      try {
        val s2 = SessionProfile.tune(SparkSession.builder()
            .master(spark.sparkContext.master)
            .withExtensions(new GraftExtensions))
          .getOrCreate()
        s2.conf.set("spark.sql.shuffle.partitions",
          spark.conf.get("spark.sql.shuffle.partitions"))
        cached = s2
        s2
      } finally {
        // restore EXACTLY the prior state: getOrCreate binds the new
        // session as default when none existed, and leaving the
        // extension session as the process default would hand it to
        // every later unrelated getOrCreate
        prevDefault match {
          case Some(d) => SparkSession.setDefaultSession(d)
          case None => SparkSession.clearDefaultSession()
        }
        prevActive match {
          case Some(a) => SparkSession.setActiveSession(a)
          case None => SparkSession.clearActiveSession()
        }
      }
    }
  }
}

/** Runtime twin of GraftExtensions for sessions that already exist. */
object GraftFunctions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graft.Bridge.registerTempFunction
    GraftFunctionRegistry.all.foreach { case (name, _, builder) =>
      registerTempFunction(spark, name, builder)
    }
  }
}
