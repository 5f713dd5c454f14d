package perfbench

import graft.SessionProfile
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark program: one process, one client, a closed loop. It sets the
  * workload up several times (reporting the median), runs its warm-up,
  * then runs whole rounds until `--seconds` have passed. With
  * `--trace 1` it interleaves untraced and traced rounds, derives the
  * per-layer metrics from the traced ones and reports the tracing overhead
  * as the difference between the two. It writes the whole run to `--out`
  * as JSON; `run.py` turns that into the result line. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val nproc = Runtime.getRuntime.availableProcessors
    val slots = math.min(4, nproc)
    val master = s"local[$slots]"
    val t0 = System.nanoTime()
    val spark = session(work, slots)
    val builtS = (System.nanoTime() - t0) / 1e9
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - sessionS

    val ctx = new Ctx(spark, work, seed)
    val w = Workloads(workload, ctx)
    def secs(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    }
    val reps = (1 to SetupReps).map(_ => secs(w.setupRep()))
    val warmS = secs(w.warmup())
    val setupS = sessionS + Stats.median(reps) + warmS
    ctx.errors.clear()

    // the listener is attached for traced rounds only, so the untraced
    // rounds of a traced run pay nothing and the overhead shows in full
    val recorder = new Recorder
    ctx.measuring = true
    val traced = mutable.ArrayBuffer.empty[Long]
    val complete = mutable.ArrayBuffer.empty[(Long, Boolean)]
    val aggs = mutable.Map.empty[String, KindAgg]
    val selfMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val roundCounters = mutable.ArrayBuffer.empty[Map[String, Double]]
    var gcMs = 0L
    var storagePeak = 0L
    var taskMsTotal = 0L
    var opWallTraced = 0.0
    val start = System.nanoTime()
    var r = 0L
    def elapsed = (System.nanoTime() - start) / 1e9
    def seen(t: Boolean) = complete.count(_._2 == t)
    while (elapsed < seconds || (trace && (seen(true) < 1 || seen(false) < 1))) {
      r += 1
      // untraced, traced, traced, untraced, …: a warming trend over the run
      // then biases neither side of the overhead comparison
      val on = trace && (r % 4 == 2 || r % 4 == 3)
      ctx.round = r
      ctx.tracer.on = on
      ctx.tracer.startRound(r)
      if (on) spark.sparkContext.addSparkListener(recorder)
      val gc0 = Gc.ms
      val ok = try {
        ctx.tracer.call(s"round $workload", "bench")(w.round()); true
      } catch { case e: Throwable =>
        ctx.errors += s"round $r: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        false
      }
      if (on) {
        gcMs += Gc.ms - gc0
        ctx.tracer.on = false
        val (jobs, peak) = recorder.drain(spark)
        spark.sparkContext.removeSparkListener(recorder)
        storagePeak = math.max(storagePeak, peak)
        val (kinds, counters) = attribute(ctx, r, jobs, selfMs)
        kinds.foreach { case (k, a) => aggs(k) = aggs.get(k).fold(a)(_ + a) }
        taskMsTotal += jobs.map(_.taskMs).sum
        opWallTraced += ctx.samples.filter(s => s.round == r).map(_.ms).sum
        if (ok) { traced += r; roundCounters += counters }
      }
      if (ok) complete += r -> on
      else ctx.check("rounds_complete", ok = false, s"round $r: ${ctx.errors.lastOption.getOrElse("")}")
    }
    ctx.measuring = false
    ctx.tracer.on = false
    val measuredS = elapsed
    try w.finish() catch { case e: Throwable =>
      ctx.check("finish", ok = false, e.toString) }
    val probes = new Probes(spark, work.resolve("io-probe.parquet").toString).point()

    // ── end-to-end metrics, from the untraced complete rounds ──
    val untracedRounds = complete.filterNot(_._2).map(_._1).toSet
    val tracedRounds = complete.filter(_._2).map(_._1).toSet
    def samplesOf(rounds: Set[Long]) = ctx.samples.filter(s => rounds(s.round))
    def medOf(rounds: Set[Long])(k: String): Double =
      Stats.median(samplesOf(rounds).filter(_.kind == k).map(_.ms).toSeq)
    def roundMsOf(rounds: Set[Long]): Double =
      w.mix.map { case (k, n) => n * medOf(rounds)(k) }.sum
    def roundTotals(rounds: Set[Long]): Seq[Double] =
      samplesOf(rounds).groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(_.ms).sum)
    val roundMs = roundMsOf(untracedRounds)
    val untracedTotals = roundTotals(untracedRounds)
    val e2e = Seq("round_ms" -> (roundMs, "ms"), "setup_s" -> (setupS, "s"))
    val named = w.named(medOf(untracedRounds), untracedTotals)
    val kinds = w.mix.keys.toSeq.sorted.map { k =>
      val xs = samplesOf(untracedRounds).filter(_.kind == k).map(_.ms).toSeq
      k -> Seq("n" -> xs.size, "median_ms" -> Stats.median(xs),
        "tail" -> Stats.tail(xs).map { case (p, v) => Seq("p" -> p, "ms" -> v) },
        "max_ms" -> (if (xs.isEmpty) 0.0 else xs.max))
    }

    // ── per-layer metrics, from the traced rounds ──
    val nTraced = math.max(1, traced.size)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    Layers.names.foreach(layer(_) = 0.0)
    layer ++= w.layer(aggs.toMap, nTraced)
    layer("spark.cpu_util") = taskMsTotal / math.max(1e-9, opWallTraced * slots)
    layer("spark.gc_ms") = gcMs.toDouble / nTraced
    layer("spark.storage_peak_mb") = storagePeak / 1e6
    Layers.selfLayers.foreach { l =>
      layer(s"self.${l}_ms") = selfMs(l) / nTraced }
    val overhead = if (trace && untracedRounds.nonEmpty && tracedRounds.nonEmpty)
      (roundMsOf(tracedRounds) / roundMs - 1) * 100 else 0.0
    layer("trace.overhead_pct") = overhead
    val countersRepeat = roundCounters.distinct.size <= 1

    val correct = ctx.checks.nonEmpty && ctx.checks.values.forall(identity) && ctx.failed == 0
    val metrics =
      if (trace) layer.toSeq.map { case (k, v) => k -> Seq("value" -> v, "unit" -> Layers.unit(k)) }
      else e2e.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }
    val artifact = Seq(
      "result" -> Seq("correct" -> correct, "attempted" -> ctx.attempted,
        "failed" -> ctx.failed, "metrics" -> metrics),
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "environment" -> Seq("master" -> master, "slots" -> slots,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "nproc" -> nproc, "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "load_model" -> "closed loop, one client: each operation starts when the previous one returns",
      "inputs" -> w.inputs,
      "setup" -> Seq("jvm_start_s" -> jvmS, "session_built_s" -> builtS,
        "session_s" -> sessionS, "reps_s" -> reps, "warmup_s" -> warmS, "setup_s" -> setupS),
      "probes" -> Seq("cpu_s" -> probes._1, "io_s" -> probes._2),
      "measured_s" -> measuredS,
      "rounds" -> Seq("untraced" -> untracedRounds.size, "traced" -> tracedRounds.size,
        "failed" -> (r - complete.size)),
      "round_totals_ms" -> untracedTotals,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_share" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
      "errors" -> ctx.errors.take(10),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) },
      "named" -> named.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) },
      "kinds" -> kinds,
      "per_layer" -> layer.toSeq.map { case (k, v) => k -> Seq("value" -> v, "unit" -> Layers.unit(k)) },
      "per_layer_counters" -> (if (roundCounters.isEmpty) None else Some(roundCounters.head.toSeq.sortBy(_._1))),
      "counters_repeat_across_rounds" -> countersRepeat,
      "checks" -> ctx.checks.toSeq,
      "check_failures" -> ctx.checkNotes)
    Files.writeString(out, Json(artifact) + "\n")
    if (trace) {
      val spans = ctx.tracer.spans.map(s => Seq("id" -> s.id, "parent" -> s.parent,
        "op" -> s.round, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.durMs))
      Files.writeString(Paths.get(out.toString.stripSuffix(".json") + "-trace.json"),
        Json(spans) + "\n")
    }
    spark.stop()
  }

  /** The session every run uses: `local[slots]`, engine profile, and all
    * scratch space inside the run's work directory. */
  def session(work: java.nio.file.Path, slots: Int): SparkSession = {
    val spark = SessionProfile.tune(SparkSession.builder())
      .master(s"local[$slots]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Attributes the round's jobs to the spans that caused them, adds the
    * jobs as child spans, accumulates each layer's self time and returns
    * per-kind totals plus the round's counters. */
  private def attribute(ctx: Ctx, r: Long, jobs: Seq[JobRec],
      selfMs: mutable.Map[String, Double]): (Map[String, KindAgg], Map[String, Double]) = {
    val spans = ctx.tracer.spans.filter(_.round == r).toVector
    val byId = spans.map(s => s.id -> s).toMap
    // jobs that lost the span property (started on a helper thread) go to
    // the innermost span whose interval holds their start
    def owner(j: JobRec): Long =
      if (byId.contains(j.span)) j.span
      else spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0L)
    val jobSpans = jobs.map { j =>
      val end = if (j.endMs >= 0) j.endMs else j.startMs
      j -> Span(-j.id - 1, owner(j), r, s"job ${j.id}", "spark", j.startMs, end,
        (end - j.startMs) * 1000000L)
    }
    ctx.tracer.spans ++= jobSpans.map(_._2)
    val all = spans ++ jobSpans.map(_._2)
    val children = all.groupBy(_.parent)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = math.max(0.0, s.durMs - Stats.covered(kids, s.startMs, s.endMs))
      selfMs(s.layer) += self
    }
    def subtree(id: Long): Set[Long] =
      children.getOrElse(id, Nil).filter(_.id > 0).flatMap(c => subtree(c.id)).toSet + id
    val perOp = ctx.samples.filter(s => s.round == r && s.spanId > 0).map { s =>
      val ids = subtree(s.spanId)
      val js = jobSpans.filter { case (_, js) => ids(js.parent) }.map(_._1)
      val sp = byId(s.spanId)
      val gap = math.max(0.0, sp.durMs -
        Stats.covered(js.map(j => (j.startMs, math.max(j.startMs, j.endMs))), sp.startMs, sp.endMs))
      s.kind -> KindAgg(1, s.ms, js.size, js.map(_.taskMs).sum, gap,
        js.map(_.inputBytes).sum)
    }
    val kinds = perOp.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).reduce(_ + _) }
    val counters = kinds.flatMap { case (k, a) => Seq(
      s"$k.jobs" -> a.jobs.toDouble, s"$k.input_bytes" -> a.inputBytes.toDouble) }
    (kinds, counters)
  }
}

/** CPU and I/O probe floors, taken the way `graft.Bench` takes them: a
  * fixed CPU-bound aggregate and a fixed single-column Parquet scan, each
  * the minimum of three shots. Taken once, right after the measured
  * rounds, while the JVM is warm. */
final class Probes(spark: SparkSession, ioPath: String) {
  if (!Files.exists(Paths.get(ioPath)))
    spark.range(0, 2000000L, 1, 4).selectExpr("id AS l_orderkey").write.parquet(ioPath)

  private def shot(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def point(): (Double, Double) = (
    (1 to 3).map(_ => shot(spark.range(8000000L)
      .selectExpr("sum(pmod(xxhash64(id), 1000))").collect())).min,
    (1 to 3).map(_ => shot(spark.read.parquet(ioPath)
      .selectExpr("count(l_orderkey)").collect())).min)
}
