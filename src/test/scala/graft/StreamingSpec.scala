package graft

import graft.core.EventTime
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming twins of the batch E8 suite: the same transforms produce the
  * same results whether driven by readStream or read — which is the point
  * of expressing them over the unified API. */
class StreamingSpec extends SparkSpec {

  // the file stream source requires a DIRECTORY of files
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("0.001") + "/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  // EventTime absorbs whichever physical ts type the testdata ships
  private def eventsWithTs = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    EventTime.toTimestamp(StreamingOps.readEventsStream(spark, eventsDir))
  }

  /** Batch twin of eventsWithTs with canonical long-nanos `ts`. */
  private def eventsNanos = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    EventTime.toNanos(spark.read.parquet(sf("0.001") + "/events.parquet"))
  }

  test("streaming tumbling window matches batch aggregation") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.tumblingCounts(eventsWithTs),
      "tumbling_out", OutputMode.Append())
      .select(unix_timestamp(col("bucket_start")).as("b"), col("event_type"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = eventsNanos
      .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("tsm"), "10 minutes"), col("event_type"))
      .agg(count("*").as("n"))
      .select(unix_timestamp(col("window.start")).as("b"), col("event_type"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // Append mode only emits windows the watermark has passed: windows near
    // the end of input stay buffered in state — so streamed ⊆ batch, and
    // anything missing must lie within watermark+window of the max event.
    assert(streamed.subsetOf(batch))
    assert(streamed.nonEmpty)
    val maxBucket = batch.map(_._1).max
    val horizon = maxBucket - (30 + 10) * 60
    assert((batch -- streamed).forall(_._1 >= horizon))
  }

  test("streaming session windows match batch session_window") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sessionAggregates(eventsWithTs),
      "session_out", OutputMode.Append())
      .select(unix_timestamp(col("session_start")).as("s"), col("user_id"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = eventsNanos
      .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      .groupBy(session_window(col("tsm"), "30 minutes"), col("user_id"))
      .agg(count("*").as("n"))
      .select(unix_timestamp(col("session_window.start")).as("s"),
        col("user_id"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // append mode holds back sessions the watermark hasn't closed
    assert(streamed.subsetOf(batch))
    assert(streamed.size > batch.size / 2)
  }

  test("watermarked stream-stream join matches the batch range join") {
    def side(t: String) = eventsWithTs.where(col("event_type") === t)
      .select("event_id", "user_id", "ts", "value")
    val streamed = StreamingOps.runToMemory(
      StreamingOps.clickPurchaseJoin(side("click"), side("purchase")),
      "ssjoin_out", OutputMode.Append())
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = eventsNanos
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("us").as("cus"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us").as("pus"))
    val batch = c.join(p, "user_id")
      .where(col("pus") > col("cus") && col("pus") <= col("cus") + 600000000L)
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // a single file microbatch: everything is co-buffered, so the join is
    // complete — exact match, not just subset
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup keeps one row per key") {
    // duplicate the stream by unioning it with itself: every (event_id, ts)
    // appears twice; watermarked dropDuplicates must emit each once
    val doubled = eventsWithTs.select("event_id", "user_id", "ts")
      .union(eventsWithTs.select("event_id", "user_id", "ts"))
    val streamed = StreamingOps.runToMemory(
      StreamingOps.dedupStream(doubled, Seq("event_id")),
      "dedup_out", OutputMode.Append())
    val n = streamed.count()
    val distinctN = streamed.select("event_id").distinct().count()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = spark.read.parquet(sf("0.001") + "/events.parquet").count()
    assert(n == want && distinctN == want)
  }

  test("foreachBatch sink: batches partition the input, batchId provided") {
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    StreamingOps.runForeachBatch(
      eventsWithTs.select("event_id", "user_id"), OutputMode.Append()) {
      (batch, id) => seen.put(id, batch.count())
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = spark.read.parquet(sf("0.001") + "/events.parquet").count()
    import scala.jdk.CollectionConverters._
    assert(seen.values.asScala.sum == want) // batches cover input exactly once
    assert(seen.keySet.asScala.min == 0L)   // ids start at 0, contiguous
  }

  test("checkpoint recovery: restart resumes exactly-once into a file sink") {
    import java.nio.file.{Files, Paths}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = Files.createTempDirectory("graft_ckpt_src").toString
    val outDir = Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_meta").toString
    val schema = spark.read.parquet(sf("0.001") + "/events.parquet").schema

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .select("event_id", "user_id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    // first file → first run
    Files.copy(Paths.get(sf("0.001") + "/events.parquet"),
      Paths.get(s"$srcDir/a.parquet"))
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    // second file lands while the query is DOWN; restart from checkpoint
    // must process exactly the new file — no replay, no loss
    Files.copy(Paths.get(sf("0.001") + "/events.parquet"),
      Paths.get(s"$srcDir/b.parquet"))
    runOnce()
    val total = spark.read.parquet(outDir)
    val want = spark.read.parquet(sf("0.001") + "/events.parquet").count()
    assert(afterFirst == want)
    assert(total.count() == 2 * want) // both files, each exactly once
    // every event_id appears exactly twice (once per source file)
    val dist = total.groupBy("event_id").count()
      .select("count").distinct().collect().map(_.getLong(0)).toSeq
    assert(dist == Seq(2L))
  }

  test("stream-static broadcast enrichment matches the batch join") {
    import spark.implicits._
    val dim = Seq(("click", 1L), ("view", 2L), ("purchase", 3L))
      .toDF("event_type", "weight")
    val streamed = StreamingOps.runToMemory(
      eventsWithTs.select("event_id", "event_type")
        .join(broadcast(dim), "event_type"), // static side broadcast per batch
      "enrich_out", OutputMode.Append())
      .select("event_id", "weight")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet(sf("0.001") + "/events.parquet")
      .join(dim, "event_type")
      .select("event_id", "weight")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming top-k leaderboard matches the batch top-k") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.streamingTopK(
        eventsWithTs.select(col("event_type"), col("event_id"),
          (col("value") * 100).cast("long").as("vc")),
        "event_type", "event_id", "vc", k = 5).toDF(),
      "topk_out", OutputMode.Update())
    // one input file = one micro-batch → the table holds exactly the final
    // leaderboard per key
    val got = streamed.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("vc").desc, col("event_id"))
    val batch = spark.read.parquet(sf("0.001") + "/events.parquet")
      .select(col("event_type"), col("event_id"),
        (col("value") * 100).cast("long").as("vc"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .collect()
      .map(r => (r.getString(0), r.getInt(3), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("foreachBatch + ClickHouse write shape: idempotent batch loading") {
    // the streaming → ClickHouse pattern: each micro-batch is shaped
    // (repartitioned + sorted by the table's ORDER BY key) and written
    // under its batchId, so a restart replaying a batch overwrites the same
    // location instead of duplicating rows
    import graft.sinks.ClickHouseSink
    val outRoot = java.nio.file.Files.createTempDirectory("graft_chs").toString
    val cfg = ClickHouseSink.Config(url = "jdbc:clickhouse://unused:8123/db",
      table = "events", orderByKey = Seq("user_id", "event_id"),
      numWritePartitions = 2)
    StreamingOps.runForeachBatch(
      eventsWithTs.select("event_id", "user_id"), OutputMode.Append()) {
      (batch, id) =>
        ClickHouseSink.shape(batch, cfg)
          .write.mode("overwrite").parquet(s"$outRoot/batch_$id")
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = spark.read.parquet(sf("0.001") + "/events.parquet").count()
    val got = spark.read.parquet(s"$outRoot/batch_*")
    assert(got.count() == want)
    // shape contract: partition count + in-partition sort by the key
    assert(got.rdd.getNumPartitions >= 2)
  }

  test("flatMapGroupsWithState sessionization: closed sessions match batch") {
    import spark.implicits._
    val ev = eventsWithTs
      .select(col("user_id").cast("long"), expr("unix_micros(ts)").as("us"))
      .as[StreamingOps.SessionEvent]
    val gapUs = 30L * 60 * 1000000
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sessionize(ev, gapUs).toDF(),
      "sessfm_out", OutputMode.Append())
      .select("user_id", "start_us", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = eventsNanos
      .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      .groupBy(session_window(col("tsm"), "30 minutes"), col("user_id"))
      .agg(count("*").as("n"))
      .select(expr("unix_micros(session_window.start)").as("s"),
        col("user_id"), col("n"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet

    // sessions CLOSED by an observed gap are emitted and must match batch
    // sessions exactly; still-open sessions (no later event, watermark not
    // past their horizon) remain in state — so subset, mostly complete
    assert(streamed.subsetOf(batch), s"${(streamed -- batch).take(3)}")
    assert(streamed.size > batch.size / 2)
  }

  test("streaming minhash dedup drops exact dups, keeps distinct docs") {
    // documents as a stream, synthetic event time, unioned with itself:
    // every doc arrives twice; signature dedup must emit each text once
    val docsDir = {
      val dir = java.nio.file.Files.createTempDirectory("graft_docs_stream")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf("0.001") + "/documents.parquet"),
        dir.resolve("part-0.parquet"))
      dir.toString
    }
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
      .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
      .select("doc_id", "text", "ts")
    val doubled = stream.union(stream)
    val out = StreamingOps.runToMemory(
      StreamingOps.minhashDedupStream(doubled, "doc_id", "text", bands = 4),
      "mh_dedup_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val nDistinctTexts = spark.read.parquet(docsDir)
      .select("text").distinct().count()
    // every distinct text survives at most once; near-dup collisions may
    // drop a few more, exact dups always collapse
    val n = out.count()
    assert(n <= nDistinctTexts)
    assert(n > nDistinctTexts / 2)
    assert(out.select("text").distinct().count() == n)
  }

  test("foreachBatch incremental sink delivers every row exactly once") {
    import graft.sinks.ClickHouseSink
    val outDir = java.nio.file.Files.createTempDirectory("graft_fb_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fb_ckpt").toString
    val cfg = ClickHouseSink.Config(url = "", table = "events_inc",
      orderByKey = Seq("user_id", "event_id"))
    val q = ClickHouseSink.writeStreamWith(
      eventsWithTs.select("event_id", "user_id", "value", "ts"), ckpt,
      (batch, id) => ClickHouseSink.shape(batch, cfg)
        .withColumn("__graft_batch_id", lit(id))
        .write.mode("append").parquet(outDir))
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = spark.read.parquet(sf("0.001") + "/events.parquet")
    assert(got.count() == want.count())
    assert(got.select("event_id").distinct().count() == want.count())
    assert(got.columns.contains("__graft_batch_id"))
  }

  test("mapGroupsWithState running totals match batch groupBy") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.runningUserTotals(eventsWithTs).toDF(),
      "state_out", OutputMode.Update())
    // one microbatch → latest state per user = full aggregate
    val got = streamed.groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = spark.read.parquet(sf("0.001") + "/events.parquet")
      .groupBy("user_id").agg(count("*").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("streaming CEP pattern match agrees with the batch matcher") {
    import graft.operators.SequenceOps
    import SequenceOps.Step
    val pat = Seq(Step.one("view"), Step.one("click"), Step.one("purchase"))
    // the events table's contiguous view→click→purchase runs span 840-2101
    // minutes; 1000 min keeps 4 of 7 in-window, so the WITHIN duration
    // bound is exercised non-vacuously in both directions
    val withinUs = 1000L * 60 * 1000000
    val streamInput = eventsWithTs
      .select(col("user_id").as("key"), expr("unix_micros(ts)").as("us"),
        col("event_id").as("id"), col("event_type").as("etype"))
    val streamed = StreamingOps.runToMemory(
      StreamingOps.matchPatternStream(streamInput, pat, delay = "1 minute",
        withinUs = withinUs)
        .toDF(),
      "cep_out", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import spark.implicits._
    val batchEv = eventsNanos
      .select(col("user_id").as("key"), expr("ts div 1000").as("us"),
        col("event_id").as("id"), col("event_type").as("etype"))
      .as[SequenceOps.SeqEvent]
    val batchAll = SequenceOps.matchPattern(spark, batchEv, pat)
      .collect().map(m => (m.key, m.start_id, m.end_id)).toSet
    // the streaming matcher enforces the WITHIN duration bound that the
    // unbounded batch matcher doesn't have — apply the same bound to the
    // batch reference before comparing
    val usById = batchEv.collect().map(e => e.id -> e.us).toMap
    val batch = batchAll.filter { case (_, s, e) =>
      usById(e) - usById(s) <= withinUs }
    assert(batch.nonEmpty && batch.size < batchAll.size,
      s"bound not exercised: ${batch.size} of ${batchAll.size} in-window")

    // anchors still inside the final watermark horizon stay pending (the
    // stream "never ends"), so streamed ⊆ batch and nearly complete
    assert(streamed.subsetOf(batch),
      s"stream emitted non-batch matches: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= batch.size - 2 && batch.nonEmpty,
      s"streamed ${streamed.size} of ${batch.size} (unbounded ${batchAll.size})")

    // the transformWithState implementation must agree on the same input
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamedTws = StreamingOps.runToMemory(
        StreamingOps.matchPatternStreamTws(streamInput, pat,
          delay = "1 minute", withinUs = withinUs).toDF(),
        "cep_tws_out", OutputMode.Append())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamedTws == streamed,
        s"tws/fMGWS diverge: ${(streamedTws -- streamed).take(3)} / " +
          s"${(streamed -- streamedTws).take(3)}")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming CEP: cross-batch completion, WITHIN expiry, late drop") {
    import graft.operators.SequenceOps.Step
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def s(sec: Long) = sec * 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val out = StreamingOps.matchPatternStream(
      mem.toDF().toDF("key", "us", "id", "etype"),
      Seq(Step.one("A"), Step(Set("B"), 0, 2), Step.one("C")),
      delay = "10 seconds", withinUs = 20 * 1000000L)
    val q = out.toDF().writeStream.format("memory").queryName("cep_mem")
      .outputMode("append").start()
    try {
      // key 1 starves after A B (C never arrives) → must expire, not match
      mem.addData((1L, s(1), 1L, "A"), (1L, s(2), 2L, "B"))
      q.processAllAvailable()
      // key 3's anchor arrives one batch...
      mem.addData((3L, s(20), 30L, "A"))
      q.processAllAvailable()
      // ...its completion the next, plus a kicker that drives the
      // watermark (90s) past everyone's WITHIN horizon
      mem.addData((3L, s(22), 31L, "C"), (9L, s(100), 99L, "X"))
      q.processAllAvailable()
      // a late arrival below the resolved region must be ignored, not
      // resurrect a match
      mem.addData((1L, s(3), 3L, "C"))
      q.processAllAvailable()
      val got = spark.table("cep_mem")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((3L, 30L, 31L)),
        s"want only key 3's cross-batch match, got $got")
    } finally q.stop()
  }

  test("dedup ingest stream: durable index, exactly-once across restart, replay heals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_dedup_ingest")
    val (docsT, idxT, cp) =
      (s"$root/docs", s"$root/idx", s"$root/cp")
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "completely different content about spark engines here"
    val textC = "an entirely novel document discussing scala dataframes"
    val mem = MemoryStream[(Long, String)]
    def run() = StreamingOps.dedupIngestStream(spark, docsT, idxT,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bands = 4, streamId = "s", checkpoint = Some(cp))
    // batch 0 bootstraps BOTH tables (no index exists yet)
    mem.addData((1L, textA), (2L, textB))
    run()
    // restart with the same checkpoint: only the NEW batch processes;
    // 3 dups doc 1 via the DURABLE index (ingested a run ago), 5 is a
    // within-batch dup of 4
    mem.addData((3L, textA), (4L, textC), (5L, textC))
    run()
    val docs = graft.sinks.TableLog.read(spark, docsT)
    assert(docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L))
    assert(graft.sinks.TableLog.read(spark, idxT)
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L))
    val (dv, iv) = (graft.sinks.TableLog.latestVersion(docsT),
      graft.sinks.TableLog.latestVersion(idxT))
    // a crash-restart REPLAY of batch 1: both txns are already in the
    // manifest chains, so neither table advances and the decisions are
    // reproduced against the already-updated index (self-exclusion)
    val batch1 = Seq((3L, textA), (4L, textC), (5L, textC))
      .toDF("doc_id", "text")
    val dec = graft.operators.DedupOps.incrementalDedup(spark, idxT, batch1,
      "doc_id", "text", bands = 4, txnId = Some("s#1#idx"))
    val surv = batch1.join(dec.where(!col("dup")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    graft.sinks.TableLog.append(spark, docsT, surv, txnId = Some("s#1#docs"))
    assert(graft.sinks.TableLog.latestVersion(docsT) == dv)
    assert(graft.sinks.TableLog.latestVersion(idxT) == iv)
    assert(dec.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      == Map(3L -> true, 4L -> false, 5L -> true))
  }

  test("embed ingest stream: cold-start pins bits, exactly-once, replay heals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_embed_ingest")
    val (vecsT, idxT, cp) = (s"$root/vecs", s"$root/idx", s"$root/cp")
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(0f, 1f, 0f, 0f)
    val e3 = Seq(0f, 0f, 1f, 0f)
    val mem = MemoryStream[(Long, Long, Seq[Float])]
    def run() = StreamingOps.embedIngestStream(spark, vecsT, idxT,
      mem.toDF().toDF("vec_id", "label", "embedding"),
      "vec_id", "embedding", "label", thresholdMicro = 900000,
      streamId = "e", checkpoint = Some(cp))
    // batch 0 bootstraps BOTH tables: the sign-bit width is derived from
    // the first batch and pinned in the index manifest
    mem.addData((1L, 0L, e1), (2L, 1L, e2))
    run()
    assert(graft.sinks.TableLog.snapshot(idxT).get.counters.contains("bits"))
    // restart on the same checkpoint: 3 dups vec 1 via the DURABLE index,
    // 5 is a within-batch dup of 4
    mem.addData((3L, 0L, e1), (4L, 2L, e3), (5L, 2L, e3))
    run()
    assert(graft.sinks.TableLog.read(spark, vecsT)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L))
    assert(graft.sinks.TableLog.read(spark, idxT)
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L))
    val (vv, iv) = (graft.sinks.TableLog.latestVersion(vecsT),
      graft.sinks.TableLog.latestVersion(idxT))
    // crash-restart replay of batch 1: txns already committed — neither
    // table advances, decisions byte-identical via id self-exclusion
    val batch1 = Seq((3L, 0L, e1), (4L, 2L, e3), (5L, 2L, e3))
      .toDF("vec_id", "label", "embedding")
    val dec = graft.operators.DedupOps.incrementalEmbedDedup(spark, idxT,
      batch1, "vec_id", "embedding", "label", thresholdMicro = 900000,
      txnId = Some("e#1#idx"))
    val surv = batch1.join(dec.where(!col("dup")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    graft.sinks.TableLog.append(spark, vecsT, surv, txnId = Some("e#1#vecs"))
    assert(graft.sinks.TableLog.latestVersion(vecsT) == vv)
    assert(graft.sinks.TableLog.latestVersion(idxT) == iv)
    assert(dec.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      == Map(3L -> true, 4L -> false, 5L -> true))
  }

  test("semantic ingest stream: pinned-codebook dedup, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sem_ingest")
    val (vecsT, idxT, cp) = (s"$root/vecs", s"$root/idx", s"$root/cp")
    val base = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.95f, 0.05f, 0f, 0f)),
      (21L, Seq(0f, 1f, 0f, 0f)), (22L, Seq(0.05f, 0.95f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    graft.operators.DedupOps.buildSemanticIndex(spark, idxT, base,
      "vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    def run() = StreamingOps.semanticIngestStream(spark, vecsT, idxT,
      mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", thresholdMicro = 900000,
      streamId = "sm", checkpoint = Some(cp))
    mem.addData((4L, Seq(1f, 0f, 0f, 0f)),   // dup of indexed 1
      (8L, Seq(0f, 0f, 1f, 0f)))             // survivor
    run()
    mem.addData((12L, Seq(0f, 0f, 1f, 0f)))  // dup of 8 — ACROSS batches,
    run()                                    // via the durable index
    assert(graft.sinks.TableLog.read(spark, vecsT)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(8L))
    assert(graft.sinks.TableLog.read(spark, idxT)
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 8L, 21L, 22L))
    // replayed batch 0: both txns committed — no table advances
    val (vv, iv) = (graft.sinks.TableLog.latestVersion(vecsT),
      graft.sinks.TableLog.latestVersion(idxT))
    val b0 = Seq((4L, Seq(1f, 0f, 0f, 0f)), (8L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val dec = graft.operators.DedupOps.incrementalSemanticDedup(spark, idxT,
      b0, "vec_id", "embedding", thresholdMicro = 900000,
      txnId = Some("sm#0#idx"))
    graft.sinks.TableLog.append(spark, vecsT,
      b0.join(dec.where(!col("dup")).select(col("vec_id")),
        Seq("vec_id"), "left_semi"), txnId = Some("sm#0#vecs"))
    assert(graft.sinks.TableLog.latestVersion(vecsT) == vv)
    assert(graft.sinks.TableLog.latestVersion(idxT) == iv)
  }

  test("transformWithState CEP matches the fMGWS matcher batch-for-batch") {
    // same scenario as the fMGWS MemoryStream test: cross-batch
    // completion, WITHIN expiry, late drop — on the timer-driven
    // ListState processor (RocksDB-only API)
    import graft.operators.SequenceOps.Step
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def s(sec: Long) = sec * 1000000L
      val mem = MemoryStream[(Long, Long, Long, String)]
      val out = StreamingOps.matchPatternStreamTws(
        mem.toDF().toDF("key", "us", "id", "etype"),
        Seq(Step.one("A"), Step(Set("B"), 0, 2), Step.one("C")),
        delay = "10 seconds", withinUs = 20 * 1000000L)
      val q = out.toDF().writeStream.format("memory").queryName("cep_tws")
        .outputMode("append").start()
      try {
        mem.addData((1L, s(1), 1L, "A"), (1L, s(2), 2L, "B"))
        q.processAllAvailable()
        mem.addData((3L, s(20), 30L, "A"))
        q.processAllAvailable()
        mem.addData((3L, s(22), 31L, "C"), (9L, s(100), 99L, "X"))
        q.processAllAvailable()
        mem.addData((1L, s(3), 3L, "C"))
        q.processAllAvailable()
        val got = spark.table("cep_tws")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == Set((3L, 30L, 31L)),
          s"want only key 3's cross-batch match, got $got")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState CEP pending anchors survive a RocksDB restart") {
    // The recovery case that matters for the CEP matcher: an anchor whose
    // match is UNDECIDED (waiting on future events) sits in ListState when
    // the query stops. Across three restarts from the same checkpoint:
    // key 3's anchor (inc 1) must complete when its C arrives (inc 2) and
    // the watermark passes (inc 3); key 1's anchor must expire at its
    // WITHIN horizon and NOT be resurrected by a late completion (inc 4).
    // All scans after inc 1 run against state rebuilt from the RocksDB
    // checkpoint, exercising ListState + ValueState + event-time timer
    // recovery together.
    import graft.operators.SequenceOps.Step
    import java.nio.file.Files
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = Files.createTempDirectory("graft_cep_src").toString
      val ckpt = Files.createTempDirectory("graft_cep_ckpt").toString
      def s(sec: Long) = sec * 1000000L
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
      var nFile = 0
      def addFile(rows: (Long, Long, Long, String)*): Unit = {
        import spark.implicits._
        nFile += 1
        rows.toSeq.toDF("key", "us", "id", "etype")
          .coalesce(1).write.parquet(f"$srcDir/f$nFile%02d")
      }
      def runOnce(): Unit = {
        val src = spark.readStream
          .schema("key LONG, us LONG, id LONG, etype STRING")
          .parquet(s"$srcDir/*")
        val q = StreamingOps.matchPatternStreamTws(src,
            Seq(Step.one("A"), Step(Set("B"), 0, 2), Step.one("C")),
            delay = "10 seconds", withinUs = 20 * 1000000L)
          .toDF()
          .writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach(r =>
              got.add((r.getLong(0), r.getLong(1), r.getLong(2))))
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // inc 1: key 1's partial A B, key 3's lone anchor, watermark kicker —
      // everything lands in ListState pending, nothing resolvable yet
      addFile((1L, s(1), 1L, "A"), (1L, s(2), 2L, "B"),
        (3L, s(20), 30L, "A"), (9L, s(25), 99L, "X"))
      runOnce()
      assert(got.isEmpty, s"nothing should resolve in incarnation 1: $got")
      // inc 2: key 3's completion + kicker past everyone's WITHIN horizon
      addFile((3L, s(22), 31L, "C"), (9L, s(100), 98L, "X"))
      runOnce()
      // inc 3: another kicker batch lets the recovered event-time timer
      // fire with the advanced watermark — key 3 completes, key 1 expires
      addFile((9L, s(200), 97L, "X"))
      runOnce()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set((3L, 30L, 31L)),
        s"want key 3's cross-restart match only, got $got")
      // inc 4: key 1's completion arrives far too late — the expired
      // anchor must not come back
      addFile((1L, s(3), 3L, "C"))
      runOnce()
      assert(got.asScala.toSet == Set((3L, 30L, 31L)),
        s"late completion resurrected an expired anchor: $got")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState running counts match batch, resume on restart") {
    // Spark 4's StatefulProcessor API (typed state variables + TTL on
    // RocksDB). Two query incarnations over a growing directory: final
    // per-user counts must equal the batch group-by — doubled after the
    // second file — proving the ValueState was rebuilt from checkpoint.
    import java.nio.file.{Files, Paths}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = Files.createTempDirectory("graft_tws_src").toString
      val ckpt = Files.createTempDirectory("graft_tws_ckpt").toString
      val schema = spark.read.parquet(sf("0.001") + "/events.parquet").schema
      val latest = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      def runOnce(): Unit = {
        val q = StreamingOps.runningCountsTws(
            spark.readStream.schema(schema).parquet(srcDir))
          .toDF()
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach(r => latest.put(r.getLong(0), r.getLong(1)))
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      Files.copy(Paths.get(sf("0.001") + "/events.parquet"),
        Paths.get(s"$srcDir/a.parquet"))
      runOnce()
      Files.copy(Paths.get(sf("0.001") + "/events.parquet"),
        Paths.get(s"$srcDir/b.parquet"))
      runOnce()
      val want = spark.read.parquet(sf("0.001") + "/events.parquet")
        .groupBy("user_id").count()
        .collect().map(r => (r.getLong(0), 2 * r.getLong(1))).toMap
      import scala.jdk.CollectionConverters._
      assert(latest.asScala.toMap == want)

      // TTL leg: ProcessingTime time mode never quiesces for
      // processAllAvailable in this version, so poll for output instead —
      // proves the TTL'd ValueState path processes data end-to-end
      val ttlSeen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q2 = StreamingOps.runningCountsTws(
          spark.readStream.schema(schema).parquet(srcDir),
          ttl = Some(java.time.Duration.ofHours(1)))
        .toDF()
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation",
          Files.createTempDirectory("graft_tws_ttl_ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => ttlSeen.put(r.getLong(0), r.getLong(1)))
        }
        .start()
      try {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (ttlSeen.size() < want.size && System.nanoTime() < deadline)
          Thread.sleep(200)
      } finally q2.stop()
      assert(ttlSeen.asScala.toMap == want, "TTL'd state path diverged")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("RocksDB state store: stateful agg state survives a restart") {
    // The 100 TB state backend: HDFSBackedStateStoreProvider keeps every
    // key on the JVM heap; RocksDB spills to local disk with changelog
    // checkpointing, which is the only shape that survives wide keyspaces.
    // This drives a stateful aggregation through TWO query incarnations on
    // the RocksDB provider: the second run's counts must include the
    // first run's state (i.e., state was rebuilt from the checkpoint).
    import java.nio.file.{Files, Paths}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = Files.createTempDirectory("graft_rdb_src").toString
      val ckpt = Files.createTempDirectory("graft_rdb_ckpt").toString
      val schema = spark.read.parquet(sf("0.001") + "/events.parquet").schema
      val finalCounts =
        new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).parquet(srcDir)
          .groupBy("user_id").agg(count("*").as("n"))
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach(r =>
              finalCounts.put(r.getLong(0), r.getLong(1)))
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      Files.copy(Paths.get(sf("0.001") + "/events.parquet"),
        Paths.get(s"$srcDir/a.parquet"))
      runOnce()
      // second copy lands while the query is DOWN; the restarted query must
      // resume the per-user counts, not start them from zero
      Files.copy(Paths.get(sf("0.001") + "/events.parquet"),
        Paths.get(s"$srcDir/b.parquet"))
      runOnce()
      val want = spark.read.parquet(sf("0.001") + "/events.parquet")
        .groupBy("user_id").agg(count("*").as("n"))
        .collect().map(r => (r.getLong(0), 2 * r.getLong(1))).toMap
      import scala.jdk.CollectionConverters._
      assert(finalCounts.asScala.toMap == want)
      // and the checkpoint really is RocksDB-format state (zip/changelog
      // snapshots, not the HDFS provider's .delta files)
      val stateFiles = Files.walk(Paths.get(ckpt, "state")).iterator()
        .asScala.map(_.getFileName.toString).toList
      assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"no RocksDB artifacts in $stateFiles")
      assert(!stateFiles.exists(_.endsWith(".delta")))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("typed CDC feed stream: insert+delete rows exactly once across restart") {
    import graft.sinks.TableLog
    import spark.implicits._
    val bronze = java.nio.file.Files
      .createTempDirectory("graft_cdc_bronze").toString + "/t"
    val silver = java.nio.file.Files
      .createTempDirectory("graft_cdc_silver").toString + "/t"
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_cdc_ckpt").toString)
    TableLog.enableCdcFeed(bronze)
    def rows(a: Long, b: Long) =
      spark.range(a, b).select($"id", ($"id" % 7).as("v"))
    TableLog.create(spark, bronze,
      rows(0, 50).repartitionByRange(2, $"id"), statsCols = Seq("id"))
    TableLog.delete(spark, bronze, col("id").between(10, 20))
    // the typed feed streamed into a silver commit-log table: the
    // FileStreamSource's checkpoint is the exactly-once ledger for the
    // read side, the txn id for the write side
    def drain(): Unit = TableLog.appendStream(spark, silver,
      TableLog.changeFeedStream(spark, bronze), "cdc2s", ckpt)
    drain()
    def silverCounts() = TableLog.read(spark, silver)
      .groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(silverCounts() == Map("insert" -> 50L, "delete" -> 11L))
    // restart with the same checkpoint: nothing re-delivered
    drain()
    assert(silverCounts() == Map("insert" -> 50L, "delete" -> 11L))
    // new bronze activity — an append AND a delete — flows incrementally
    TableLog.append(spark, bronze,
      rows(50, 60).repartitionByRange(1, $"id"), statsCols = Seq("id"))
    TableLog.delete(spark, bronze, col("id").between(55, 57))
    drain()
    assert(silverCounts() == Map("insert" -> 60L, "delete" -> 14L))
    // the state derived from silver's typed rows equals live bronze
    val s = TableLog.read(spark, silver)
    val derived = s.where($"_change_type" === "insert").drop("_change_type")
      .exceptAll(s.where($"_change_type" === "delete").drop("_change_type"))
    assert(derived.count() == 46)
    assert(derived.exceptAll(TableLog.read(spark, bronze)).isEmpty)
    assert(TableLog.read(spark, bronze).exceptAll(derived).isEmpty)
  }

  test("cdcApplyStream: bronze CDC feed maintains a keyed silver table exactly once") {
    import graft.sinks.TableLog
    import spark.implicits._
    val bronze = java.nio.file.Files
      .createTempDirectory("graft_cdcapply_b").toString + "/t"
    val silver = java.nio.file.Files
      .createTempDirectory("graft_cdcapply_s").toString + "/t"
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_cdcapply_ck").toString)
    TableLog.enableCdcFeed(bronze)
    def rows(ks: Range, f: Long => Long) =
      ks.map(k => (k.toLong, f(k.toLong))).toDF("k", "v")
    TableLog.create(spark, bronze,
      rows(0 until 20, identity).repartitionByRange(2, $"k"),
      statsCols = Seq("k"))
    TableLog.delete(spark, bronze, col("k").between(3, 5))
    def drain(): Unit = TableLog.cdcApplyStream(spark, bronze, silver,
      "k", "capply", ckpt)
    drain()
    def silverMap() = TableLog.read(spark, silver).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = (0L until 20L).filterNot(k => k >= 3 && k <= 5)
      .map(k => k -> k).toMap
    assert(silverMap() == s1)
    // restart with the same checkpoint: no batch re-applies
    val vNow = TableLog.latestVersion(silver)
    drain()
    assert(TableLog.latestVersion(silver) == vNow && silverMap() == s1)
    // incremental: an UPDATE (re-insert of live keys) and a delete flow
    // through as one applied batch each
    TableLog.append(spark, bronze,
      rows(10 until 25, _ * 10).repartitionByRange(2, $"k"),
      statsCols = Seq("k"))
    TableLog.delete(spark, bronze, col("k").between(0, 1))
    drain()
    val s2 = ((2L until 10L).filterNot(k => k >= 3 && k <= 5)
      .map(k => k -> k) ++ (10L until 25L).map(k => k -> k * 10)).toMap
    assert(silverMap() == s2)
    // the keyed silver equals bronze's LATEST row per key (bronze holds
    // both copies of re-inserted keys; silver resolved by version)
    val latestBronze = TableLog.read(spark, bronze)
      .groupBy("k").agg(org.apache.spark.sql.functions.max($"v").as("v"))
    assert(latestBronze.exceptAll(TableLog.read(spark, silver)).isEmpty)
    // a captured UPDATE (merge old/new images at one version) flows
    // through the stream as an upsert — delete+insert pair, insert wins
    TableLog.mergeUpsert(spark, bronze,
      Seq((12L, -12L), (40L, -40L)).toDF("k", "v"), Seq("k"))
    TableLog.update(spark, bronze, col("k").between(20, 22),
      Map("v" -> (org.apache.spark.sql.functions.col("v") + 7L)))
    drain()
    val s3 = s2 + (12L -> -12L) + (40L -> -40L) +
      (20L -> 207L) + (21L -> 217L) + (22L -> 227L)
    assert(silverMap() == s3)
    // replay safety holds across the update-bearing batches too
    val vUpd = TableLog.latestVersion(silver)
    drain()
    assert(TableLog.latestVersion(silver) == vUpd && silverMap() == s3)
  }

  test("cdcApplyStream onto a mor silver table: per-trigger sidecar commits, zero silver rewrites, exactly once") {
    import graft.sinks.TableLog
    import spark.implicits._
    val bronze = java.nio.file.Files
      .createTempDirectory("graft_cdcapplym_b").toString + "/t"
    val silver = java.nio.file.Files
      .createTempDirectory("graft_cdcapplym_s").toString + "/t"
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("graft_cdcapplym_ck").toString)
    TableLog.enableCdcFeed(bronze)
    def rows(ks: Range, f: Long => Long) =
      ks.map(k => (k.toLong, f(k.toLong))).toDF("k", "v")
    TableLog.create(spark, bronze,
      rows(0 until 20, identity).repartitionByRange(2, $"k"),
      statsCols = Seq("k"))
    def drain(): Unit = TableLog.cdcApplyStream(spark, bronze, silver,
      "k", "capplym", ckpt)
    drain() // bootstrap batch
    // the silver table declares mor: later batches commit sidecars
    TableLog.setWriteSpec(silver,
      TableLog.writeSpec(silver).copy(rowLevelMode = TableLog.Mor))
    val boot = TableLog.snapshot(silver).get
    TableLog.append(spark, bronze,
      rows(10 until 25, _ * 10).repartitionByRange(2, $"k"),
      statsCols = Seq("k"))
    TableLog.delete(spark, bronze, col("k").between(0, 1))
    drain() // MOR batches: updates + deletes land as sidecar commits
    val after = TableLog.snapshot(silver).get
    assert(boot.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet),
      "a MOR streaming apply must never rewrite a silver file")
    assert(after.dels.nonEmpty)
    val want = ((2L until 10L).map(k => k -> k) ++
      (10L until 25L).map(k => k -> k * 10)).toMap
    assert(TableLog.read(spark, silver).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    // replay with the same checkpoint: txn ids make it a no-op
    val v = TableLog.latestVersion(silver)
    drain()
    assert(TableLog.latestVersion(silver) == v)
    // maintenance tick: more bronze activity flows in, and the
    // autoMorSidecars bound retires the accumulated sidecars in the
    // same drain — reads unchanged, zero pending read amplification
    TableLog.delete(spark, bronze, col("k").between(24, 24))
    TableLog.cdcApplyStream(spark, bronze, silver, "k", "capplym", ckpt,
      autoMorSidecars = Some(0))
    assert(TableLog.snapshot(silver).get.dels.isEmpty,
      "the maintenance tick must retire sidecars")
    assert(TableLog.read(spark, silver).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == want - 24L)
  }
}
