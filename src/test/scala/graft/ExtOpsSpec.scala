package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{DedupOps, MultimodalOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Behavioral tests for the extension (training-data pipeline) operators on
  * hand-built inputs with known answers. */
class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines here"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "tiny")                                         // < 3 tokens: no shingles
  ).toDF("doc_id", "text")

  test("E1 exact dedup keeps deterministic min id") {
    val kept = DedupOps.exactDedupKeep(docs, Seq("text"), "doc_id")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L, 4L)) // doc 3 deduped into doc 0
  }

  test("E2 minhash candidates find near-dup and exact-dup pairs") {
    val pairs = DedupOps.minhashCandidatePairs(docs, "doc_id", "text", bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // identical → all bands collide
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup likely shares a band
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // no shingles → never a candidate
  }

  test("E2 jaccard verification: exact dup = 1e6, near-dup in (0, 1e6)") {
    val j = DedupOps.jaccardVerifiedPairs(docs, "doc_id", "text", bands = 4,
      thresholdMicro = 1L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(j((0L, 3L)) == 1000000L)
    j.get((0L, 1L)).foreach(v => assert(v > 0 && v < 1000000L))
  }

  test("E2 derived banding: lshParamsFor steps once per decade; auto == explicit") {
    // the integer derivation table — rows +1 per decade past 50k docs,
    // bands from the midpoint-preserving table, capped at (36, 4)
    assert(DedupOps.lshParamsFor(500) == (6, 2))
    assert(DedupOps.lshParamsFor(5000) == (6, 2))
    assert(DedupOps.lshParamsFor(49999) == (6, 2))
    assert(DedupOps.lshParamsFor(50000) == (15, 3))
    assert(DedupOps.lshParamsFor(499999) == (15, 3))
    assert(DedupOps.lshParamsFor(500000) == (36, 4))
    assert(DedupOps.lshParamsFor(50000000) == (36, 4)) // cap
    // midpoint invariant: (1/bands)^(1/rows) ≈ 0.41 for every step
    Seq((6, 2), (15, 3), (36, 4)).foreach { case (b, r) =>
      val mid = math.pow(1.0 / b, 1.0 / r)
      assert(mid > 0.38 && mid < 0.45, s"midpoint drifted: ($b,$r) -> $mid")
    }
    // auto entry point == explicit call at the derived parameters
    val real = spark.read.parquet(sf("0.001") + "/documents.parquet")
    val (bands, rows) = DedupOps.lshParamsFor(real.count())
    val auto = DedupOps.jaccardVerifiedPairsAuto(real, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explicit = DedupOps.jaccardVerifiedPairs(real, "doc_id", "text",
      bands = bands, thresholdMicro = 200000, rows = rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == explicit && auto.nonEmpty)
  }

  test("E2 jaccard verify falls back to the shuffle formulation past the broadcast cap") {
    // the verify-stage intersection join is unhinted: AQE broadcasts the
    // candidate×shingle expansion only below the adaptive threshold (the
    // size gate), so shrinking the threshold to 1 byte must flip the
    // executed join to sort-merge while producing identical pairs
    val real = spark.read.parquet(sf("0.001") + "/documents.parquet")
    // the gate is two-layered: the static planner's estimate-driven
    // threshold, then AQE's exact-size re-check of statically-shuffled
    // joins — pin both to steer it deterministically
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    def run(cap: String) = {
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(k => spark.conf.set(k, cap))
      try {
        val df = DedupOps.jaccardVerifiedPairs(real, "doc_id", "text",
          bands = 4, thresholdMicro = 200000)
        val rows = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        // final (post-AQE) physical plan. The pairs-expansion join is
        // hinted and always broadcast, so the gate's signal is whether
        // any unhinted join was left at sort-merge: none under a roomy
        // cap (everything at sf0.001 measures tiny), at least the
        // expansion↔shingle intersection under a 1-byte cap.
        val plan = df.queryExecution.executedPlan.toString
        (rows, plan.contains("SortMergeJoin"))
      } finally prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    val (viaBroadcast, smjB) = run("64m")
    val (viaShuffle, smjS) = run("1b") // 1-byte cap: every non-empty expansion exceeds it
    assert(!smjB, "roomy cap must keep the broadcast formulation everywhere")
    assert(smjS, "tiny cap must force the sort-merge fallback")
    assert(viaBroadcast.nonEmpty && viaShuffle == viaBroadcast,
      s"fallback must produce identical pairs: ${viaShuffle.size} vs ${viaBroadcast.size}")
  }

  test("E2 multi-row banding: exact dups always collide; candidates shrink, recall holds") {
    // identical docs agree on every hash, so they collide in every band
    // regardless of rows — the (0,3) exact-dup pair must survive rows=2
    val j2 = DedupOps.jaccardVerifiedPairs(docs, "doc_id", "text", bands = 6,
      thresholdMicro = 1L, rows = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(j2((0L, 3L)) == 1000000L)
    // real corpus: multi-row bands (candidate prob bands·s^rows) must cut
    // the candidate count vs single-row banding (bands·s) while keeping
    // at least as many verified pairs at the registry threshold — the
    // measured curve behind the registry's (6,2) config (DEVNOTES table:
    // sf10 candidates 593k → 18k, verified 10055 → 10442)
    val real = spark.read.parquet(sf("0.001") + "/documents.parquet")
    def stats(bands: Int, rows: Int): (Long, Long) = {
      val all = DedupOps.jaccardVerifiedPairs(real, "doc_id", "text",
        bands = bands, thresholdMicro = 0, rows = rows)
        .collect().map(r => r.getLong(2))
      (all.length.toLong, all.count(_ >= 200000).toLong)
    }
    val (cand1, ver1) = stats(4, 1)
    val (cand2, ver2) = stats(6, 2)
    assert(cand2 <= cand1, s"candidates must shrink: $cand2 vs $cand1")
    assert(ver2 >= ver1, s"verified pairs must hold: $ver2 vs $ver1")
    assert(ver2 > 0)
  }

  test("E2 jaccard sketch tracks exact jaccard within the 1/sqrt(K) regime") {
    val real = spark.read.parquet(sf("0.001") + "/documents.parquet")
    val exact = DedupOps.jaccardVerifiedPairs(real, "doc_id", "text",
      bands = 4, thresholdMicro = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val sketch = DedupOps.jaccardSketchPairs(real, "doc_id", "text",
      bands = 4, k = 64, thresholdMicro = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // same LSH stage => same candidate pair universe
    assert(sketch.keySet == exact.keySet && sketch.nonEmpty)
    // K=64: sigma <= 1e6/(2*8) = 62500; allow 4 sigma
    for ((p, est) <- sketch)
      assert(math.abs(est - exact(p)) <= 250000,
        s"pair $p: est $est vs exact ${exact(p)}")
    // exact duplicates estimate exactly 1e6 (identical signatures)
    exact.filter(_._2 == 1000000L).keys
      .foreach(p => assert(sketch(p) == 1000000L))
  }

  test("NearestCellLong matches the composable argmin formulation bit-for-bit") {
    // random quantized vectors + codebook; the codegen expression must
    // reproduce the d2-array + array_min + array_position(first) compose
    // exactly, including first-minimal tie-breaks and the single IEEE
    // division per centroid
    val rnd = new scala.util.Random(7)
    val dim = 8
    val nlist = 5
    val rows = (0L until 300L).map { i =>
      (i, Seq.fill(dim)(rnd.between(-1000L, 1000L)))
    } ++ Seq((300L, Seq.fill(dim)(0L)), (301L, Seq.fill(dim)(7L))) // tie bait
    val df = rows.toDF("id", "qe")
    val cents: Array[(Long, Array[Long], Long)] = (0 until nlist).map { j =>
      (j.toLong, Array.fill(dim)(rnd.between(-5000L, 5000L)),
        rnd.between(1L, 9L))
    }.toArray
    // duplicate centroid under two cell ids: argmin must take the FIRST
    val centsWithDup = cents :+ ((nlist.toLong, cents(2)._2.clone(), cents(2)._3))
    val viaExpr = SimilarityOps.assignToCells(df, "id", centsWithDup)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val d2s = array(centsWithDup.map { case (_, sv, c) =>
      aggregate(
        zip_with(col("qe"), array(sv.toSeq.map(lit): _*), (p, s) => {
          val d = lit(c) * p - s; d * d
        }),
        lit(0L), (acc, x) => acc + x)
        .cast("double") / lit((c * c).toDouble)
    }: _*)
    val cellIds = array(centsWithDup.map(_._1).toSeq.map(lit): _*)
    val viaCompose = df.select(col("id"), d2s.as("d2s"))
      .select(col("id"), element_at(cellIds,
        array_position(col("d2s"), array_min(col("d2s"))).cast("int"))
        .as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaCompose)
    // the duplicated centroid's SECOND cell id never wins
    assert(!viaExpr.values.exists(_ == nlist.toLong))
  }

  test("signBitsFor / nlistFor derivations: bounds and monotonicity") {
    import graft.operators.DedupOps.signBitsFor
    import SimilarityOps.nlistFor
    // smallest b with blocks*2^b*target >= n
    assert(signBitsFor(500, 10, 32) == 1)    // 320 < 500 <= 640
    assert(signBitsFor(320, 10, 32) == 0)    // base blocks already suffice
    assert(signBitsFor(1, 1, 1) == 0)
    assert(signBitsFor(Long.MaxValue, 1, 1) == 16) // capped at maxBits
    // monotone non-decreasing in n
    val bits = (1L to 20L).map(e => signBitsFor(1L << e, 10, 32))
    assert(bits == bits.sorted)
    assert(nlistFor(10) == 2 && nlistFor(64 * 4096 * 2) == 4096) // clamps
    assert(nlistFor(640) == 10)
    val ns = Seq(100L, 1000L, 10000L, 100000L).map(nlistFor(_))
    assert(ns == ns.sorted)
  }

  test("lloydFit sampled vs unsampled: both produce valid blockings; sampled fit selects by md5 bucket") {
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    val full = SimilarityOps.lloydFit(emb, "vec_id", "embedding", nlist = 4)
    val sampled = SimilarityOps.lloydFit(emb, "vec_id", "embedding",
      nlist = 4, fitSampleTarget = 100)
    assert(full.length == 4 && sampled.length == 4)
    // every vector lands in one of the fit's cells under either codebook
    for (c1 <- Seq(full, sampled)) {
      val quant = emb.select(col("vec_id"),
        graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0).as("qe"))
      val cells = SimilarityOps.assignToCells(quant, "vec_id", c1)
        .select("cell").distinct().collect().map(_.getLong(0)).toSet
      assert(cells.subsetOf(c1.map(_._1).toSet) && cells.nonEmpty)
    }
    // a sample target below nlist rows fails fast, not silently
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.lloydFit(emb, "vec_id", "embedding", nlist = 400,
        fitSampleTarget = 1)
    }
    assert(ex.getMessage.contains("fit sample"))
  }

  test("E2 dup clusters: components get min-id labels, singletons absent") {
    // both strategies must agree: driver union-find (default) and the
    // distributed pointer-jumping loop (forced via driverEdgeLimit = 0)
    for (limit <- Seq(10000000L, 0L)) {
      // docs 0/1/3 form one near-dup component (0-3 exact, 0-1 near); doc 2
      // and shingle-less doc 4 never enter the pair graph
      val clusters = DedupOps.dupClusters(docs, "doc_id", "text", bands = 4,
        driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(clusters.get(0L).contains(0L))
      assert(clusters.get(3L).contains(0L)) // exact dup joins 0's cluster
      clusters.get(1L).foreach(c => assert(c == 0L)) // near-dup, if candidate
      assert(!clusters.contains(4L))
      // transitivity: A-B and B-C candidates ⇒ one cluster even if A-C
      // never collided
      val chain = Seq(
        (10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "alpha beta gamma delta epsilon eta"),
        (12L, "alpha beta gamma delta theta eta")
      ).toDF("doc_id", "text")
      val cc = DedupOps.dupClusters(chain, "doc_id", "text", bands = 4,
        driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (cc.contains(10L) && cc.contains(12L)) assert(cc(10L) == cc(12L))
    }
    // the two strategies produce IDENTICAL clusterings on real data
    val real = spark.read.parquet(sf("0.001") + "/documents.parquet")
    val a = DedupOps.dupClusters(real, "doc_id", "text", bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = DedupOps.dupClusters(real, "doc_id", "text", bands = 4,
      driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("multimodal window energy: sums per window, partial tail, empty") {
    import graft.functions.MultimodalExpressions
    val payloads = Seq((0L, "abcd"), (1L, "abcde"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val got = payloads
      .select(col("doc_id"),
        MultimodalExpressions.windowEnergy(col("payload"), 2).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(0L) == Seq('a' + 'b', 'c' + 'd').map(_.toLong))
    assert(got(1L) == Seq('a' + 'b', 'c' + 'd', 'e'.toLong))
    assert(got(2L) == Seq.empty)
    // parity with the exploded operator form
    val rows = MultimodalOps.audioEnergy(payloads, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((0L, 0L, ('a' + 'b').toLong), (0L, 1L, ('c' + 'd').toLong),
      (1L, 0L, ('a' + 'b').toLong), (1L, 1L, ('c' + 'd').toLong), (1L, 2L, 'e'.toLong)))
  }

  test("count-min sketch: estimates dominate true counts, exact when wide") {
    import graft.functions.CountMin
    val toks = Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val df = toks.toDF("tok").repartition(4) // force partial/merge path
    val (depth, width) = (4, 1024)          // wide → collisions improbable
    val sketch = df.agg(CountMin.countMinLong(col("tok"), depth, width).as("sk"))
    val est = sketch.select(
      CountMin.estimate(col("sk"), lit("alpha"), depth, width).as("a"),
      CountMin.estimate(col("sk"), lit("beta"), depth, width).as("b"),
      CountMin.estimate(col("sk"), lit("gamma"), depth, width).as("g"),
      CountMin.estimate(col("sk"), lit("absent"), depth, width).as("x")).head()
    assert(est.getLong(0) == 7L && est.getLong(1) == 3L && est.getLong(2) == 1L)
    assert(est.getLong(3) >= 0L) // absent: only overestimates possible
    // total mass per depth row equals the input count
    val sk = sketch.head().getSeq[Long](0)
    (0 until depth).foreach { d =>
      assert(sk.slice(d * width, (d + 1) * width).sum == toks.size)
    }
  }

  test("vector_sum_long: element-wise sums, null handling, cross-partition") {
    import graft.functions.VectorSum
    val df = Seq(
      (0L, Seq(1L, 2L, 3L)),
      (0L, Seq(10L, 20L, 30L)),
      (1L, Seq(5L, 5L, 5L))
    ).toDF("g", "v").repartition(4) // force partial/merge path
    val got = df.groupBy("g").agg(VectorSum.vectorSumLong(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(0L) == Seq(11L, 22L, 33L))
    assert(got(1L) == Seq(5L, 5L, 5L))
    // parity with the per-dimension sum formulation
    val perDim = df.groupBy("g").agg(
      array((0 until 3).map(i => sum(element_at(col("v"), i + 1))): _*).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == perDim)
  }

  test("E2 simhash: identical docs share buckets") {
    val sigs = docs.select(col("doc_id"), TF.simhash(col("text"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(0L) == sigs(3L))
    assert(sigs.values.forall(s => s.length == 8 && s.forall("01".contains(_))))
  }

  test("codegen SimHashBits / TokenSetCounts match the interpreted forms") {
    // parity over real data (sf0.001 documents), not just the toy docs
    val d = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select(col("doc_id"), TF.tokens(col("text")).as("t"))
    val simCmp = d.select(
      TF.simhashFromTokens(col("t"), 8).as("a"),
      graft.functions.TextExpressions.simhashBits(col("t"), 8).as("b"),
      TF.langIdFromTokensComposable(col("t")).as("la"),
      TF.langIdFromTokens(col("t")).as("lb"))
    assert(simCmp.where(col("a") =!= col("b") || col("la") =!= col("lb"))
      .count() == 0)
    // empty and null-element arrays
    val edge = Seq(Seq.empty[String], Seq("x", "the")).toDF("t")
    val rows = edge.select(
      TF.simhashFromTokens(col("t"), 4).as("a"),
      graft.functions.TextExpressions.simhashBits(col("t"), 4).as("b"),
      graft.functions.TextExpressions
        .tokenSetCounts(col("t"), Seq(Seq("the"), Seq("x", "y"))).as("c"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
    assert(rows(0).getSeq[Int](2) == Seq(0, 0))
    assert(rows(1).getSeq[Int](2) == Seq(1, 1))
  }

  test("E3 IVF with k-means-trained centroids finds the query's neighbors") {
    val vecs = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    val q = vecs.where(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0)
    val got = SimilarityOps.topKIvfKmeans(vecs, "vec_id", "embedding",
      q, k = 5, nlist = 4, nprobe = 2)
      .collect()
    // the query vector's own cell is always probed → itself first, cos 1
    assert(got.head.getLong(0) == 0L)
    assert(math.abs(got.head.getDouble(1) - 1.0) < 1e-9)
    assert(got.length == 5)
    // ranked descending
    val sims = got.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("E3 ANN paths: recall@10 vs brute force (registry configs)") {
    // e3_ann_ivf is the deliberate UNTRAINED-PARTITION BASELINE. Since r6
    // the registry query is SELF-VERIFYING (emits brute-force rows +
    // recall_floor_ok, hash-matched by the oracle; floor 3/10 holds up to
    // bench scale — recall decays with corpus size, which is the baseline's
    // documented lesson); this test pins the TIGHTER 0.5 floor at sf0.001.
    // The registry's trained path (e3_ann_ivf_kmeans = topKIvfLloydExact)
    // is oracle-checked for VALUES, and this test pins its QUALITY: the
    // trained quantizer recovers (nearly) the exact ranking where the
    // label baseline structurally cannot (probing even 5/10 label cells
    // only reaches 0.6 — labels are not geometric clusters).
    val vecs = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    val q = vecs.where(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0)
    val qL = vecs.where(col("vec_id") === 0)
      .select(graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0))
      .collect().head.getSeq[Long](0)
    val exact = SimilarityOps.topKCosine(vecs, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = SimilarityOps.topKIvf(vecs, "vec_id", "embedding", "label",
      q, k = 10, nprobe = 3).collect().map(_.getLong(0)).toSet
    val lloyd = SimilarityOps.topKIvfLloydExact(vecs, "vec_id", "embedding",
      qL, k = 10, nlist = 8, nprobe = 3).collect().map(_.getLong(0)).toSet
    val km = SimilarityOps.topKIvfKmeans(vecs, "vec_id", "embedding",
      q, k = 10, nlist = 8, nprobe = 3).collect().map(_.getLong(0)).toSet
    val rIvf = (ivf & exact).size / 10.0
    val rLloyd = (lloyd & exact).size / 10.0
    val rKm = (km & exact).size / 10.0
    info(f"recall@10 ivf=$rIvf%.1f lloyd=$rLloyd%.1f kmeans=$rKm%.1f")
    assert(rIvf >= 0.5, s"baseline ivf recall@10 $rIvf < 0.5")
    // the registry's trained path: measured 1.0 at this config; 0.9 floor
    // leaves one borderline-tie of slack
    assert(rLloyd >= 0.9, s"lloyd recall@10 $rLloyd < 0.9")
    // the MLlib fit-on-sample API keeps its own bound (measured 0.8)
    assert(rKm >= 0.7, s"kmeans recall@10 $rKm < 0.7")
    assert(rLloyd >= rIvf && rKm >= rIvf,
      "trained quantizer should not lose to arbitrary labels")
    // all must contain the query itself (its own cell is always probed)
    assert(ivf.contains(0L) && lloyd.contains(0L) && km.contains(0L))
  }

  test("approx_percentile lands within the accuracy-implied rank window") {
    // the sketch quantile's contract is RANK error ≤ 1/accuracy of n: the
    // estimate must be a value whose exact rank is within that window of
    // the target rank
    val orders = spark.read.parquet(sf("0.001") + "/orders.parquet")
    val n = orders.count()
    val acc = 100 // rank error ≤ n/acc
    for (q <- Seq(0.5, 0.9)) {
      val est = orders
        .select(expr(s"approx_percentile(o_totalprice, $q, $acc)"))
        .head.getDouble(0)
      val rank = orders.where(col("o_totalprice") <= est).count()
      val target = q * n
      assert(math.abs(rank - target) <= n.toDouble / acc + 1,
        s"q=$q est=$est rank=$rank target=$target n=$n")
    }
  }

  test("approx_count_distinct stays within its configured error bound") {
    // e5_approx_distinct is SELF-VERIFYING since r6 (emits exact count +
    // in-plan bound_ok, hash-matched by the oracle); this standalone test
    // keeps the same verdict independent of the registry plumbing:
    // rsd=0.01 keeps the estimate within a conservative 5% per group.
    val li = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
    val cmp = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05,
        s"${r.getString(0)}: approx $a vs exact $e")
    }
  }

  test("PackOps distributed prefix sum is shard-size invariant") {
    import graft.operators.PackOps
    val docs = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_tok"))
    // the single-window reference (what the oracle computes)
    val ref = docs
      .withColumn("chunk", expr("coalesce(sum(n_tok) over (" +
        "partition by lang order by doc_id " +
        "rows between unbounded preceding and 1 preceding), 0L) div 512"))
      .select("doc_id", "chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (shardSize <- Seq(1L, 17L, 64L, 1000000L)) {
      val got = PackOps.packChunks(docs, "lang", "doc_id", "n_tok",
          budget = 512L, shardSize = shardSize)
        .select("doc_id", "chunk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == ref, s"shardSize=$shardSize diverges")
    }
  }

  test("SequenceOps quantified patterns: greedy, bounded, non-overlapping") {
    import graft.operators.SequenceOps
    import graft.operators.SequenceOps.{SeqEvent, Step}
    def ev(key: Long, types: String*): Seq[SeqEvent] =
      types.zipWithIndex.map { case (t, i) =>
        SeqEvent(key, us = i.toLong, id = key * 100 + i, etype = t)
      }
    val events = spark.createDataset(
      ev(1, "A", "C") ++                     // B{0,2} matched zero times
      ev(2, "A", "B", "B", "C") ++           // full greedy consumption
      ev(3, "A", "B", "B", "B", "C") ++      // third B exceeds max → no match
      ev(4, "A", "C", "A", "C") ++           // two non-overlapping matches
      ev(5, "B", "C", "A")                   // pattern never completes
    )(org.apache.spark.sql.Encoders.product[SeqEvent])
    val pat = Seq(Step.one("A"), Step(Set("B"), 0, 2), Step.one("C"))
    val got = SequenceOps.matchPattern(spark, events, pat)
      .collect().map(m => (m.key, m.start_id, m.end_id, m.n)).sorted.toSeq
    assert(got == Seq(
      (1L, 100L, 101L, 2L),
      (2L, 200L, 203L, 4L),
      (4L, 400L, 401L, 2L), (4L, 402L, 403L, 2L)))
    // documented greedy-no-backtrack: A{1,2} then A cannot match "A A"
    // (step 1 greedily eats both, step 2 starves)
    val greedy = SequenceOps.matchPattern(spark,
      spark.createDataset(ev(9, "A", "A"))(
        org.apache.spark.sql.Encoders.product[SeqEvent]),
      Seq(Step(Set("A"), 1, 2), Step.one("A")))
    assert(greedy.collect().isEmpty)
  }

  test("winnowing: shared substrings share fingerprints, short docs none") {
    import graft.functions.TextExpressions.winnowFingerprints
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "yesterday the quick brown fox jumps over a fence"), // shares prefix run
      (2L, "zzzz totally unrelated content qqqq"),
      (3L, "short") // < k + window - 1 bytes at k=8,w=4 → no fingerprints
    ).toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
        winnowFingerprints(col("text"), 8, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(0L) & fps(1L)).nonEmpty) // "the quick brown fox jumps over"
    assert((fps(0L) & fps(2L)).isEmpty)
    assert(fps(3L).isEmpty)
    // sorted distinct contract
    val arr = fps(0L).toSeq
    assert(arr.size == fps(0L).size)
  }

  test("Md5Halves matches conv(substring(md5)) on real shingles") {
    val sh = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select(explode(TF.shingles(col("text"), 3)).as("s"))
    val cmp = sh.select(
      graft.functions.TextExpressions.md5Halves(col("s")).as("hh"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("s")), 17, 15), 16, 10).cast("long").as("h2"))
    assert(cmp.where(col("hh.h1") =!= col("h1") || col("hh.h2") =!= col("h2"))
      .count() == 0)
    assert(cmp.count() > 1000)
  }

  test("NormalizeNfc merges combining marks; NFC input fast-paths untouched") {
    import graft.functions.{NormalizeNfc, TextExpressions => TE}
    import org.apache.spark.unsafe.types.UTF8String
    // column form over real data + injected decomposed marks
    val out = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select(TE.normalizeNfc(
        concat(col("text"), lit(" e\u0301"))).as("n"))
      .collect()
    assert(out.forall(_.getString(0).endsWith(" \u00e9"))) // precomposed é
    // fast path: already-NFC input returns the SAME UTF8String instance
    // (no rebuild — the property that keeps the ASCII hot path free)
    val expr = NormalizeNfc(org.apache.spark.sql.catalyst.expressions.Literal("x"))
    val ascii = UTF8String.fromString("plain ascii")
    assert(expr.compute(ascii) eq ascii)
    val deco = UTF8String.fromString("e\u0301")
    assert(expr.compute(deco).toString == "\u00e9")
  }

  test("E3 similarity: self-query ranks itself first with cos=1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.topKCosine(vecs, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), k = 2).collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top(1).getLong(0) == 1L)

    val ivf = SimilarityOps.topKIvf(vecs, "vec_id", "embedding", "label",
      Seq(1.0f, 0.0f, 0.0f), k = 2, nprobe = 1)
    // nprobe=1 restricts to label 0's partition (nearest centroid)
    assert(ivf.collect().map(_.getLong(0)).toSet == Set(0L, 1L))
  }

  test("dot_long/dot_float usable from SQL after registration") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql("SELECT dot_long(array(2L,3L), array(5L,7L)) AS d").head
    assert(r.getLong(0) == 31L)
    val f = spark.sql(
      "SELECT dot_float(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT)))").head
    assert(f.getDouble(0) == 3.0)
    // normalize_nfc from SQL: decomposed e+U+0301 (2 chars) → é (1 char)
    val n = spark.sql(
      "SELECT length(normalize_nfc('e\\u0301')) AS l, length('e\\u0301') AS r").head
    assert(n.getInt(0) == 1 && n.getInt(1) == 2, n.toString)
    // scrub_pii from SQL ≡ the Column face (one pattern definition)
    val raw = "mail a@b.com or +1 555 123 4567 at 10.0.0.1"
    val s = spark.sql(s"SELECT scrub_pii('$raw') AS s").head.getString(0)
    assert(s == "mail <EMAIL> or <PHONE> at <IP>", s)
    assert(s == Seq(raw).toDF("t")
      .select(graft.functions.TextExpressions.scrubPii(col("t")))
      .head.getString(0))
  }

  test("custom dot expressions agree with interpreted fold") {
    val vecs = Seq((Array(1.5f, -2.0f, 3.0f), Array(2.0f, 0.5f, -1.0f)))
      .toDF("a", "b")
    val r = vecs.select(
      VF.dotFloat(col("a"), col("b")).as("fast"),
      VF.dot(col("a"), col("b")).as("fold")).head
    assert(r.getDouble(0) == r.getDouble(1))
    val l = Seq((Seq(2L, 3L, 5L), Seq(7L, 11L, 13L))).toDF("a", "b")
      .select(VF.dotLong(col("a"), col("b"))).head.getLong(0)
    assert(l == 2 * 7 + 3 * 11 + 5 * 13)
  }

  test("top-k aggregate: rank order, ties, cross-partition merge") {
    val rows = Seq(
      (1L, 10.0, 100L), (1L, 30.0, 101L), (1L, 20.0, 102L),
      (1L, 30.0, 99L),  // tie on value: lower payload ranks first
      (2L, 5.0, 200L)   // group smaller than k
    ).toDF("g", "v", "p").repartition(4) // force partial/merge path
    val got = rows.groupBy("g")
      .agg(graft.functions.TopKAggregate.topKByValue(col("v"), col("p"), 3).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(99L, 101L, 102L)) // 30(99), 30(101), 20(102); 10 evicted
    assert(got(2L) == Seq(200L))
  }

  test("QuantizeVector matches the round-transform formulation bit-for-bit") {
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    val mismatch = emb.select(
      graft.functions.QuantizeVector.quantize(col("embedding"), 1000.0).as("fast"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("ref"))
      .where(col("fast") =!= col("ref"))
      .count()
    assert(mismatch == 0)
    // negative-half edge with an EXACT product (-0.5f * 5 = -2.5): must
    // round away from zero (-3), where Math.round would give -2
    val edge = Seq(Tuple1(Array(-0.5f, 0.5f))).toDF("v")
      .select(graft.functions.QuantizeVector.quantize(col("v"), 5.0))
      .head.getSeq[Long](0)
    assert(edge == Seq(-3L, 3L))
  }

  test("E4 text functions: counts, estimate, fingerprint invariance") {
    val r = docs.where(col("doc_id") === 0)
      .select(TF.tokenCount(col("text")), TF.bpeTokenEstimate(col("text")),
        TF.fingerprint(col("text")), TF.langId(col("text")))
      .head
    assert(r.getInt(0) == 9)
    // ceil(len/4) per word: the,quick,brown,fox,jumps,over,the,lazy,dog
    assert(r.getInt(1) == Seq(3, 5, 5, 3, 5, 4, 3, 4, 3).map(n => (n + 3) / 4).sum)
    assert(r.getString(3) == "en") // two "the" hits
    // fingerprint is bag-of-words: word order must not matter
    val fpPermuted = Seq("dog lazy the over jumps fox brown quick the")
      .toDF("text").select(TF.fingerprint(col("text"))).head.getString(0)
    assert(r.getString(2) == fpPermuted)
  }

  test("multimodal: payload plumbing + stub decode round trip") {
    val meta = MultimodalOps.decodeMeta(
      MultimodalOps.withPayload(docs, "doc_id", "text"))
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(4L).n_bytes == 4L) // "tiny"
    assert(meta(4L).width == ('t'.toInt % 64) + 1)
    assert(meta(4L).height == (4 % 64) + 1)
    assert(meta.values.forall(_.format == "fake/v1"))
  }

  test("E2 incremental dedup: cross/within rules, survivor append, replay-stable") {
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "completely different content about spark engines here"
    val textC = "an entirely novel document discussing scala dataframes"
    val textD = "another singleton text with sufficiently many tokens"
    val base = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val batch = Seq(
      (4L, textA),  // exact dup of indexed doc 1 → cross dup
      (8L, textC),  // bucket minimum of the within-batch pair → survives
      (12L, textC), // within-batch dup of 8
      (16L, textD), // unique → survives
      (20L, "tiny") // no shingles → never a candidate, never indexed
    ).toDF("doc_id", "text")
    val t = java.nio.file.Files.createTempDirectory("graft_incdedup").toString + "/idx"
    graft.operators.DedupOps.buildSignatureIndex(spark, t, base,
      "doc_id", "text", bands = 4)
    def run() = graft.operators.DedupOps.incrementalDedup(spark, t, batch,
      "doc_id", "text", bands = 4, txnId = Some("b1"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val d1 = run()
    assert(d1(4L) == ((true, 1L, 4L, 16L)))   // cross dup of base doc 1
    assert(d1(8L) == ((false, -1L, 4L, 16L))) // bucket min survives
    assert(d1(12L)._1 && d1(12L)._2 == 8L)    // within dup of 8
    assert(d1(16L) == ((false, -1L, 4L, 16L)))
    assert(d1(20L) == ((false, -1L, 4L, 16L)))
    // index = {1, 2} ∪ survivors {8, 16}: 4 docs × 4 bands
    val idx = graft.sinks.TableLog.read(spark, t)
    assert(idx.select("id").distinct().collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 8L, 16L))
    // REPLAY with the same txn id: the append skips (manifest chain is
    // the txn log), and self-exclusion keeps every decision identical
    // even though the survivors' own signatures are now indexed
    assert(run() == d1)
    assert(graft.sinks.TableLog.latestVersion(t) == 2L)
  }

  test("E2 incremental embed dedup: cosine verify, pinned bits, replay-stable") {
    val base = Seq(
      (1L, 0L, Seq(1f, 0f, 0f, 0f)),
      (2L, 1L, Seq(0f, 1f, 0f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val batch = Seq(
      (4L, 0L, Seq(1f, 0f, 0f, 0f)),  // cross dup of indexed vec 1
      (8L, 2L, Seq(0f, 0f, 1f, 0f)),  // new label block → survives
      (12L, 2L, Seq(0f, 0f, 1f, 0f)), // within-batch dup of 8
      (16L, 0L, Seq(0f, 0f, 0f, 1f))  // SHARES vec 1's block, orthogonal —
                                      // blocking is only a candidate rule;
                                      // the cosine verify must clear it
    ).toDF("vec_id", "label", "embedding")
    val t = java.nio.file.Files.createTempDirectory("graft_incembed")
      .toString + "/idx"
    graft.operators.DedupOps.buildEmbedIndex(spark, t, base,
      "vec_id", "embedding", "label")
    // base: n=2, 2 label blocks → signBitsFor gives 0 extra bits, pinned
    assert(graft.sinks.TableLog.snapshot(t).get.counters ==
      Map("docs" -> 2L, "bits" -> 0L))
    def run() = graft.operators.DedupOps.incrementalEmbedDedup(spark, t,
      batch, "vec_id", "embedding", "label", thresholdMicro = 900000,
      txnId = Some("b1"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val d1 = run()
    assert(d1(4L) == ((true, 1L, 4L, 4L)))
    assert(d1(8L) == ((false, -1L, 4L, 4L)))
    assert(d1(12L) == ((true, 8L, 4L, 4L)))
    assert(d1(16L) == ((false, -1L, 4L, 4L))) // candidate, failed verify
    val idx = graft.sinks.TableLog.read(spark, t)
    assert(idx.select("id").distinct().collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 8L, 16L))
    // replay: append skips on the txn id, decisions byte-identical, and
    // the witnessed manifest accounting is pinned at the original commit
    assert(run() == d1)
    assert(graft.sinks.TableLog.latestVersion(t) == 2L)
    // bootstrap: a first batch on an ABSENT index derives and pins the
    // width itself (streaming cold-start parity with incrementalDedup)
    val t2 = java.nio.file.Files.createTempDirectory("graft_incembed2")
      .toString + "/idx"
    val d2 = graft.operators.DedupOps.incrementalEmbedDedup(spark, t2,
      batch, "vec_id", "embedding", "label", thresholdMicro = 900000)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(d2(4L)._1 == false)            // nothing indexed to collide with
    assert(d2(12L) == ((true, 8L, 3L, 3L))) // within rule still applies
    assert(graft.sinks.TableLog.snapshot(t2).get.counters.contains("bits"))
  }

  test("incremental embed/semantic probe broadcast is size-gated in-plan, not hinted") {
    // the probe joins carry no broadcast() hint: the decision is the
    // planner's (static layer over the materialized batch cache's exact
    // size, then AQE's runtime re-check). Proof: with BOTH gate layers
    // disabled (-1 thresholds) the SAME operator must degrade to the
    // shuffle formulation — zero BroadcastHashJoin anywhere in the
    // executed probe plan (a hard-wired hint would broadcast regardless
    // and OOM on a bulk backfill batch) — and the decisions must be
    // byte-identical to the default-conf run.
    val base = Seq((1L, 0L, Seq(1f, 0f, 0f, 0f)),
      (2L, 1L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "label", "embedding")
    val batch = Seq((4L, 0L, Seq(1f, 0f, 0f, 0f)),
      (8L, 2L, Seq(0f, 0f, 1f, 0f)),
      (12L, 2L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "label", "embedding")
    def run(suffix: String): (Map[Long, (Boolean, Long)], String) = {
      val t = java.nio.file.Files.createTempDirectory(
        s"graft_gate_$suffix").toString + "/idx"
      graft.operators.DedupOps.buildEmbedIndex(spark, t, base,
        "vec_id", "embedding", "label")
      val d = graft.operators.DedupOps.incrementalEmbedDedup(spark, t,
        batch, "vec_id", "embedding", "label", thresholdMicro = 900000)
      val rows = d.collect().map(r =>
        r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      (rows, d.queryExecution.executedPlan.toString)
    }
    val (defRows, defPlan) = run("def")
    // good path: the tiny cached batch broadcasts (static or AQE layer)
    assert(defPlan.contains("BroadcastHashJoin"),
      s"expected a broadcast probe on the good path:\n$defPlan")
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val (gatedRows, gatedPlan) = run("gated")
      assert(!gatedPlan.contains("BroadcastHashJoin"),
        s"a disabled gate must yield the shuffle formulation — the probe " +
          s"is hint-pinned:\n$gatedPlan")
      assert(gatedPlan.contains("SortMergeJoin"), gatedPlan)
      assert(gatedRows == defRows, "plan choice changed the decisions")
      // semantic twin under the same disabled gate: completes on the
      // shuffle path with correct decisions
      val semBase = Seq((1L, Seq(1f, 0f, 0f, 0f)),
        (21L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
      val ts = java.nio.file.Files.createTempDirectory(
        "graft_gate_sem").toString + "/idx"
      graft.operators.DedupOps.buildSemanticIndex(spark, ts, semBase,
        "vec_id", "embedding")
      val ds = graft.operators.DedupOps.incrementalSemanticDedup(spark, ts,
        batch.select($"vec_id", $"embedding"), "vec_id", "embedding",
        thresholdMicro = 900000)
      val dsRows = ds.collect().map(r =>
        r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      assert(!ds.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(dsRows(4L) == ((true, 1L)))
      assert(dsRows(12L) == ((true, 8L)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("E2 incremental semantic dedup: pinned codebook cells, verify, replay") {
    val base = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.95f, 0.05f, 0f, 0f)),
      (21L, Seq(0f, 1f, 0f, 0f)),
      (22L, Seq(0.05f, 0.95f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (4L, Seq(1f, 0f, 0f, 0f)),    // cross dup of indexed vec 1
      (8L, Seq(0f, 0f, 1f, 0f)),    // lands in SOME cell, orthogonal to
                                    // every base member — verify clears it
      (12L, Seq(0f, 0f, 1f, 0f)),   // within-batch dup of 8
      (16L, Seq(0f, 0.98f, 0.01f, 0f)) // cross dup of 21's cluster
    ).toDF("vec_id", "embedding")
    val t = java.nio.file.Files.createTempDirectory("graft_incsem")
      .toString + "/idx"
    graft.operators.DedupOps.buildSemanticIndex(spark, t, base,
      "vec_id", "embedding")
    // the assignment codebook is PINNED as its own TableLog table
    assert(graft.sinks.TableLog.latestVersion(s"$t/codebook") == 1L)
    assert(graft.operators.DedupOps.semanticCodebook(spark, t).length == 2)
    def run() = graft.operators.DedupOps.incrementalSemanticDedup(spark, t,
      batch, "vec_id", "embedding", thresholdMicro = 900000,
      txnId = Some("b1"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val d1 = run()
    assert(d1(4L) == ((true, 1L, 5L, 5L)))
    assert(d1(8L) == ((false, -1L, 5L, 5L)))  // candidate, failed verify
    assert(d1(12L) == ((true, 8L, 5L, 5L)))
    assert(d1(16L)._1 && d1(16L)._2 == 21L)
    assert(graft.sinks.TableLog.read(spark, t)
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 8L, 21L, 22L))
    // txn replay: append skips, decisions and witnessed accounting
    // byte-identical
    assert(run() == d1)
    assert(graft.sinks.TableLog.latestVersion(t) == 2L)
    // REBALANCE: new codebook committed as codebook-table v2, index
    // rewritten with every row re-assigned, and the pinned cbv swung in
    // the same manifest commit — old readers saw (v1, old cells), new
    // readers see (v2, new cells), never a mix
    val cbvBefore = graft.sinks.TableLog.snapshot(t).get.counters("cbv")
    graft.operators.DedupOps.rebalanceSemanticIndex(spark, t)
    val snap = graft.sinks.TableLog.snapshot(t).get
    assert(snap.counters("cbv") > cbvBefore)
    assert(graft.sinks.TableLog.latestVersion(s"$t/codebook")
      == snap.counters("cbv"))
    // the new codebook version REPLACES the old cells (nlistFor(5) = 2)
    assert(graft.operators.DedupOps.semanticCodebook(spark, t).length == 2)
    assert(snap.counters("docs") == 5L) // accounting survives the rewrite
    assert(graft.sinks.TableLog.read(spark, t)
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 8L, 21L, 22L))
    // probes keep working against the rebalanced index: an exact copy of
    // vec 8 must still be caught as a duplicate
    val d2 = graft.operators.DedupOps.incrementalSemanticDedup(spark, t,
      Seq((30L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", thresholdMicro = 900000)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(d2(30L) == ((true, 8L)))
  }

  test("BPE train: merge sequence matches the hand-computed Sennrich fixture") {
    import graft.functions.Bpe
    // low×5 lower×2 newest×6 widest×3 — worked by hand:
    //   (e,s)=9 ties (s,t)=9 → pair-ascending picks (e,s); then (es,t);
    //   (l,o)=7 ties (o,w) → (l,o); (lo,w); then the 6-count family in
    //   ascending order as merges compose: (e,w), (ew,est), (n,ewest);
    //   then the widest tail (d,est) at count 3
    val m = Bpe.trainFromHistogram(Array(("low", 5L), ("lower", 2L),
      ("newest", 6L), ("widest", 3L)), numMerges = 8)
    assert(m.merges.toSeq == Seq(("e", "s"), ("es", "t"), ("l", "o"),
      ("lo", "w"), ("e", "w"), ("ew", "est"), ("n", "ewest"),
      ("d", "est")))
    // the char inventory is the sorted distinct symbol set
    assert(m.chars.toSeq == Seq("d", "e", "i", "l", "n", "o", "r", "s",
      "t", "w"))
    assert(m.vocab.takeRight(2).toSeq == Seq("newest", "dest"))
    // count-1 pairs never become rules (they generalize nothing)
    val tiny = Bpe.trainFromHistogram(Array(("ab", 1L), ("cd", 1L)), 10)
    assert(tiny.merges.isEmpty)
  }

  test("BPE encode: classic lowest-rank loop through the trained rules") {
    import graft.functions.Bpe
    val model = Bpe.trainFromHistogram(Array(("low", 5L), ("lower", 2L),
      ("newest", 6L), ("widest", 3L)), numMerges = 8)
    val d = Seq(
      (0L, "newest lowest low"),
      (1L, "NEWEST, new-est!"), // case-folded; punctuation splits words
      (2L, ""),
      (3L, "zzz")               // symbols unseen at train time pass through
    ).toDF("doc_id", "text")
    val enc = d.select(col("doc_id"), Bpe.encode(col("text"), model).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    // lowest = l o w e s t → es → est → lo → low ⇒ [low, est]
    assert(enc(0L) == Seq("newest", "low", "est", "low"))
    // "new" alone: (e,w) applies but (n,ew) is not a rule ⇒ [n, ew]
    assert(enc(1L) == Seq("newest", "n", "ew", "est"))
    assert(enc(2L) == Seq.empty)
    assert(enc(3L) == Seq("z", "z", "z"))
    // rank-monotonicity: applying rules in rank order, each globally,
    // equals the classic loop (the property the SQL oracle's nested
    // replaces rely on) — checked over every word in the fixture corpus
    def byRankOrder(w: String): Seq[String] = {
      var s: Seq[String] = w.map(_.toString)
      model.merges.foreach { case (x, y) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < s.length) {
          if (j + 1 < s.length && s(j) == x && s(j + 1) == y) {
            out += x + y; j += 2
          } else { out += s(j); j += 1 }
        }
        s = out.toSeq
      }
      s
    }
    for (w <- Seq("low", "lower", "newest", "widest", "lowest", "new",
        "stew", "widower"))
      assert(d.sparkSession.range(1).select(
        Bpe.encode(lit(w), model).as("t"))
        .head.getSeq[String](0).toSeq == byRankOrder(w), s"word $w")
  }

  test("BPE train is deterministic across partitioning and yields parity encodes") {
    import graft.functions.Bpe
    val docs = spark.read.parquet(sf("0.001") + "/documents.parquet")
    val m1 = Bpe.train(docs, "text", numMerges = 50)
    val m2 = Bpe.train(docs.repartition(7), "text", numMerges = 50)
    assert(m1.merges.toSeq == m2.merges.toSeq &&
      m1.chars.toSeq == m2.chars.toSeq)
    assert(m1.merges.length == 50)
    // encode round-trip invariant: tokens concatenate back to the
    // pre-tokenized words, for every document
    val bad = docs.select(
        concat_ws("", Bpe.encode(col("text"), m1)).as("rt"),
        concat_ws("", split(lower(col("text")), "[^a-z0-9]+")).as("words"))
      .where(col("rt") =!= col("words")).count()
    assert(bad == 0)
  }
}
