package graft.operators

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines — exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale shape: every candidate-generation path is
  * (narrow per-row signature) → (shuffle on short signature keys) →
  * (within-bucket pairing). Nothing ever compares all N² rows; the only
  * shuffles key on signatures/buckets, which distribute uniformly (md5),
  * so there is no planner-visible skew at 100 TB.
  */
object DedupOps {

  /** E1: exact dedup keyed on `keyCols`, keeping the row with the smallest
    * `tieBreak` — deterministic, unlike `dropDuplicates` whose survivor
    * depends on execution order. One shuffle on the key columns; map-side
    * partial min keeps it light. */
  def exactDedupKeep(df: DataFrame, keyCols: Seq[String], tieBreak: String)
      : DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(tieBreak)).as(tieBreak))

  /** Distinct (id, shingle) pairs, with tokenization and shingling staged
    * through separate projections so each is computed once per row (see
    * TF.shinglesFromTokens' performance contract). The explode is a narrow
    * generator — no shuffle. */
  private[graft] def docShingles(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        array_distinct(TF.shinglesFromTokens(col("__toks"), shingleN)).as("__sh"))
      // explode_outer, not explode: plain explode makes the optimizer infer a
      // `size(__sh) > 0` filter and push it below the projections with the
      // alias substituted — re-evaluating the whole shingle pipeline against
      // raw text at the scan. outer explode infers nothing; the cheap
      // null-filter below drops shingle-less documents instead.
      .select(col("id"), explode_outer(col("__sh")).as("s"))
      .where(col("s").isNotNull)

  /** E2 stage 1 (MinHash+LSH): per-document band signatures. One output row
    * per (doc, band): the band's minhash over word-`shingleN`-gram shingles.
    * Documents with no shingles produce no rows.
    *
    * Signatures are LONGS, not hex strings: each shingle is md5'd ONCE, two
    * 60-bit halves (h1, h2) are parsed from the hex, and band b's hash is
    * the classic combination h1 + b·h2 (no overflow: h < 2^60, b ≤ 7).
    * Long mins keep the aggregation in HashAggregate + whole-stage codegen
    * (string mins force SortAggregate), and the shuffle carries `bands`
    * longs per document regardless of document length. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3): DataFrame =
    minhashBandsFromShingles(docShingles(df, idCol, textCol, shingleN), bands)

  /** Same, over an already-built (id, s) shingle relation. */
  def minhashBandsFromShingles(ds: DataFrame, bands: Int): DataFrame = {
    require(bands <= 7, "bands > 7 would overflow h1 + band*h2")
    val perBand = ds
      .select(col("id"),
        graft.functions.TextExpressions.md5Halves(col("s")).as("__hh"))
      .select(col("id"),
        col("__hh.h1").as("h1"), col("__hh.h2").as("h2"))
      .groupBy("id")
      .agg(min(col("h1")).as("sig0"),
        (1 until bands).map(b =>
          min(col("h1") + lit(b.toLong) * col("h2")).as(s"sig$b")): _*)
    perBand.select(col("id").as("__id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"sig$b").as("sig"))): _*)).as("bs"))
      .select(col("__id").as("id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
  }

  /** E2 stage 2: candidate near-dup pairs = documents sharing any band
    * signature. Self-equi-join on (band, sig) — a plain shuffle hash join on
    * a uniform key; `<` keeps each unordered pair once. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3): DataFrame =
    minhashCandidatePairsFromShingles(
      docShingles(df, idCol, textCol, shingleN), bands)

  /** Same, over an already-built (id, s) shingle relation. */
  def minhashCandidatePairsFromShingles(ds: DataFrame, bands: Int): DataFrame =
    candidatePairsFromSigs(minhashBandsFromShingles(ds, bands))

  /** LSH bucket → unordered candidate pairs, from an (id, band, sig)
    * signature relation. Bucket-group instead of self-join: a self-join
    * would evaluate the signature pipeline twice (Spark has no
    * cross-branch plan CSE) and shuffle it twice. One groupBy on
    * (band, sig) collects each LSH bucket's member ids — bucket sizes are
    * near-dup cluster sizes, small by construction — and the i<j
    * combinations explode bucket-locally. Output pair count is identical
    * either way. */
  def candidatePairsFromSigs(sigs: DataFrame): DataFrame = {
    val buckets = sigs.groupBy("band", "sig")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) >= 2)
    buckets
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ids")) - 2),
        i => transform(sequence(i + 1, size(col("ids")) - 1),
          j => struct(element_at(col("ids"), i + 1).as("id_a"),
            element_at(col("ids"), j + 1).as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** E2 variant: SimHash buckets — documents sharing a `bits`-bit simhash
    * signature. Returns (signature, member count, min member id) per bucket
    * with ≥ minSize members. */
  def simhashBuckets(df: DataFrame, idCol: String, textCol: String,
      bits: Int, minSize: Int = 2): DataFrame =
    df.select(col(idCol), graft.functions.TextExpressions
        .simhashBits(TF.tokens(col(textCol)), bits).as("simhash"))
      .groupBy("simhash")
      .agg(count(col(idCol)).as("n_docs"), min(col(idCol)).as("min_id"))
      .where(col("n_docs") >= minSize)

  /** E2 verify stage: exact n-gram Jaccard for candidate pairs. Candidates
    * come from `minhashCandidatePairs` (never all-pairs); the distinct
    * shingle sets are joined per pair and |A∩B| / |A∪B| computed exactly.
    * Output: pairs with `jaccard_micro` (= round(jaccard × 1e6), a long) ≥
    * thresholdMicro. Micro-units are this library's convention for emitted
    * similarity scores: the underlying ratio of exact integers is the same
    * double on every engine, and the integer output can never drift. */
  /** Previous jaccardVerifiedPairs call's persisted relations, released on
    * the next call (single-live-result lifecycle, same as
    * SparkEntry.e10PrevCaches): repeated invocations — a benchmark loop, a
    * dedup-per-snapshot pipeline — must not accumulate dead
    * multi-million-row caches in storage memory. */
  private var jaccardPrevCaches: Seq[DataFrame] = Nil

  /** Release the last jaccard call's persisted relations now instead of
    * on the next call — the long-lived-session shutdown hook, same
    * contract as SparkEntry.releaseCaches. */
  def releaseJaccardCaches(): Unit = synchronized {
    jaccardPrevCaches.foreach(_.unpersist(blocking = false))
    jaccardPrevCaches = Nil
  }

  /** The broadcast of the expanded candidate×A-shingle relation in the
    * verify stage is SIZE-GATED IN-PLAN: the intersection join carries
    * no broadcast hint, so the decision is Spark's two-layered gate —
    * the static planner's estimate-driven threshold (estimates here are
    * grounded in exact cached-relation sizes), then, whenever the join
    * was statically planned as a shuffle, AQE's re-check against the
    * expansion's ACTUAL materialized size
    * (`spark.sql.adaptive.autoBroadcastJoinThreshold`, raised to 64 MB
    * by SessionProfile). Past the cap the join stays sort-merge — the
    * shuffle formulation — so a pathologically dense LSH stage degrades
    * to extra exchanges instead of a driver OOM, and a corpus dense
    * enough to blow the expansion always carries the large estimates
    * that keep the static layer from broadcasting it. Measured cost of
    * automatic vs a hard-wired hint: ~1.4× on the good path when the
    * runtime layer decides (the probe side's shuffle WRITE runs before
    * the decision; the read stays local), 1× when the static layer
    * already broadcast — against 2× for a driver-side estimate job (it
    * evaluates the shingle pipeline once more) and a fatal failure mode
    * for the unguarded hint. */
  def jaccardVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3, thresholdMicro: Long = 500000,
      rows: Int = 1): DataFrame = {
    // same overflow guard as minhashBandsFromShingles:60 — the rows=1 band
    // signature uses the identical h1 + b*h2 combination (the xor family
    // of rows>1 cannot overflow)
    require(rows > 1 || bands <= 7, "bands > 7 would overflow h1 + band*h2")
    // The shingle relation feeds four plan branches (signatures, sizes,
    // the pair-expansion join, and the intersection); Spark re-evaluates
    // each branch, so materialize it once — AND pre-partition it by id
    // before caching, so every id-keyed consumer (the per-doc aggregate
    // and the id_a expansion join) reads the cache exchange-free instead
    // of re-shuffling the multi-million-row relation per branch.
    // MEMORY_AND_DISK: (doc, shingle) pairs — large but spillable.
    val ds = docShingles(df, idCol, textCol, shingleN)
      .repartition(col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // signatures and set sizes in ONE per-doc aggregate (formerly two
    // separate shuffles over the shingle relation); one row per doc →
    // cheap to cache, feeds the bucket path and both size lookups
    val perDoc = ds
      .select(col("id"),
        graft.functions.TextExpressions.md5Halves(col("s")).as("__hh"))
      .select(col("id"), col("__hh.h1").as("h1"), col("__hh.h2").as("h2"))
      .groupBy("id")
      .agg(count(lit(1)).as("n"), bandMinimaAggs(bands, rows): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized {
      jaccardPrevCaches.foreach(_.unpersist(blocking = false))
      jaccardPrevCaches = Seq(ds, perDoc)
    }
    val sigs = perDoc
      .select(col("id").as("__id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandSigCol(rows)(b).as("sig"))): _*)).as("bs"))
      .select(col("__id").as("id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
    val pairs = candidatePairsFromSigs(sigs)
    val sizes = perDoc.select(col("id"), col("n"))
    // |A∩B| per pair: expand pair × A-shingles (a broadcast join against
    // the cached shingle relation — candidate pairs are LSH-small), then
    // count the expanded rows whose (id_b, s) also exists in B. The
    // expansion↔shingle join is deliberately UNHINTED: under AQE Spark
    // measures the expansion's actual materialized size and broadcasts
    // it only below the adaptive threshold, so the multi-million-row
    // shingle relation is probed in place on a sane corpus (the widest
    // exchange of the naive formulation never happens) while a dense
    // LSH stage falls back to the sort-merge shuffle formulation
    // in-plan. Never materializes A×B per pair. At fallback density the
    // right fix remains tighter banding; the gate makes the degradation
    // automatic, not fatal.
    val expanded = broadcast(pairs)
      .join(ds.withColumnRenamed("id", "id_a"), "id_a")
      .select(col("id_a"), col("id_b"), col("s"))
    val inter = ds
      .select(col("id").as("id_b"), col("s"))
      .join(expanded, Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count("*").as("n_common"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard_micro", round(
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double") * 1000000)
        .cast("long"))
      .where(col("jaccard_micro") >= thresholdMicro)
      .select("id_a", "id_b", "jaccard_micro")
  }

  /** E2 verify stage, SKETCHED: estimate jaccard for candidate pairs from
    * a fixed-width K-minhash signature instead of the full shingle sets —
    * O(pairs·K) verify work instead of O(Σ|A|), the scale path when the
    * exact verify's expansion dominates (13.4s at sf10) and a standard
    * error of 1/√K (≈0.125 at the default K=64) is acceptable.
    *
    * Everything is exact integer arithmetic, so any SQL engine
    * reproduces the estimate bit-for-bit: position i's hash is
    * h1 XOR C_i over the same md5 half the LSH stage uses, with C_i a
    * fixed xorshift-generated constant (`sketchSeeds`) embedded as a
    * literal in both the plan and the oracle SQL. Linear families
    * (h1 + i·h2, with or without a prime wrap) are NOT usable here:
    * their per-i orderings form the lower envelope of lines, so
    * consecutive i elect the same minimal shingle and a 2%-jaccard pair
    * measured as 97% (then 50% with the wrap) — per-i xor constants
    * decorrelate the positions (simulated: 1% true → 1.6% est, 90% →
    * 95%, the 1/√K regime). The signature is the K per-i minima; the
    * estimate is round(matches·1e6/K). Candidates still come from the
    * banded LSH stage; the shingle relation is computed once and feeds
    * both aggregates. */
  /** Fixed xor-mixing constants for the K-minhash sketch family —
    * deterministic (xorshift from a golden-ratio seed, masked to 60
    * bits like the md5 halves) so the SQL oracle embeds the identical
    * literals. */
  def sketchSeeds(k: Int): Array[Long] = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(k) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      x & ((1L << 60) - 1)
    }
  }

  /** Xor-mixing constants for multi-row BAND signatures — a DISTINCT
    * stream from `sketchSeeds` (different public mixing seed), so a
    * query using both banding and the K-sketch never reuses a hash
    * position across the two: shared positions would mechanically
    * inflate a candidate's estimate by rows/K (the band collision that
    * elected the pair forces those sketch positions equal). */
  def bandSeeds(m: Int): Array[Long] = {
    var x = 0xC2B2AE3D27D4EB4FL
    Array.fill(m) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      x & ((1L << 60) - 1)
    }
  }

  /** Per-band signature columns over the fused per-doc minima. With
    * rows == 1 the band signature is the legacy `min(h1 + b·h2)` single
    * minimum (callers' published semantics); with rows > 1 it is the
    * comma-joined string of the band's `rows` xor-family minima
    * (`bandSeeds`), i.e. an AND of `rows` independent minhash
    * collisions. The banding S-curve midpoint moves from ~1/bands to
    * (1/bands)^(1/rows): background pairs at similarity s collide with
    * probability bands·s^rows instead of bands·s, which is what keeps
    * CANDIDATE MASS tracking true-dup mass instead of n² as the corpus
    * grows (measured: rows=1 candidates grew ~40× for 10× data). */
  private def bandMinimaAggs(bands: Int, rows: Int): Seq[Column] =
    if (rows == 1)
      min(col("h1")).as("sig0") +: (1 until bands).map(b =>
        min(col("h1") + lit(b.toLong) * col("h2")).as(s"sig$b"))
    else {
      val seeds = bandSeeds(bands * rows)
      (0 until bands * rows).map(i =>
        min(col("h1").bitwiseXOR(lit(seeds(i)))).as(s"m$i"))
    }

  private def bandSigCol(rows: Int)(b: Int): Column =
    if (rows == 1) col(s"sig$b")
    else concat_ws(",", (0 until rows).map(j =>
      col(s"m${b * rows + j}").cast("string")): _*)

  /** Corpus-derived banding: (bands, rows) as an integer function of
    * corpus size `n` — the `signBitsFor` pattern applied to the LSH
    * family. `rows` steps +1 per DECADE of growth past the anchor
    * (n < 50k keeps the committed (6, 2)); `bands` follows the
    * midpoint-preserving table ceil(0.41^(-rows)) = 6, 15, 36, so the
    * banding S-curve midpoint (1/bands)^(1/rows) stays at ~0.41 for
    * every rows and candidate recall at-and-above the committed
    * operating point is scale-free, while each +1 of rows multiplies a
    * background pair's collision probability by
    * bands(r+1)/bands(r) · s_bg ≈ 2.4·s_bg ≪ 1 — the per-decade step
    * that keeps CANDIDATE MASS tracking n instead of the measured
    * 15.8×-per-10× growth of a fixed family (DEVNOTES round 8).
    * rows caps at 4 (144 minima columns, the sane aggregate width);
    * past ~5M docs candidates resume the fixed-(36,4) curve and the
    * next lever is shingle width, not more bands. Integer arithmetic
    * only — decades = digits(max(1, n div 5000)) − 1 — so a SQL
    * oracle derives the identical pair from count(*). */
  def lshParamsFor(n: Long): (Int, Int) = {
    val decades = math.max(1L, n / 5000L).toString.length - 1
    val rows = math.min(4, 2 + decades)
    val bands = rows match { case 2 => 6; case 3 => 15; case _ => 36 }
    (bands, rows)
  }

  /** `jaccardVerifiedPairs` with the banding DERIVED from the corpus
    * size (`lshParamsFor`): one cheap count picks (bands, rows), so the
    * candidate stage keeps its linear mass as the corpus grows with no
    * per-corpus tuning — the scale-safe default entry point. */
  def jaccardVerifiedPairsAuto(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3,
      thresholdMicro: Long = 200000): DataFrame = {
    val (bands, rows) = lshParamsFor(df.count())
    jaccardVerifiedPairs(df, idCol, textCol, bands = bands,
      shingleN = shingleN, thresholdMicro = thresholdMicro, rows = rows)
  }

  def jaccardSketchPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3, k: Int = 64,
      thresholdMicro: Long = 200000, rows: Int = 1): DataFrame = {
    require(rows > 1 || bands <= 7, "bands > 7 would overflow h1 + band*h2")
    val seeds = sketchSeeds(k)
    val ds = docShingles(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hashed = ds
      .select(col("id"),
        graft.functions.TextExpressions.md5Halves(col("s")).as("__hh"))
      .select(col("id"), col("__hh.h1").as("h1"), col("__hh.h2").as("h2"))
    // ONE aggregate: the band minima + the K sketch minima (the band
    // family — h1+b·h2 at rows=1, bandSeeds-xor at rows>1 — never shares
    // a hash position with the sketchSeeds-xor estimate positions)
    val aggs = bandMinimaAggs(bands, rows) ++
      (0 until k).map(i =>
        min(col("h1").bitwiseXOR(lit(seeds(i)))).as(s"sk$i"))
    val perDoc = hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized {
      jaccardPrevCaches.foreach(_.unpersist(blocking = false))
      jaccardPrevCaches = Seq(ds, perDoc)
    }
    val sigs = perDoc
      .select(col("id").as("__id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandSigCol(rows)(b).as("sig"))): _*)).as("bs"))
      .select(col("__id").as("id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
    val pairs = candidatePairsFromSigs(sigs)
    val sketch = perDoc.select(col("id"),
      array((0 until k).map(i => col(s"sk$i")): _*).as("mh"))
    val matches = aggregate(
      zip_with(col("mha"), col("mhb"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    pairs
      .join(sketch.select(col("id").as("id_a"), col("mh").as("mha")), "id_a")
      .join(sketch.select(col("id").as("id_b"), col("mh").as("mhb")), "id_b")
      .withColumn("est_jaccard_micro",
        round(matches.cast("double") * 1000000 / k).cast("long"))
      .where(col("est_jaccard_micro") >= thresholdMicro)
      .select("id_a", "id_b", "est_jaccard_micro")
  }

  /** E2 final stage: near-dup CLUSTERS = connected components over the
    * LSH candidate-pair graph, via iterative min-label propagation — each
    * round every vertex adopts the smallest label in its neighborhood, so
    * labels converge to the component's minimum doc id (the canonical
    * "keep" document) in O(component diameter) rounds.
    *
    * Scale notes: each round is a shuffle join on the edge list (skew
    * bounded by near-dup cluster sizes, which LSH keeps small) PLUS a
    * pointer-jumping self-join (lbl ← lbl(lbl)) that shortcuts label
    * chains, so convergence is O(log diameter) rounds, not O(diameter) —
    * long near-dup chains otherwise force one round per hop.
    * `localCheckpoint()` truncates the lineage each round — the classic
    * iterative-join trap where the plan tree doubles per iteration.
    * Non-convergence within `maxIter` throws rather than returning a
    * silently-wrong clustering. */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3, maxIter: Int = 25,
      driverEdgeLimit: Long = 2000000L): DataFrame =
    connectedComponents(
      minhashCandidatePairs(df, idCol, textCol, bands, shingleN),
      maxIter, driverEdgeLimit)

  /** Rounds the last distributed connectedComponents call took to
    * converge (dev instrumentation for scale benchmarking; -1 = the
    * driver union-find path answered). */
  @volatile private[graft] var lastCcRounds: Int = -1

  /** Connected components over an undirected edge list (`id_a`, `id_b`):
    * every vertex gets `cluster_id` = the minimum vertex id of its
    * component. The hybrid strategy + scale notes are documented on
    * dupClusters above; exposed separately so any candidate graph —
    * LSH buckets, embedding blocking, entity-resolution match pairs —
    * can be clustered without re-deriving the machinery. */
  def connectedComponents(pairRelation: DataFrame, maxIter: Int = 25,
      driverEdgeLimit: Long = 2000000L): DataFrame = {
    val pairs = pairRelation
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hybrid strategy: the candidate graph holds ONLY near-dup members, so
    // it is orders of magnitude smaller than the corpus. Below the limit,
    // exact union-find on the driver beats ~30 sequential distributed jobs
    // whose per-job latency dominates at this size; above it, the
    // pointer-jumping loop takes over. 2M edges collected as Tuple2s
    // (~60 B each boxed) ≈ 120 MB — safe on a default driver heap, unlike
    // collecting generic Rows whose per-object overhead is several times
    // the payload.
    if (pairs.count() <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      lastCcRounds = -1
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
        .foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      pairs.unpersist()
      return out.toDF("doc_id", "cluster_id")
    }
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // warm start: lbl = min(id, min neighbor id) — one aggregation instead
    // of a full first round
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("m"))
      .select(col("id"), least(col("id"), col("m")).as("lbl"))
      .localCheckpoint()
    var iter = 0
    // labels are monotone non-increasing per vertex, so Σlbl strictly
    // decreases until the fixpoint — a one-aggregate convergence check
    // (the join-and-compare formulation costs a shuffle join per round)
    var prevSum = Long.MaxValue
    var curSum = labels.agg(sum("lbl")).head.getLong(0)
    while (curSum != prevSum && iter < maxIter) {
      // min label among neighbors
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy("src").agg(min("dlbl").as("nlbl"))
        .select(col("src").as("id"), col("nlbl"))
      // pointer jump: my label's CURRENT label (labels always point at
      // real vertex ids — they are mins of ids present)
      val jump = labels
        .join(labels.select(col("id").as("pid"), col("lbl").as("plbl")),
          col("lbl") === col("pid"), "left")
        .select(col("id"), coalesce(col("plbl"), col("lbl")).as("jlbl"))
      // each round's localCheckpoint blocks are reclaimed by the
      // ContextCleaner once the previous round's frame is dereferenced
      // below — eventual, not immediate, but bounded by GC cadence
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .join(jump, Seq("id"))
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl")), col("jlbl"))
            .as("lbl"))
        .localCheckpoint()
      labels = next
      prevSum = curSum
      curSum = labels.agg(sum("lbl")).head.getLong(0)
      iter += 1
    }
    edges.unpersist()
    pairs.unpersist()
    require(curSum == prevSum,
      s"label propagation did not converge within $maxIter rounds")
    lastCcRounds = iter
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Benchmark decontamination — the training-data hygiene stage that
    * removes eval-set leakage before pretraining: a training document is
    * contaminated if it shares any word-`shingleN`-gram with the
    * benchmark corpus. Returns (id, n_hits) for contaminated docs only:
    * n_hits = how many of the doc's DISTINCT shingles appear anywhere in
    * the benchmark set (docShingles is distinct-per-doc by construction).
    *
    * Scale shape: benchmark sets are tiny next to the training corpus,
    * so the distinct benchmark-shingle relation broadcasts and the train
    * side never shuffles — cost is one scan of the training text plus a
    * broadcast semi-join, the only shape that survives 100 TB of train
    * against a few MB of eval. */
  def contaminationHits(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 8): DataFrame =
    docShingles(train, idCol, textCol, shingleN)
      .join(docShingles(bench, idCol, textCol, shingleN)
        .select(col("s")).distinct(),
        Seq("s"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))

  /** Embedding-cosine near-dup: pairs within the same blocking key whose
    * cosine ≥ threshold. Blocking (e.g. a cluster label or LSH sign bucket)
    * bounds the pair blow-up; cosine is an exact sequential double fold.
    *
    * Scale contract: within-block work is O(n²/blocks), so block
    * CARDINALITY must grow with the corpus (measured: a fixed 10-label
    * blocking gives ~9x pair work for 3x data, sf1→sf3). This explicit-
    * key form is the primitive — and the documented CONTRAST case: with
    * a data-fixed key it is quadratic by construction. The scale-safe
    * entry point is `embeddingNearDupsAuto`, which composes the key
    * with a sign bucket whose width is DERIVED from the corpus size. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, thresholdMicro: Long): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    a.join(b, "blk")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_micro",
        round(VF.cosine(col("v_a"), col("v_b")) * 1000000).cast("long"))
      .where(col("cos_micro") >= thresholdMicro)
      .select("id_a", "id_b", "cos_micro")
  }

  /** Smallest b in [0, maxBits] with baseBlocks · 2^b · targetBlockRows
    * ≥ n — the sign-bucket width that holds the EXPECTED block size at
    * ~targetBlockRows as the corpus grows (so within-block pair work
    * stays ~n·targetBlockRows/2, linear in n). Integer arithmetic only:
    * any SQL oracle derives the identical value from count(*) and
    * count(DISTINCT blockCol). */
  def signBitsFor(n: Long, baseBlocks: Long, targetBlockRows: Long,
      maxBits: Int = 16): Int =
    (0 to maxBits).find(b =>
      baseBlocks * (1L << b) * targetBlockRows >= n).getOrElse(maxBits)

  /** Embedding near-dup with DATA-DRIVEN block cardinality: the natural
    * key (`blockCol`) composed with a `signBitsFor`-wide hyperplane-sign
    * bucket of the vector, so block count grows with the corpus and the
    * per-block quadratic never materializes (the fix for the measured
    * 15×-time-for-3×-data curve of the fixed-key form). Two cheap
    * driver-side aggregates (count, distinct block count) pick the
    * width; the trade is recall across sign-bucket boundaries, standard
    * for LSH blocking. */
  def embeddingNearDupsAuto(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, thresholdMicro: Long,
      targetBlockRows: Long = 32L): DataFrame = {
    val st = df.agg(count(lit(1)), countDistinct(col(blockCol))).head
    val bits = signBitsFor(st.getLong(0), math.max(1L, st.getLong(1)),
      targetBlockRows)
    // null-propagating concat: a null natural key makes the whole block
    // key null, and the equi-join drops it — identical to a plain
    // label-equi-join's null handling (concat_ws would SKIP the null
    // and silently block all null-key rows together)
    val keyed = df.withColumn("__blk",
      concat(col(blockCol).cast("string"), lit("|"),
        VF.signBucket(col(vecCol), bits)))
    embeddingNearDups(keyed, idCol, vecCol, "__blk", thresholdMicro)
  }

  // ==================================================================
  // E2 incremental: dedup a new batch against a PERSISTED signature
  // index — the continuous-ingest shape of the MinHash pipeline.
  // ==================================================================

  /** Previous incrementalDedup invocation's persisted batch signatures,
    * released on the next call (same next-call-release contract as
    * jaccardPrevCaches: the returned decision relation is lazy, so the
    * cache must outlive the call). */
  private var incrementalPrevCaches: Seq[DataFrame] = Nil

  def releaseIncrementalCaches(): Unit = synchronized {
    incrementalPrevCaches.foreach(_.unpersist(blocking = false))
    incrementalPrevCaches = Nil
  }

  /** Build the persistent band-signature index: one (id, band, sig) row
    * per document band, committed as version 1 of a TableLog table.
    * Done ONCE per corpus — from then on batches arrive through
    * `incrementalDedup` and the corpus is never re-signed. */
  def buildSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3): Long = {
    import org.apache.spark.storage.StorageLevel
    val sigs = minhashBands(df, idCol, textCol, bands, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the distinct-doc count seeds the manifest's cumulative `docs`
    // counter, so no later batch ever scans the index to answer "how
    // many documents are indexed" (zero-shingle docs contribute no
    // signature rows and correctly stay out of the count)
    try graft.sinks.TableLog.create(spark, table, sigs,
      counterDelta = Map("docs" -> sigs.select(col("id")).distinct().count()))
    finally sigs.unpersist(blocking = false)
  }

  /** Near-dup dedup of a NEW batch against the signature index, without
    * touching the corpus: sign the batch, probe the index on
    * (band, sig), append only the SURVIVORS' signatures. Per-batch
    * compute is O(batch shingles + matching buckets) plus one streamed
    * scan of the index — `bands` longs per corpus document, orders of
    * magnitude less I/O than re-reading and re-shingling the corpus
    * text, which is what a non-incremental pipeline redoes per batch.
    * Measured (tools.IncStats, 5% batch): the incremental pass is FLAT
    * in corpus size (5.8 → 6.3 s for 10× the corpus — job/commit
    * overhead floor on this VM) while the full re-sign is linear
    * (2.0 → 6.1 s); at a realistic lake:batch ratio the gap is the
    * corpus-to-batch ratio. The index probe is an equi-join on uniform
    * md5-derived keys (no skew). The append extends the same manifest
    * chain (atomic CAS commit; pass `txnId` for exactly-once under
    * replayed batches).
    *
    * Dup rule (deterministic, non-transitive by design): a batch doc is
    * a duplicate if (a) it shares any band signature with an indexed
    * doc, or (b) it shares one with a SMALLER-id batch doc — the bucket
    * minimum survives, the same keep-min convention as exactDedupKeep.
    * match_id is the smallest matching id across both rules, -1 if
    * none.
    *
    * Returns one row per batch doc:
    * (idCol, dup, match_id, idx_docs, idx_rows) — idx_* read back from
    * the PUBLISHED manifest at the batch's own commit: `rows` plus the
    * cumulative `docs` counter, both maintained inside the commit CAS
    * loop and pinned against real scans by o40/the oracle. Witnessing
    * the index this way is one manifest read, not the O(corpus)
    * re-aggregation a direct countDistinct over the index would cost
    * per batch. A replayed batch WITHOUT a txnId double-appends and
    * doubles rows and docs alike — exactly-once accounting is the
    * txnId contract, as it already was for rows. */
  def incrementalDedup(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleN: Int = 3,
      txnId: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    synchronized {
      incrementalPrevCaches.foreach(_.unpersist(blocking = false))
      incrementalPrevCaches = Nil
    }
    // the batch signatures feed three consumers (index probe,
    // within-batch buckets, survivor append) — materialize once
    val sigs = minhashBands(batch, idCol, textCol, bands, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pinned at the CURRENT version's file list (TableLog.read resolves
    // the manifest eagerly), so the decisions below stay correct even
    // though the append commits before the caller evaluates them. An
    // ABSENT index (streaming bootstrap: the first micro-batch arrives
    // before any build) probes an empty relation and the append below
    // creates version 1.
    val idx =
      if (graft.sinks.TableLog.latestVersion(table) == 0L)
        sigs.select(col("id").as("__idx_id"), col("band"), col("sig"))
          .where(lit(false))
      else graft.sinks.TableLog.read(spark, table)
        .select(col("id").as("__idx_id"), col("band"), col("sig"))
    // self-exclusion: on a REPLAYED batch (crash between append and the
    // caller's read) the index already holds the survivors' own rows —
    // a doc must not count as a duplicate of itself.
    // The BATCH signatures are the broadcast side on the good path
    // (micro-batch ≪ corpus by the incremental contract): the probe then
    // streams the index partitions map-side instead of shuffling
    // corpus × bands signature rows — at lake scale the index is TBs and
    // the batch is MBs, so the shuffle this avoids IS the probe's cost.
    // The broadcast is SIZE-GATED IN-PLAN, not hinted (the
    // jaccardVerifiedPairs gate pattern): `sigs` is materialized into
    // its cache HERE, so the static planner decides from the cache's
    // exact byte size, and whenever it statically picks a shuffle, AQE
    // re-checks the actual size at runtime (adaptive threshold 64 MB).
    // A bulk backfill batch therefore degrades to a sort-merge join —
    // extra exchanges — instead of OOMing the driver on an unconditional
    // batch broadcast. (The honest path for corpus-scale backfill
    // remains buildSignatureIndex.)
    // materialize: grounds the planner's size estimate. ADJUDICATED
    // r13 (the r12 bench's only regression, +9% vs the r11 ungated
    // 2.85s): standalone uncontended, WITH this count 3.38s, WITHOUT
    // it 4.86s — the static planner then picks sort-merge over the
    // yet-unsized cache and AQE's late conversion doesn't win it back;
    // the pre-pass is the price of the OOM-safe gate and is net
    // NEGATIVE to remove. r11's 2.85s bought speed with the
    // unconditional broadcast hint this gate replaced.
    sigs.count()
    val crossM = sigs.join(idx, Seq("band", "sig"))
      .where(col("__idx_id") =!= col("id"))
      .groupBy(col("id")).agg(min(col("__idx_id")).as("__cm"))
    val withinM = candidatePairsFromSigs(sigs)
      .groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("__wm"))
    val sentinel = Long.MaxValue
    // persisted: the survivor append below evaluates it (populating the
    // cache), and the caller's read of the returned relation must not
    // re-run the probe join
    val decisions = batch.select(col(idCol).as("id"))
      .join(crossM, Seq("id"), "left")
      .join(withinM, Seq("id"), "left")
      .select(col("id").as(idCol),
        (col("__cm").isNotNull || col("__wm").isNotNull).as("dup"),
        when(col("__cm").isNull && col("__wm").isNull, lit(-1L))
          .otherwise(least(coalesce(col("__cm"), lit(sentinel)),
            coalesce(col("__wm"), lit(sentinel)))).as("match_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    synchronized { incrementalPrevCaches = Seq(sigs, decisions) }
    val survivorSigs = sigs.join(
      decisions.where(!col("dup")).select(col(idCol).as("id")),
      Seq("id"), "left_semi")
    // survivors matched nothing in the index, so their distinct ids are
    // NEW docs — an O(batch) count over the cached sigs, folded into the
    // manifest's cumulative `docs` counter atomically with the commit
    val newDocs = survivorSigs.select(col("id")).distinct().count()
    val v = graft.sinks.TableLog.append(spark, table, survivorSigs,
      txnId = txnId, counterDelta = Map("docs" -> newDocs))
    // idx_* from the PUBLISHED manifest at the batch's own commit (o40
    // pins manifest row accounting against real scans): one small-file
    // read, where the previous witness re-aggregated the WHOLE index per
    // batch — an O(corpus) term this operator exists to avoid. On a
    // txn-replayed batch `v` is the original commit, so the witnessed
    // values are byte-identical across the replay.
    val (idxRows, counters) = graft.sinks.TableLog.commitStats(table, v)
      .getOrElse(sys.error(s"incrementalDedup: commit v$v of $table unreadable"))
    decisions
      .withColumn("idx_docs", lit(counters.getOrElse("docs", 0L)))
      .withColumn("idx_rows", lit(idxRows))
  }

  // ==================================================================
  // E2 incremental, embedding side: dedup new vector batches against a
  // PERSISTED block index — the incrementalDedup contract applied to
  // embeddings, so a training-data lake ingesting vectors continuously
  // never re-blocks the corpus (which is what the batch
  // embeddingNearDupsAuto redoes per run).
  // ==================================================================

  @volatile private var embedPrevCaches: Seq[DataFrame] = Nil

  def releaseEmbedCaches(): Unit = synchronized {
    embedPrevCaches.foreach(_.unpersist(blocking = false))
    embedPrevCaches = Nil
  }

  /** (id, blk, qe, nrm) projection: block key = natural key composed with a
    * `bits`-wide hyperplane-sign bucket (null-propagating concat — a null
    * natural key blocks nothing, like an equi-join would); qe = 1e3-quantized
    * integer copy (dots exact in any engine/order); nrm precomputed once per
    * VECTOR, not per pair. */
  private def embedKeyed(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, bits: Int): DataFrame =
    df.select(col(idCol).as("id"),
        concat(col(blockCol).cast("string"), lit("|"),
          VF.signBucket(col(vecCol), bits)).as("blk"),
        graft.functions.QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
      .withColumn("nrm", sqrt(VF.dotLong(col("qe"), col("qe")).cast("double")))

  /** Integer-dot cosine in micro-units: double division/rounding happens on
    * ONE scalar at the end, so the value is bit-identical cross-engine. */
  private def cosMicro(qa: Column, na: Column, qb: Column, nb: Column): Column =
    round(VF.dotLong(qa, qb).cast("double") / (na * nb) * 1000000).cast("long")

  /** Build the persistent embedding block index: one (id, blk, qe, nrm) row
    * per vector, range-clustered by `blk` and committed with string file
    * stats on `blk` — a probe opens only files whose [min,max] can contain a
    * probed block key (categorical skipping), so per-batch I/O is
    * O(matching blocks' files), not O(corpus). The corpus-derived sign-bit
    * width is PINNED in the manifest's `bits` counter: every future batch
    * blocks identically (a re-derived width on grown data would silently
    * zero recall against the existing index). Done once per corpus. */
  def buildEmbedIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, targetBlockRows: Long = 32L): Long = {
    val st = df.agg(count(lit(1)), countDistinct(col(blockCol))).head
    val bits = signBitsFor(st.getLong(0), math.max(1L, st.getLong(1)),
      targetBlockRows)
    // deliberately NOT cached: caching the wide quantized rows costs more
    // (serialize ~1 KB/row to memory/disk) than re-running the codegen'd
    // projection in the range-sampling and write passes, and the docs
    // count below column-prunes to the id alone at the source scan
    val clustered = embedKeyed(df, idCol, vecCol, blockCol, bits)
      .repartitionByRange(col("blk"))
      .sortWithinPartitions("blk")
    // `bits` is a PIN (structural constant), not an additive counter:
    // create refuses a non-empty table and append asserts pin equality,
    // so a re-run build or a racing cold-start batch fails loudly
    // instead of silently doubling the width every probe depends on
    graft.sinks.TableLog.create(spark, table, clustered,
      strStatsCols = Seq("blk"),
      counterDelta = Map("docs" -> df.select(col(idCol)).distinct().count()),
      counterPin = Map("bits" -> bits.toLong))
  }

  /** Near-dup dedup of a NEW embedding batch against the block index,
    * without touching the corpus: block the batch with the index's pinned
    * bit width, probe ONLY index files whose `blk` stats overlap the
    * batch's block keys, verify cosine exactly (quantized integer dots),
    * append survivors range-clustered so pruning stays tight as the index
    * grows. Per-batch cost O(batch + matching blocks); the probe key list
    * is ≤ batch distinct blocks (driver-side, bounded by batch size).
    *
    * Dup rule (mirrors incrementalDedup, plus the verify step blocking
    * alone can't give): a batch vector is a duplicate iff cos_micro ≥
    * `thresholdMicro` against (a) an indexed vector sharing its block, or
    * (b) a smaller-id batch vector sharing its block. match_id = smallest
    * qualifying id, -1 if none. Self-exclusion by id keeps replayed
    * batches byte-identical; exactly-once accounting is the txnId
    * contract. An ABSENT index bootstraps: width derived from the first
    * batch, pinned for the table's lifetime.
    *
    * Returns one row per batch vector:
    * (idCol, dup, match_id, idx_vecs, idx_rows) — idx_* from the published
    * manifest accounting at the batch's own commit (rows + cumulative
    * `docs` counter), one small-file read, never an index scan. */
  def incrementalEmbedDedup(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String, vecCol: String,
      blockCol: String, thresholdMicro: Long, targetBlockRows: Long = 32L,
      txnId: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    synchronized {
      embedPrevCaches.foreach(_.unpersist(blocking = false))
      embedPrevCaches = Nil
    }
    val existing = graft.sinks.TableLog.latestVersion(table) > 0L
    val bits =
      if (existing)
        graft.sinks.TableLog.snapshot(table).get.counters.getOrElse("bits",
          sys.error(s"incrementalEmbedDedup: $table has no pinned `bits` " +
            "counter — build it with buildEmbedIndex")).toInt
      else {
        val st = batch.agg(count(lit(1)), countDistinct(col(blockCol))).head
        signBitsFor(st.getLong(0), math.max(1L, st.getLong(1)),
          targetBlockRows)
      }
    val bk = embedKeyed(batch, idCol, vecCol, blockCol, bits)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = bk.select("blk").where(col("blk").isNotNull)
      .distinct().collect().map(_.getString(0)).toSeq
    val idx =
      if (!existing || keys.isEmpty)
        bk.select(col("id").as("__iid"), col("blk"),
          col("qe").as("__iqe"), col("nrm").as("__inrm")).where(lit(false))
      else graft.sinks.TableLog.scan(spark, table)
        .where(col("blk").isin(keys: _*))
        .select(col("id").as("__iid"), col("blk"),
          col("qe").as("__iqe"), col("nrm").as("__inrm"))
    // the BATCH is the broadcast side on the good path by the
    // incremental contract (a micro-batch ≪ the corpus): the probe then
    // never shuffles the index's wide quantized rows — the cosine verify
    // runs map-side over the matching index files, and per-batch network
    // cost is one batch broadcast. (Measured at sf10: the same verify as
    // a shuffle join moved ~1 KB/row index arrays and cost 4.3s of an
    // 11.7s batch.) The broadcast is SIZE-GATED IN-PLAN, not hinted (the
    // jaccardVerifiedPairs gate): `bk` was just materialized into its
    // cache by the `keys` collect above, so the static planner decides
    // from the cache's exact byte size, with AQE's runtime re-check as
    // the second layer — a bulk backfill batch degrades to a sort-merge
    // join instead of OOMing on an unconditional batch broadcast.
    // (Corpus-scale backfill should rebuild via buildEmbedIndex.)
    val crossM = bk.join(idx, Seq("blk"))
      .where(col("__iid") =!= col("id") &&
        cosMicro(col("qe"), col("nrm"), col("__iqe"), col("__inrm"))
          >= thresholdMicro)
      .groupBy(col("id")).agg(min(col("__iid")).as("__cm"))
    val b2 = bk.select(col("id").as("__bid"), col("blk"),
      col("qe").as("__bqe"), col("nrm").as("__bnrm"))
    // same in-plan gate: both sides read the materialized cache, so the
    // size decision is exact either way
    val withinM = bk.join(b2, Seq("blk"))
      .where(col("__bid") < col("id") &&
        cosMicro(col("qe"), col("nrm"), col("__bqe"), col("__bnrm"))
          >= thresholdMicro)
      .groupBy(col("id")).agg(min(col("__bid")).as("__wm"))
    val sentinel = Long.MaxValue
    val decisions = batch.select(col(idCol).cast("long").as("id"))
      .join(crossM, Seq("id"), "left")
      .join(withinM, Seq("id"), "left")
      .select(col("id").as(idCol),
        (col("__cm").isNotNull || col("__wm").isNotNull).as("dup"),
        when(col("__cm").isNull && col("__wm").isNull, lit(-1L))
          .otherwise(least(coalesce(col("__cm"), lit(sentinel)),
            coalesce(col("__wm"), lit(sentinel)))).as("match_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    synchronized { embedPrevCaches = Seq(bk, decisions) }
    val survivors = bk.join(
        decisions.where(!col("dup")).select(col(idCol).as("id")),
        Seq("id"), "left_semi")
      .repartitionByRange(col("blk"))
      .sortWithinPartitions("blk")
    val newDocs = survivors.select(col("id")).distinct().count()
    // cold-start pins `bits` with SET semantics: if a racing first batch
    // already committed a different width, the CAS loop's pin assert
    // fails this append loudly (its rows were blocked under the losing
    // width) instead of silently doubling the pin
    val v = graft.sinks.TableLog.append(spark, table, survivors,
      strStatsCols = Seq("blk"), txnId = txnId,
      counterDelta = Map("docs" -> newDocs),
      counterPin =
        if (existing) Map.empty else Map("bits" -> bits.toLong))
    val (idxRows, counters) = graft.sinks.TableLog.commitStats(table, v)
      .getOrElse(sys.error(
        s"incrementalEmbedDedup: commit v$v of $table unreadable"))
    decisions
      .withColumn("idx_vecs", lit(counters.getOrElse("docs", 0L)))
      .withColumn("idx_rows", lit(idxRows))
  }

  // ==================================================================
  // E2 incremental, SEMANTIC side: dedup new vector batches against a
  // persisted Lloyd-cell index — data-driven Voronoi blocking (better
  // recall than axis-aligned sign buckets for clustered corpora), the
  // incrementalEmbedDedup contract with cell-id blocking.
  // ==================================================================

  private def codebookTable(table: String): String = s"$table/codebook"

  /** Build the persistent SEMANTIC cell index: fit integer Lloyd on the
    * base corpus (deterministic md5-bucket sample, ~20 rows/cell; nlist
    * derived from corpus size — `SimilarityOps.nlistFor`), assign every
    * vector to its nearest cell, store one (id, cell, qe, nrm) row per
    * vector range-clustered by cell with LONG file stats on `cell`, and
    * PIN the fit codebook in a sibling TableLog table — every future
    * batch assigns against the exact centroids the corpus was blocked
    * with (a re-fit on grown data would re-partition the space and zero
    * recall against the existing cells; drift is the `rebalance`
    * maintenance move, not a per-batch event). */
  def buildSemanticIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, df: DataFrame, idCol: String, vecCol: String,
      targetCellRows: Long = 64L): Long = {
    val n = df.count()
    val nlist = graft.operators.SimilarityOps.nlistFor(n, targetCellRows)
    val c1 = graft.operators.SimilarityOps.lloydFit(df, idCol, vecCol,
      nlist, fitSampleTarget = 20L * nlist)
    val cbv = graft.sinks.TableLog.create(spark, codebookTable(table),
      SimilarityOps.codebookFrame(spark, c1))
    val quant = df.select(col(idCol).as("id"),
      graft.functions.QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
    val assigned = SimilarityOps.clusterByCell(SimilarityOps
      .assignToCells(quant, "id", c1)
      .withColumn("nrm", sqrt(VF.dotLong(col("qe"), col("qe")).cast("double"))))
    // `cbv` pins the codebook VERSION this index's cells were assigned
    // with: readers time-travel the codebook table to exactly that
    // version, so a rebalance (new codebook version + index rewrite) can
    // never be half-observed — a crash between the two commits leaves
    // the index pointing at the old, still-consistent codebook.
    graft.sinks.TableLog.create(spark, table, assigned,
      statsCols = Seq("cell"),
      counterDelta = Map("docs" -> df.select(col(idCol)).distinct().count()),
      counterPin = Map("cbv" -> cbv))
  }

  /** The assignment codebook at the version PINNED in the index manifest
    * (driver-side, nlist rows). */
  def semanticCodebook(spark: org.apache.spark.sql.SparkSession,
      table: String): Array[(Long, Array[Long], Long)] = {
    if (graft.sinks.TableLog.latestVersion(codebookTable(table)) == 0L)
      sys.error(s"$table has no pinned codebook — build it with " +
        "buildSemanticIndex (a cell index has no meaningful cold start)")
    SimilarityOps.pinnedCodebook(spark, table, codebookTable(table))
  }

  /** Re-fit the semantic index's quantizer on TODAY'S corpus and rewrite
    * it in place: `incrementalSemanticDedup` assigns against the codebook
    * frozen at build time, so as the ingested distribution drifts, new
    * vectors pile into the few stale cells nearest them and probe work
    * degrades toward a scan of one giant cell. Rebalance derives nlist
    * from the current corpus size, re-fits on the stored quantized rows
    * (md5-deterministic sample — the raw floats are gone, same contract
    * as the ANN store's rebalance), commits the new codebook as a NEW
    * VERSION of the codebook table (replacing its content — the old
    * codebook stays readable at its version), then rewrites the index
    * with every row re-assigned and the `cbv` counter swung to the new
    * version in the SAME manifest commit. Readers either see (old index, old
    * codebook) or (new index, new codebook) — never a mix. Returns
    * (skewBefore, skewAfter).
    *
    * (The EMBED index has no in-place rebalance: sign-bit blocks can't
    * be re-derived from quantized rows consistently with float-side
    * probes — widening its bit width is a rebuild from the source
    * corpus via buildEmbedIndex.) */
  def rebalanceSemanticIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, targetCellRows: Long = 64L): (Double, Double) = {
    val before = SimilarityOps.cellSkew(spark, table)
    val quant = graft.sinks.TableLog.read(spark, table)
      .select(col("id"), col("qe"))
    val n = quant.count()
    val nlist = graft.operators.SimilarityOps.nlistFor(n, targetCellRows)
    val c1 = graft.operators.SimilarityOps.lloydFitQuant(quant, "id",
      nlist, fitSampleTarget = 20L * nlist)
    val cbv = SimilarityOps.commitCodebook(spark, codebookTable(table), c1)
    graft.sinks.TableLog.rewrite(spark, table, "rebalance",
      counterSet = Map("cbv" -> cbv)) { old =>
      SimilarityOps.clusterByCell(SimilarityOps
        .assignToCells(old.select(col("id"), col("qe")), "id", c1)
        .withColumn("nrm",
          sqrt(VF.dotLong(col("qe"), col("qe")).cast("double"))))
    }
    (before, SimilarityOps.cellSkew(spark, table))
  }

  /** Near-dup dedup of a NEW vector batch against the semantic cell
    * index: assign the batch with the PINNED codebook, read only index
    * files whose `cell` stats overlap the batch's cells
    * (a `scan` filter `cell IN (…)` — the cell-clustered layout makes
    * this partition-style pruning), verify cosine on quantized integer
    * dots with the batch as the size-gated broadcast side (the index's
    * wide rows never shuffle on the good path), append survivors
    * cell-clustered. Same dup rule, replay, and
    * manifest-accounting contract as `incrementalEmbedDedup`; the probe
    * cell list is ≤ min(batch, nlist) driver-side longs. */
  def incrementalSemanticDedup(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String, vecCol: String,
      thresholdMicro: Long, txnId: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    synchronized {
      embedPrevCaches.foreach(_.unpersist(blocking = false))
      embedPrevCaches = Nil
    }
    val cents = semanticCodebook(spark, table)
    val quant = batch.select(col(idCol).as("id"),
      graft.functions.QuantizeVector.quantize(col(vecCol), 1000.0).as("qe"))
    val bk = graft.operators.SimilarityOps.assignToCells(quant, "id", cents)
      .withColumn("nrm", sqrt(VF.dotLong(col("qe"), col("qe")).cast("double")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cells = bk.select("cell").where(col("cell").isNotNull)
      .distinct().collect().map(_.getLong(0)).toSeq
    val idx =
      if (cells.isEmpty)
        bk.select(col("id").as("__iid"), col("cell"),
          col("qe").as("__iqe"), col("nrm").as("__inrm")).where(lit(false))
      else graft.sinks.TableLog.scan(spark, table)
        .where(col("cell").isin(cells: _*))
        .select(col("id").as("__iid"), col("cell"),
          col("qe").as("__iqe"), col("nrm").as("__inrm"))
    // size-gated in-plan like the embed twin: `bk` is already in cache
    // (the `cells` collect materialized it), so the batch side
    // broadcasts when its EXACT size is small and degrades to a
    // sort-merge join on a bulk backfill batch — never an unconditional
    // broadcast OOM
    val crossM = bk.join(idx, Seq("cell"))
      .where(col("__iid") =!= col("id") &&
        cosMicro(col("qe"), col("nrm"), col("__iqe"), col("__inrm"))
          >= thresholdMicro)
      .groupBy(col("id")).agg(min(col("__iid")).as("__cm"))
    val b2 = bk.select(col("id").as("__bid"), col("cell"),
      col("qe").as("__bqe"), col("nrm").as("__bnrm"))
    val withinM = bk.join(b2, Seq("cell"))
      .where(col("__bid") < col("id") &&
        cosMicro(col("qe"), col("nrm"), col("__bqe"), col("__bnrm"))
          >= thresholdMicro)
      .groupBy(col("id")).agg(min(col("__bid")).as("__wm"))
    val sentinel = Long.MaxValue
    val decisions = batch.select(col(idCol).cast("long").as("id"))
      .join(crossM, Seq("id"), "left")
      .join(withinM, Seq("id"), "left")
      .select(col("id").as(idCol),
        (col("__cm").isNotNull || col("__wm").isNotNull).as("dup"),
        when(col("__cm").isNull && col("__wm").isNull, lit(-1L))
          .otherwise(least(coalesce(col("__cm"), lit(sentinel)),
            coalesce(col("__wm"), lit(sentinel)))).as("match_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    synchronized { embedPrevCaches = Seq(bk, decisions) }
    val survivors = SimilarityOps.clusterByCell(bk.join(
        decisions.where(!col("dup")).select(col(idCol).as("id")),
        Seq("id"), "left_semi"))
    val newDocs = survivors.select(col("id")).distinct().count()
    val v = graft.sinks.TableLog.append(spark, table, survivors,
      statsCols = Seq("cell"), txnId = txnId,
      counterDelta = Map("docs" -> newDocs))
    val (idxRows, counters) = graft.sinks.TableLog.commitStats(table, v)
      .getOrElse(sys.error(
        s"incrementalSemanticDedup: commit v$v of $table unreadable"))
    decisions
      .withColumn("idx_vecs", lit(counters.getOrElse("docs", 0L)))
      .withColumn("idx_rows", lit(idxRows))
  }
}
