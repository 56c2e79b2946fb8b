package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search library surface: exact cosine pairs, brute-force top-k,
  * IVF approximate top-k (Jégou, Douze & Schmid, *Product Quantization for
  * Nearest Neighbor Search*, TPAMI 2011 — the inverted-file coarse-quantizer
  * shape), and a threshold-based auto dispatcher that swaps brute force for
  * IVF when the corpus outgrows the all-pairs budget.
  *
  * All paths score with the codegen'd `graft_dot` expression and rank with
  * the bounded [[graft.functions.Udx.TopKAgg]]: the candidate stream is
  * partial-aggregated inside map tasks, so only n×k hits ever shuffle —
  * never the n² (brute) or n²·nprobe/cells (IVF) candidate pairs.
  */
object Sim {

  /** Dispatch-statistic memo (round-11 advice): several declared queries
    * bind the same auto-dispatched kernel to the same input
    * (sim_cosine_pairs / dedup_embed / dedup_embed_clusters all call
    * [[cosinePairsAuto]] on the embeddings table), and each paid its own
    * eager count() — a full-table job per query at the 100 TB design
    * point. The memo keys on (session identity, canonicalized logical
    * plan), so the column-pruned scan-count runs once per distinct input
    * per session. The cached value is a DISPATCH statistic only: a stale
    * count (files rewritten under the same path within one session) can
    * at worst pick the other kernel, never change emitted values — both
    * sides of every gate exact-score what they emit. Bounded at 256
    * entries (cleared wholesale beyond that); the session key is an
    * identity hash, so no session object is pinned against GC.
    */
  private val dispatchCounts =
    new java.util.concurrent.ConcurrentHashMap[(Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), java.lang.Long]()

  private[graft] def countOnce(df: DataFrame): Long = {
    val key = (System.identityHashCode(df.sparkSession),
      df.queryExecution.logical.canonicalized)
    val hit = dispatchCounts.get(key)
    if (hit != null) hit.longValue()
    else {
      val n = df.count()
      if (dispatchCounts.size >= 256) dispatchCounts.clear()
      dispatchCounts.put(key, n)
      n
    }
  }

  /** All cosine pairs satisfying `cond` over (vec_id, embedding):
    * (a_id, b_id, sim). The build side carries NO broadcast hint — it is
    * corpus-proportional, so the size-based planner (and AQE at runtime)
    * must keep the freedom to fall back to a partitioned join instead of
    * hitting the broadcast cap / driver OOM as a hard failure at larger
    * corpora. (Small-corpus tool either way — IVF / LSH are the scale
    * paths.)
    */
  def cosinePairs(emb: DataFrame, cond: Column): DataFrame = {
    // zero-norm vectors (padding rows, failed upstream embedders) are
    // excluded up front: their cosine is 0/0 = NaN, and Spark orders NaN
    // above every double, so a NaN sim would sail through >= tau filters
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .where(col("nrm") > 0)
    // re-spread the probe side ONLY when the scan is narrower than the
    // machine (a one-file toy corpus reads as a single partition and would
    // score n² on one core); a corpus already at-or-above core parallelism
    // gets no exchange — the join's own requirement / AQE sizes it (r6
    // verdict: the unconditional repartition was a pure-waste shuffle of
    // the dominant frame at scale)
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val a0 = if (v.rdd.getNumPartitions < par) v.repartition(par) else v
    val a = a0.select(col("vec_id").as("a_id"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, cond)
      .withColumn("sim", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
  }

  /** Auto-dispatching threshold pair search — the `topK(auto)` treatment
    * for the pair stream: all `(a_id < b_id)` pairs with cosine ≥ `tau`,
    * EXACT all-pairs while the corpus is small, hyperplane-LSH candidates
    * + exact re-rank once `count ≥ lshThreshold`. One column-pruned
    * count() decides the dispatch (the AQE runtime-statistics move); both
    * paths emit the identical `(a_id, b_id, sim)` schema and every emitted
    * pair is exactly scored, so the swap only changes recall on
    * across-bucket pairs — the documented LSH contract. Band geometry
    * follows the working threshold (see [[cosineLshPairs]]): a tight
    * near-dup cut (τ ≥ 0.8) affords 8×8-bit bands (~n/256 buckets,
    * p_band ≈ 0.98); a loose cut keeps the high-recall 16×2 default.
    */
  def cosinePairsAuto(emb: DataFrame, tau: Double,
      lshThreshold: Long = 500000,
      tr: graft.operators.Tracked = null): DataFrame = {
    val n = countOnce(emb)
    if (n < lshThreshold)
      cosinePairs(emb, col("a_id") < col("b_id"))
        .where(col("sim") >= tau)
        .select(col("a_id"), col("b_id"), col("sim"))
    else if (tau >= 0.8)
      cosineLshPairs(emb, tau, nBands = 7, bandBits = 8, tr = tr, vecCount = n)
    else cosineLshPairs(emb, tau, tr = tr, vecCount = n)
  }

  /** [[cosineLshPairs]] with SCALE-SIZED band width (r14, the composed-
    * corpus sweep's second sizing rule): a fixed 2-bit band partitions
    * each band into 4 buckets, so bucket membership is ~n/4 and the
    * bucket join's fan-out grows as n²/4 per band — at 200k vectors that
    * is a 10¹¹-pair non-starter the maxBucket cap (a SKEW guard, not a
    * sizing rule) never catches because every bucket is legitimately
    * huge. Band width must grow with the corpus: bandBits =
    * clamp(⌈log₂(n/1024)⌉, 2, 8) keeps expected bucket membership in the
    * ~256–1024 range (fan-out ∝ n × bucketSize, linear at fixed
    * membership). The recall trade is the documented LSH contract: wider
    * bands lower p_band at LOW sims (at 8 bits, a sim-0.4 pair's
    * p_band ≈ 0.33) while near-dup pairs — the dedup use case — keep
    * p_band ≈ 1 (sim 0.95 ⇒ p^8 ≈ 0.66, 16 bands ⇒ ~1−10⁻⁷). Bench-SF
    * corpora (n ≤ 4096) keep today's 2-bit geometry bit-for-bit.
    */
  def cosineLshPairsAuto(emb: DataFrame, tau: Double,
      seed: Long = 42L, tr: graft.operators.Tracked = null,
      maxBucket: Int = 65536): DataFrame = {
    val n = countOnce(emb)
    // target EXPECTED bucket membership ~128: candidate volume is
    // n × membership × nBands / 2, so holding membership constant keeps
    // the candidate stream LINEAR in the corpus (measured at the 10×
    // composed corpus: the earlier 1024-membership target produced a 75M-
    // candidate stream whose sort-merge re-rank spilled 25 GB; at 128 the
    // same corpus is ~5M candidates). Width is capped at 15 bits by the
    // one-long signature pack; bands are sized jointly (min(16, 63/bits),
    // so always ≥ 4 bands). Recall follows the banding curve: near-dup
    // pairs (sim ≥ 0.99, p ≥ 0.955) keep p_band ≥ 0.94 at every sizing,
    // while the low-sim tail shrinks as bands widen — the documented LSH
    // trade (τ-0.4 completeness at 100 TB wants the IVF/exact tiers, not
    // hyperplane buckets).
    val bits = math.max(2, math.min(15,
      math.ceil(math.log(math.max(n, 1L).toDouble / 128.0) / math.log(2.0)).toInt))
    val bands = math.min(16, 63 / bits)
    cosineLshPairs(emb, tau, bands, bits, seed, tr, maxBucket, vecCount = n)
  }

  /** Random-hyperplane LSH near-dup pairs (Charikar, *Similarity estimation
    * techniques from rounding algorithms*, STOC 2002 — simhash for
    * vectors): bit i of a vector's signature is sign(e · r_i) for `nBands ×
    * bandBits` deterministic pseudo-random Gaussian hyperplanes; CANDIDATES
    * come from an equi-join on (band, band-bits) buckets — never all pairs
    * — and are re-ranked with EXACT cosine via the codegen'd graft_dot, so
    * every emitted pair is a true ≥ `tau` pair and the only error mode is
    * missing an across-bucket pair.
    *
    * Recall: P[one bit agrees] = 1 − θ/π for angle θ; a pair survives
    * banding with p_band = 1 − (1 − p^bandBits)^nBands. The defaults
    * (16 bands × 2 bits) give p_band ≈ 0.9997 even at sim = 0.4
    * (p = 0.631) — SimSpec pins candidates ⊇ exact-τ0.4 pairs on the test
    * corpus. Pruning grows with the working threshold: at a realistic
    * near-dup τ = 0.9 (p = 0.90), 8 bands × 8 bits keeps p_band ≈ 0.98
    * while shrinking each band's bucket to ~n/256 — candidate volume
    * ∝ n²/256 per band instead of n². The hyperplane table is constant-size
    * (bits × dim doubles, corpus-independent), so its broadcast is safe at
    * any scale, and the band bucket id is the shuffle key — co-located,
    * skew-bounded by bucket size.
    *
    * `maxBucket` (round 7) drops (band, value) buckets whose membership
    * exceeds the cap before any pair is generated: the skew contract of
    * [[graft.operators.Banding]] (here a degenerate band is all vectors on
    * the same side of every hyperplane in it — clustered or duplicated
    * embeddings). With 2-bit default bands a bucket legitimately
    * holds ~n/4 vectors, so the default cap is high (65536) — it is a skew
    * guard, not a recall knob; at scale raise `bandBits` (8 bits → ~n/256
    * buckets) so legitimate buckets sit far under the cap. Documented
    * recall loss applies to over-cap buckets only; the exact re-rank keeps
    * every emitted pair a true ≥ tau pair regardless.
    */
  def cosineLshPairs(emb: DataFrame, tau: Double, nBands: Int = 16,
      bandBits: Int = 2, seed: Long = 42L,
      tr: graft.operators.Tracked = null, maxBucket: Int = 65536,
      vecCount: Long = -1L): DataFrame = {
    require(bandBits > 0, "use cosineLshPairsAuto for scale-sized bands")
    val nBits = nBands * bandBits
    require(nBits <= 63, s"nBands*bandBits must fit a long, got $nBits")
    val spark = emb.sparkSession
    // the empty / degenerate result keeps vec_id's REAL column type (int
    // corpora must not come back as long just because the corpus is empty)
    def emptyPairs = emb.select(col("vec_id").as("a_id"),
      col("vec_id").as("b_id"), lit(0.0).as("sim")).limit(0)
    // hyperplane dimension from a null-safe aggregate, not a one-row peek:
    // a null embedding in the first row must not NPE, and mixed-length
    // corpora get planes sized to the LONGEST vector (graft_dot iterates
    // min(len) — shorter vectors behave as zero-padded). Column-pruned
    // scan-count job, the same runtime-statistics move topK(auto) makes.
    val dim = emb.where(col("embedding").isNotNull)
      .agg(coalesce(max(size(col("embedding"))), lit(0)))
      .head().getInt(0)
    if (dim <= 0) return emptyPairs
    val rnd = new java.util.Random(seed)
    val planes = Seq.tabulate(nBits) { i =>
      (i, Array.fill(dim)(rnd.nextGaussian()))
    }
    val planesDf = spark.createDataFrame(planes).toDF("bit", "r")
    // v feeds the signature crossJoin AND both exact re-rank joins; sig
    // feeds both sides of the band self-join. Persisting them is OPT-IN
    // via the caller's Tracked: with `tr` the shared stages compute once
    // and the caller frees the blocks (seal/free/release); without it the
    // pipeline stays persist-free — recomputation over a pinned-block
    // leak, since nobody would own the caches
    def keep(df: DataFrame) = if (tr == null) df else tr.persist(df)
    val v = keep(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
        .where(col("nrm") > 0)) // zero-norm → sim = NaN, see cosinePairs
    // signature: nBits sign bits packed into one long — the crossJoin is a
    // constant nBits× row expansion (narrow after the tiny-table broadcast),
    // packed back down by a codegen'd sum aggregate
    val sig = keep(v.crossJoin(broadcast(planesDf))
      .select(col("vec_id"),
        when(expr("graft_dot(e, r)") >= 0, expr("shiftleft(CAST(1 AS BIGINT), bit)"))
          .otherwise(0L).as("sb"))
      .groupBy("vec_id").agg(sum(col("sb")).as("sig")))
    // capped band frame kept (when tr is present) so both join sides read it
    val cand = graft.operators.Banding.bucketPairs(
      sig.select(col("vec_id"), graft.operators.Banding.bitBands("sig", nBands, bandBits)),
      "vec_id", maxBucket, tr)
    // exact cosine re-rank of the bucketed candidates, PIPELINED: the raw
    // candidate stream goes straight through the two vector joins and the
    // ≥ tau cut, and only the surviving true pairs are deduped. A distinct
    // BEFORE the re-rank would shuffle the full candidate volume (measured
    // at bench SF: 6.9 s → 3.5 s in-bench, 4.2 s cold / 1.4-2.2 s warm
    // standalone — ~8M id-pairs through an exchange just to save
    // re-scoring duplicates); a pair re-scores once per colliding band
    // (≤ nBands, typically 1-2), and a codegen'd dot is far cheaper than
    // shuffling the row. sim is a deterministic function of the pair, so
    // the post-cut distinct collapses band-duplicates exactly.
    //
    // Join shape (r14, gated r15): past the broadcast scale the planner's
    // default is a sort-merge join, which SORTS the candidate stream with
    // 8·dim-byte vectors attached — measured 2.4 GB of external-sort
    // spill at the 10× composed corpus for a 5M-candidate stream. A
    // shuffled hash join builds on the VECTOR side (n/parts rows per
    // partition — the small side per key at any corpus size) and streams
    // the candidates with no sort at all. The hint is SIZE-GATED (r15,
    // the nCells move): Spark gives user join hints priority over its own
    // broadcast choice, so an unconditional shuffle_hash FORCES two extra
    // full-stream exchanges at bench SF where the vector side would
    // simply broadcast — the r14 bench regression. Known-small corpora
    // (vecCount from the Auto path) leave the planner free to broadcast;
    // unknown or large corpora keep the spill-proof hash shape.
    val hintShj = vecCount < 0L || vecCount > 65536L
    def sideHint(d: DataFrame) = if (hintShj) d.hint("shuffle_hash") else d
    cand
      .join(sideHint(v.select(col("vec_id").as("a_id"), col("e").as("ea"),
        col("nrm").as("na"))), "a_id")
      .join(sideHint(v.select(col("vec_id").as("b_id"), col("e").as("eb"),
        col("nrm").as("nb"))), "b_id")
      .withColumn("sim", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .where(col("sim") >= tau)
      .select(col("a_id"), col("b_id"), col("sim"))
      .distinct()
  }

  /** (a_id, b_id, sim) candidates → ranked top-k per a_id (sim desc, b_id
    * asc): (a_id, rn, b_id, sim), sim rounded to 6 dp.
    */
  def topKHits(cands: DataFrame, k: Int): DataFrame =
    cands
      .groupBy("a_id")
      .agg(graft.functions.Udx.topK(k, col("sim"), col("b_id")).as("hits"))
      .select(col("a_id"), posexplode(col("hits")).as(Seq("i", "hit")))
      .select(col("a_id"), (col("i") + 1).cast("long").as("rn"),
        col("hit._2").as("b_id"), round(col("hit._1"), 6).as("sim"))
      .orderBy("a_id", "rn")

  /** Exact brute-force top-k neighbours per vector. O(n²) scoring inside
    * map tasks — the deliberate small-corpus tool.
    */
  def bruteTopK(emb: DataFrame, k: Int): DataFrame =
    topKHits(cosinePairs(emb, col("a_id") =!= col("b_id")), k)

  /** Bounded quantizer-training frame: when the corpus exceeds
    * `maxTrainRows`, a seeded Bernoulli sample of ~`maxTrainRows` rows
    * feeds the KMeans fit(s); the FULL frame is still transformed/encoded.
    * This is the fit-once discipline at 100 TB: k-means|| init alone is
    * multiple full passes per fit, and IVF-PQ runs m+1 fits — training on
    * an unbounded corpus would make quantizer training dominate the query
    * it serves. `n` is the corpus row count (callers already have it or
    * compute it alongside another aggregate — no extra scan here).
    */
  private def trainSample(df: DataFrame, n: Long, maxTrainRows: Long,
      seed: Long): DataFrame =
    if (maxTrainRows > 0 && n > maxTrainRows)
      df.sample(withReplacement = false, maxTrainRows.toDouble / n, seed)
    else df

  /** The ONE bounded executor→driver collect behind the quantizer
    * trainers: a seeded sample of (vec_id, e), ordered by vec_id BEFORE
    * the collect so the training set — and therefore the quantizer — is
    * independent of partition layout (the sort runs on the already
    * maxTrainRows-capped frame, not the corpus). Rows are padded (or
    * truncated) to `padTo` when given, else to the sample's longest
    * vector — graft_dot's zero-padding convention for mixed lengths.
    */
  private def collectTrainSample(df: DataFrame, n: Long, maxTrainRows: Long,
      seed: Long, padTo: Int = -1): Array[Array[Double]] = {
    val seqs = trainSample(df, n, maxTrainRows, seed)
      .select(col("vec_id"), col("e")).orderBy("vec_id")
      .collect().map(_.getSeq[Double](1))
    if (seqs.isEmpty) return Array.empty
    val dim = if (padTo > 0) padTo else seqs.iterator.map(_.length).max
    seqs.map { s =>
      val a = new Array[Double](dim)
      var i = 0
      val lim = math.min(dim, s.length)
      while (i < lim) { a(i) = s(i); i += 1 }
      a
    }
  }

  /** Seeded driver-side Lloyd k-means over an already-bounded sample —
    * the quantizer trainer for [[ivfpqTopK]]. Init is a Fisher–Yates
    * prefix shuffle picking min(k, n) distinct seed points; each
    * iteration assigns every point to its nearest center (ties to the
    * lower index) and recomputes means; an emptied cluster keeps its old
    * center. Deterministic for a fixed (data order, seed). The input is
    * maxTrainRows-capped BY THE CALLER — this is the same bounded
    * executor→driver boundary CAIM's compressed histogram crosses, not a
    * corpus collect.
    */
  private[graft] def lloydLocal(data: Array[Array[Double]], k: Int,
      iters: Int, seed: Long): Array[Array[Double]] = {
    val n = data.length
    require(n > 0, "lloydLocal needs a non-empty sample")
    val dim = data(0).length
    val kc = math.min(k, n)
    val idx = Array.tabulate(n)(identity)
    val rnd = new java.util.Random(seed)
    var i = 0
    while (i < kc) {
      val j = i + rnd.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    val centers = Array.tabulate(kc)(i => data(idx(i)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kc)(new Array[Double](dim))
      val cnts = new Array[Long](kc)
      data.foreach { x =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < kc) {
          var d = 0.0; var j = 0
          while (j < dim) { val z = x(j) - centers(c)(j); d += z * z; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += x(j); j += 1 }
        cnts(best) += 1
      }
      var c = 0
      while (c < kc) {
        if (cnts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / cnts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** IVF approximate top-k: a KMeans coarse quantizer assigns each vector a
    * cell; each query probes its `nprobe` nearest cells and re-ranks
    * exactly. Candidate volume drops from O(n²) to O(n²·nprobe/nCells) —
    * at scale the cell id is also the shuffle/bucketing key, so each cell
    * joins co-located. The quantizer fit is bounded by `maxTrainRows`
    * (see [[trainSample]]); centroid quality from a ≥100k-row sample is
    * statistically indistinguishable for nCells this small, and SimSpec
    * pins recall unchanged.
    *
    * Default operating point (r12): `nprobe = 4`. The realized top-5
    * recall curve on the bench corpus (sf0.1, near-isotropic — the IVF
    * WORST case; clustered corpora sit far higher), RecallSpec-pinned:
    *
    *   nprobe  2      4      8      16 (= nCells, degenerate exact)
    *   recall  0.368  0.569  0.810  1.000
    *
    * nprobe=2 is an honest number but a poor default to ship — 4 costs 2×
    * the candidate volume (still nprobe/nCells = 25% of exact) and clears
    * the ≥ 0.55 floor RecallSpec asserts on the shipped default.
    */
  /** K-means clustering as a USER-FACING operator — the ivfTopK coarse
    * quantizer exposed on its own: centroids come from the driver Lloyd
    * fit over the ONE `maxTrainRows`-bounded sample collect (the standard
    * production shape — quantizers/clusterers train on a bounded sample
    * regardless of corpus size), and every corpus vector is then assigned
    * to its nearest centroid by the codegen'd `graft_nearest_cells`
    * kernel over the broadcast centroid literal — pure map work, zero
    * joins, zero extra jobs at any corpus size. Deterministic for a fixed
    * (corpus, seed): the sample is vec_id-ordered before the collect, the
    * Lloyd init is a seeded shuffle, and argmin ties break to the lower
    * index on both the trainer and the kernel.
    *
    * @return (vec_id, cluster 0-based long, d2 squared-L2 distance to the
    *         assigned centroid) */
  def kmeansAssign(emb: DataFrame, k: Int, maxIter: Int = 10,
      seed: Long = 42L, maxTrainRows: Long = 262144): DataFrame = {
    val e0 = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .where(col("e").isNotNull)
    val n = if (maxTrainRows <= 0) 0L else e0.count()
    val sample = collectTrainSample(e0, n, maxTrainRows, seed)
    require(sample.nonEmpty, "kmeansAssign needs a non-empty corpus")
    val cents = lloydLocal(sample, k, maxIter, seed)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    e0.select(col("vec_id"),
        element_at(call_function("graft_nearest_cells", col("e"), centsLit,
          lit(1)), 1).cast("long").as("cluster"),
        col("e"))
      .withColumn("c", element_at(centsLit, (col("cluster") + 1).cast("int")))
      .withColumn("d2", aggregate(zip_with(col("e"), col("c"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, b) => a + b))
      .select("vec_id", "cluster", "d2")
  }

  /** Auto cell sizing (r14, the composed-corpus sweep's rule): `nCells <=
    * 0` sizes the coarse quantizer as max(16, ⌈√n⌉) — the standard IVF
    * heuristic balancing per-probe cell-scan cost (n/nCells) against
    * probe count, and the sizing that held recall 1.0 at the 10× and 100×
    * composed corpora with nprobe = 4 (PLANS.md r14 ANN table). A FIXED
    * cell count does not survive scale: candidates grow as n²·nprobe/
    * nCells, so 16 cells at 200k vectors is a 10-gigapair join. */
  private def sizeCells(nCells: Int, n: Long): Int =
    if (nCells > 0) nCells
    else math.max(16, math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt)

  def ivfTopK(emb: DataFrame, k: Int, nCells: Int = 16, nprobe: Int = 4,
      seed: Long = 42L, maxIter: Int = 4,
      maxTrainRows: Long = 262144, nRows: Long = -1L): DataFrame = {
    val e0 = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // training-sample sizing: callers that already hold the row count
    // (topK's dispatch stats) pass it via nRows so this path costs zero
    // extra jobs; only a standalone call with sampling enabled pays the
    // one column-pruned count
    val n = if (maxTrainRows <= 0) 0L
            else if (nRows >= 0) nRows
            else e0.count()
    // driver-side Lloyd over the ONE bounded sample collect (round 11,
    // the ivfpqTopK rationale: distributed MLlib fits schedule dozens of
    // stages to cluster a bounded sample — ~28 stages → 8 at bench SF);
    // cell assignment and probing are the native graft_nearest_cells
    // kernel over the broadcast centroid literal
    val sample = collectTrainSample(e0.where(col("e").isNotNull), n, maxTrainRows, seed)
    if (sample.isEmpty)
      return topKHits(e0.select(col("vec_id").as("a_id"),
        col("vec_id").as("b_id"), lit(0.0).as("sim")).limit(0), k)
    val cents = lloydLocal(sample, sizeCells(nCells, n), maxIter, seed)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    // nprobe nearest centroids per query vector; data side carries its
    // own (1-probe) cell — the cell id is the join/bucketing key at scale
    val probes = e0
      .select(col("vec_id").as("a_id"), col("e").as("ea"),
        sqrt(expr("graft_dot(e, e)")).as("na"),
        explode(call_function("graft_nearest_cells", col("e"), centsLit,
          lit(nprobe))).as("cell"))
    val data = e0
      .select(col("vec_id").as("b_id"), col("e").as("eb"),
        sqrt(expr("graft_dot(e, e)")).as("nb"),
        element_at(call_function("graft_nearest_cells", col("e"), centsLit,
          lit(1)), 1).as("cell"))
    topKHits(probes.join(data, Seq("cell")).where(col("a_id") =!= col("b_id"))
      .withColumn("sim", expr("graft_dot(ea, eb)") / (col("na") * col("nb"))), k)
  }

  /** IVF-PQ approximate top-k (Jégou, Douze & Schmid, TPAMI 2011 — the
    * product-quantization half the plain IVF path leaves on the table):
    * residuals against the coarse centroid are cut into `m` subspaces,
    * each quantized by its own small KMeans codebook, so every DATA vector
    * is represented by `m` small ints. The candidate join then carries
    * 8-byte codes instead of d×8-byte vectors — at 100 TB that is the
    * whole point: the dominant (cell-bucketed) join's fact side shuffles
    * and probes codes, vectors are fetched only for the final
    * `k × refine` exact re-rank join (asymmetric distance: approximate
    * scores rank candidates, exact cosine ranks the output, so emitted
    * sims are TRUE sims and the only error mode is a candidate missed by
    * coarse probing or ADC ranking).
    *
    * Cosine is served by L2 over L2-NORMALIZED vectors (monotone:
    * ‖â−b̂‖² = 2−2·cos): normalize up front, quantize the normalized
    * space, exact-refine with graft_dot on the normalized vectors.
    * Codebooks are m×k×(d/m) doubles — constant-size, corpus-independent,
    * embedded as a broadcast literal in the scoring expression; ADC
    * scoring is one codegen'd higher-order aggregate over the m code
    * slots.
    *
    * Training is DRIVER-SIDE Lloyd over the ONE `maxTrainRows`-bounded
    * sample collect (round 11; the standard IVF-PQ training practice —
    * quantizers train on a bounded sample regardless of corpus size, so
    * the training set is driver-bounded BY DESIGN, the same compressed
    * executor→driver boundary CAIM's histogram uses). The prior shape —
    * m+1 distributed MLlib fits — scheduled ~140 stages of sub-second
    * jobs to cluster kilobytes: 10–14 s of pure orchestration at bench
    * SF against ~0.1 s of local arithmetic for identical centroids.
    * The FULL corpus is never collected and never iterated by a fit:
    * cell assignment, residuals, and PQ codes are all codegen'd
    * array expressions over broadcast centroid/codebook literals — the
    * corpus-sized path is pure map work with zero extra jobs.
    */
  def ivfpqTopK(emb: DataFrame, k: Int, nCells: Int = 16, nprobe: Int = 4,
      m: Int = 8, codebookK: Int = 16, refine: Int = 4,
      seed: Long = 42L, maxIter: Int = 4,
      maxTrainRows: Long = 262144): DataFrame = {
    // normalized vectors: cosine becomes monotone L2 (zero-norm rows out,
    // same NaN guard as cosinePairs)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e0"))
      .withColumn("nrm", sqrt(expr("graft_dot(e0, e0)")))
      .where(col("nrm") > 0)
      .select(col("vec_id"),
        zip_with(col("e0"), array_repeat(col("nrm"), size(col("e0"))), (x, n) => x / n)
          .as("e"))
    // dim and n in ONE column-pruned aggregate job — n only sizes the
    // training sample, it must not cost a second scan
    val stats = v.agg(coalesce(max(size(col("e"))), lit(0)), count(lit(1))).head()
    val dim = stats.getInt(0)
    val n = stats.getLong(1)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
    val cells = sizeCells(nCells, n) // auto √n sizing when nCells <= 0 (r14)
    val ds = dim / m
    // THE one bounded collect: the seeded training sample (≤ maxTrainRows
    // vectors, vec_id-ordered so the quantizer is partition-layout
    // independent; padded to the corpus dim — see collectTrainSample)
    val sample = collectTrainSample(v, n, maxTrainRows, seed, padTo = dim)
    if (sample.isEmpty)
      return topKHits(v.select(col("vec_id").as("a_id"),
        col("vec_id").as("b_id"), lit(0.0).as("sim")).limit(0), k)
    // local coarse quantizer + per-subspace codebooks over the sample's
    // residuals — pure driver arithmetic on the bounded sample
    val cents = lloydLocal(sample, cells, maxIter, seed)
    val kc = cents.length
    def nearestIdx(x: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < kc) {
        var d = 0.0; var j = 0
        while (j < dim) { val z = x(j) - cents(c)(j); d += z * z; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    val residSample = sample.map { x =>
      val ctr = cents(nearestIdx(x))
      Array.tabulate(dim)(j => x(j) - ctr(j))
    }
    val books = Array.tabulate(m) { s =>
      lloydLocal(residSample.map(r =>
        java.util.Arrays.copyOfRange(r, s * ds, (s + 1) * ds)),
        codebookK, maxIter, seed + s + 1)
    }
    // broadcast literals: centroids (kc × dim) and codebooks (m × K × ds)
    // — constant-size, corpus-independent foldable children of the NATIVE
    // quantizer kernels ([[graft.functions.PqKernels]]). Assignment,
    // encoding, and ADC tables each generate ONE static call: the same
    // math as Catalyst array algebra is pathological in either direction
    // (higher-order lambdas interpret per element; unrolling the fixed
    // loops blows the generated method past HotSpot's JIT limit — 54 s vs
    // 2 s at bench SF), so the hot path is a hand-written primitive loop
    // like graft_dot's.
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val cbLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    // data side: nearest cell (ties to the lower index), residual, then
    // the m PQ codes
    val assigned = v
      .withColumn("cell", element_at(
        call_function("graft_nearest_cells", col("e"), centsLit, lit(1)), 1))
      .withColumn("r", zip_with(col("e"),
        element_at(centsLit, col("cell") + 1), (x, y) => x - y))
    val encoded = assigned.select(col("vec_id"), col("cell"),
      call_function("graft_pq_encode", col("r"), cbLit).as("codes"))
    // probes: nprobe nearest cells per query, query residual PER PROBED
    // CELL (the residual the data in that cell was quantized against)
    // probes carry a PRECOMPUTED ADC distance table, not the residual
    // (Jégou et al. §5, "asymmetric distance with precomputed tables" —
    // the half of the paper the first cut skipped): dtab[s][c] =
    // ‖qr_s − CB[s][c]‖², m×K doubles computed ONCE per probe row. The
    // candidate stream then pays m TABLE LOOKUPS per (probe, code) pair
    // instead of m×ds arithmetic — decisive here because Catalyst
    // higher-order functions are interpreted (CodegenFallback), so the
    // per-candidate expression must be as small as possible; measured at
    // bench SF this is the difference between ~7.9 s and ~2 s warm.
    val probes = v
      .select(col("vec_id").as("a_id"), col("e"),
        explode(call_function("graft_nearest_cells", col("e"), centsLit,
          lit(nprobe))).as("pc"))
      .select(col("a_id"),
        zip_with(col("e"), element_at(centsLit, col("pc") + 1),
          (x, y) => x - y).as("qr"),
        col("pc").as("cell"))
      .select(col("a_id"), col("cell"),
        call_function("graft_adc_table", col("qr"), cbLit).as("dtab"))
    // ADC scoring joins the probe rows against CODES ONLY — the data
    // side's vectors never enter this join. adc = Σ_s dtab[s][code_s]
    val items = encoded.select(col("vec_id").as("b_id"), col("cell"), col("codes"))
    // unrolled sum of m table lookups — flat codegen'd expression, no
    // lambda on the candidate stream
    val adc = (0 until m).map { s =>
      element_at(element_at(col("dtab"), lit(s + 1)),
        (element_at(col("codes"), lit(s + 1)) + 1).cast("int"))
    }.reduce(_ + _)
    // the ADC candidate stream is projected down to (a_id, b_id, adc)
    // IMMEDIATELY — the query vector/residual arrays must not ride the
    // shortlist shuffle — and ranked with the bounded TopKAgg (map-side
    // partial: only n × k·refine lean rows ever shuffle, the same
    // discipline as sim_topk; a row_number window here would sort-exchange
    // every candidate row instead)
    val shortlist = probes.join(items, Seq("cell"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), adc.as("adc"))
      .groupBy("a_id")
      .agg(graft.functions.Udx.topK(k * refine, -col("adc"), col("b_id")).as("hits"))
      .select(col("a_id"), explode(col("hits")).as("hit"))
      .select(col("a_id"), col("hit._2").as("b_id"))
    // exact refine: fetch true (normalized) vectors for the shortlist only
    topKHits(shortlist
      .join(v.select(col("vec_id").as("a_id"), col("e").as("ea")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("e").as("eb")), "b_id")
      .withColumn("sim", expr("graft_dot(ea, eb)")), k)
  }

  /** Auto-dispatching top-k (the SURVEY §4 rewrite): brute force while the
    * corpus is small, IVF once `count ≥ ivfThreshold`, IVF-PQ once
    * `count ≥ pqThreshold` (the memory tier: above it the candidate join
    * must stop carrying vectors). The one count() is the same
    * runtime-statistics move AQE makes — a scan-count job, no data
    * movement. All paths emit the identical (a_id, rn, b_id, sim) schema
    * and tie-break, so the swap is transparent to callers; with
    * `nprobe = nCells` the IVF path degenerates to exact (every cell
    * probed), and IVF-PQ additionally degenerates to exact when `refine`
    * covers the probed population (the shortlist is everything, so the
    * exact re-rank sees every candidate) — both pinned by equivalence
    * tests.
    */
  def topK(emb: DataFrame, k: Int, auto: Boolean = false,
      ivfThreshold: Long = 500000, nCells: Int = -1, nprobe: Int = 4,
      pqThreshold: Long = 50000000L, pqM: Int = 8): DataFrame =
    if (!auto) bruteTopK(emb, k)
    else {
      // ONE column-pruned stats job decides the whole dispatch: row count
      // for the tier, dim for the PQ subspace split (null-safe, like
      // cosineLshPairs' probe) — separate count() and dim jobs would scan
      // the corpus twice for statistics one aggregate carries
      val stats = emb.agg(count(lit(1)),
        coalesce(max(size(col("embedding"))), lit(0))).head()
      val n = stats.getLong(0)
      val dim = stats.getInt(1)
      if (n >= pqThreshold) {
        // ivfpqTopK requires dim % m == 0 — a 100- or 300-dim corpus with
        // the fixed default m=8 would throw mid-job. Pick the largest
        // divisor of dim in [2, min(pqM, dim/2)]: the dim/2 cap keeps
        // every subspace at >= 2 dimensions, so a prime dim — or any dim
        // whose only divisor <= pqM is itself — falls back to plain IVF
        // instead of degenerate scalar-quantized "PQ" (m = dim, 1-dim
        // subspaces: no product structure, just a worse IVF).
        (math.min(pqM.toLong, dim / 2).toInt to 2 by -1)
          .find(mm => dim % mm == 0) match {
          case Some(mm) => ivfpqTopK(emb, k, nCells, nprobe, m = mm)
          case None => ivfTopK(emb, k, nCells, nprobe, nRows = n)
        }
      }
      else if (n >= ivfThreshold) ivfTopK(emb, k, nCells, nprobe, nRows = n)
      else bruteTopK(emb, k)
    }
}
