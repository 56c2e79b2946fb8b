package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle census over the user co-occurrence graph, with DEGREE-ORDERED
  * wedge orientation (Suri & Vassilvitskii, *Counting Triangles and the
  * Curse of the Last Reducer*, WWW 2011): users sharing ≥ `minShared`
  * (day, event_type) activity buckets form an edge; every triangle is then
  * found exactly once as a wedge at its minimum-(degree, id) vertex, closed
  * by the third oriented edge. Orientation is pure pair-canonicalization —
  * the (n_edges, n_triangles, n_tri_users) summary is identical under ANY
  * total vertex order, so the id-ordered DuckDB oracle still value-matches —
  * but the SCALE behavior differs sharply: orienting by raw id bounds a
  * wedge list by the max total degree (one high-id hub vertex owns a
  * quadratic wedge set — the "last reducer"), while orienting low-degree →
  * high-degree bounds every out-neighborhood by O(√m), so the wedge
  * exchange is balanced even on power-law graphs. That is the r11→r12
  * upgrade: the documented published design is now the executed plan.
  *
  * Pair generation stays per-BUCKET (the inverted-index shape shared with
  * the dedup kernels — never all-users²), with the LSH band-cap contract:
  * buckets above `bucketCap` active users are dropped (a degenerate
  * always-on event type would otherwise contribute a quadratic fan-out AQE
  * cannot split). The cap never binds at bench SFs (max bucket 587 users;
  * TrianglesSpec pins capped == 0), and — new in r12 — capped buckets are
  * OBSERVED, not silent: `run` counts them on the already-cached activity
  * frame (one tiny agg job) and logs a WARN naming the dropped-bucket count,
  * so signal loss at scale is visible in the driver log; `cappedBuckets`
  * exposes the same frame for tests/monitoring.
  */
object Triangles {

  val DefaultMinShared = 30L
  val DefaultBucketCap = 65536L

  /** Kept-activity-row boundary between the two pair-generation regimes
    * (see the dispatch note in `pipeline`): below it the capped activity
    * frame is broadcast as the build side and the probe is u1-partitioned
    * for FULL map-side combine (a pair's every instance lands in u1's
    * task, so the exchange carries distinct pairs, not Σ bucket²
    * instances); above it both sides co-partition on the bucket key with
    * pinned parallelism and the exchange carries raw pair instances —
    * combine-poor by measurement (~1.5×), linear in Σ bucket².
    *
    * r13 sizing: the 100× scaling sweep showed the regimes differ by
    * ~20× in exchange volume (100× corpus: 2.17 G raw instances / 11.8 GB
    * +10 GB sort-spill raw, vs ~112 M distinct pairs combined), so the
    * gate is placed where the BROADCAST stops being cheap, not earlier:
    * 16M rows ≈ 650 MB of (user, day, type) packed rows — a deliberate
    * spend on executors provisioned for a 100 TB job (broadcast cost is
    * one-time per census; the raw exchange is per-corpus-linear). Deploy
    * knob: pass `repartitionGate` explicitly to match the cluster's
    * executor memory. */
  val repartitionMinRows = 16777216L

  /** Edge-count boundary for the wedge phase (see `pipeline`): below it
    * the sealed edge list collects once and triangles close on the driver
    * (the Components `smallThreshold` contract — ≤ 8 MB of bare longs at
    * the gate); at or above it the degree-ordered wedge join runs
    * distributed. */
  val DriverMaxEdges = 500000L

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** distinct (user, day, event_type) activity — the bucket membership */
  private def activity(events: DataFrame): DataFrame = {
    val DayUs = 86400000000L
    events.select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("d"),
      col("event_type")).distinct()
  }

  /** Buckets whose active-user count exceeds the cap — the signal `run`
    * drops. Empty at bench SFs (TrianglesSpec pins it); non-empty means
    * the summary undercounts and the run's WARN line says by how many
    * buckets. */
  def cappedBuckets(events: DataFrame,
      bucketCap: Long = DefaultBucketCap): DataFrame =
    activity(events).groupBy("d", "event_type")
      .agg(count(lit(1)).as("m")).where(col("m") > bucketCap)

  /** One-row summary: n_edges, n_triangles, n_tri_users. */
  def run(events: DataFrame, minShared: Long = DefaultMinShared,
      bucketCap: Long = DefaultBucketCap,
      repartitionGate: Long = repartitionMinRows,
      wedgeGate: Long = DriverMaxEdges): DataFrame = {
    val (edges, nEdges) =
      cooccurEdges(events, minShared, bucketCap, repartitionGate)
    summaryOf(edges, nEdges, wedgeGate)
  }

  /** [[run]]'s summary over a PRE-BUILT canonical (u1 < u2) edge frame —
    * the read-the-published-census path (round 14): the corpus collapse
    * is paid by whoever built `edges` (typically [[Census]]); this is the
    * metric alone. `nEdges` drives the wedge-phase dispatch. */
  def summaryOf(edges: DataFrame, nEdges: Long,
      wedgeGate: Long = DriverMaxEdges): DataFrame = {
    val tri = trianglesOf(edges, nEdges, wedgeGate)
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    val nUsers = tri.select(explode(array(col("a"), col("b"), col("c"))).as("u"))
      .agg(countDistinct(col("u")).as("n_tri_users"))
    nE.crossJoin(nTri).crossJoin(nUsers)
  }

  /** The closed-triangle frame of a pre-built edge list — the shared
    * wedge phase behind [[summaryOf]]/[[perNodeOf]], dispatched on
    * `nEdges` exactly like the events-based pipeline. */
  def trianglesOf(edges: DataFrame, nEdges: Long,
      wedgeGate: Long = DriverMaxEdges): DataFrame =
    if (nEdges <= wedgeGate) driverTriangles(edges)
    else distributedTriangles(edges, new Tracked)

  /** Per-node census (r12): degree, triangle participation, and the LOCAL
    * CLUSTERING COEFFICIENT 2T/(d(d−1)) — Watts & Strogatz (*Collective
    * dynamics of 'small-world' networks*, Nature 1998) — over the same
    * co-occurrence graph. The rollup is two aggregates over the sealed
    * edge/triangle frames (graph-sized, never corpus-sized): degree from
    * the undirected edge list, participation from exploding each
    * triangle's three corners. Exact integers into ONE float chain
    * (2·T/(d·(d−1)), 6dp), coefficient defined as 0 for degree < 2 (the
    * no-possible-wedge convention). Every ACTIVE user gets a row —
    * isolated users carry (0, 0, 0.0) rather than vanishing, the shape a
    * downstream feature join needs (and the output is never empty on a
    * sparse corpus whose edge set is). */
  def perNode(events: DataFrame, minShared: Long = DefaultMinShared,
      bucketCap: Long = DefaultBucketCap,
      repartitionGate: Long = repartitionMinRows,
      wedgeGate: Long = DriverMaxEdges): DataFrame = {
    val (edges, nEdges) =
      cooccurEdges(events, minShared, bucketCap, repartitionGate)
    perNodeOf(events.select(col("user_id")).distinct(), edges, nEdges,
      wedgeGate)
  }

  /** [[perNode]] over a pre-built edge frame (the published-census path):
    * `users` is the one-column (`user_id`) frame of ALL active users —
    * the feature-join shape needs every user, including isolated ones the
    * edge list never mentions. */
  def perNodeOf(users0: DataFrame, edges: DataFrame, nEdges: Long,
      wedgeGate: Long = DriverMaxEdges): DataFrame = {
    val tri = trianglesOf(edges, nEdges, wedgeGate)
    val users = users0.select(col("user_id").as("u"))
    val deg = edges.select(col("u1").as("u"))
      .union(edges.select(col("u2").as("u")))
      .groupBy("u").agg(count(lit(1)).as("dg"))
    val tc = tri.select(explode(array(col("a"), col("b"), col("c"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("n_tri"))
    users.join(deg, Seq("u"), "left").join(tc, Seq("u"), "left")
      .select(col("u").as("user_id"),
        coalesce(col("dg"), lit(0L)).as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(coalesce(col("dg"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (coalesce(col("dg"), lit(0L)) * (coalesce(col("dg"), lit(0L)) - 1)))
          .otherwise(lit(0.0)), 6).as("coeff"))
  }

  // Wedge-phase dispatch (the Components/PageRank bounded-boundary move,
  // r12), shared by trianglesOf: the edge list is GRAPH-sized — 10k rows
  // at sf0.1, 104k at the 10× corpus — and the distributed wedge plan
  // spends its time in per-job stage latency (degree joins + two sealed
  // self-joins ≈ 2.5 s of scheduling for microseconds of math). Below
  // `wedgeGate` edges the list collects ONCE (≤ 8 MB at the gate — the
  // Components smallThreshold contract) and triangles close on the driver
  // via sorted-adjacency intersection (Σ min-degree ops, ≤ ~0.5 G compares
  // at the gate's densest graph); at or above the gate the degree-ordered
  // wedge join runs distributed. Branch equality is spec-pinned.

  /** Session-scoped materialization cache for the sealed edge frame —
    * the census front end is consumed by FOUR declared operators
    * (triangle census, clustering coefficients, link prediction, k-core),
    * and rebuilding the corpus→graph collapse per metric is exactly the
    * redundant 100 TB scan a real deployment would never tolerate: the
    * built graph is the thing you keep, the metrics are cheap against
    * it. Keyed by (session, SEMANTIC plan hash, parameters) with a
    * sameResult double-check (hash collisions can't alias two different
    * corpora), bounded at [[EdgeCacheMax]] entries with oldest-first
    * eviction (evicted frames unpersist). Entries are library-owned:
    * callers must NOT unpersist a frame returned by [[cooccurEdges]].
    */
  private val EdgeCacheMax = 8
  private val edgeCache = scala.collection.mutable.LinkedHashMap.empty[
    (Int, Int, Long, Long, Long),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame, Long)]

  private[graft] def clearEdgeCache(): Unit = edgeCache.synchronized {
    edgeCache.values.foreach(_._2.unpersist(false))
    edgeCache.clear()
  }

  /** The sealed canonical (u1 < u2) co-occurrence edge list plus its row
    * count — the shared graph-construction front end for every operator
    * consuming the graph. Materialized once per (corpus, parameters) per
    * session via [[edgeCache]]; the returned frame is library-owned
    * (persisted) — do not unpersist it. */
  def cooccurEdges(events: DataFrame, minShared: Long = DefaultMinShared,
      bucketCap: Long = DefaultBucketCap,
      repartitionGate: Long = repartitionMinRows): (DataFrame, Long) = {
    val plan = events.queryExecution.analyzed
    val key = (System.identityHashCode(events.sparkSession),
      plan.semanticHash(), minShared, bucketCap, repartitionGate)
    edgeCache.synchronized {
      // a harness clearCache() (Verify and Bench run one between queries)
      // silently unpersists the cached frame while this map still points
      // at it — serving that frame makes EVERY downstream consumer redo
      // the full corpus→edge pipeline (a union alone recomputes it twice).
      // Detect the eviction and rebuild+re-seal instead.
      edgeCache.get(key)
        .filter(_._1.sameResult(plan))
        .filter(_._2.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        .map(e => (e._2, e._3))
    } match {
      case Some(hit) => hit
      case None =>
        val (edges, n) = buildEdges(events, minShared, bucketCap, repartitionGate)
        edgeCache.synchronized {
          while (edgeCache.size >= EdgeCacheMax) {
            val (k, v) = edgeCache.head
            v._2.unpersist(false)
            edgeCache.remove(k)
          }
          edgeCache.put(key, (plan, edges, n))
        }
        (edges, n)
    }
  }

  private def buildEdges(events: DataFrame, minShared: Long,
      bucketCap: Long, repartitionGate: Long): (DataFrame, Long) = {
    val tr = new Tracked
    // persisted: read by the cap count, the bucket-size agg, and both pair-
    // join sides (the cap-count action populates the cache before any of
    // the joins plan against it)
    val ua0 = tr.persist(activity(events))
    val sizes = ua0.groupBy("d", "event_type").agg(count(lit(1)).as("m"))
    // ONE kilobyte-scale stats action over the cached activity frame pays
    // for two things: cap observability (r12 — silent truncation becomes a
    // logged, countable event) and the row count the parallelism dispatch
    // below needs (the PageRank/knn stats-dispatch move: no second job)
    val st = sizes.agg(
      sum(when(col("m") > bucketCap, 1L).otherwise(0L)).as("capped"),
      sum(when(col("m") <= bucketCap, col("m")).otherwise(lit(0L))).as("kept"),
      sum(when(col("m") <= bucketCap, expr("m * (m - 1) div 2"))
        .otherwise(lit(0L))).as("pair_inst"))
      .head()
    val capped = Option(st.get(0)).fold(0L)(_.asInstanceOf[Long])
    val keptRows = Option(st.get(1)).fold(0L)(_.asInstanceOf[Long])
    val pairInst = Option(st.get(2)).fold(0L)(_.asInstanceOf[Long])
    if (capped > 0)
      log.warn(s"triangles: $capped (day, event_type) buckets exceeded " +
        s"cap=$bucketCap and were DROPPED — edge set is a lower bound")
    // cap as a broadcast semi-join on the bucket-size table rather than a
    // window over ua — a window would re-partition ua by (d, type) and push
    // the pair join from broadcast-hash to sort-merge (measured +3 s)
    val okBuckets = sizes.where(col("m") <= bucketCap).select("d", "event_type")
    val ua0k = ua0.join(broadcast(okBuckets), Seq("d", "event_type"))
    val nPart = events.sparkSession.sessionState.conf.numShufflePartitions
    // TWO pair-generation regimes, stats-dispatched on the kept activity
    // rows (both value-identical — TrianglesSpec pins the branch equality):
    //
    //  - BROADCAST-COMBINE (below the gate — the capped activity frame fits
    //    a broadcast): the PROBE side is explicitly repartitioned by u1, so
    //    every (u1, u2) pair instance — the same pair recurs across ~20
    //    buckets on this corpus — is generated inside u1's partition and
    //    the map-side partial agg collapses the repetition BEFORE the
    //    exchange: the pair shuffle drops from Σ bucket² instances (140 MB
    //    at sf0.1) to distinct pairs (~2 MB), and the 10× run loses its
    //    1 GB sort-fallback spill entirely. Measured: edges 7.7 → 1.1 s
    //    warm at sf0.1, 28 → 4.2 s at 10×. The explicit numPartitions on
    //    the probe doubles as the AQE fan-out guard (below).
    //  - PINNED BUCKET REPARTITION (above the gate — activity too big to
    //    broadcast): both self-join sides co-partition on (d, event_type)
    //    via ONE explicit exchange. Explicit numPartitions is the AQE
    //    guard: AQE sizes a post-shuffle stage by its INPUT bytes, but this
    //    stage's output is the Σ bucket² fan-out (~1000× input) — unpinned,
    //    AQE coalesced the sort-merge pair join to 1–2 tasks and 217M pairs
    //    generated serially (114 s; 24 s pinned, measured at 10×). Combine
    //    is poor here (same pair, different buckets, different tasks); the
    //    pair exchange is the algorithm's intrinsic intermediate, linear
    //    and disk-backed — the parallelism-vs-combine trade taken knowingly.
    //
    // Skew in both regimes is bounded by the bucket cap; the session's
    // shuffle-partition setting remains the scale knob.
    val pairs =
      if (keptRows < repartitionGate) {
        val probe = ua0k.repartition(nPart, col("user_id"))
        probe.select(col("d"), col("event_type"), col("user_id").as("u1"))
          .join(broadcast(ua0k
            .select(col("d"), col("event_type"), col("user_id").as("u2"))),
            Seq("d", "event_type"))
      } else {
        val ua = ua0k.repartition(nPart, col("d"), col("event_type"))
        ua.select(col("d"), col("event_type"), col("user_id").as("u1"))
          .join(ua.select(col("d"), col("event_type"), col("user_id").as("u2")),
            Seq("d", "event_type"))
      }
    // Pair-aggregation shape (r13 100× sweep): in the broadcast-combine
    // regime the probe is u1-partitioned, so the map-side partial agg
    // collapses the ~20× cross-bucket pair repetition to distinct pairs
    // before the exchange. In the pinned-repartition regime a pair's
    // instances spread across (d, type) buckets in DIFFERENT tasks, so
    // the partial agg only collapses ~1.5× — measured at the 100× corpus
    // (2.17 G instances): 11.8 GB exchange + ~10 GB of external-sort
    // spill either way (an explicit fan-out-sized repartition that skips
    // the partial was re-measured at the SAME wall time with 1.5× MORE
    // wire, so the planner's partial+AQE-sized-final shape is kept — the
    // combine is worth its cost on the wire even when it can't collapse
    // much). The raw pair exchange is that regime's declared intrinsic
    // intermediate: linear in Σ bucket² (pairInst, logged below), which
    // is linear in the corpus at constant bucket size.
    if (keptRows >= repartitionGate)
      log.warn(s"triangles: pair stage in the raw-exchange regime — " +
        s"$pairInst pair instances ($keptRows kept activity rows ≥ gate " +
        s"$repartitionGate); the exchange is corpus-linear and combine-poor")
    val (edges, nEdges) = tr.sealCounted(
      pairs.where(col("u1") < col("u2"))
        .groupBy("u1", "u2").agg(count(lit(1)).as("shared"))
        .where(col("shared") >= minShared)
        .select("u1", "u2"))
    (edges, nEdges)
  }

  /** Link-prediction scores (Liben-Nowell & Kleinberg, *The link
    * prediction problem for social networks*, CIKM 2003) over the same
    * co-occurrence graph: for every NON-adjacent pair with ≥ `minCommon`
    * common neighbours, the three classic proximity scores — common-
    * neighbour count, Jaccard overlap cn/(d_a + d_b − cn), and
    * Adamic–Adar Σ_z 1/ln(deg z) (Adamic & Adar, *Friends and neighbors
    * on the Web*, Social Networks 2003).
    *
    * Scale posture: all work after the shared corpus→edge collapse runs on
    * GRAPH-sized frames. The wedge generation (a—z—b through each common
    * neighbour z) is the triangle census's Σ deg(z)² intermediate — bounded
    * by the bucket cap, never corpus² — and dispatches like the census
    * wedge phase: below `wedgeGate` edges the sealed list collects once
    * and the scores close on the driver (`linkScores` — spec-pinned to the
    * distributed branch); at or above it the self-join runs distributed.
    * Float discipline: cn and degrees are exact integers; Jaccard is one
    * exact-operand division; the Adamic–Adar sum rides per-term
    * DECIMAL(38,15) casts so the shuffled sum is order-independent and
    * value-identical to the oracle's identically-cast terms (the doubled-
    * rank discipline extended to irrational terms: deterministic per-term
    * double chain, exact sum). */
  def linkPrediction(events: DataFrame, minCommon: Long = 2L,
      minShared: Long = DefaultMinShared,
      bucketCap: Long = DefaultBucketCap,
      repartitionGate: Long = repartitionMinRows,
      wedgeGate: Long = DriverMaxEdges): DataFrame = {
    val (edges, nEdges) =
      cooccurEdges(events, minShared, bucketCap, repartitionGate)
    linkPredictionOf(edges, nEdges, minCommon, repartitionGate, wedgeGate)
  }

  /** [[linkPrediction]] over a pre-built edge frame (the published-census
    * path); `repartitionGate` still sizes the broadcast-vs-raw wedge
    * regime, `nEdges` drives both that and the driver dispatch. */
  def linkPredictionOf(edges: DataFrame, nEdges: Long, minCommon: Long = 2L,
      repartitionGate: Long = repartitionMinRows,
      wedgeGate: Long = DriverMaxEdges): DataFrame = {
    val tr = new Tracked
    if (nEdges <= wedgeGate) {
      val s = edges.sparkSession
      val es = edges.select(col("u1"), col("u2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // explicit Rows + schema (the driverTriangles shape): the scored
      // frame can be 100k+ pairs, and the product-encoder toDF path costs
      // ~1 s there where createDataFrame(Rows) is immediate
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(linkScores(es, minCommon).map {
          case (a, b, cn, jac, ad) =>
            org.apache.spark.sql.Row(a, b, cn, jac, ad) }: _*)
      s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cn",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("adamic_adar",
          org.apache.spark.sql.types.DoubleType))))
    } else {
      val s = edges.sparkSession
      val adj = tr.seal(edges.select(col("u1").as("u"), col("u2").as("v"))
        .union(edges.select(col("u2").as("u"), col("u1").as("v"))))
      val deg = adj.groupBy("u").agg(count(lit(1)).as("dg"))
      // r13 (the 100× sweep's regime-placement lesson, applied to the wedge
      // exchange): a z-keyed self-join generates each pair's wedges in
      // DIFFERENT z-partitioned tasks, so the (a, b) partial agg is
      // combine-poor and the exchange carries Σ deg² raw wedge instances
      // (measured 221 s warm at the 100× corpus). With the dz-annotated
      // adjacency BROADCAST as the build side and the probe partitioned by
      // the downstream aggregation key prefix `a`, every wedge of (a, b)
      // is generated in a's task and the partial agg collapses the wedge
      // fan-out to the distinct candidate set BEFORE the exchange. The
      // broadcast is graph-sized (3 longs × 2·edges — ~140 MB at the 100×
      // corpus's 2.9M edges), gated by the same executor-memory budget as
      // the pair stage; past it the z-join regime remains the declared
      // raw-exchange path.
      val build = adj.select(col("u").as("z"), col("v").as("b"))
        .join(deg.select(col("u").as("z"), col("dg").as("dz")), Seq("z"))
      val probe = adj.select(col("v").as("a"), col("u").as("z"))
      val wedges =
        if (2 * nEdges <= repartitionGate) {
          val nPart = s.sessionState.conf.numShufflePartitions
          probe.repartition(nPart, col("a")).join(broadcast(build), Seq("z"))
        } else probe.join(build, Seq("z"))
      val cand = wedges
        .where(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("cn"),
          sum((lit(1.0) / org.apache.spark.sql.functions.log(col("dz")))
            .cast(org.apache.spark.sql.types.DecimalType(38, 15))).as("aa"))
        .where(col("cn") >= minCommon)
      cand.join(edges,
          cand("a") === edges("u1") && cand("b") === edges("u2"), "left_anti")
        .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
        .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("cn"),
          round(col("cn").cast("double") /
            (col("da") + col("db") - col("cn")), 6).as("jaccard"),
          round(col("aa").cast("double"), 6).as("adamic_adar"))
        .orderBy("a", "b")
    }
  }

  /** Pure driver link scoring over canonical (u1 < u2) edges — the
    * below-gate branch of [[linkPrediction]], mirroring the distributed
    * plan's semantics exactly (including the per-term 1e-15 decimal
    * quantization of the Adamic–Adar terms, so both branches and the SQL
    * oracle sum identical quantities). */
  private[graft] def linkScores(es: Array[(Long, Long)],
      minCommon: Long): Seq[(Long, Long, Long, Double, Double)] = {
    // dense 0..n-1 node indices (sorted, so index order == id order) and
    // CSR-style primitive adjacency — the per-SOURCE scratch-array sweep
    // below touches one cache-friendly Int/Long array per wedge, where a
    // hashed pair map pays a probe per wedge (measured 80 s vs <1 s on
    // the 7.5M-wedge 10× graph: packed (a<<32|b) keys collide
    // pathologically in hash mixes)
    val ids = {
      val s = scala.collection.mutable.TreeSet.empty[Long]
      es.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val n = ids.length
    val idxOf = ids.zipWithIndex.toMap
    val deg = new Array[Int](n)
    es.foreach { case (a, b) => deg(idxOf(a)) += 1; deg(idxOf(b)) += 1 }
    val adjIdx = Array.tabulate(n)(i => new Array[Int](deg(i)))
    val fill = new Array[Int](n)
    es.foreach { case (a, b) =>
      val (ia, ib) = (idxOf(a), idxOf(b))
      adjIdx(ia)(fill(ia)) = ib; fill(ia) += 1
      adjIdx(ib)(fill(ib)) = ia; fill(ib) += 1
    }
    var i = 0
    while (i < n) { java.util.Arrays.sort(adjIdx(i)); i += 1 }
    // per-z Adamic–Adar term, fixed-point 10⁻¹⁵ — the SAME scale-15
    // HALF_UP quantization as the distributed DECIMAL(38,15) cast, so
    // exact long sums are value-identical to the decimal sums (degree-1
    // nodes spawn no wedge, so ln(deg) ≥ ln 2 wherever a term is read)
    val term15 = Array.tabulate(n)(z =>
      if (deg(z) < 2) 0L
      else BigDecimal(1.0 / math.log(deg(z).toDouble))
        .setScale(15, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.unscaledValue().longValueExact())
    // wedge sweep from each source a: for z ∈ adj(a), b ∈ adj(z), b > a,
    // accumulate (cn, aa) for the canonical pair (a, b) in scratch arrays
    // reset via the touched list — Σ deg² primitive ops total
    val cn = new Array[Long](n)
    val aa15 = new Array[Long](n)
    val touched = new Array[Int](n)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Double)]
    var ia = 0
    while (ia < n) {
      var nTouched = 0
      val na = adjIdx(ia)
      var zi = 0
      while (zi < na.length) {
        val z = na(zi)
        val nb = adjIdx(z)
        // adj is sorted: skip to the first neighbour index > ia
        var bi = {
          val p = java.util.Arrays.binarySearch(nb, ia + 1)
          if (p >= 0) p else -(p + 1)
        }
        while (bi < nb.length) {
          val b = nb(bi)
          if (cn(b) == 0L) { touched(nTouched) = b; nTouched += 1 }
          cn(b) += 1L
          aa15(b) = Math.addExact(aa15(b), term15(z))
          bi += 1
        }
        zi += 1
      }
      var t = 0
      while (t < nTouched) {
        val b = touched(t)
        // non-adjacency check via the sorted adjacency (binary search —
        // no boxed tuple set)
        if (cn(b) >= minCommon && java.util.Arrays.binarySearch(na, b) < 0) {
          // HALF_UP matches Spark's round() exactly (rint is half-even)
          val jac = BigDecimal(cn(b).toDouble / (deg(ia) + deg(b) - cn(b)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val ad = BigDecimal(java.math.BigDecimal.valueOf(aa15(b), 15))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          out += ((ids(ia), ids(b), cn(b), jac, ad))
        }
        cn(b) = 0L; aa15(b) = 0L
        t += 1
      }
      ia += 1
    }
    // sources sweep in ascending index == id order and each source's
    // touched list sorts ascending here, so the global order is (a, b)
    out.toSeq.sortBy(t => (t._1, t._2))
  }

  /** Driver wedge closure over the COLLECTED edge list: canonical (a<b<c)
    * triples via sorted-adjacency intersection. Used below [[wedgeGate]]
    * — the triple order differs from the distributed branch's degree
    * orientation, but every consumer aggregates the triangle SET
    * (count / corner explode), which is order-invariant per triple. */
  private def driverTriangles(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val es = edges.select(col("u1"), col("u2")).as[(Long, Long)]
      .collect().sorted
    closeTriangles(es).toDF("a", "b", "c")
  }

  /** Pure driver wedge closure over canonical (u1 < u2) edges: each
    * triangle emitted once as its id-sorted (a < b < c) triple via
    * sorted-adjacency two-pointer intersection (Σ min-degree compares).
    * Property-tested against a set-based brute force on random graphs. */
  private[graft] def closeTriangles(
      es: Array[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    val sortedAdj = adj.map { case (k, v) => k -> v.toArray.sorted }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    es.foreach { case (a, b) =>
      val na = sortedAdj(a); val nb = sortedAdj(b)
      var i = 0; var j = 0
      while (i < na.length && j < nb.length) {
        if (na(i) == nb(j)) {
          if (na(i) > b) out += ((a, b, na(i))) // close above b: once per triangle
          i += 1; j += 1
        } else if (na(i) < nb(j)) i += 1
        else j += 1
      }
    }
    out.toSeq
  }

  /** Distributed wedge closure: degree-ordered orientation + two-hop join
    * (the Suri–Vassilvitskii shape). Used at or above [[wedgeGate]]. */
  private def distributedTriangles(edges: DataFrame,
      tr: Tracked): DataFrame = {
    // degree-ordered orientation: src is the endpoint earlier in the strict
    // total order (deg, id); dd carries the dst's order key so the wedge
    // join below can compare legs without re-joining degrees
    val deg = edges.select(col("u1").as("u"))
      .union(edges.select(col("u2").as("u")))
      .groupBy("u").agg(count(lit(1)).as("dg"))
    val oriented = tr.seal(edges
      .join(deg.select(col("u").as("u1"), col("dg").as("dg1")), "u1")
      .join(deg.select(col("u").as("u2"), col("dg").as("dg2")), "u2")
      .select(when(col("dg1") < col("dg2") ||
          (col("dg1") === col("dg2") && col("u1") < col("u2")),
          struct(col("u1").as("src"), col("u2").as("dst"),
            col("dg2").as("dd")))
        .otherwise(struct(col("u2").as("src"), col("u1").as("dst"),
          col("dg1").as("dd"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.dd")))
    // wedge at v = two out-edges with ordered legs; the closing edge runs
    // low→high by construction, so it is exactly oriented(a → b)
    tr.seal(oriented.as("e1")
      .join(oriented.as("e2"), col("e2.src") === col("e1.src") &&
        (col("e1.dd") < col("e2.dd") ||
          (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c")))
  }
}
