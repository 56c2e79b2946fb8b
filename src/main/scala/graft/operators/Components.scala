package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components for dedup clustering — the transitive-closure
  * step a pipeline needs on top of pairwise near-dup output: pairs
  * (a,b),(b,c) collapse to ONE cluster with one survivor, which per-pair
  * min-id logic cannot do.
  *
  * Two execution paths behind one result contract, picked by RUNTIME edge
  * count (the same statistics-driven dispatch as `Sim.topK(auto)`):
  *
  *  - **small graphs** (≤ `smallThreshold` symmetric edges, default 2²⁰):
  *    collect the edge list and run union–find with path compression on
  *    the driver — microseconds, zero extra Spark rounds. The designed,
  *    BOUNDED driver boundary, like the CAIM compressed histogram: the
  *    threshold caps driver memory, not the corpus. Budget honestly:
  *    the collected Array[(Long, Long)] is boxed tuples, ~80–100 bytes
  *    per edge transient (plus the result LocalRelation), so the 2²⁰
  *    default costs on the order of 100 MB peak driver memory — size
  *    `smallThreshold` against THAT figure, not 16 bytes/edge.
  *  - **large graphs**: distributed minimum-label propagation — per round
  *    a neighbour HOP (equi-join + map-side-partial min aggregation) then
  *    a POINTER JUMP (lbl ← lbl(lbl), one self-join of the small label
  *    frame), so convergence is O(log diameter) rounds, robust to the
  *    chain-shaped components similarity graphs produce (hops alone are
  *    O(eccentricity) — measured 15 on the τ=0.4 cosine graph). Every
  *    round shuffles only (vertex, label) pairs against the once-shuffled
  *    cached edge list; per-round [[Tracked.snap]] snapshots truncate
  *    lineage.
  *
  * Block bookkeeping: all per-round snapshots AND the final labels are
  * freed before returning — the result is sealed (eagerly materialized)
  * through the caller's [[Tracked]], which owns the one surviving block.
  */
object Components {

  /** @param edges  undirected edge list
    * @param inputs the Tracked that holds the caches FEEDING `edges` (the
    *               edge-pair cache, shingle tables) and nothing else. The
    *               name is the contract: EVERY intermediate kept on this
    *               handle is freed as soon as the symmetric edge cache is
    *               materialized — a Tracked carrying caches some sibling
    *               pipeline still reads must NOT be passed here (it would
    *               silently recompute them). The sealed result is
    *               registered as owned on the same handle, so
    *               `inputs.release()` reclaims everything.
    * @param smallThreshold symmetric-edge count at or below which the
    *               driver union–find path runs (peak driver footprint ≈
    *               80–100 bytes × threshold, boxed-tuple collect;
    *               0 forces the distributed path)
    * @return (id, cluster) — cluster = smallest vertex id reachable
    */
  def connected(edges: DataFrame, a: String = "a_id", b: String = "b_id",
      inputs: Tracked = new Tracked, smallThreshold: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    // the edge list is cached PRE-PARTITIONED on v — the only key it ever
    // joins on — so no propagation round re-shuffles it: each step's join
    // exchanges only the (vertex, label) frame. At scale the edge list is
    // the dominant frame; shuffling it once instead of once-per-round is
    // the difference between O(E) and O(E·diameter) network traffic.
    // NO distinct() on the symmetric expansion: min-label propagation is
    // idempotent under duplicate edges (min over a multiset of neighbour
    // labels = min over the set), our pair generators already emit
    // distinct (a<b) pairs, and the dedup would cost a full extra shuffle
    // of the dominant frame per run. Callers with heavily duplicated edge
    // lists should pre-distinct — a size/perf choice, never correctness.
    val sym = edges.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))
      .union(edges.select(col(b).cast("long").as("u"), col(a).cast("long").as("v")))
      .repartition(col("v"))
      .persist()
    // one count materializes the edge cache (running the caller's whole
    // pair pipeline once) and is the runtime statistic the dispatch reads;
    // the input caches are dead weight from here on either path
    val nSym = sym.count()
    inputs.free()
    if (nSym <= smallThreshold) {
      // driver union–find with path compression: O(E α(V)) in ~16 bytes
      // per edge, no further Spark rounds
      import org.apache.spark.sql.Encoders
      val es = sym.select(col("u"), col("v"))
        .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .collect()
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      val ids = es.iterator.flatMap { case (u, v) => Iterator(u, v) }.toArray.distinct
      val sqlc = spark
      import sqlc.implicits._
      val out = inputs.seal(
        ids.sorted.map(id => (id, find(id))).toSeq.toDF("id", "cluster"))
      sym.unpersist(blocking = false)
      return out
    }
    // Lineage truncation: each round's frames are snapshotted on `inputs`
    // (Tracked.snap), whose seal frees them once the result is counted.
    // One propagation round = a neighbour HOP then a POINTER JUMP. Hop:
    // every vertex u hears the current label of each neighbour v and
    // keeps the minimum. Jump: every vertex then adopts its label's own
    // label (path compression, lbl ← lbl(lbl)) — the hash-min invariant
    // lbl(id) ≤ id makes the jumped label always ≤ the current one, so
    // monotonicity (and the lbl0 convergence check) are preserved. Hops
    // alone converge in O(eccentricity) rounds, which on chain-shaped
    // similarity graphs means tens of driver actions (measured: the
    // τ=0.4 cosine graph at sf0.1 has components of eccentricity 15 —
    // ~7 s of pure round overhead for a 920-edge graph); hop+jump makes
    // label depth contract superlinearly, O(log diameter) rounds total
    // (the CC-MR / Kiveris star-contraction idea expressed as one extra
    // self-join of the SMALL label frame). The hop result is snapshotted
    // BEFORE the jump so the self-join's two branches read one
    // materialization — composing it lazily would recompute the full
    // hop pipeline per branch and per enclosing reference (measured 2×
    // worse than no jump at all: plan blowup, not algorithm cost).
    // `lbl0` (the label at the START of the round) rides along so the
    // convergence check is a filter on the round's own output frame.
    // no snapshot for the initial labels: the frame is one distinct over
    // the (cached) edge list — depth-1 lineage, nothing to truncate, and
    // skipping the RDD persist saves a materialization in round 1
    var lbl = sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl0"), col("id").as("lbl"))
    var changed = 1L
    while (changed > 0) {
      val cur = lbl.select(col("id"), col("lbl").as("lbl0"), col("lbl"))
      val heard = sym
        .join(cur.select(col("id").as("v"), col("lbl").as("nlbl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("nlbl")).as("nmin"))
      val hopped = inputs.snap(cur.join(heard, Seq("id"), "left")
        .select(col("id"), col("lbl0"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl")))
      val next = inputs.snap(hopped.join(
          hopped.select(col("id").as("jid"), col("lbl").as("jlbl")),
          hopped("lbl") === col("jid"), "left")
        .select(hopped("id"), hopped("lbl0"),
          least(hopped("lbl"), coalesce(col("jlbl"), hopped("lbl"))).as("lbl")))
      changed = next.filter(col("lbl") < col("lbl0")).count()
      lbl = next
    }
    val out = inputs.seal(lbl.select(col("id"), col("lbl").as("cluster")))
    sym.unpersist(blocking = false)
    out
  }
}
