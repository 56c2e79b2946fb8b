package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Bounded-hop betweenness centrality (Brandes, *A faster algorithm for
  * betweenness centrality*, J. Math. Sociology 2001) over integer-cost
  * directed edges — the "who sits on the paths" centrality completing the
  * tier beside PageRank's influence propagation and closeness's distance
  * aggregation: bc(v) = Σ_{s≠v} δ_s(v), where δ_s(v) is the fraction of
  * shortest s-paths through v, accumulated over the shortest-path DAG.
  *
  * Fixed-iteration contract (the graph_sssp / graph_kcore discipline) at
  * every stage, so both engines and both dispatch branches compute the
  * IDENTICAL frame regardless of convergence:
  *  - distances: K synchronous Bellman–Ford relaxations
  *    ([[AllSourceDistances]] — paths bounded at K edges);
  *  - the shortest-path DAG: edge u→v kept iff dist(u)+cost(u,v)=dist(v)
  *    (exact BIGINT equality, deterministic);
  *  - path counts σ: the K-th JACOBI iterate of
  *    σ(v) = [v=s] + Σ_{u→v} σ(u) — exact BIGINT, converged exactly when
  *    the DAG is ≤ K levels deep (a DAG edge strictly increases dist, and
  *    any longer-than-K chain is itself an unconverged corner the contract
  *    prices in; GraphSpec asserts K and K+1 agree on the corpus);
  *  - dependencies δ: the K-th Jacobi iterate of
  *    δ(u) = Σ_{u→v, σ(v)>0} σ(u)/σ(v)·(1+δ(v)) — the one float chain,
  *    identical per-term on both engines, group sums rounded at 6dp only
  *    in the FINAL output (the pagerank float discipline).
  *
  * Over the two [[Superstep]] branches: below the gate everything is one
  * driver sweep (n·K·m integer ops); at or above it every stage is
  * composite-keyed (src, node) joins over the shortest-path DAG, each
  * round a snapshotted superstep. At 100 TB betweenness is SAMPLED-SOURCE
  * by construction (Brandes & Pich, *Centrality estimation in large
  * networks*, IJBC 2007): pass the sample as `sources` — every stage is
  * then keyed by the sampled s, so the composite frames scale as
  * |sources|·|reachable|, the algorithm's honest size — while `nodes`
  * stays the full output universe. bc is ADDITIVE over disjoint source
  * sets (bc = Σ_s δ_s), which is what makes the sampled estimator
  * unbiased under uniform sampling and is spec-pinned (GraphSpec).
  */
object Betweenness {

  /** @param nodes one `node: long` column — the node universe (every row
    *              gets a betweenness, zero when no sampled path crosses it)
    * @param edges `src`/`dst` (castable to long) + `cost: long` ≥ 1
    * @param sources optional `node: long` SOURCE sample (the Brandes–Pich
    *                estimator — bc restricted to Σ over the sampled s);
    *                null = all of `nodes` (exact bc)
    * @return (node, betweenness) for every node in `nodes`, 6dp */
  def run(nodes: DataFrame, edges: DataFrame, rounds: Int,
      distributedMinEdges: Long = Superstep.DefaultMinEdges,
      sources: DataFrame = null): DataFrame = {
    val e = Superstep.longs(edges, "src", "dst", "cost")
    val n = Superstep.longs(nodes, "node")
    Superstep.collectBelow(e, distributedMinEdges)(Superstep.triple) match {
      case Some(es) =>
        val ns = Superstep.ids(n)
        val srcs = if (sources == null) ns
          else Superstep.ids(Superstep.longs(sources, "node"))
        driverPath(nodes.sparkSession, ns, srcs, es, rounds)
      case None =>
        val tr = new Tracked
        val np = tr.persist(n)
        val src = if (sources == null) np
          else tr.persist(Superstep.longs(sources, "node"))
        distributedPath(np, src, tr.persist(e), rounds, tr)
    }
  }

  private def driverPath(s: org.apache.spark.sql.SparkSession,
      ns: Array[Long], srcs: Array[Long], es: Array[(Long, Long, Long)],
      rounds: Int): DataFrame = {
    val Inf = Sssp.Inf
    val bc = scala.collection.mutable.Map(ns.toSeq.map(_ -> 0.0): _*)
    require(srcs.forall(bc.contains),
      "betweenness sources must be a subset of nodes")
    for (source <- srcs) {
      val dist = Sssp.relaxFrom(ns, es, source, rounds)
      val dag = es.filter { case (u, v, c) =>
        dist(u) < Inf && dist(v) < Inf && dist(u) + c == dist(v) }
        .map { case (u, v, _) => (u, v) }
      // σ: K-th Jacobi iterate of σ(v) = [v=s] + Σ_{u→v} σ(u)
      var sig = Map(source -> 1L)
      for (_ <- 1 to rounds) {
        val inc = dag.flatMap { case (u, v) =>
          sig.get(u).map(v -> _) }
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
        sig = inc.toMap - source + (source -> 1L)
      }
      // δ: K-th Jacobi iterate of δ(u) = Σ σ(u)/σ(v)·(1+δ(v)), terms
      // only where σ(v) > 0 at iterate K (the oracle's inner-join shape)
      var del = Map.empty[Long, Double]
      for (_ <- 1 to rounds) {
        del = dag.flatMap { case (u, v) =>
          for (su <- sig.get(u); sv <- sig.get(v)) yield
            u -> (su.toDouble / sv.toDouble * (1.0 + del.getOrElse(v, 0.0)))
        }.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sum }
      }
      for ((v, d) <- del if v != source) bc(v) += d
    }
    // HALF_UP to mirror Spark's round() exactly across branches
    Superstep.frame(s, ns.toSeq.map(v => Row(v, BigDecimal(bc(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)),
      "node" -> LongType, "betweenness" -> DoubleType)
  }

  private def distributedPath(n: DataFrame, src: DataFrame, e: DataFrame,
      rounds: Int, tr: Tracked): DataFrame = {
    val dd = AllSourceDistances.relax(src, e, rounds, tr)
    // shortest-path DAG per source: (s, u, v) — two composite-keyed
    // equi-joins; snapshotted, it drives every σ/δ superstep below
    val dag = tr.snap(dd.select(col("src").as("s"), col("node").as("u"),
        col("dist").as("du"))
      .join(e.withColumnRenamed("src", "u"), Seq("u"))
      .join(dd.select(col("src").as("s"), col("node").as("v"),
        col("dist").as("dv")), Seq("s"))
      .where(col("dst") === col("v") && col("du") + col("cost") === col("dv"))
      .select(col("s"), col("u"), col("v")))
    val sig0 = src.select(col("node").as("s"), col("node"),
      lit(1L).as("sig"))
    var sig = tr.snap(sig0)
    for (_ <- 1 to rounds) {
      val inc = dag.join(sig.withColumnRenamed("node", "u"), Seq("s", "u"))
        .where(col("v") =!= col("s"))
        .groupBy(col("s"), col("v").as("node"))
        .agg(sum(col("sig")).as("sig"))
      sig = tr.snap(sig0.unionByName(inc))
    }
    var del = tr.snap(sig0.select(col("s"), col("node"),
      lit(0.0).as("del")).limit(0))
    for (_ <- 1 to rounds) {
      del = tr.snap(dag
        .join(sig.select(col("s"), col("node").as("u"),
          col("sig").as("su")), Seq("s", "u"))
        .join(sig.select(col("s"), col("node").as("v"),
          col("sig").as("sv")), Seq("s", "v"))
        .join(del.select(col("s"), col("node").as("v"),
          col("del").as("dv")), Seq("s", "v"), "left")
        .groupBy(col("s"), col("u").as("node"))
        .agg(sum(col("su").cast("double") / col("sv")
          * (lit(1.0) + coalesce(col("dv"), lit(0.0)))).as("del")))
    }
    tr.seal(n.join(
        del.where(col("s") =!= col("node"))
          .groupBy("node").agg(sum(col("del")).as("bc")),
        Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("bc"), lit(0.0)), 6).as("betweenness")))
  }
}
