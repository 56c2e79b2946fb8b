package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.T.{Q, t}

/** Iterative graph analytics over the corpus.
  *
  * The graph tier so far had connectivity ([[graft.operators.Components]],
  * behind `dedup_clusters`) and density (`events_triangles`); this adds the
  * third classic primitive, CENTRALITY, as volume-weighted PageRank (Page,
  * Brin, Motwani, Winograd, *The PageRank citation ranking*, Stanford
  * InfoLab 1999; weighted-edge generalization per Xing & Ghorbani,
  * *Weighted PageRank algorithm*, CNSR 2004) over the nation trade graph:
  * an edge src→dst with weight w for every (customer nation → supplier
  * nation) pair carrying w lineitems of trade. The unweighted variant is
  * deliberately NOT declared: at every SF the trade graph is COMPLETE
  * (600/600 ordered pairs — measured at sf0.01), so unweighted PageRank
  * converges to exactly 1/N everywhere and would assert nothing; the
  * volume weights are what make centrality data-dependent (realized spread
  * at sf0.01: 0.015–0.087 across 25 nations).
  *
  * Scale posture: the heavy work — four scans, three equi-joins, the
  * (src, dst) weight aggregate — is ONE shot of ordinary shuffle work that
  * Catalyst plans like any star join, and it REDUCES the data to the
  * aggregated graph before any iteration touches it. The fixed point then
  * runs over [[graft.operators.Superstep]]'s two branches: below the
  * edge-count gate the bounded aggregated graph is collected once
  * (sorted, so float order is layout-independent) and the rounds are
  * driver arithmetic — zero per-round jobs, which is what a 25-node graph
  * deserves; at or above the gate the rounds stay distributed with
  * snapshotted rank lineage, a once-computed dangling node set, and no
  * per-round driver synchronization. At 100 TB (a billion-node user graph) the distributed
  * branch holds: the rank frame shuffles on the join key each round — the
  * unavoidable exchange of distributed PageRank. GraphSpec pins both
  * branches to the identical fixed point on the corpus.
  */
object Graph {

  private val damping = 0.85
  private val iters = 10

  /** The co-occurrence census, READ FROM ITS PUBLISHED SNAPSHOT (round
    * 14, r13 verdict item 1): the first census-family query of a run pays
    * the corpus→edge collapse once and commits it through
    * [[graft.operators.ManifestTable]]; every later metric query reads
    * the committed parquet — the production build-once/read-many shape is
    * now the DECLARED path, not just the priced one. GraphSpec pins the
    * read-back frame identical to a direct rebuild for every metric. */
  private def census(s: org.apache.spark.sql.SparkSession,
      sf: String): (DataFrame, Long) =
    graft.operators.Census.edges(s, sf, t(s, sf, "events"))

  /** Directed weighted trade edges (src nation → dst nation, w lineitems),
    * self-loops excluded, plus the node frame (all nations). */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val o = t(s, sf, "orders"); val c = t(s, sf, "customer")
    val l = t(s, sf, "lineitem"); val sup = t(s, sf, "supplier")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Integer trade-cost edges for SSSP: cost = 1e6 div (w + 1) + 1 —
    * heavier trade, cheaper hop; exact BIGINT so every relaxation is
    * bit-stable (no float discipline anywhere in this query). */
  private def costEdges(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    tradeEdges(s, sf).select(col("src"), col("dst"),
      expr("1000000L div (w + 1) + 1").cast("long").as("cost"))

  private val ssspRounds = 6

  val queries: Map[String, Q] = Map(
    "graph_pagerank" -> ((s, sf) => {
      val nodes = t(s, sf, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      graft.operators.PageRank.run(nodes, tradeEdges(s, sf), iters, damping)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy("node")
    }),

    // HITS hubs & authorities (round 16; Kleinberg, JACM 1999) —
    // PageRank's mutual-reinforcement sibling on the directed trade
    // graph: importers that buy from important exporters are good hubs,
    // exporters bought by good hubs are good authorities. Same fixed
    // 10-round power iteration + dual dispatch as PageRank (driver
    // arithmetic below the edge gate, per-round join+agg with 1-row
    // broadcast L2 norms above); the oracle is the identical unrolled
    // materialized-CTE chain. round(…,6) on the FINAL scores only.
    "graph_hits" -> ((s, sf) => {
      val nodes = t(s, sf, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      graft.operators.Hits.run(nodes, tradeEdges(s, sf), iters)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("node")
    }),

    // bounded-hop single-source shortest paths (round 11) — the DISTANCE
    // primitive completing the graph tier (connectivity, density,
    // centrality, distance): cheapest trade route from nation 0 under the
    // integer cost above, K = 6 relaxation rounds. The declared semantics
    // are "shortest using ≤ K edges" at FIXED K (r12 doc fix: K
    // synchronous relaxations bound paths at K edges), so the oracle (the
    // same K rounds unrolled as MATERIALIZED CTEs) is value-identical
    // whether or not K reaches the true fixed point — convergence is a
    // property of K, not a cross-engine risk; on this complete graph the
    // true shortest paths use ≤ 2 hops, far inside K. Exact BIGINT
    // everywhere: min-relaxation is order-independent, so this query is
    // bit-stable under ANY partitioning with zero rounding discipline.
    "graph_sssp" -> ((s, sf) => {
      val nodes = t(s, sf, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      graft.operators.Sssp.run(nodes, costEdges(s, sf), source = 0L,
          rounds = ssspRounds)
        .orderBy("node")
    }),

    // per-node local clustering coefficient (round 12) — the node-level
    // refinement of events_triangles' global census (Watts & Strogatz
    // 1998): per user of the ≥30-shared-bucket co-occurrence graph, the
    // degree, triangle participation, and 2T/(d(d−1)) — the "how cliquish
    // is this user's neighbourhood" feature every community-detection /
    // bot-ring pipeline computes. Rides [[graft.operators.Triangles]]'s
    // shared census pipeline (degree-ordered wedges, capped buckets,
    // AQE-proof pair parallelism); the per-node rollup is two aggregates
    // over the sealed GRAPH-sized frames, never the corpus. Exact integer
    // counts into one identical float chain (6dp); coefficient 0 for
    // degree < 2 (no possible wedge), and every ACTIVE user gets a row
    // (isolated users carry zeros — the feature-join shape, and the
    // output is never empty on a sparse corpus whose edge set is). The
    // id-ordered DuckDB oracle matches because triangle membership is
    // orientation-invariant.
    "graph_clustering" -> ((s, sf) => {
      val (edges, n) = census(s, sf)
      graft.operators.Triangles.perNodeOf(
          t(s, sf, "events").select(col("user_id")).distinct(), edges, n)
        .orderBy("user_id")
    }),

    // the graph census AS A SURFACE (round 13, verdict item 4): the
    // corpus→edge collapse is the expensive shared front end of the whole
    // co-occurrence graph family (triangles, clustering, link prediction,
    // k-core, labelprop, modularity, assortativity), and the production
    // path at 100 TB is BUILD ONCE, PERSIST, READ — the metrics are cheap
    // against the kept graph, and only this query pays the corpus scan.
    // Declared as exactly that: [[graft.operators.Triangles.cooccurEdges]]
    // builds the canonical (u1 < u2, ≥ 30 shared buckets, capped) edge
    // list, a replace-commit publishes it ATOMICALLY through
    // [[graft.operators.ManifestTable]] (a reader never sees a torn edge
    // list; re-publication is one more snapshot, and time travel keeps the
    // graph-as-of-yesterday readable), and the RESULT is the read-back
    // through the head manifest — so the hash check against the DuckDB
    // edge CTE verifies the full write→commit→read round trip, not just
    // the in-memory frame. Downstream metrics in one session reuse the
    // same sealed frame via the census cache; a multi-job deployment reads
    // this table instead of rebuilding (the bench accounting note in
    // PLANS.md separates census cost from metric cost on exactly this
    // basis). Output is GRAPH-sized (the edge list); everything
    // corpus-sized stays inside the census pipeline's documented plan.
    "graph_census" -> ((s, sf) =>
      graft.operators.Census.publish(s, sf, t(s, sf, "events"))
        ._1.orderBy("u1", "u2")),

    // link prediction (round 12) — the PREDICTIVE primitive completing the
    // graph tier (connectivity, density, centrality, distance, now
    // proximity): for every non-adjacent user pair of the co-occurrence
    // graph with ≥ 2 common neighbours, the three classic scores —
    // common-neighbour count, Jaccard overlap, Adamic–Adar — the
    // "who should be connected next" ranking every recommender /
    // record-linkage pipeline starts from. Rides the census edge pipeline
    // (capped buckets, broadcast-combine pair generation) and the
    // bounded-graph dispatch; Adamic–Adar sums ride per-term
    // DECIMAL(38,15) casts so the only inexact arithmetic is the per-term
    // 1/ln(deg) chain, identical on both engines. See
    // [[graft.operators.Triangles.linkPrediction]].
    "graph_linkpred" -> ((s, sf) => {
      val (edges, n) = census(s, sf)
      graft.operators.Triangles.linkPredictionOf(edges, n)
    }),

    // k-core extraction (round 12) — the COHESION primitive completing
    // the graph tier (connectivity, density, centrality, distance,
    // proximity, now cohesion): the maximal subgraph of the user
    // co-occurrence graph where every member keeps ≥ k = 3 surviving
    // ties, by R = 8 synchronous peel rounds — the community-core /
    // influence-seed filter (Kitsak et al., *Identification of
    // influential spreaders*, Nature Physics 2010) that degree alone
    // can't give (a high-degree node whose neighbours all die is not
    // cohesive). Declared semantics are the survivor set after FIXED R
    // rounds (the graph_sssp contract — the oracle unrolls the same R
    // rounds as MATERIALIZED CTEs and is value-identical whether or not
    // R converges; GraphSpec asserts R and R+1 agree on the corpus, so
    // the declared frame IS the 3-core here). Exact BIGINT throughout —
    // bit-stable under any partitioning. Rides the census edge pipeline;
    // the peel runs over [[graft.operators.Superstep]]'s two branches
    // (driver set arithmetic below 500k edges, per-round degree-agg +
    // two semi-joins above).
    // closeness centrality (round 12) — the "how near is everyone"
    // centrality completing the tier beside PageRank's influence
    // propagation (Bavelas 1950; the Wasserman–Faust 1994 normalization
    // C = r²/((n−1)·Σd) that stays comparable across components): per
    // nation, the reachable-count and exact integer distance sum over
    // the K = 6-hop trade-cost distance matrix, via
    // [[graft.operators.AllSourceDistances]] (Sssp's relaxation from
    // EVERY source over the composite (src, node) state — stats
    // dispatch: one driver loop below the edge gate, per-round
    // join+min-agg supersteps above). Fixed-K contract throughout, so
    // the unrolled oracle is value-identical with or without
    // convergence; distances and Σd are exact BIGINT, closeness is ONE
    // float chain over exact operands (6dp). The n·n distance frame is
    // the ALGORITHM'S size — right for graph-sized aggregates like this
    // 25-nation graph, sampled sources at billion-node scale.
    "graph_closeness" -> ((s, sf) => {
      val nodes = t(s, sf, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      val d = graft.operators.AllSourceDistances.run(nodes,
        costEdges(s, sf), rounds = ssspRounds)
      val tot = nodes.agg(count(lit(1)).as("n_nodes"))
      d.where(col("src") =!= col("node"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
        .crossJoin(broadcast(tot))
        .select(col("src").as("node"), col("n_reached"), col("sum_dist"),
          round(col("n_reached") * col("n_reached") /
            ((col("n_nodes") - 1) * col("sum_dist")).cast("double"), 6)
            .as("closeness"))
        .orderBy("node")
    }),

    // the feature-join shape (the graph_clustering precedent): EVERY
    // active user gets a row, non-members carry core_deg 0 — so the
    // output is a joinable user feature at any SF, never empty on a
    // sparse corpus whose core is.
    "graph_kcore" -> ((s, sf) => {
      val (edges, _) = census(s, sf)
      val core = graft.operators.KCore.run(edges, k = kcoreK,
        rounds = kcoreRounds)
      t(s, sf, "events").select(col("user_id")).distinct()
        .join(core.withColumnRenamed("node", "user_id"), Seq("user_id"),
          "left")
        .select(col("user_id"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"))
        .orderBy("user_id")
    }),

    // DEGREE DISTRIBUTION of the co-occurrence census (round 15) — the
    // first chart anyone draws of a graph (and the input to every
    // power-law/scale-free argument): per degree value, how many census
    // nodes carry it, plus the degree-0 row for active users outside the
    // ≥30-bucket graph — silent truncation of isolated users would make
    // the distribution lie. Reads the published census (graph-sized);
    // two tiny aggs after it. Exact BIGINT counts.
    "graph_degree_dist" -> ((s, sf) => {
      val (edges, _) = census(s, sf)
      val deg = edges.select(col("u1").as("u"))
        .unionAll(edges.select(col("u2").as("u")))
        .groupBy("u").agg(count(lit(1)).as("degree"))
      t(s, sf, "events").select(col("user_id").as("u")).distinct()
        .join(deg, Seq("u"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    }),

    // connected COMPONENTS of the co-occurrence census (round 15) — the
    // most basic graph partition was the one family member not declared
    // (labelprop finds communities WITHIN components; kcore cohesion;
    // this answers "which users share ANY chain of co-occurrence"). Every
    // active user appears (isolated users are their own singleton — the
    // graph_kcore feature-join shape); component id = min member user_id
    // (deterministic). Rides the published census + the same Components
    // kernel dedup_clusters trusts: min-label propagation with the edge
    // frame cached pre-partitioned on its join key (one shuffle total,
    // not one per round), driver union-find below the 2^20-edge gate,
    // pointer-jumping above. Exact BIGINT labels — bit-stable under any
    // partitioning.
    "graph_components" -> ((s, sf) => {
      val tr = new graft.operators.Tracked
      val (edges, _) = census(s, sf)
      val comp = graft.operators.Components
        .connected(edges.select(col("u1"), col("u2")), "u1", "u2", tr)
      tr.seal(t(s, sf, "events").select(col("user_id")).distinct()
          .join(comp.withColumnRenamed("id", "user_id"), Seq("user_id"),
            "left")
          .select(col("user_id"),
            coalesce(col("cluster"), col("user_id")).as("component")))
        .orderBy("user_id")
    }),

    // community detection via deterministic synchronous label propagation
    // (round 12, third batch) — the COMMUNITY primitive completing the
    // graph tier (connectivity, density, centrality, distance, proximity,
    // cohesion, now community): each user of the co-occurrence graph
    // starts in its own singleton community and R = 4 synchronous rounds
    // adopt the most frequent neighbour label (ties → min label) — the
    // near-linear-time community algorithm (Raghavan et al., Phys. Rev. E
    // 2007) determinized so the round-R frame is a pure graph function
    // (the graph_sssp / graph_kcore fixed-R contract; the oracle unrolls
    // the same R rounds as MATERIALIZED CTEs). Exact BIGINT counts and
    // label compares only — bit-stable under any partitioning. Rides the
    // shared cached census edge frame and [[graft.operators.Superstep]]'s
    // two branches (driver array sweeps below the 500k-edge gate, a
    // per-round join + two hash aggregates with a max_by argmax above).
    "graph_labelprop" -> ((s, sf) => {
      val (edges, _) = census(s, sf)
      val lp = graft.operators.LabelProp.run(edges, rounds = labelpropRounds)
      // the kcore feature-join shape: EVERY active user gets a row;
      // isolated users (all of them on a corpus whose ≥30 graph is empty)
      // are their own singleton community — the algorithm's own fixed
      // point for a degree-0 node
      t(s, sf, "events").select(col("user_id")).distinct()
        .join(lp.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("community"), col("user_id")).as("community"))
        .orderBy("user_id")
    }),

    // Newman modularity of the labelprop partition (round 12, third
    // batch) — the quality score that makes a community detection result
    // auditable (Newman & Girvan, Phys. Rev. E 2004): per community,
    // q_term = m_in/m − (deg_c/2m)², whose sum is Q. Every count (within-
    // community edges, degree sums, m) is an exact integer from GRAPH-
    // sized joins — the only float work is the final per-community chain
    // (round 6), identical on both engines; the 1-row m rides a
    // broadcast. Scale posture: two lp-keyed joins on the edge frame
    // (ids only) and community-keyed aggregates — nothing corpus-sized
    // past the shared edge collapse.
    "graph_modularity" -> ((s, sf) => {
      val (edges, _) = census(s, sf)
      val lp = graft.operators.LabelProp.run(edges, rounds = labelpropRounds)
      // same all-users partition as graph_labelprop: isolated users are
      // singleton communities (0 internal edges, degree 0 → q_term = 0);
      // m = 0 (an edgeless corpus) pins every term to 0.0 by convention
      val lpAll = t(s, sf, "events").select(col("user_id")).distinct()
        .join(lp.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
        .select(col("user_id").as("node"),
          coalesce(col("community"), col("user_id")).as("community"))
      val m = edges.agg(count(lit(1)).as("m"))
      val deg = edges.select(col("u1").as("u"))
        .union(edges.select(col("u2").as("u")))
        .groupBy("u").agg(count(lit(1)).as("dg"))
      val inn = edges
        .join(lpAll.select(col("node").as("u1"), col("community").as("la")),
          Seq("u1"))
        .join(lpAll.select(col("node").as("u2"), col("community").as("lb")),
          Seq("u2"))
        .where(col("la") === col("lb"))
        .groupBy(col("la").as("community")).agg(count(lit(1)).as("m_in"))
      val degc = lpAll
        .join(deg.withColumnRenamed("u", "node"), Seq("node"), "left")
        .groupBy("community")
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("dg"), lit(0L))).as("deg_sum"))
      degc.join(inn, Seq("community"), "left")
        .crossJoin(broadcast(m))
        .select(col("community"), col("n_nodes"),
          coalesce(col("m_in"), lit(0L)).as("m_in"), col("deg_sum"),
          when(col("m") === 0, lit(0.0)).otherwise(
            round(coalesce(col("m_in"), lit(0L)).cast("double") / col("m")
              - (col("deg_sum").cast("double") / (lit(2) * col("m")))
                * (col("deg_sum").cast("double") / (lit(2) * col("m"))), 6))
            .as("q_term"))
        .orderBy("community")
    }),

    // reciprocity (round 14) — the DIRECTEDNESS summary the undirected
    // census metrics can't ask (Garlaschelli & Loffredo, PRL 2004): of
    // the above-mean-weight trade edges, what fraction is returned in
    // kind (u→v AND v→u), in counts and in weight (Σ min(w_uv, w_vu)
    // over mutual ordered pairs / Σ w) — the "is trade mutual or
    // one-way" structural fact. The raw trade graph is COMPLETE at every
    // SF (reciprocity would pin 1.0 and assert nothing), so the declared
    // graph thresholds on the global mean weight — a 1-row broadcast
    // scalar (the agg_ttest shape), which also makes the metric
    // data-dependent (0.45 at sf0.01). Exact integer counts/weights into
    // two rounded divisions; the mutual join is an equi-join of the
    // GRAPH-sized edge frame on the reversed key.
    "graph_reciprocity" -> ((s, sf) => {
      val e0 = tradeEdges(s, sf)
      val mw = e0.agg((sum(col("w")).cast("double") / count(lit(1)))
        .as("mw"))
      val e = e0.crossJoin(broadcast(mw)).where(col("w") > col("mw"))
        .select(col("src"), col("dst"), col("w"))
      val mut = e.as("a").join(e.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
        .select(col("a.w").as("wa"), col("b.w").as("wb"))
      val tot = e.agg(count(lit(1)).as("m"), sum(col("w")).as("w_total"))
      val rec = mut.agg(count(lit(1)).as("n_recip"),
        sum(least(col("wa"), col("wb"))).as("w_recip"))
      tot.crossJoin(broadcast(rec))
        .select(col("m"), col("n_recip"),
          round(col("n_recip").cast("double") / col("m"), 6)
            .as("reciprocity"),
          col("w_total"), col("w_recip"),
          round(col("w_recip").cast("double") / col("w_total"), 6)
            .as("w_reciprocity"))
    }),

    // eccentricity / radius / diameter (round 14) — the distance tier's
    // EXTREMAL summary beside closeness's average: per nation, the
    // K = 6-hop eccentricity ecc(v) = max over reached nodes of the
    // exact integer trade-cost distance (Harary, *Graph Theory* ch. 2),
    // with the graph radius (min ecc → centers) and diameter (max ecc →
    // periphery) as broadcast 1-row flags — the "worst-case reach" facts
    // a routing/placement analysis reads first. Same fixed-K contract
    // and exact-BIGINT arithmetic as graph_closeness (the unrolled
    // oracle is value-identical with or without convergence); rides the
    // SAME AllSourceDistances kernel, so the n·r frame is computed once
    // per query, the rollup is one max/count agg, and the radius/
    // diameter scalar is a broadcast. Sampled sources at billion-node
    // scale, as documented on the kernel.
    "graph_eccentricity" -> ((s, sf) => {
      val nodes = t(s, sf, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      val d = graft.operators.AllSourceDistances.run(nodes,
        costEdges(s, sf), rounds = ssspRounds)
      val ecc = d.where(col("src") =!= col("node"))
        .groupBy(col("src").as("node"))
        .agg(max(col("dist")).as("ecc"), count(lit(1)).as("n_reached"))
      val rd = ecc.agg(min(col("ecc")).as("radius"),
        max(col("ecc")).as("diameter"))
      ecc.crossJoin(broadcast(rd))
        .select(col("node"), col("ecc"), col("n_reached"),
          (col("ecc") === col("radius")).as("is_center"),
          (col("ecc") === col("diameter")).as("is_periphery"))
        .orderBy("node")
    }),

    // betweenness centrality (round 14) — the BROKERAGE primitive
    // completing the centrality tier beside PageRank (influence) and
    // closeness (proximity): bc(v) = Σ_s δ_s(v), the Brandes 2001
    // dependency accumulation over the shortest-path DAG of the
    // trade-cost graph — "who sits on the cheap trade routes", the
    // cut-vertex / chokepoint ranking every logistics or
    // information-flow analysis starts from. Fixed-iteration contract at
    // every stage (K = 6 relaxations for distances, K Jacobi iterates
    // for the exact-BIGINT path counts σ and the float dependencies δ),
    // so the oracle — the same iterates unrolled as MATERIALIZED CTEs —
    // is value-identical with or without convergence; the only float
    // work is the δ chain, per-term identical on both engines, rounded
    // 6dp in the final output only (the pagerank discipline). Sources
    // are all 25 nations here; at billion-node scale the operator takes
    // a sampled source set (Brandes–Pich 2007) — the composite frames
    // scale as |sources|·|reachable|. See [[graft.operators.Betweenness]].
    "graph_betweenness" -> ((s, sf) => {
      val nodes = t(s, sf, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      graft.operators.Betweenness.run(nodes, costEdges(s, sf),
          rounds = ssspRounds)
        .orderBy("node")
    }),

    // degree assortativity (round 12, third batch) — the mixing
    // coefficient (Newman, PRL 2002): Pearson correlation of endpoint
    // degrees over the doubled edge list, answering "do hubs attach to
    // hubs?" — the one-number structural summary that tells a pipeline
    // whether degree-based sampling or hub-capping will bias it. Every
    // sufficient statistic is an exact integer sum (DECIMAL-cast so the
    // sf1 products can't overflow), the finish is one identical double
    // chain — the agg_cov_matrix discipline on a graph frame.
    "graph_assortativity" -> ((s, sf) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val (edges, _) = census(s, sf)
      val adj = edges.select(col("u1").as("u"), col("u2").as("v"))
        .union(edges.select(col("u2").as("u"), col("u1").as("v")))
      val deg = adj.groupBy("u").agg(count(lit(1)).as("dg"))
      val pairs = adj.join(deg, Seq("u")).withColumnRenamed("dg", "dx")
        .join(deg.select(col("u").as("v"), col("dg").as("dy")), Seq("v"))
      pairs.agg(count(lit(1)).as("m2"),
          sum(col("dx").cast(d38)).as("sx"), sum(col("dy").cast(d38)).as("sy"),
          sum((col("dx") * col("dy")).cast(d38)).as("sxy"),
          sum((col("dx") * col("dx")).cast(d38)).as("sxx"),
          sum((col("dy") * col("dy")).cast(d38)).as("syy"))
        // degenerate guard: an edgeless corpus (m2 = 0) or a degree-
        // regular graph (zero variance) has no defined mixing — report
        // 0.0 by convention on both engines instead of a NULL/NaN row
        .select(expr("m2 div 2").as("m"),
          when(col("m2") === 0 ||
              (col("m2") * col("sxx") - col("sx") * col("sx")) === 0 ||
              (col("m2") * col("syy") - col("sy") * col("sy")) === 0,
            lit(0.0)).otherwise(
            round((col("m2") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / sqrt((col("m2") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")
                * (col("m2") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 6)).as("assortativity"))
    })
  )

  /** The oracle is the SAME fixed 10-round power iteration unrolled as
    * chained CTEs — built by a loop so the per-round algebra is written
    * once. Every per-round CTE is MATERIALIZED: the rank CTE is referenced
    * twice per round (edge contribution + dangling mass), so DuckDB's
    * default inline expansion would copy the subtree 2^10 times (measured:
    * the un-hinted form does not finish; materialized, 0.65 s at sf0.01).
    * Cross-engine float discipline: each round sums ≤ |nodes| doubles per
    * dst, so 10 rounds accumulate ~1e-14 order noise — round(…,6) on the
    * FINAL rank only (intermediates stay full-precision on both engines).
    */
  /** HITS oracle: the same 10 rounds unrolled as MATERIALIZED CTEs (the
    * [[pagerankSql]] double-reference discipline — each score CTE is read
    * by the contribution join AND the norm). Float: per-endpoint sums of
    * ≤ |nodes| doubles + one norm division per round; round(…,6) final. */
  private def hitsSql: String = {
    val edges =
      """SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2"""
    val head =
      s"""WITH e AS MATERIALIZED ($edges),
         | n AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
         | h0 AS MATERIALIZED (SELECT node, 1.0 AS h FROM n)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = s"h${i - 1}"
      s""",
         | ar$i AS MATERIALIZED (SELECT e.dst AS node, sum($p.h * e.w) AS x
         |   FROM e JOIN $p ON e.src = $p.node GROUP BY 1),
         | az$i AS MATERIALIZED (SELECT sqrt(sum(x * x)) AS z FROM ar$i),
         | a$i AS MATERIALIZED (SELECT n.node,
         |     CASE WHEN (SELECT z FROM az$i) = 0 THEN 0.0
         |          ELSE coalesce(ar$i.x, 0.0) / (SELECT z FROM az$i) END AS a
         |   FROM n LEFT JOIN ar$i ON n.node = ar$i.node),
         | hr$i AS MATERIALIZED (SELECT e.src AS node, sum(a$i.a * e.w) AS x
         |   FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1),
         | hz$i AS MATERIALIZED (SELECT sqrt(sum(x * x)) AS z FROM hr$i),
         | h$i AS MATERIALIZED (SELECT n.node,
         |     CASE WHEN (SELECT z FROM hz$i) = 0 THEN 0.0
         |          ELSE coalesce(hr$i.x, 0.0) / (SELECT z FROM hz$i) END AS h
         |   FROM n LEFT JOIN hr$i ON n.node = hr$i.node)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT CAST(n.node AS BIGINT) AS node, round(h$iters.h, 6) AS hub,
         |       round(a$iters.a, 6) AS auth
         |FROM n JOIN h$iters ON n.node = h$iters.node
         |       JOIN a$iters ON n.node = a$iters.node
         |ORDER BY node""".stripMargin
  }

  private def pagerankSql: String = {
    val edges =
      """SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2"""
    val head =
      s"""WITH e AS MATERIALIZED ($edges),
         | n AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
         | nn AS MATERIALIZED (SELECT count(*) AS c FROM n),
         | deg AS MATERIALIZED (SELECT src, sum(w) AS tw FROM e GROUP BY 1),
         | pr0 AS MATERIALIZED (SELECT node, 1.0/(SELECT c FROM nn) AS pr FROM n)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = s"pr${i - 1}"
      s""",
         | c$i AS MATERIALIZED (SELECT e.dst AS node, sum($p.pr * e.w / deg.tw) AS m
         |   FROM e JOIN $p ON e.src = $p.node JOIN deg ON deg.src = e.src GROUP BY 1),
         | d$i AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS dm FROM $p
         |   WHERE node NOT IN (SELECT src FROM deg)),
         | pr$i AS MATERIALIZED (SELECT n.node,
         |     ${1.0 - damping}/(SELECT c FROM nn)
         |     + $damping * (coalesce(c$i.m, 0.0) + (SELECT dm FROM d$i)/(SELECT c FROM nn)) AS pr
         |   FROM n LEFT JOIN c$i ON n.node = c$i.node)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT CAST(node AS BIGINT) AS node, round(pr, 6) AS pr FROM pr$iters ORDER BY node"
  }

  /** SSSP oracle: the same K relaxation rounds unrolled (MATERIALIZED for
    * the same double-reference reason as [[pagerankSql]]); Inf is the
    * library sentinel so unreached rows filter identically. */
  private def ssspSql: String = {
    val inf = graft.operators.Sssp.Inf
    val edges =
      """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           1000000 // (count(*) + 1) + 1 AS cost
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2"""
    val head =
      s"""WITH e AS MATERIALIZED ($edges),
         | n AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
         | d0 AS MATERIALIZED (SELECT node,
         |   CASE WHEN node = 0 THEN 0 ELSE $inf END AS dist FROM n)""".stripMargin
    val rounds = (1 to ssspRounds).map { i =>
      val p = s"d${i - 1}"
      s""",
         | m$i AS MATERIALIZED (SELECT e.dst AS node, min($p.dist + e.cost) AS md
         |   FROM e JOIN $p ON e.src = $p.node WHERE $p.dist < $inf GROUP BY 1),
         | d$i AS MATERIALIZED (SELECT $p.node,
         |     least($p.dist, coalesce(m$i.md, $p.dist)) AS dist
         |   FROM $p LEFT JOIN m$i ON $p.node = m$i.node)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
         |FROM d$ssspRounds WHERE dist < $inf ORDER BY node""".stripMargin
  }

  /** The SAME K relaxation rounds from every source, unrolled over the
    * (src, node) composite frame — ssspSql generalized. */
  private def closenessSql: String = {
    val inf = graft.operators.Sssp.Inf
    val edges =
      """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           1000000 // (count(*) + 1) + 1 AS cost
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2"""
    val head =
      s"""WITH e AS MATERIALIZED ($edges),
         | n AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
         | d0 AS MATERIALIZED (SELECT node AS s, node, 0 AS dist FROM n)""".stripMargin
    val rounds = (1 to ssspRounds).map { i =>
      val p = s"d${i - 1}"
      s""",
         | m$i AS MATERIALIZED (SELECT $p.s, e.dst AS node,
         |     min($p.dist + e.cost) AS md
         |   FROM e JOIN $p ON e.src = $p.node GROUP BY 1, 2),
         | d$i AS MATERIALIZED (SELECT coalesce($p.s, m$i.s) AS s,
         |     coalesce($p.node, m$i.node) AS node,
         |     least(coalesce($p.dist, $inf), coalesce(m$i.md, $inf)) AS dist
         |   FROM $p FULL JOIN m$i ON $p.s = m$i.s AND $p.node = m$i.node)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT CAST(s AS BIGINT) AS node,
         |  CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(dist) AS BIGINT) AS sum_dist,
         |  round(count(*) * count(*) / CAST(((SELECT count(*) FROM n) - 1)
         |    * sum(dist) AS DOUBLE), 6) AS closeness
         |FROM d$ssspRounds WHERE s <> node AND dist < $inf
         |GROUP BY s ORDER BY node""".stripMargin
  }

  /** Brandes betweenness unrolled: the closenessSql distance CTEs, then
    * the shortest-path DAG, then K Jacobi iterates each for σ (exact
    * BIGINT) and δ (doubles, per-term order matched to the operator:
    * CAST(σu AS DOUBLE) / σv * (1 + δv) — same IEEE op sequence). */
  private def betweennessSql: String = {
    val inf = graft.operators.Sssp.Inf
    val k = ssspRounds
    val edges =
      """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           1000000 // (count(*) + 1) + 1 AS cost
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2"""
    val head =
      s"""WITH e AS MATERIALIZED ($edges),
         | n AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
         | d0 AS MATERIALIZED (SELECT node AS s, node, 0 AS dist FROM n)""".stripMargin
    val distRounds = (1 to k).map { i =>
      val p = s"d${i - 1}"
      s""",
         | m$i AS MATERIALIZED (SELECT $p.s, e.dst AS node,
         |     min($p.dist + e.cost) AS md
         |   FROM e JOIN $p ON e.src = $p.node GROUP BY 1, 2),
         | d$i AS MATERIALIZED (SELECT coalesce($p.s, m$i.s) AS s,
         |     coalesce($p.node, m$i.node) AS node,
         |     least(coalesce($p.dist, $inf), coalesce(m$i.md, $inf)) AS dist
         |   FROM $p FULL JOIN m$i ON $p.s = m$i.s AND $p.node = m$i.node)""".stripMargin
    }.mkString
    val dag =
      s""",
         | dd AS MATERIALIZED (SELECT * FROM d$k WHERE dist < $inf),
         | dag AS MATERIALIZED (SELECT du.s, du.node AS u, dv.node AS v
         |   FROM dd du JOIN e ON e.src = du.node
         |   JOIN dd dv ON dv.s = du.s AND dv.node = e.dst
         |              AND du.dist + e.cost = dv.dist),
         | sg0 AS MATERIALIZED (SELECT node AS s, node,
         |     CAST(1 AS BIGINT) AS sig FROM n)""".stripMargin
    val sigRounds = (1 to k).map { i =>
      val p = s"sg${i - 1}"
      s""",
         | sg$i AS MATERIALIZED (
         |   SELECT s, node, sig FROM sg0
         |   UNION ALL
         |   SELECT dag.s, dag.v AS node, CAST(sum(p.sig) AS BIGINT) AS sig
         |   FROM dag JOIN $p p ON p.s = dag.s AND p.node = dag.u
         |   WHERE dag.v <> dag.s GROUP BY 1, 2)""".stripMargin
    }.mkString
    val delRounds = (1 to k).map { i =>
      val p = s"dl${i - 1}"
      s""",
         | dl$i AS MATERIALIZED (SELECT dag.s, dag.u AS node,
         |     sum(CAST(su.sig AS DOUBLE) / sv.sig
         |         * (1.0 + coalesce(p.del, 0.0))) AS del
         |   FROM dag JOIN sg$k su ON su.s = dag.s AND su.node = dag.u
         |   JOIN sg$k sv ON sv.s = dag.s AND sv.node = dag.v
         |   LEFT JOIN $p p ON p.s = dag.s AND p.node = dag.v
         |   GROUP BY 1, 2)""".stripMargin
    }.mkString
    val dl0 =
      s""",
         | dl0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS s,
         |     CAST(NULL AS BIGINT) AS node, CAST(NULL AS DOUBLE) AS del
         |   WHERE false)""".stripMargin
    head + distRounds + dag + sigRounds + dl0 + delRounds +
      s"""
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  round(coalesce(b.bc, 0.0), 6) AS betweenness
         |FROM n LEFT JOIN (SELECT node, sum(del) AS bc FROM dl$k
         |  WHERE s <> node GROUP BY 1) b ON b.node = n.node
         |ORDER BY node""".stripMargin
  }

  /** Eccentricity oracle: the closenessSql all-source distance CTEs with
    * the extremal rollup + broadcast radius/diameter flags. */
  private def eccentricitySql: String = {
    val inf = graft.operators.Sssp.Inf
    val edges =
      """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           1000000 // (count(*) + 1) + 1 AS cost
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2"""
    val head =
      s"""WITH e AS MATERIALIZED ($edges),
         | n AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
         | d0 AS MATERIALIZED (SELECT node AS s, node, 0 AS dist FROM n)""".stripMargin
    val rounds = (1 to ssspRounds).map { i =>
      val p = s"d${i - 1}"
      s""",
         | m$i AS MATERIALIZED (SELECT $p.s, e.dst AS node,
         |     min($p.dist + e.cost) AS md
         |   FROM e JOIN $p ON e.src = $p.node GROUP BY 1, 2),
         | d$i AS MATERIALIZED (SELECT coalesce($p.s, m$i.s) AS s,
         |     coalesce($p.node, m$i.node) AS node,
         |     least(coalesce($p.dist, $inf), coalesce(m$i.md, $inf)) AS dist
         |   FROM $p FULL JOIN m$i ON $p.s = m$i.s AND $p.node = m$i.node)""".stripMargin
    }.mkString
    head + rounds +
      s""",
         | ecc AS (SELECT s AS node, CAST(max(dist) AS BIGINT) AS ecc,
         |     CAST(count(*) AS BIGINT) AS n_reached
         |   FROM d$ssspRounds WHERE s <> node AND dist < $inf GROUP BY 1),
         | rd AS (SELECT min(ecc) AS radius, max(ecc) AS diameter FROM ecc)
         |SELECT CAST(node AS BIGINT) AS node, ecc, n_reached,
         |  ecc = rd.radius AS is_center, ecc = rd.diameter AS is_periphery
         |FROM ecc CROSS JOIN rd ORDER BY node""".stripMargin
  }

  private val kcoreK = 3
  private val kcoreRounds = 8
  private val labelpropRounds = 4

  /** Same R synchronous label-propagation rounds unrolled as MATERIALIZED
    * CTEs over the shared co-occurrence edge SQL (the kcoreSql pattern —
    * un-hinted inlining would copy the label subtree exponentially). The
    * per-round argmax is a row_number window ordered (count DESC, label
    * ASC) — the exact tie-break the operator declares. Returns the CTE
    * prefix (ending after l{R}); graph_labelprop and graph_modularity
    * append their own final SELECTs. */
  /** Shared co-occurrence edge CTE prefix (capped buckets, ≥30 shared,
    * canonical u1 < u2, plus the doubled adjacency) — the SQL twin of
    * `Triangles.cooccurEdges`, reused by every graph oracle below. */
  private def edgeCtes: String =
    s"""WITH ua AS MATERIALIZED (SELECT user_id, d, event_type FROM
       |     (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
       |             event_type FROM events)
       |   QUALIFY count(*) OVER (PARTITION BY d, event_type) <= 65536),
       | e0 AS MATERIALIZED (SELECT a.user_id AS u1, b.user_id AS u2
       |     FROM ua a JOIN ua b ON a.d = b.d AND a.event_type = b.event_type
       |                         AND a.user_id < b.user_id
       |     GROUP BY 1, 2 HAVING count(*) >= 30),
       | adj AS MATERIALIZED (SELECT u1 AS u, u2 AS v FROM e0
       |   UNION ALL SELECT u2, u1 FROM e0)""".stripMargin

  private def labelpropCtes: String = {
    val head = edgeCtes +
      s""",
         | l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM adj)""".stripMargin
    val rounds = (1 to labelpropRounds).map { i =>
      val p = s"l${i - 1}"
      s""",
         | c$i AS MATERIALIZED (SELECT adj.u AS node, $p.lab, count(*) AS c
         |   FROM adj JOIN $p ON adj.v = $p.node GROUP BY 1, 2),
         | l$i AS MATERIALIZED (SELECT node, lab FROM
         |     (SELECT node, lab, row_number() OVER
         |        (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c$i)
         |   WHERE rn = 1)""".stripMargin
    }.mkString
    head + rounds
  }

  private def labelpropSql: String =
    labelpropCtes +
      s""",
         | users AS (SELECT DISTINCT user_id FROM events)
         |SELECT user_id, CAST(coalesce(lab, user_id) AS BIGINT) AS community
         |FROM users LEFT JOIN l$labelpropRounds lr ON lr.node = users.user_id
         |ORDER BY 1""".stripMargin

  /** Newman modularity of the labelprop partition: per community,
    * m_in/m − (deg_c/2m)² from exact integer edge/degree counts; the only
    * float work is the final per-community chain (round 6). */
  private def modularitySql: String =
    labelpropCtes +
      s""",
         | users AS (SELECT DISTINCT user_id FROM events),
         | lp AS MATERIALIZED (SELECT user_id AS node,
         |     CAST(coalesce(lab, user_id) AS BIGINT) AS lab
         |   FROM users LEFT JOIN l$labelpropRounds lr
         |     ON lr.node = users.user_id),
         | m AS (SELECT count(*) AS m FROM e0),
         | inn AS (SELECT la.lab AS community, count(*) AS m_in
         |   FROM e0 JOIN lp la ON e0.u1 = la.node
         |           JOIN lp lb ON e0.u2 = lb.node
         |   WHERE la.lab = lb.lab GROUP BY 1),
         | degc AS (SELECT lp.lab AS community, count(*) AS n_nodes,
         |     CAST(sum(coalesce(d.dg, 0)) AS BIGINT) AS deg_sum
         |   FROM lp LEFT JOIN (SELECT u, count(*) AS dg FROM adj GROUP BY 1) d
         |     ON d.u = lp.node GROUP BY 1)
         |SELECT degc.community, n_nodes,
         |  CAST(coalesce(m_in, 0) AS BIGINT) AS m_in, deg_sum,
         |  CASE WHEN m.m = 0 THEN 0.0 ELSE
         |    round(CAST(coalesce(m_in, 0) AS DOUBLE) / m.m
         |      - (CAST(deg_sum AS DOUBLE) / (2 * m.m))
         |        * (CAST(deg_sum AS DOUBLE) / (2 * m.m)), 6) END AS q_term
         |FROM degc LEFT JOIN inn ON inn.community = degc.community
         |     CROSS JOIN m
         |ORDER BY 1""".stripMargin

  /** Degree assortativity (Newman, *Assortative mixing in networks*, PRL
    * 2002): Pearson correlation of endpoint degrees over the doubled edge
    * list — every sufficient statistic an exact integer sum. */
  private def assortativitySql: String =
    edgeCtes +
      s""",
         | deg AS (SELECT u, count(*) AS dg FROM adj GROUP BY 1),
         | p AS (SELECT dx.dg AS dx, dy.dg AS dy FROM adj
         |   JOIN deg dx ON dx.u = adj.u JOIN deg dy ON dy.u = adj.v),
         | s AS (SELECT count(*) AS m2, sum(dx) AS sx, sum(dy) AS sy,
         |     sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy
         |   FROM p)
         |SELECT CAST(m2 // 2 AS BIGINT) AS m,
         |  CASE WHEN m2 = 0 OR (m2 * sxx - sx * sx) = 0
         |         OR (m2 * syy - sy * sy) = 0 THEN 0.0
         |    ELSE round(CAST(m2 * sxy - sx * sy AS DOUBLE) /
         |      sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE) *
         |           CAST(m2 * syy - sy * sy AS DOUBLE)), 6)
         |  END AS assortativity
         |FROM s""".stripMargin

  /** The SAME R synchronous peel rounds [[graft.operators.KCore]] runs,
    * unrolled as MATERIALIZED CTEs (the ssspSql pattern — DuckDB inlines
    * chained CTEs exponentially without the keyword) over the shared
    * co-occurrence edge construction. */
  private def kcoreSql: String = {
    val head =
      s"""WITH ua AS MATERIALIZED (SELECT user_id, d, event_type FROM
         |     (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
         |             event_type FROM events)
         |   QUALIFY count(*) OVER (PARTITION BY d, event_type) <= 65536),
         | e0 AS MATERIALIZED (SELECT a.user_id AS u1, b.user_id AS u2
         |     FROM ua a JOIN ua b ON a.d = b.d AND a.event_type = b.event_type
         |                         AND a.user_id < b.user_id
         |     GROUP BY 1, 2 HAVING count(*) >= 30)""".stripMargin
    val rounds = (1 to kcoreRounds).map { i =>
      val p = s"e${i - 1}"
      s""",
         | d$i AS MATERIALIZED (SELECT u, count(*) AS dg FROM
         |     (SELECT u1 AS u FROM $p UNION ALL SELECT u2 FROM $p)
         |   GROUP BY 1),
         | ok$i AS MATERIALIZED (SELECT u FROM d$i WHERE dg >= $kcoreK),
         | e$i AS MATERIALIZED (SELECT u1, u2 FROM $p
         |   WHERE u1 IN (SELECT u FROM ok$i)
         |     AND u2 IN (SELECT u FROM ok$i))""".stripMargin
    }.mkString
    head + rounds +
      s""",
         | core AS MATERIALIZED (SELECT u, count(*) AS dg FROM
         |     (SELECT u1 AS u FROM e$kcoreRounds
         |      UNION ALL SELECT u2 FROM e$kcoreRounds)
         |   GROUP BY 1),
         | users AS (SELECT DISTINCT user_id AS u FROM events)
         |SELECT users.u AS user_id,
         |  CAST(coalesce(dg, 0) AS BIGINT) AS core_deg
         |FROM users LEFT JOIN core ON core.u = users.u ORDER BY 1""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the census surface: the canonical edge list itself, hash-checked
    // against the same capped/thresholded co-occurrence CTE every graph
    // oracle below builds on (edgeCtes is the single source of truth)
    "graph_census" -> (edgeCtes +
      """
        |SELECT CAST(u1 AS BIGINT) AS u1, CAST(u2 AS BIGINT) AS u2
        |FROM e0 ORDER BY u1, u2""".stripMargin),
    "graph_kcore" -> kcoreSql,
    "graph_labelprop" -> labelpropSql,
    "graph_modularity" -> modularitySql,
    "graph_assortativity" -> assortativitySql,
    "graph_closeness" -> closenessSql,
    "graph_eccentricity" -> eccentricitySql,
    "graph_reciprocity" ->
      """WITH e0 AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               count(*) AS w
             FROM orders o
             JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
             WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2),
           mm AS (SELECT CAST(sum(w) AS DOUBLE) / count(*) AS mw FROM e0),
           e AS (SELECT src, dst, w FROM e0, mm WHERE w > mw),
           mut AS (SELECT a.w AS wa, b.w AS wb FROM e a
             JOIN e b ON a.src = b.dst AND a.dst = b.src),
           tot AS (SELECT count(*) AS m, CAST(sum(w) AS BIGINT) AS w_total
             FROM e),
           rec AS (SELECT count(*) AS n_recip,
               CAST(sum(least(wa, wb)) AS BIGINT) AS w_recip FROM mut)
         SELECT m, n_recip,
           round(CAST(n_recip AS DOUBLE) / m, 6) AS reciprocity,
           w_total, w_recip,
           round(CAST(w_recip AS DOUBLE) / w_total, 6) AS w_reciprocity
         FROM tot CROSS JOIN rec""",
    "graph_betweenness" -> betweennessSql,
    "graph_pagerank" -> pagerankSql,
    "graph_hits" -> hitsSql,
    "graph_sssp" -> ssspSql,
    "graph_degree_dist" ->
      """WITH ua AS (SELECT user_id, d, event_type FROM
               (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
                       event_type FROM events)
             QUALIFY count(*) OVER (PARTITION BY d, event_type) <= 65536),
         e AS (SELECT a.user_id AS u1, b.user_id AS u2
               FROM ua a JOIN ua b ON a.d = b.d AND a.event_type = b.event_type
                                   AND a.user_id < b.user_id
               GROUP BY 1, 2 HAVING count(*) >= 30),
         deg AS (SELECT u, count(*) AS degree
                 FROM (SELECT u1 AS u FROM e UNION ALL SELECT u2 FROM e)
                 GROUP BY 1),
         users AS (SELECT DISTINCT user_id FROM events)
         SELECT CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
           count(*) AS n_nodes
         FROM users LEFT JOIN deg ON deg.u = users.user_id
         GROUP BY 1 ORDER BY degree""",
    "graph_components" ->
      """WITH RECURSIVE
         ua AS (SELECT user_id, d, event_type FROM
               (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
                       event_type FROM events)
             QUALIFY count(*) OVER (PARTITION BY d, event_type) <= 65536),
         e AS (SELECT a.user_id AS u1, b.user_id AS u2
               FROM ua a JOIN ua b ON a.d = b.d AND a.event_type = b.event_type
                                   AND a.user_id < b.user_id
               GROUP BY 1, 2 HAVING count(*) >= 30),
         edges AS (SELECT u1 AS u, u2 AS v FROM e
                   UNION ALL SELECT u2, u1 FROM e),
         nodes AS (SELECT DISTINCT u AS id FROM edges),
         reach AS (SELECT id, id AS lbl FROM nodes
                   UNION
                   SELECT ed.v AS id, r.lbl FROM reach r
                     JOIN edges ed ON ed.u = r.id),
         comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
         users AS (SELECT DISTINCT user_id FROM events)
         SELECT users.user_id,
           CAST(coalesce(comp.component, users.user_id) AS BIGINT)
             AS component
         FROM users LEFT JOIN comp ON comp.id = users.user_id
         ORDER BY user_id""",
    "graph_clustering" ->
      """WITH ua AS (SELECT user_id, d, event_type FROM
               (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
                       event_type FROM events)
             QUALIFY count(*) OVER (PARTITION BY d, event_type) <= 65536),
         e AS (SELECT a.user_id AS u1, b.user_id AS u2
               FROM ua a JOIN ua b ON a.d = b.d AND a.event_type = b.event_type
                                   AND a.user_id < b.user_id
               GROUP BY 1, 2 HAVING count(*) >= 30),
         tri AS (SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c
                 FROM e e1 JOIN e e2 ON e2.u1 = e1.u2
                           JOIN e e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2),
         users AS (SELECT DISTINCT user_id AS u FROM events),
         deg AS (SELECT u, count(*) AS dg
                 FROM (SELECT u1 AS u FROM e UNION ALL SELECT u2 FROM e)
                 GROUP BY 1),
         tc AS (SELECT u, count(*) AS n_tri
                FROM (SELECT unnest([a, b, c]) AS u FROM tri) GROUP BY 1)
         SELECT users.u AS user_id,
           CAST(coalesce(dg, 0) AS BIGINT) AS degree,
           CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
           round(CASE WHEN coalesce(dg, 0) >= 2
             THEN 2.0 * coalesce(n_tri, 0)
                  / (coalesce(dg, 0) * (coalesce(dg, 0) - 1))
             ELSE 0.0 END, 6) AS coeff
         FROM users LEFT JOIN deg ON deg.u = users.u
                    LEFT JOIN tc ON tc.u = users.u ORDER BY user_id""",
    "graph_linkpred" ->
      """WITH ua AS MATERIALIZED (SELECT user_id, d, event_type FROM
               (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
                       event_type FROM events)
             QUALIFY count(*) OVER (PARTITION BY d, event_type) <= 65536),
         e AS MATERIALIZED (SELECT a.user_id AS u1, b.user_id AS u2
               FROM ua a JOIN ua b ON a.d = b.d AND a.event_type = b.event_type
                                   AND a.user_id < b.user_id
               GROUP BY 1, 2 HAVING count(*) >= 30),
         adj AS MATERIALIZED (SELECT u1 AS u, u2 AS v FROM e
               UNION ALL SELECT u2, u1 FROM e),
         deg AS MATERIALIZED (SELECT u, count(*) AS dg FROM adj GROUP BY 1),
         cand AS (SELECT l.v AS a, r.v AS b, count(*) AS cn,
               sum(CAST(1.0 / ln(deg.dg) AS DECIMAL(38,15))) AS aa
             FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
             JOIN deg ON deg.u = l.u
             GROUP BY 1, 2 HAVING count(*) >= 2),
         nonadj AS (SELECT * FROM cand WHERE NOT EXISTS
             (SELECT 1 FROM e WHERE e.u1 = cand.a AND e.u2 = cand.b))
         SELECT a, b, CAST(cn AS BIGINT) AS cn,
           round(CAST(cn AS DOUBLE) / (da.dg + db.dg - cn), 6) AS jaccard,
           round(CAST(aa AS DOUBLE), 6) AS adamic_adar
         FROM nonadj JOIN deg da ON da.u = nonadj.a
                     JOIN deg db ON db.u = nonadj.b
         ORDER BY a, b"""
  )
}
