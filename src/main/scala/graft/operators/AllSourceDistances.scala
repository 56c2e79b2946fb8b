package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** All-sources bounded-hop shortest distances — [[Sssp]]'s synchronous
  * Bellman–Ford relaxation run from EVERY node at once over the composite
  * (src, node) state frame: the distance matrix closeness/eccentricity
  * centralities consume (Wasserman & Faust, *Social Network Analysis*,
  * 1994 ch. 5). Same fixed-K contract: K relaxation rounds bound paths at
  * K edges, so both engines and both dispatch branches compute the
  * identical frame regardless of convergence; all arithmetic exact BIGINT
  * (min-relaxation over integer costs) — bit-stable under any
  * partitioning.
  *
  * Over the two [[Superstep]] branches: below the gate all sources relax
  * in one driver loop (n·K·m integer ops); at or above it each round is
  * ONE equi-join of the (src, node, dist) frame with the persisted edges
  * + one min-agg per (src, dst) + a full join back — the Pregel superstep
  * with the source id carried as state. At 100 TB the frame is
  * n·reachable — use it for graph-sized aggregates (nation trade, cluster
  * summaries), not billion-node all-pairs (that product is the
  * ALGORITHM'S size, not a plan defect; sample sources instead).
  */
object AllSourceDistances {

  val Inf: Long = Sssp.Inf

  /** @param nodes one `node: long` column
    * @param edges `src`/`dst` (castable to long) + `cost: long` ≥ 0
    * @return (src, node, dist) for pairs reachable within `rounds` edges,
    *         including the trivial (v, v, 0) rows */
  def run(nodes: DataFrame, edges: DataFrame, rounds: Int,
      distributedMinEdges: Long = Superstep.DefaultMinEdges): DataFrame = {
    val e = Superstep.longs(edges, "src", "dst", "cost")
    val n = Superstep.longs(nodes, "node")
    Superstep.collectBelow(e, distributedMinEdges)(Superstep.triple) match {
      case Some(es) =>
        val ns = Superstep.ids(n)
        val rows = ns.toSeq.flatMap { source =>
          val dist = Sssp.relaxFrom(ns, es, source, rounds)
          ns.filter(dist(_) < Inf).map(v => Row(source, v, dist(v)))
        }
        Superstep.frame(nodes.sparkSession, rows,
          "src" -> LongType, "node" -> LongType, "dist" -> LongType)
      case None =>
        val tr = new Tracked
        tr.seal(relax(n, tr.persist(e), rounds, tr))
    }
  }

  /** The distributed branch's K rounds over long-typed `nodes`/`edges`:
    * (src, node, dist) of the reachable pairs, every round snapshotted on
    * `tr` and left for the caller's seal to free. [[Betweenness]] reads
    * its distances from here, on its own ledger. */
  private[operators] def relax(nodes: DataFrame, edges: DataFrame,
      rounds: Int, tr: Tracked): DataFrame = {
    var d = tr.snap(nodes.select(col("node").as("src"), col("node"),
      lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val best = edges.withColumnRenamed("src", "node")
        .join(d.withColumnRenamed("node", "u")
          .withColumnRenamed("src", "osrc"), col("u") === col("node"))
        .groupBy(col("osrc").as("src"), col("dst").as("node"))
        .agg(min(col("dist") + col("cost")).as("md"))
      d = tr.snap(d.join(best, Seq("src", "node"), "full")
        .select(col("src"), col("node"),
          least(coalesce(col("dist"), lit(Inf)),
            coalesce(col("md"), lit(Inf))).as("dist")))
    }
    d.where(col("dist") < Inf)
  }
}
