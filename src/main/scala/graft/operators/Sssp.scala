package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Single-source shortest paths with K bounded relaxation rounds
  * (Bellman–Ford's synchronous form — the Pregel SSSP example from
  * Malewicz et al., *Pregel*, SIGMOD 2010, §5.2). The declared semantics
  * are "shortest distance using at most K edges" for a FIXED K, so both
  * engines (and both dispatch branches) compute the identical frame
  * whether or not the graph has converged — convergence is a property of
  * K, never a cross-engine coin flip. All arithmetic is exact BIGINT
  * (integer costs, min relaxation), so results are bit-identical under any
  * partitioning — no float-order discipline needed anywhere.
  *
  * Over the two [[Superstep]] branches: below the gate K rounds of driver
  * relaxation; at or above it, per round one equi-join of the distance
  * frame with the persisted edge frame + one min-agg per dst + a left
  * join back — the Pregel superstep as DataFrame algebra, with zero
  * per-round driver actions (min needs no global aggregator, unlike
  * PageRank's dangling mass).
  */
object Sssp {

  val Inf: Long = 1L << 60

  /** @param nodes one `node: long` column
    * @param edges `src`/`dst` (castable to long) + `cost: long` ≥ 0
    * @return (node, dist) for nodes reachable within `rounds` edges */
  def run(nodes: DataFrame, edges: DataFrame, source: Long, rounds: Int,
      distributedMinEdges: Long = Superstep.DefaultMinEdges): DataFrame = {
    val e = Superstep.longs(edges, "src", "dst", "cost")
    val n = Superstep.longs(nodes, "node")
    Superstep.collectBelow(e, distributedMinEdges)(Superstep.triple) match {
      case Some(es) =>
        val ns = Superstep.ids(n)
        val dist = relaxFrom(ns, es, source, rounds)
        Superstep.frame(nodes.sparkSession,
          ns.filter(dist(_) < Inf).map(v => Row(v, dist(v))).toSeq,
          "node" -> LongType, "dist" -> LongType)
      case None =>
        val tr = new Tracked
        val ep = tr.persist(e)
        var d = tr.snap(n.withColumn("dist",
          when(col("node") === source, lit(0L)).otherwise(lit(Inf))))
        for (_ <- 1 to rounds) {
          val relax = ep.join(d.withColumnRenamed("node", "src"), "src")
            .where(col("dist") < Inf)
            .groupBy(col("dst").as("node"))
            .agg(min(col("dist") + col("cost")).as("md"))
          d = tr.snap(d.join(relax, Seq("node"), "left")
            .select(col("node"),
              least(col("dist"), coalesce(col("md"), col("dist"))).as("dist")))
        }
        tr.seal(d.where(col("dist") < Inf))
    }
  }

  /** K synchronous relaxations from `source` over collected (u, v, cost)
    * edges: the driver branch of Sssp, [[AllSourceDistances]] and
    * [[Betweenness]]. Unreached nodes keep [[Inf]]. */
  private[operators] def relaxFrom(ns: Array[Long],
      es: Array[(Long, Long, Long)], source: Long,
      rounds: Int): Map[Long, Long] = {
    var dist = ns.map(v => v -> (if (v == source) 0L else Inf)).toMap
    for (_ <- 1 to rounds) {
      val nd = scala.collection.mutable.Map(dist.toSeq: _*)
      for ((u, v, c) <- es if dist(u) < Inf)
        if (dist(u) + c < nd(v)) nd(v) = dist(u) + c
      dist = nd.toMap
    }
    dist
  }
}
