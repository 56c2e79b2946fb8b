package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** k-core extraction with R bounded peeling rounds (Seidman, *Network
  * structure and minimum degree*, Social Networks 1983; the synchronous
  * distributed peel of Montresor, De Pellegrini & Miorandi, *Distributed
  * k-core decomposition*, IEEE TPDS 2013): each round simultaneously
  * removes every node whose degree in the SURVIVING subgraph is < k,
  * together with its incident edges. The declared semantics are "the
  * survivor set after R synchronous rounds" for FIXED R — the
  * [[Sssp]] contract: both engines and both dispatch branches compute the
  * identical frame whether or not round R has reached the fixed point
  * (convergence is a property of R; the spec asserts rounds R and R+1
  * agree on the bench corpus, so the declared frame IS the k-core there).
  * All arithmetic is exact BIGINT (degree counts, threshold compares), so
  * results are bit-stable under any partitioning — no float discipline.
  *
  * Over the two [[Superstep]] branches: below the gate the R rounds are
  * driver set arithmetic; at or above it each round is one degree
  * aggregate over the current edge frame + two semi-joins dropping
  * incident edges — the synchronous peel as DataFrame algebra. At 100 TB
  * the distributed branch holds: the edge frame only SHRINKS round over
  * round, and the degree shuffle is the unavoidable exchange of
  * distributed coreness.
  */
object KCore {

  /** @param edges canonical undirected edges, `u1` < `u2`, both long
    * @return (node, core_deg) survivors after `rounds` peels — core_deg
    *         is the node's degree INSIDE the surviving subgraph */
  def run(edges: DataFrame, k: Long, rounds: Int,
      distributedMinEdges: Long = Superstep.DefaultMinEdges): DataFrame = {
    val e0 = Superstep.longs(edges, "u1", "u2")
    Superstep.collectBelow(e0, distributedMinEdges)(
        r => (r.getLong(0), r.getLong(1))) match {
      case Some(es0) =>
        var es = es0
        def degrees(): scala.collection.mutable.Map[Long, Long] = {
          val deg = scala.collection.mutable.Map.empty[Long, Long]
          for ((a, b) <- es) {
            deg(a) = deg.getOrElse(a, 0L) + 1
            deg(b) = deg.getOrElse(b, 0L) + 1
          }
          deg
        }
        for (_ <- 1 to rounds) {
          val deg = degrees()
          es = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        }
        Superstep.frame(edges.sparkSession,
          degrees().toSeq.sortBy(_._1).map { case (v, d) => Row(v, d) },
          "node" -> LongType, "core_deg" -> LongType)
      case None =>
        val tr = new Tracked
        def degrees(e: DataFrame): DataFrame =
          e.select(col("u1").as("node"))
            .union(e.select(col("u2").as("node")))
            .groupBy("node").agg(count(lit(1)).as("dg"))
        var e = tr.snap(e0)
        for (_ <- 1 to rounds) {
          val ok = degrees(e).where(col("dg") >= k).select("node")
          e = tr.snap(e
            .join(ok.withColumnRenamed("node", "u1"), Seq("u1"), "left_semi")
            .join(ok.withColumnRenamed("node", "u2"), Seq("u2"), "left_semi")
            .select("u1", "u2"))
        }
        tr.seal(degrees(e).withColumnRenamed("dg", "core_deg"))
    }
  }
}
