package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Synchronous label propagation for community detection (Raghavan, Albert
  * & Kumara, *Near linear time algorithm to detect community structures in
  * large-scale networks*, Phys. Rev. E 76, 2007) with a DETERMINISTIC
  * update: every node starts labeled with its own id, and each round every
  * node simultaneously adopts the label that is most frequent among its
  * neighbours, ties broken by the SMALLEST label. The published algorithm
  * breaks ties randomly and updates asynchronously; the (min-label,
  * synchronous) determinization is the standard reproducible variant — it
  * makes the round-R frame a pure function of the graph, which is what a
  * declared query needs (the [[Sssp]]/[[KCore]] fixed-R contract: both
  * engines and both dispatch branches compute the identical frame whether
  * or not round R reached a fixed point).
  *
  * All arithmetic is exact BIGINT (label counts, label compares) — results
  * are bit-stable under any partitioning with zero float discipline.
  *
  * Over the two [[Superstep]] branches: below the gate the R rounds are
  * driver array sweeps over a CSR adjacency; at or above it each round is
  * one join (neighbour label lookup) and two hash aggregates — the
  * (node, label) count, then a per-node `max_by` argmax over
  * (count, −label) — the synchronous update as DataFrame algebra. At 100
  * TB the distributed branch holds: each round shuffles (node, label,
  * count) triples — ids only, bounded by the edge count — and never sorts.
  */
object LabelProp {

  /** @param edges canonical undirected edges, `u1` < `u2`, both long
    * @return (node, community) after `rounds` synchronous updates, one row
    *         per node appearing in `edges` */
  def run(edges: DataFrame, rounds: Int,
      distributedMinEdges: Long = Superstep.DefaultMinEdges): DataFrame = {
    val e = Superstep.longs(edges, "u1", "u2")
    Superstep.collectBelow(e, distributedMinEdges)(
        r => (r.getLong(0), r.getLong(1))) match {
      case Some(es) =>
        // dense CSR adjacency over sorted ids (the Triangles.linkScores
        // layout): index order == id order, so "min label" compares work on
        // indices of the CURRENT labels' values (labels are original ids)
        val ids = {
          val t = scala.collection.mutable.TreeSet.empty[Long]
          es.foreach { case (a, b) => t += a; t += b }
          t.toArray
        }
        val n = ids.length
        val idxOf = ids.zipWithIndex.toMap
        val deg = new Array[Int](n)
        es.foreach { case (a, b) => deg(idxOf(a)) += 1; deg(idxOf(b)) += 1 }
        val adj = Array.tabulate(n)(i => new Array[Int](deg(i)))
        val fill = new Array[Int](n)
        es.foreach { case (a, b) =>
          val (ia, ib) = (idxOf(a), idxOf(b))
          adj(ia)(fill(ia)) = ib; fill(ia) += 1
          adj(ib)(fill(ib)) = ia; fill(ib) += 1
        }
        var lab = Array.tabulate(n)(i => ids(i))
        for (_ <- 1 to rounds) {
          val next = new Array[Long](n)
          val cnt = scala.collection.mutable.LongMap.empty[Long]
          var v = 0
          while (v < n) {
            cnt.clear()
            adj(v).foreach { u => val l = lab(u); cnt(l) = cnt.getOrElse(l, 0L) + 1 }
            var bestLab = Long.MaxValue; var bestC = 0L
            cnt.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && l < bestLab)) { bestLab = l; bestC = c }
            }
            next(v) = bestLab
            v += 1
          }
          lab = next
        }
        Superstep.frame(edges.sparkSession,
          ids.indices.map(i => Row(ids(i), lab(i))),
          "node" -> LongType, "community" -> LongType)
      case None =>
        val tr = new Tracked
        val e0 = tr.persist(e)
        val adj = tr.snap(e0.select(col("u1").as("u"), col("u2").as("v"))
          .union(e0.select(col("u2").as("u"), col("u1").as("v"))))
        var labels = tr.snap(adj.select(col("u").as("node")).distinct()
          .select(col("node"), col("node").as("lab")))
        for (_ <- 1 to rounds) {
          // per-node argmax as a HASH AGGREGATE, not a window (r14): the
          // (count DESC, label ASC) winner is max_by over the (c, -lab)
          // struct — (c, -lab) is unique per (node, lab) group, so the
          // argmax is deterministic with no tie to break — which keeps the
          // round in two pipelined hash aggs instead of paying a per-node
          // SORT under a window (measured at the 100× corpus's 2.9M-edge
          // graph: 55–79 s → see PLANS.md r14). Bit-identical to the window
          // form and to the DuckDB oracle's row_number — GraphSpec pins
          // branch equality and the independent reference.
          labels = tr.snap(adj
            .join(labels.select(col("node").as("v"), col("lab")), Seq("v"))
            .groupBy(col("u").as("node"), col("lab"))
            .agg(count(lit(1)).as("c"))
            .groupBy("node")
            .agg(max_by(col("lab"), struct(col("c"), (-col("lab")).as("nl")))
              .as("lab")))
        }
        tr.seal(labels.select(col("node"), col("lab").as("community")))
    }
  }
}
