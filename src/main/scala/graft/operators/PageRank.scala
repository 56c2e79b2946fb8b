package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Weighted PageRank over the two [[Superstep]] branches.
  *
  *  - Driver branch: the (src, dst, w) rows — already reduced from the
  *    corpus by the caller's weight aggregate, so bounded by topology, not
  *    data volume — feed 10 rounds of driver arithmetic in (src, dst)
  *    order.
  *  - Distributed branch: per round one equi-join of the rank frame
  *    against the persisted normalized-transition frame + one
  *    map-side-combined sum per dst. The dangling NODE SET is topology,
  *    not rank — computed once; sink-free graphs run with zero per-round
  *    driver actions, sinks pay a lazy 1-row broadcast (the Pregel global
  *    aggregator without driver synchronization).
  *
  * Both branches compute the identical fixed point (GraphSpec pins
  * equality on the corpus); per-dst float sums differ only in association
  * order, which the caller's final round(…, 6) absorbs.
  */
object PageRank {

  /** @param nodes one `node: long` column — every vertex, sinks included
    * @param edges `src`/`dst` (castable to long) + `w: long` weights
    * @return (node: long, pr: double) — UNROUNDED; callers round for
    *         cross-engine comparison */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int, damping: Double,
      distributedMinEdges: Long = Superstep.DefaultMinEdges): DataFrame = {
    val s = nodes.sparkSession
    val e = Superstep.longs(edges, "src", "dst", "w")
    val n = Superstep.longs(nodes, "node")
    Superstep.collectBelow(e, distributedMinEdges)(Superstep.triple) match {
      case Some(es) => driverPath(s, n, es, iters, damping)
      case None =>
        val tr = new Tracked
        distributedPath(tr.persist(n), tr.persist(e), iters, damping, tr)
    }
  }

  private def driverPath(s: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, es: Array[(Long, Long, Long)], iters: Int,
      damping: Double): DataFrame = {
    val ns = Superstep.ids(nodes)
    val nN = ns.length.toDouble
    val tw = es.groupBy(_._1).map { case (src, g) => src -> g.map(_._3).sum }
    var pr = ns.map(_ -> 1.0 / nN).toMap
    for (_ <- 1 to iters) {
      val dangling = ns.iterator.filterNot(tw.contains).map(pr).sum
      val base = (1.0 - damping) / nN + damping * dangling / nN
      val inflow = scala.collection.mutable.Map.empty[Long, Double]
      for ((src, dst, w) <- es)
        inflow.updateWith(dst)(m => Some(m.getOrElse(0.0) + pr(src) * w / tw(src)))
      pr = ns.map(v => v -> (base + damping * inflow.getOrElse(v, 0.0))).toMap
    }
    Superstep.frame(s, ns.map(v => Row(v, pr(v))).toSeq,
      "node" -> LongType, "pr" -> DoubleType)
  }

  private def distributedPath(nodes: DataFrame, edges: DataFrame,
      iters: Int, damping: Double, tr: Tracked): DataFrame = {
    val nN = nodes.count().toDouble
    val ed = tr.persist(edges
      .join(edges.groupBy("src").agg(sum("w").as("tw")), "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("tw")).as("p")))
    val dangNodes = tr.persist(
      nodes.join(ed.select(col("src").as("node")), Seq("node"), "left_anti"))
    val hasDangling = dangNodes.count() > 0
    var pr = tr.snap(nodes.withColumn("pr", lit(1.0 / nN)))
    for (_ <- 1 to iters) {
      val contrib = ed.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("p")).as("m"))
      val base = nodes.join(contrib, Seq("node"), "left")
      pr = tr.snap(if (!hasDangling) {
        base.select(col("node"),
          (lit((1.0 - damping) / nN) + lit(damping) *
            coalesce(col("m"), lit(0.0))).as("pr"))
      } else {
        val dang = pr.join(dangNodes.select("node"), Seq("node"), "left_semi")
          .agg(coalesce(sum("pr"), lit(0.0)).as("dm"))
        base.crossJoin(broadcast(dang)).select(col("node"),
          (lit((1.0 - damping) / nN) + lit(damping) *
            (coalesce(col("m"), lit(0.0)) + col("dm") / lit(nN))).as("pr"))
      })
    }
    tr.seal(pr)
  }
}
