package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Weighted HITS (Kleinberg, JACM 1999) — hubs & authorities by mutual
  * reinforcement: a ← Eᵀh, h ← Ea, each L2-normalized per round — over
  * the two [[Superstep]] branches.
  *
  *  - Driver branch: the (src, dst, w) rows — already topology-bounded by
  *    the caller's weight aggregate — feed the rounds as driver
  *    arithmetic in (src, dst) order.
  *  - Distributed branch: per round one equi-join of the score frame
  *    against the persisted edge frame + one map-side-combined sum per
  *    endpoint, then an L2 norm as a 1-row broadcast scalar (the
  *    agg_ttest shape — never a driver action).
  *
  * Both branches compute the identical fixed point up to float
  * association order (the caller's final round(…, 6) absorbs it;
  * GraphSpec pins driver ≡ distributed on the corpus graph).
  */
object Hits {

  /** @param nodes one `node: long` column — every vertex
    * @param edges `src`/`dst` (castable to long) + `w: long` weights
    * @return (node: long, hub: double, auth: double) UNROUNDED; callers
    *         round for cross-engine comparison */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int,
      distributedMinEdges: Long = Superstep.DefaultMinEdges): DataFrame = {
    val s = nodes.sparkSession
    val e = Superstep.longs(edges, "src", "dst", "w")
    val n = Superstep.longs(nodes, "node")
    Superstep.collectBelow(e, distributedMinEdges)(Superstep.triple) match {
      case Some(es) => driverPath(s, n, es, iters)
      case None =>
        val tr = new Tracked
        distributedPath(tr.persist(n), tr.persist(e), iters, tr)
    }
  }

  private def driverPath(s: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, es: Array[(Long, Long, Long)], iters: Int): DataFrame = {
    val ns = Superstep.ids(nodes)
    var h = ns.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    def l2(m: Map[Long, Double]): Double =
      math.sqrt(ns.iterator.map(v => { val x = m.getOrElse(v, 0.0); x * x }).sum)
    // endpoints absent from `nodes` contribute zero — the same contract
    // as the distributed path, whose inner equi-join against the score
    // frame drops such edges (h(src)/a(dst) would instead throw, making
    // identical input behave differently across the size gate)
    for (_ <- 1 to iters) {
      val ar = scala.collection.mutable.Map.empty[Long, Double]
      for ((src, dst, w) <- es)
        ar.updateWith(dst)(m => Some(m.getOrElse(0.0) + h.getOrElse(src, 0.0) * w))
      val az = l2(ar.toMap)
      a = ns.map(v => v -> (if (az == 0.0) 0.0 else ar.getOrElse(v, 0.0) / az)).toMap
      val hr = scala.collection.mutable.Map.empty[Long, Double]
      for ((src, dst, w) <- es)
        hr.updateWith(src)(m => Some(m.getOrElse(0.0) + a.getOrElse(dst, 0.0) * w))
      val hz = l2(hr.toMap)
      h = ns.map(v => v -> (if (hz == 0.0) 0.0 else hr.getOrElse(v, 0.0) / hz)).toMap
    }
    Superstep.frame(s, ns.map(v => Row(v, h(v), a(v))).toSeq,
      "node" -> LongType, "hub" -> DoubleType, "auth" -> DoubleType)
  }

  private def distributedPath(nodes: DataFrame, edges: DataFrame,
      iters: Int, tr: Tracked): DataFrame = {
    // normalize by the L2 norm as a 1-row broadcast — constant side by
    // construction, never a per-round driver action
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val z = raw.agg(sqrt(sum(col(c) * col(c))).as("__z"))
      raw.crossJoin(broadcast(z))
        .select(col("node"),
          when(col("__z") === 0.0, 0.0)
            .otherwise(col(c) / col("__z")).as(c))
    }
    var h = tr.snap(nodes.withColumn("h", lit(1.0)))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = nodes.join(
        edges.join(h.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("h") * col("w")).as("a")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0.0)).as("a"))
      a = tr.snap(normalized(aRaw, "a"))
      val hRaw = nodes.join(
        edges.join(a.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum(col("a") * col("w")).as("h")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"))
      h = tr.snap(normalized(hRaw, "h"))
    }
    tr.seal(h.join(a, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("auth")))
  }
}
