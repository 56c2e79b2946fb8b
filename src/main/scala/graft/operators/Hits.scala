package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Weighted HITS (Kleinberg, JACM 1999) — hubs & authorities by mutual
  * reinforcement: a ← Eᵀh, h ← Ea, each L2-normalized per round — with the
  * same size dispatch as [[PageRank]]: the iteration runs on whichever
  * side of the executor→driver boundary the AGGREGATED graph's size says
  * it should.
  *
  *  - Below `distributedMinEdges` the (src, dst, w) frame — already
  *    topology-bounded by the caller's weight aggregate — is collected
  *    once by the bounded collect that also picks the branch
  *    ([[PageRank.edgesBelow]]), sorted by (src, dst) so float summation
  *    order is partition-layout independent, and the rounds are driver
  *    arithmetic.
  *  - At or above the gate, per round: one equi-join of the score frame
  *    against the persisted edge frame + one map-side-combined sum per
  *    endpoint, then an L2 norm as a 1-row broadcast scalar (the
  *    agg_ttest shape — never a driver action); lineage RDD-snapped per
  *    round like PageRank's distributed path.
  *
  * Both paths compute the identical fixed point up to float association
  * order (the caller's final round(…, 6) absorbs it; HitsSpec pins
  * driver ≡ distributed on the corpus graph).
  */
object Hits {

  /** @param nodes one `node: long` column — every vertex
    * @param edges `src`/`dst` (castable to long) + `w: long` weights
    * @return (node: long, hub: double, auth: double) UNROUNDED; callers
    *         round for cross-engine comparison */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int,
      distributedMinEdges: Long = 500000L): DataFrame = {
    val s = nodes.sparkSession
    val e = PageRank.longEdges(edges)
    val n = nodes.select(col("node").cast("long").as("node"))
    PageRank.edgesBelow(e, distributedMinEdges) match {
      case Some(es) => driverPath(s, n, es, iters)
      case None =>
        val tr = new Tracked
        distributedPath(s, tr.persist(n), tr.persist(e), iters, tr)
    }
  }

  private def driverPath(s: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, es: Array[(Long, Long, Long)], iters: Int): DataFrame = {
    val ns = nodes.collect().map(_.getLong(0)).sorted
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
    val rows: java.util.List[Row] =
      java.util.Arrays.asList(ns.map(v => Row(v, h(v), a(v))): _*)
    s.createDataFrame(rows, StructType(Seq(
      StructField("node", LongType), StructField("hub", DoubleType),
      StructField("auth", DoubleType))))
  }

  private def distributedPath(s: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, edges: DataFrame, iters: Int, tr: Tracked): DataFrame = {
    var kept: List[org.apache.spark.rdd.RDD[Row]] = Nil
    def snap(df: DataFrame): DataFrame = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kept = rdd :: kept
      s.createDataFrame(rdd, df.schema)
    }
    // normalize by the L2 norm as a 1-row broadcast — constant side by
    // construction, never a per-round driver action
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val z = raw.agg(sqrt(sum(col(c) * col(c))).as("__z"))
      raw.crossJoin(broadcast(z))
        .select(col("node"),
          when(col("__z") === 0.0, 0.0)
            .otherwise(col(c) / col("__z")).as(c))
    }
    var h = snap(nodes.withColumn("h", lit(1.0)))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = nodes.join(
        edges.join(h.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("h") * col("w")).as("a")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0.0)).as("a"))
      a = snap(normalized(aRaw, "a"))
      val hRaw = nodes.join(
        edges.join(a.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum(col("a") * col("w")).as("h")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"))
      h = snap(normalized(hRaw, "h"))
    }
    val out = tr.seal(h.join(a, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("auth")))
    kept.foreach(_.unpersist(blocking = false))
    out
  }
}
