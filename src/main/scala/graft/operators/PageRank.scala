package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Weighted PageRank with the [[Components]] stats dispatch: the rank
  * fixed-point runs on whichever side of the executor→driver boundary the
  * AGGREGATED graph's size says it should.
  *
  *  - Below `distributedMinEdges`, the (src, dst, w) edge frame — already
  *    reduced from the corpus by the caller's weight aggregate, so bounded
  *    by topology, not data volume — is collected ONCE (the same bounded
  *    collect that picks the branch; see [[PageRank.edgesBelow]]), sorted by
  *    (src, dst) so float summation order is partition-layout independent,
  *    and the 10 rounds run as driver arithmetic: zero further jobs. This
  *    is the Components union-find / CAIM histogram move: when the reduced
  *    state fits comfortably on the driver, iterating distributed frames
  *    buys nothing but per-round scheduling overhead (measured on the
  *    25-node trade graph: 5.2 s of stage latency for microseconds of
  *    arithmetic).
  *  - At or above the gate, rounds stay distributed: per round one
  *    equi-join of the rank frame against the persisted normalized-
  *    transition frame + one map-side-combined sum per dst, rank lineage
  *    RDD-snapped per round (localCheckpoint would strand O(rounds) block
  *    sets). The dangling NODE SET is topology, not rank — computed once;
  *    sink-free graphs run with zero per-round driver actions, sinks pay a
  *    lazy 1-row broadcast (the Pregel global aggregator without driver
  *    synchronization).
  *
  * Both paths compute the identical fixed point (GraphSpec pins equality
  * on the corpus); per-dst float sums differ only in association order,
  * which the caller's final round(…, 6) absorbs.
  */
object PageRank {

  /** @param nodes one `node: long` column — every vertex, sinks included
    * @param edges `src`/`dst` (castable to long) + `w: long` weights
    * @return (node: long, pr: double) — UNROUNDED; callers round for
    *         cross-engine comparison */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int, damping: Double,
      distributedMinEdges: Long = 500000L): DataFrame = {
    val s = nodes.sparkSession
    val e = longEdges(edges)
    val n = nodes.select(col("node").cast("long").as("node"))
    edgesBelow(e, distributedMinEdges) match {
      case Some(es) => driverPath(s, n, es, iters, damping)
      case None =>
        val tr = new Tracked
        distributedPath(s, tr.persist(n), tr.persist(e), iters, damping, tr)
    }
  }

  /** (src, dst, w) cast to long — the edge shape both operators iterate. */
  private[operators] def longEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))

  /** The size dispatch of [[PageRank]] and [[Hits]]: the (src, dst, w)
    * rows, sorted by (src, dst), when fewer than `gate` exist — else None.
    * ONE bounded collect both picks the branch and feeds the driver path,
    * so no edge frame is cached or counted first. The (src, dst) sort
    * makes the driver's fold order — and so its float sums — independent
    * of partition layout (the vec_id-ordered-sample rule). `limit` takes
    * an Int: a gate past Int.MaxValue collects at most Int.MaxValue rows,
    * and a graph that fills them takes the distributed branch. */
  private[operators] def edgesBelow(e: DataFrame,
      gate: Long): Option[Array[(Long, Long, Long)]] =
    if (gate <= 0L) None
    else {
      val cap = math.min(gate, Int.MaxValue.toLong).toInt
      val rows = e.limit(cap).collect()
      if (rows.length >= cap) None
      else Some(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)))
    }

  private def driverPath(s: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, es: Array[(Long, Long, Long)], iters: Int,
      damping: Double): DataFrame = {
    val ns = nodes.collect().map(_.getLong(0)).sorted
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
    val rows: java.util.List[Row] =
      java.util.Arrays.asList(ns.map(v => Row(v, pr(v))): _*)
    s.createDataFrame(rows, StructType(Seq(
      StructField("node", LongType), StructField("pr", DoubleType))))
  }

  private def distributedPath(s: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, edges: DataFrame, iters: Int, damping: Double,
      tr: Tracked): DataFrame = {
    val nN = nodes.count().toDouble
    val ed = tr.persist(edges
      .join(edges.groupBy("src").agg(sum("w").as("tw")), "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("tw")).as("p")))
    val dangNodes = tr.persist(
      nodes.join(ed.select(col("src").as("node")), Seq("node"), "left_anti"))
    val hasDangling = dangNodes.count() > 0
    var kept: List[org.apache.spark.rdd.RDD[Row]] = Nil
    def snap(df: DataFrame): DataFrame = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kept = rdd :: kept
      s.createDataFrame(rdd, df.schema)
    }
    var pr = snap(nodes.withColumn("pr", lit(1.0 / nN)))
    for (_ <- 1 to iters) {
      val contrib = ed.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("p")).as("m"))
      val base = nodes.join(contrib, Seq("node"), "left")
      pr = snap(if (!hasDangling) {
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
    val out = tr.seal(pr)
    kept.foreach(_.unpersist(blocking = false))
    out
  }
}
