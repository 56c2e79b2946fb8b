package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The two branches every fixed-round graph operator ([[PageRank]],
  * [[Hits]], [[Sssp]], [[AllSourceDistances]], [[KCore]], [[LabelProp]],
  * [[Betweenness]]) chooses between by the size of its reduced edge frame
  * — the bounded executor→driver boundary of [[Components]]' union–find
  * and the CAIM histogram.
  *
  *  - Below `distributedMinEdges` (default [[DefaultMinEdges]]) the edge
  *    rows reach the driver in ONE bounded collect ([[collectBelow]]) —
  *    the same collect that picks the branch, so no edge frame is cached
  *    or counted first — and the rounds are driver arithmetic with zero
  *    per-round jobs. That is what a graph-sized frame deserves: each
  *    distributed round pays its shuffles' stage latency for microseconds
  *    of math (measured 5.2 s on the 25-node trade graph). The rows
  *    arrive sorted over all columns, so the driver's fold order — and so
  *    every float sum — does not depend on partition layout.
  *  - At or above the gate the rounds stay distributed: each round is a
  *    Pregel superstep (Malewicz et al., SIGMOD 2010) written as DataFrame
  *    algebra — equi-joins and map-side-combined aggregates against the
  *    persisted edge frame — snapshotted with [[Tracked.snap]], so the plan
  *    never grows with the round count and no per-round driver action
  *    runs. The operator's `seal` materializes the result, then frees the
  *    edge cache and every snapshot.
  *
  * Each operator keeps its own algorithm contract (fixed round count,
  * exact BIGINT arithmetic or a stated float order); GraphSpec pins
  * driver ≡ distributed for every one of them on the corpus.
  */
object Superstep {

  /** The reduced-edge count at which the rounds leave the driver. */
  val DefaultMinEdges: Long = 500000L

  /** `cs` cast to long under their own names — the id/weight columns
    * every operator iterates over. */
  private[operators] def longs(df: DataFrame, cs: String*): DataFrame =
    df.select(cs.map(c => col(c).cast("long").as(c)): _*)

  /** The size dispatch: `df`'s rows mapped by `row` and sorted, when fewer
    * than `gate` exist — else None (and always None for `gate <= 0`). ONE
    * bounded collect both picks the branch and feeds the driver path.
    * `row` should keep every column, so the sort is total and the fold
    * order is the same under any partitioning. `limit` takes an Int: a
    * gate past Int.MaxValue collects at most Int.MaxValue rows, and a
    * frame that fills them takes the distributed branch. */
  private[operators] def collectBelow[T: Ordering: ClassTag](df: DataFrame,
      gate: Long)(row: Row => T): Option[Array[T]] =
    if (gate <= 0L) None
    else {
      val cap = math.min(gate, Int.MaxValue.toLong).toInt
      val rows = df.limit(cap).collect()
      if (rows.length >= cap) None else Some(rows.map(row).sorted)
    }

  /** (src, dst, weight-or-cost) of a three-long-column edge row. */
  private[operators] val triple: Row => (Long, Long, Long) =
    r => (r.getLong(0), r.getLong(1), r.getLong(2))

  /** The sorted ids of a one-long-column node frame (a driver collect). */
  private[operators] def ids(nodes: DataFrame): Array[Long] =
    nodes.collect().map(_.getLong(0)).sorted

  /** A driver branch's result rows as a local frame. */
  private[operators] def frame(s: SparkSession, rows: Seq[Row],
      fields: (String, DataType)*): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))
}
