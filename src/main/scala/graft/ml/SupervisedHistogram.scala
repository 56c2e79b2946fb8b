package graft.ml

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Superstep

/** The shared supervised-discretization histogram behind CAIM, MDLP,
  * Ameva and ChiMerge: for all features at once, the per-(feature, value,
  * class) count histogram — one aggregation, map-side combined, one
  * shuffle on the compound key. Features whose distinct-value count
  * exceeds `maxCandidates` are compressed onto an equal-frequency value
  * grid (ntile over the DISTINCT values, each bucket represented by its
  * max), so at most maxCandidates × classes cells per feature reach the
  * greedy searches.
  *
  * The histogram takes one of two branches by its size, chosen by ONE
  * bounded collect ([[Superstep.collectBelow]], the dispatch the graph
  * operators use):
  *
  *  - Below features × maxCandidates rows, the collect returns every
  *    (feature, value, class) count, so the source is scanned once and
  *    nothing else runs: the distinct counts and the grid of any capped
  *    feature are driver arithmetic ([[driverGrid]]). The driver then
  *    holds no more rows than the cap already lets the compressed
  *    histogram send it.
  *  - At or above it the histogram is persisted and compressed on the
  *    cluster ([[distributedGrid]]), so the source is scanned twice in
  *    all: once by the collect that chose the branch, once to fill the
  *    cache. The cache is freed before the fit returns, also when a job
  *    fails.
  *
  * Both grids give the same cells (CaimSpec pins them equal), so a fit's
  * cut points do not depend on the branch it took.
  */
private[graft] object SupervisedHistogram {

  /** One histogram cell: (feature index, value, class label, count). */
  type Cell = (Int, Double, String, Long)

  /** A row of [[histogram]] as a cell. */
  val cell: Row => Cell =
    r => (r.getInt(0), r.getDouble(1), r.getString(2), r.getLong(3))

  /** The long-format histogram (fidx, v, y, cnt) of `feats` against
    * `labelCol`: values cast to double, null values dropped, labels
    * compared as strings. */
  def histogram(df: DataFrame, feats: Array[String],
      labelCol: String): DataFrame =
    df.select(posexplode(array(feats.map(c => col(c).cast("double")): _*))
        .as(Seq("fidx", "v")), col(labelCol).cast("string").as("y"))
      .where(col("v").isNotNull)
      .groupBy("fidx", "v", "y").agg(count(lit(1)).as("cnt"))

  /** The fit body of every supervised discretizer
    * ([[SupervisedDiscretizer.fit]]): the histogram of `feats`, then
    * `select(values, counts, nClasses)` per feature, in order. A NaN
    * feature value fails the fit with an IllegalArgumentException naming
    * its column; null values are dropped. The per-feature searches are
    * independent, so they fan out across driver cores, each over its own
    * slice of the histogram. */
  def splits(df: DataFrame, feats: Array[String], labelCol: String,
      maxCandidates: Int)(select: (Array[Double], Array[Array[Long]], Int) =>
      Array[Double]): Array[Array[Double]] = {
    val (labels, byFeat) = collect(df, feats, labelCol, maxCandidates)
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(feats.indices.map { fi =>
      Future {
        val (values, counts) = byFeat.getOrElse(fi,
          (Array.empty[Double], Array.empty[Array[Long]]))
        select(values, counts, labels.length)
      }
    }), Duration.Inf).toArray
  }

  /** @return (sorted class labels,
    *          per-feature-index (sorted distinct values, values × classes counts)) */
  private def collect(df: DataFrame, feats: Array[String], labelCol: String,
      maxCandidates: Int): (Array[String], Map[Int, (Array[Double], Array[Array[Long]])]) = {
    val hist = histogram(df, feats, labelCol)
    val cells = Superstep.collectBelow(hist,
        feats.length.toLong * maxCandidates + 1)(cell) match {
      case Some(all) => driverGrid(all, maxCandidates)
      case None =>
        val held = hist.persist(StorageLevel.MEMORY_AND_DISK)
        try distributedGrid(held, maxCandidates)
        finally held.unpersist(blocking = true)
    }
    val labels = cells.map(_._3).distinct.sorted
    val labelIdx = labels.zipWithIndex.toMap
    val byFeat = cells.groupBy(_._1).map { case (fi, mine) =>
      // NaN is rejected as the Bucketizer of transform rejects it; a
      // capped feature's NaN is its last bucket's representative
      require(!mine.exists(_._2.isNaN),
        s"feature column ${feats(fi)} holds NaN; drop or impute it before fitting")
      val values = mine.map(_._2).distinct.sorted
      val vIdx = values.zipWithIndex.toMap
      val counts = Array.ofDim[Long](values.length, labels.length)
      mine.foreach { case (_, v, y, c) => counts(vIdx(v))(labelIdx(y)) += c }
      fi -> (values, counts)
    }
    (labels, byFeat)
  }

  /** The capped histogram computed on the driver from every cell of the
    * raw histogram: a feature with more than `maxCandidates` distinct
    * values has each value replaced by its bucket's max and the cells
    * regrouped; other features pass through. Values order as Spark orders
    * them (NaN above +∞); the histogram's grouping has already normalized
    * NaN and -0.0.
    *
    * The buckets are ntile's over the distinct values: with nd values in
    * n buckets, the first nd % n hold ⌈nd/n⌉ values and the rest ⌊nd/n⌋.
    * The SQL CASE in [[distributedGrid]] is the same arithmetic. */
  def driverGrid(cells: Array[Cell], maxCandidates: Int): Array[Cell] =
    cells.groupBy(_._1).toArray.flatMap { case (f, mine) =>
      val values = mine.map(_._2).distinctBy(java.lang.Double.doubleToLongBits)
        .sorted(Ordering.Double.TotalOrdering)
      val (nd, n) = (values.length.toLong, maxCandidates.toLong)
      if (nd <= n) mine
      else {
        val (q, rm) = (nd / n, nd % n)
        // 1-based bucket of 1-based rank r, and the last rank of bucket b
        def bucket(r: Long): Long =
          if (r <= rm * (q + 1)) (r - 1) / (q + 1) + 1
          else rm + (r - 1 - rm * (q + 1)) / q + 1
        def last(b: Long): Long =
          if (b <= rm) b * (q + 1) else rm * (q + 1) + (b - rm) * q
        mine.groupMapReduce { case (_, v, y, _) =>
          (bucket(java.util.Arrays.binarySearch(values, v) + 1L), y)
        }(_._4)(_ + _).toArray.map { case ((b, y), c) =>
          (f, values(last(b).toInt - 1), y, c)
        }
      }
    }

  /** The capped histogram computed on the cluster from `hist` (the
    * frame of [[histogram]], persisted by the caller: it is read two or
    * three times). Same cells as [[driverGrid]].
    *
    * A plain `ntile().over(Window.partitionBy("fidx").orderBy("v"))` would
    * funnel every distinct value of one feature through a single task's
    * sort. Instead the distinct values are range-partitioned on
    * (fidx, v) and ranked locally per partition, and EXACT global ranks
    * are recomposed from per-(fidx, partition) row-count offsets (a tiny
    * driver aggregate, ≤ partitions × features rows). The bucket is then
    * pure arithmetic on (rank, nDistinct), so the widest stage is a
    * per-range-slice sort instead of a per-feature one.
    */
  def distributedGrid(hist: DataFrame, maxCandidates: Int): Array[Cell] = {
    val nDistinct = hist.groupBy("fidx").agg(countDistinct(col("v")).as("nd"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (!nDistinct.exists(_._2 > maxCandidates)) hist.collect().map(cell)
    else {
      // the range-partitioned distinct values feed two jobs (slice counts,
      // then the ranked grid), so they are persisted across both
      val parted = hist.select("fidx", "v").distinct()
        .repartitionByRange(col("fidx"), col("v"))
        .withColumn("pid", spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // per-(fidx, pid) counts → cumulative offset of each slice within
        // its feature's global (fidx, v) order
        val sliceCounts = parted.groupBy("fidx", "pid").count().collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
        val offsets: Map[Long, Long] = sliceCounts.groupBy(_._1._1).flatMap {
          case (f, slices) =>
            var acc = 0L
            slices.sortBy(_._1._2).map { case ((_, p), c) =>
              val o = acc; acc += c; ((f.toLong << 32) | p.toLong, o)
            }
        }
        val n = maxCandidates.toLong
        val rep = parted
          .withColumn("r", row_number().over(Window.partitionBy("fidx", "pid")
            .orderBy("v")).cast("long") +
            element_at(typedLit(offsets), shiftleft(col("fidx").cast("long"), 32)
              .bitwiseOR(col("pid").cast("long"))))
          .withColumn("nd", element_at(typedLit(nDistinct), col("fidx")))
          .withColumn("b", expr(
            s"""CASE WHEN r <= (nd % $n) * ((nd DIV $n) + 1)
                THEN (r - 1) DIV ((nd DIV $n) + 1) + 1
                ELSE (nd % $n) + (r - 1 - (nd % $n) * ((nd DIV $n) + 1)) DIV (nd DIV $n) + 1
                END"""))
          .withColumn("vrep", max("v").over(Window.partitionBy("fidx", "b")))
          .select("fidx", "v", "vrep")
        hist.join(rep, Seq("fidx", "v"))
          .groupBy(col("fidx"), col("vrep").as("v"), col("y"))
          .agg(sum("cnt").as("cnt"))
          .collect().map(cell)
      } finally parted.unpersist(blocking = true)
    }
  }
}
