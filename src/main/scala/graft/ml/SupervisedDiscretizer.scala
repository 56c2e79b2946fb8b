package graft.ml

import scala.collection.mutable
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.StructType

/** The supervised-discretizer estimator family — CAIM, Ameva, MDLP and
  * ChiMerge. Label column, candidate cap, schema check and fit body are
  * declared here once; a member supplies its uid prefix, its per-feature
  * [[search]] and any default or param of its own.
  *
  * Scale design (SURVEY.md §3.3): one distributed aggregation builds, for
  * all features at once, the per-(feature, value, class) count histogram —
  * map-side combined, shuffled once on the compound key
  * ([[SupervisedHistogram]]). A feature with more than `maxCandidates`
  * distinct values is compressed to an equal-frequency grid, so at most
  * maxCandidates × classes cells per feature reach the search. A
  * histogram of fewer than features × maxCandidates rows reaches the
  * driver whole in one bounded collect — one scan of the source, the
  * grid computed on the driver; a larger one is cached and compressed on
  * the cluster — two scans. Each search is pure driver-side arithmetic
  * over one feature's [[Quanta]] prefix table. `transform` is a narrow
  * Bucketizer pass — splits ship in the task closure; no shuffle, no
  * further driver involvement.
  *
  * The fitted model IS a [[CAIMDiscretizerModel]] for every member, so
  * save/load and the narrow Bucketizer transform are identical across
  * the family.
  */
abstract class SupervisedDiscretizer(override val uid: String)
    extends Estimator[CAIMDiscretizerModel] with CAIMParams with DefaultParamsWritable {

  /** Class / target column (any type comparable by equality). */
  final val labelCol = new Param[String](this, "labelCol", "class label column")
  /** Upper bound on candidate boundaries per feature (distributed practice
    * subsamples candidates; the paper uses all distinct values). */
  final val maxCandidates = new IntParam(this, "maxCandidates",
    "max candidate boundaries per feature", ParamValidators.gt(1))

  setDefault(labelCol -> "label", maxCandidates -> 32768)

  def setInputCols(v: Array[String]): this.type = set(inputCols, v)
  def setOutputCols(v: Array[String]): this.type = set(outputCols, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setMaxCandidates(v: Int): this.type = set(maxCandidates, v)

  /** This member's boundary search over one feature's histogram: sorted
    * distinct values, values × classes counts, class count → boundaries. */
  protected def search: (Array[Double], Array[Array[Long]], Int) => Array[Double]

  override def transformSchema(schema: StructType): StructType = validateIO(schema)

  override def fit(ds: Dataset[_]): CAIMDiscretizerModel = {
    transformSchema(ds.schema)
    val splits = SupervisedHistogram.splits(ds.toDF(), $(inputCols), $(labelCol),
      $(maxCandidates))(search)
    copyValues(new CAIMDiscretizerModel(uid, splits).setParent(this))
  }

  override def copy(extra: ParamMap): SupervisedDiscretizer = defaultCopy(extra)
}

/** One feature's quanta matrix as the searches read it: the sorted
  * distinct values (length m), the class count S and the (m+1) × S
  * prefix table, prefix(i)(s) = count of class s among values(0 until i).
  * A search names cuts by index: cut p puts values(0 until p) left
  * (intervals are right-closed per the paper), so (lo, hi] denotes the
  * values lo until hi.
  */
private[graft] final class Quanta private (values: Array[Double],
    counts: Array[Array[Long]], nClasses: Int) {
  val m: Int = values.length
  val S: Int = math.max(nClasses, 1)
  val prefix: Array[Array[Long]] = Array.ofDim[Long](m + 1, S)
  locally {
    var i = 0
    while (i < m) {
      var s = 0
      while (s < S) { prefix(i + 1)(s) = prefix(i)(s) + counts(i)(s); s += 1 }
      i += 1
    }
  }

  /** Rows in the interval of value indices (lo, hi]. */
  def total(lo: Int, hi: Int): Long = {
    val a = prefix(lo); val b = prefix(hi)
    var tot = 0L; var s = 0
    while (s < b.length) { tot += b(s) - a(s); s += 1 }
    tot
  }

  /** The top-down greedy search of CAIM and Ameva: each step adds the cut
    * that maximizes `score(Σ_r term(r), k)` over k intervals, while the
    * score strictly improves on the best so far (starting at `initial`) —
    * or, with `floor`, unconditionally while k < S. Adding a cut splits
    * exactly one interval, so each candidate is re-scored from three
    * terms; candidates are scanned in index order under a strict `>`, so
    * the lowest index wins ties.
    * @return the accepted cut indices, sorted */
  def topDown(term: (Int, Int) => Double, score: (Double, Int) => Double,
      initial: Double, floor: Boolean): Seq[Int] = {
    val accepted = mutable.TreeSet[Int](0, m)
    val remaining = mutable.TreeSet[Int]((1 until m): _*)
    var sumTerms = term(0, m)
    var k = 1
    var best = initial
    var done = false
    while (!done && remaining.nonEmpty) {
      var bestP = -1
      var bestSum = 0.0
      var bestScore = Double.NegativeInfinity
      remaining.foreach { p =>
        val lo = accepted.maxBefore(p).get
        val hi = accepted.minAfter(p).get
        val cand = sumTerms - term(lo, hi) + term(lo, p) + term(p, hi)
        val sc = score(cand, k + 1)
        if (sc > bestScore) { bestScore = sc; bestSum = cand; bestP = p }
      }
      if (bestP >= 0 && (bestScore > best || (floor && k < S))) {
        accepted += bestP
        remaining -= bestP
        sumTerms = bestSum
        best = bestScore
        k += 1
      } else done = true
    }
    accepted.toSeq.filter(p => p > 0 && p < m)
  }
}

private[graft] object Quanta {

  /** Boundaries `[min, cut*, ..., max]` (the paper's D, SURVEY.md §0) of
    * one feature: `search` picks sorted cut indices over its [[Quanta]],
    * each becomes the midpoint of the two values it separates. A feature
    * of at most one value yields `[v, v]` (`[0.0, 0.0]` when it has
    * none) without a search.
    */
  def boundaries(values: Array[Double], counts: Array[Array[Long]], nClasses: Int)(
      search: Quanta => Iterable[Int]): Array[Double] = {
    if (values.length <= 1) Array.fill(2)(values.headOption.getOrElse(0.0))
    else {
      val cuts = search(new Quanta(values, counts, nClasses)).iterator
        .map(p => (values(p - 1) + values(p)) / 2)
      (values.head +: cuts.toArray :+ values.last).distinct
    }
  }
}
