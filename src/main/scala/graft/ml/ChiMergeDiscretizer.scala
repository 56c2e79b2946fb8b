package graft.ml

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.StructType

/** ChiMerge supervised discretizer — Kerber, *ChiMerge: Discretization of
  * numeric attributes*, AAAI 1992: the BOTTOM-UP member of the supervised
  * family (CAIM / Ameva / MDLP here are all top-down): every distinct
  * value starts as its own interval, and the adjacent pair with the
  * LOWEST 2×S contingency χ² merges repeatedly until every remaining
  * adjacent pair is significantly different (χ² above the df = S−1
  * critical value at the configured significance), i.e. merging further
  * would erase a class-distribution change the data supports.
  *
  * Scale design is CAIM's, shared literally: [[SupervisedHistogram]]
  * builds the per-(feature, value, class) histogram in one scan of the
  * source (two above its bounded collect) with the equal-frequency
  * candidate cap, only a bounded histogram crosses to the driver, and
  * the merge loop is driver prefix-sum arithmetic. A merge changes the
  * pair χ² of at most its two surviving neighbours, so each step
  * recomputes O(1) statistics; the min scan over live pairs bounds the loop at
  * O(candidates²) worst case — the bounded-candidates contract makes that
  * a driver-side constant, never a corpus cost. The fitted model IS a
  * [[CAIMDiscretizerModel]], so save/load and the narrow Bucketizer
  * transform are identical across all four estimators.
  */
class ChiMergeDiscretizer(override val uid: String)
    extends Estimator[CAIMDiscretizerModel] with CAIMParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("chimerge"))

  final val labelCol = new Param[String](this, "labelCol", "class label column")
  final val maxCandidates = new IntParam(this, "maxCandidates",
    "max candidate boundaries per feature", ParamValidators.gt(1))
  /** Significance level for the merge-stop test (0.05 or 0.01 — the two
    * levels Kerber's paper tabulates). */
  final val alpha = new DoubleParam(this, "alpha",
    "chi-square significance level", ParamValidators.inArray(Array(0.05, 0.01)))

  setDefault(labelCol -> "label", maxCandidates -> 4096, alpha -> 0.05)

  def setInputCols(v: Array[String]): this.type = set(inputCols, v)
  def setOutputCols(v: Array[String]): this.type = set(outputCols, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setMaxCandidates(v: Int): this.type = set(maxCandidates, v)
  def setAlpha(v: Double): this.type = set(alpha, v)

  override def transformSchema(schema: StructType): StructType = validateIO(schema)

  override def fit(ds: Dataset[_]): CAIMDiscretizerModel = {
    transformSchema(ds.schema)
    val splits = SupervisedHistogram.splits(ds.toDF(), $(inputCols), $(labelCol),
      $(maxCandidates))(ChiMergeDiscretizer.chiMergeSelect(_, _, _, $(alpha)))
    copyValues(new CAIMDiscretizerModel(uid, splits).setParent(this))
  }

  override def copy(extra: ParamMap): ChiMergeDiscretizer = defaultCopy(extra)
}

object ChiMergeDiscretizer extends DefaultParamsReadable[ChiMergeDiscretizer] {

  /** Upper critical values of χ² at the paper's two significance levels,
    * df = 1..10 (Kerber's Table 1 range; S ≤ 11 classes covers every
    * realistic label domain this library meets — more classes fail fast). */
  private val crit05 = Array(3.841, 5.991, 7.815, 9.488, 11.070, 12.592,
    14.067, 15.507, 16.919, 18.307)
  private val crit01 = Array(6.635, 9.210, 11.345, 13.277, 15.086, 16.812,
    18.475, 20.090, 21.666, 23.209)

  private[graft] def threshold(nClasses: Int, alpha: Double): Double = {
    val df = math.max(nClasses - 1, 1)
    require(df <= 10, s"chimerge critical-value table covers <= 11 classes, got $nClasses")
    if (alpha == 0.01) crit01(df - 1) else crit05(df - 1)
  }

  /** Bottom-up ChiMerge boundary selection over a compressed histogram —
    * same contract as [[CAIMDiscretizer.greedySelect]] (sorted distinct
    * values, m × S class counts, boundaries `[min, cut*, ..., max]`).
    *
    * Pair χ² is the standard 2×S contingency statistic of the two
    * ADJACENT intervals (expected counts from the pair's own marginals;
    * classes absent from both intervals contribute 0 — Kerber's
    * convention). Ties on the minimum merge the LEFTMOST pair, making the
    * loop fully deterministic for the spec's independent reference.
    */
  private[graft] def chiMergeSelect(values: Array[Double],
      counts: Array[Array[Long]], nClasses: Int, alpha: Double): Array[Double] = {
    val m = values.length
    if (m <= 1)
      return Array(values.headOption.getOrElse(0.0), values.headOption.getOrElse(0.0))
    val S = math.max(nClasses, 1)
    val thr = threshold(S, alpha)
    // live interval class-count vectors, in order; start = one per value
    val iv = scala.collection.mutable.ArrayBuffer.tabulate(m)(i => counts(i).clone())
    def pairChi(a: Array[Long], b: Array[Long]): Double = {
      val ra = a.sum.toDouble; val rb = b.sum.toDouble
      val n = ra + rb
      if (ra == 0.0 || rb == 0.0 || n == 0.0) return 0.0
      var chi = 0.0; var s = 0
      while (s < S) {
        val cs = (a(s) + b(s)).toDouble
        if (cs > 0.0) {
          val ea = ra * cs / n; val eb = rb * cs / n
          chi += (a(s) - ea) * (a(s) - ea) / ea + (b(s) - eb) * (b(s) - eb) / eb
        }
        s += 1
      }
      chi
    }
    // boundaries(i) = index of the FIRST histogram value of interval i
    val starts = scala.collection.mutable.ArrayBuffer.tabulate(m)(identity)
    var merged = true
    while (merged && iv.length > 1) {
      var minChi = Double.PositiveInfinity
      var minAt = -1
      var i = 0
      while (i < iv.length - 1) {
        val c = pairChi(iv(i), iv(i + 1))
        if (c < minChi) { minChi = c; minAt = i } // strict <: leftmost tie wins
        i += 1
      }
      if (minChi < thr) {
        var s = 0
        while (s < S) { iv(minAt)(s) += iv(minAt + 1)(s); s += 1 }
        iv.remove(minAt + 1)
        starts.remove(minAt + 1)
      } else merged = false
    }
    val cuts = starts.toArray.filter(_ > 0)
      .map(p => (values(p - 1) + values(p)) / 2)
    (values(0) +: cuts :+ values(m - 1)).distinct
  }
}
