package graft.ml

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.StructType

/** Ameva supervised discretizer — González-Abril, Cuberos, Velasco &
  * Ortega, *Ameva: An autonomous discretization algorithm*, Expert Systems
  * with Applications 36(3):5327–5332, 2009: the CAIM paper's own
  * family — the identical top-down greedy boundary loop over the quanta
  * matrix, but scoring candidate cut sets with the contingency chi-square
  * normalized by k(ℓ−1), Ameva(k) = χ²(k) / (k(ℓ−1)), instead of CAIM's
  * max²/M term. Like CAIM it is autonomous: the loop stops when the
  * criterion stops improving, so the bin count is self-selecting (the
  * paper's §3 shows Ameva tends to pick FEWER intervals than CAIM on the
  * same data — a property AmevaSpec witnesses on this corpus).
  *
  * Scale design is CAIM's, shared literally: [[SupervisedHistogram]]
  * builds the per-(feature, value, class) histogram in one scan of the
  * source (two above its bounded collect) with the equal-frequency
  * candidate cap, only a bounded histogram crosses to the driver, and
  * the greedy search is driver-side prefix-sum
  * arithmetic. χ² decomposes per interval (the class marginals C_s are
  * global constants), so adding a cut re-scores ONE split interval in
  * O(S) — the same incremental trick as CAIM's term sum. The fitted model
  * IS a [[CAIMDiscretizerModel]], so save/load and the narrow Bucketizer
  * transform are identical across all three estimators.
  */
class AmevaDiscretizer(override val uid: String)
    extends Estimator[CAIMDiscretizerModel] with CAIMParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("ameva"))

  final val labelCol = new Param[String](this, "labelCol", "class label column")
  final val maxCandidates = new IntParam(this, "maxCandidates",
    "max candidate boundaries per feature", ParamValidators.gt(1))

  setDefault(labelCol -> "label", maxCandidates -> 32768)

  def setInputCols(v: Array[String]): this.type = set(inputCols, v)
  def setOutputCols(v: Array[String]): this.type = set(outputCols, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setMaxCandidates(v: Int): this.type = set(maxCandidates, v)

  override def transformSchema(schema: StructType): StructType = validateIO(schema)

  override def fit(ds: Dataset[_]): CAIMDiscretizerModel = {
    transformSchema(ds.schema)
    val splits = SupervisedHistogram.splits(ds.toDF(), $(inputCols), $(labelCol),
      $(maxCandidates))(AmevaDiscretizer.amevaSelect)
    copyValues(new CAIMDiscretizerModel(uid, splits).setParent(this))
  }

  override def copy(extra: ParamMap): AmevaDiscretizer = defaultCopy(extra)
}

object AmevaDiscretizer extends DefaultParamsReadable[AmevaDiscretizer] {

  /** Greedy Ameva boundary selection over a compressed histogram — same
    * contract as [[CAIMDiscretizer.greedySelect]] (sorted distinct values,
    * m × S class counts, boundaries `[min, cut*, ..., max]`).
    *
    * χ² = N·(Σ_r Σ_s q_rs²/(M_r·C_s) − 1): the inner sum decomposes per
    * interval r because C_s are the GLOBAL class marginals, so we track
    * `sumTerms` = Σ_r Σ_s q_rs²/(M_r·C_s) incrementally exactly as CAIM
    * tracks its term sum; Ameva(k) = N(sumTerms − 1)/(k(ℓ−1)). The loop
    * accepts the best cut while the criterion strictly improves (the
    * paper's autonomous stop — no k < ℓ floor, unlike CAIM).
    */
  private[graft] def amevaSelect(
      values: Array[Double], counts: Array[Array[Long]], nClasses: Int): Array[Double] = {
    val m = values.length
    if (m <= 1) return Array(values.headOption.getOrElse(0.0), values.headOption.getOrElse(0.0))
    val S = math.max(nClasses, 1)
    val prefix = Array.ofDim[Long](m + 1, S)
    var i = 0
    while (i < m) {
      var s = 0
      while (s < S) { prefix(i + 1)(s) = prefix(i)(s) + counts(i)(s); s += 1 }
      i += 1
    }
    val classTotals = prefix(m)
    val n = classTotals.sum
    if (n == 0L || S < 2) return Array(values(0), values(m - 1)).distinct
    // Σ_s q_rs² / (M_r · C_s) for the interval of value indices (lo, hi]
    def term(lo: Int, hi: Int): Double = {
      var tot = 0L; var s = 0
      while (s < S) { tot += prefix(hi)(s) - prefix(lo)(s); s += 1 }
      if (tot == 0L) return 0.0
      var acc = 0.0; s = 0
      while (s < S) {
        val c = prefix(hi)(s) - prefix(lo)(s)
        if (c > 0L && classTotals(s) > 0L)
          acc += c.toDouble * c / (tot.toDouble * classTotals(s))
        s += 1
      }
      acc
    }
    def score(sumTerms: Double, k: Int): Double =
      n.toDouble * (sumTerms - 1.0) / (k.toDouble * (S - 1))

    val accepted = scala.collection.mutable.TreeSet[Int](0, m)
    var sumTerms = term(0, m)
    var k = 1
    var globalAmeva = score(sumTerms, k) // k = 1: χ² of the single interval is 0
    val remaining = scala.collection.mutable.TreeSet[Int]((1 until m): _*)
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
      if (bestP >= 0 && bestScore > globalAmeva) {
        accepted += bestP
        remaining -= bestP
        sumTerms = bestSum
        globalAmeva = bestScore
        k += 1
      } else done = true
    }
    val cuts = accepted.toArray.filter(p => p > 0 && p < m)
      .map(p => (values(p - 1) + values(p)) / 2)
    (values(0) +: cuts :+ values(m - 1)).distinct
  }
}
