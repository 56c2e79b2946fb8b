package graft.ml

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType

/** MDLP supervised discretizer — Fayyad & Irani, *Multi-Interval
  * Discretization of Continuous-Valued Attributes for Classification
  * Learning*, IJCAI 1993: recursive binary splitting on the
  * entropy-minimizing cut, accepted only while information gain clears the
  * Minimal-Description-Length criterion, so the number of bins is
  * self-selecting. This is the standard comparison discretizer of the
  * CAIM paper itself (Kurgan & Cios 2004 §V benchmarks CAIM against it),
  * which makes it the natural second algorithm on the §2.9 surface.
  *
  * Scale design is CAIM's, shared literally: [[SupervisedHistogram]]
  * builds the per-(feature, value, class) histogram in one scan of the
  * source (two above its bounded collect) with the equal-frequency
  * candidate cap, only a bounded histogram crosses to the driver, and
  * the recursive MDL search is a pure
  * driver-side computation over prefix sums — O(depth × candidates ×
  * classes) per feature, candidates ≤ maxCandidates. The fitted model IS
  * a [[CAIMDiscretizerModel]] (boundaries + narrow Bucketizer transform),
  * so save/load and transform behavior are identical across both
  * estimators.
  */
class MDLPDiscretizer(override val uid: String)
    extends Estimator[CAIMDiscretizerModel] with CAIMParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("mdlp"))

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
      $(maxCandidates))(MDLPDiscretizer.mdlpSelect)
    copyValues(new CAIMDiscretizerModel(uid, splits).setParent(this))
  }

  override def copy(extra: ParamMap): MDLPDiscretizer = defaultCopy(extra)
}

object MDLPDiscretizer extends DefaultParamsReadable[MDLPDiscretizer] {

  private val Log2 = math.log(2.0)
  private def log2(x: Double): Double = math.log(x) / Log2

  /** Recursive MDL boundary selection over a compressed histogram.
    *
    * @param values  sorted distinct feature values, length m
    * @param counts  m × S class counts at each value
    * @return boundaries `[min, cut*, ..., max]` — same shape as
    *         [[CAIMDiscretizer.greedySelect]] (cuts at midpoints of
    *         adjacent distinct values), so the shared model/Bucketizer
    *         consumes both.
    *
    * For the interval of value indices (lo, hi]: the accepted cut is the
    * candidate minimizing the weighted child entropy (ties to the
    * smallest index — deterministic), kept iff
    *   gain > (log2(N−1) + log2(3^k − 2) − [k·H − k₁·H₁ − k₂·H₂]) / N
    * (Fayyad–Irani's MDL acceptance), then recursion on both halves.
    * Pure integer prefix sums + double entropy — deterministic.
    */
  private[graft] def mdlpSelect(
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
    // (total, entropy, #classes present) of the interval (lo, hi]
    def stats(lo: Int, hi: Int): (Long, Double, Int) = {
      var tot = 0L
      var s = 0
      while (s < S) { tot += prefix(hi)(s) - prefix(lo)(s); s += 1 }
      if (tot == 0L) return (0L, 0.0, 0)
      var h = 0.0
      var k = 0
      s = 0
      while (s < S) {
        val c = prefix(hi)(s) - prefix(lo)(s)
        if (c > 0) { val p = c.toDouble / tot; h -= p * log2(p); k += 1 }
        s += 1
      }
      (tot, h, k)
    }
    val cuts = scala.collection.mutable.TreeSet.empty[Int]
    def recurse(lo: Int, hi: Int): Unit = {
      if (hi - lo <= 1) return
      val (n, h, k) = stats(lo, hi)
      if (n == 0L || k <= 1) return // pure interval: no cut can gain
      var bestP = -1
      var bestWH = Double.MaxValue
      var p = lo + 1
      while (p < hi) {
        val (nl, hl, _) = stats(lo, p)
        val (nr, hr, _) = stats(p, hi)
        val wh = (nl.toDouble / n) * hl + (nr.toDouble / n) * hr
        if (wh < bestWH) { bestWH = wh; bestP = p }
        p += 1
      }
      if (bestP < 0) return
      val (_, hl, kl) = stats(lo, bestP)
      val (_, hr, kr) = stats(bestP, hi)
      val gain = h - bestWH
      // log2(3^k − 2): exact in long arithmetic up to k=39, the k·log2(3)
      // asymptote beyond (the −2 is then beneath double precision anyway)
      val log3k = if (k <= 39) log2(math.pow(3.0, k) - 2.0) else k * log2(3.0)
      val delta = log3k - (k * h - kl * hl - kr * hr)
      val threshold = (log2(n.toDouble - 1.0) + delta) / n
      if (gain > threshold) {
        cuts += bestP
        recurse(lo, bestP)
        recurse(bestP, hi)
      }
    }
    recurse(0, m)
    val bs = cuts.toArray.map(p => (values(p - 1) + values(p)) / 2)
    (values(0) +: bs :+ values(m - 1)).distinct
  }
}
