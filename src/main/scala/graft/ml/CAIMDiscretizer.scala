package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.feature.Bucketizer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType, StructField, StructType}

/** Shared params for the CAIM estimator/model pair. */
private[graft] trait CAIMParams extends Params {
  /** Continuous feature columns to discretize. */
  final val inputCols = new StringArrayParam(this, "inputCols", "feature columns")
  /** Output column per input column (same order). */
  final val outputCols = new StringArrayParam(this, "outputCols", "bin-id output columns")

  final def getInputCols: Array[String] = $(inputCols)
  final def getOutputCols: Array[String] = $(outputCols)

  protected def validateIO(schema: StructType): StructType = {
    require($(inputCols).length == $(outputCols).length,
      "inputCols and outputCols must have the same length")
    $(inputCols).foreach { c =>
      require(schema(c).dataType.isInstanceOf[NumericType],
        s"input column $c must be numeric, got ${schema(c).dataType}")
    }
    StructType(schema.fields ++ $(outputCols).map(StructField(_, DoubleType, nullable = false)))
  }
}

/** CAIM (Class-Attribute Interdependence Maximization) supervised
  * discretizer — the reference algorithm of Kurgan & Cios, *CAIM
  * Discretization Algorithm*, IEEE TKDE 16(2):145–153, 2004 — re-expressed
  * for Spark's execution model (the reference implements it over in-memory
  * NumPy arrays, per SURVEY.md §0/§3.0; the empty reference checkout means
  * paper semantics govern, SURVEY.md §7 R7).
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
  * the cluster — two scans. The greedy boundary search is a pure
  * driver-side loop over prefix sums, O(cuts × candidates × classes) per
  * feature. `transform` is a narrow Bucketizer pass — splits ship in the
  * task closure; no shuffle, no further driver involvement.
  */
class CAIMDiscretizer(override val uid: String)
    extends Estimator[CAIMDiscretizerModel] with CAIMParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("caim"))

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

  override def transformSchema(schema: StructType): StructType = validateIO(schema)

  override def fit(ds: Dataset[_]): CAIMDiscretizerModel = {
    transformSchema(ds.schema)
    val splits = SupervisedHistogram.splits(ds.toDF(), $(inputCols), $(labelCol),
      $(maxCandidates))(CAIMDiscretizer.greedySelect)
    copyValues(new CAIMDiscretizerModel(uid, splits).setParent(this))
  }

  override def copy(extra: ParamMap): CAIMDiscretizer = defaultCopy(extra)
}

object CAIMDiscretizer extends DefaultParamsReadable[CAIMDiscretizer] {

  /** Greedy CAIM boundary selection over a compressed histogram.
    *
    * @param values  sorted distinct feature values, length m
    * @param counts  m × S class counts at each value
    * @return boundaries `[min, cut*, ..., max]` (paper's D, SURVEY.md §0):
    *         cut positions are midpoints between adjacent distinct values.
    *
    * Intervals are right-closed per the paper: cut after value index p
    * puts values(0..p-1) left. Incremental evaluation: adding a cut splits
    * exactly one interval, so each candidate is scored in O(S) from prefix
    * sums and one pass over candidates per accepted cut.
    */
  private[graft] def greedySelect(
      values: Array[Double], counts: Array[Array[Long]], nClasses: Int): Array[Double] = {
    val m = values.length
    if (m <= 1) return Array(values.headOption.getOrElse(0.0), values.headOption.getOrElse(0.0))
    val S = math.max(nClasses, 1)
    // prefix(i)(s) = count of class s among values(0 until i)
    val prefix = Array.ofDim[Long](m + 1, S)
    var i = 0
    while (i < m) {
      var s = 0
      while (s < S) { prefix(i + 1)(s) = prefix(i)(s) + counts(i)(s); s += 1 }
      i += 1
    }
    // CAIM term max_r^2 / M_r for the interval of value indices (lo, hi]
    def term(lo: Int, hi: Int): Double = {
      var mx = 0L; var tot = 0L; var s = 0
      while (s < S) {
        val c = prefix(hi)(s) - prefix(lo)(s)
        if (c > mx) mx = c
        tot += c; s += 1
      }
      if (tot == 0L) 0.0 else mx.toDouble * mx / tot
    }

    val accepted = scala.collection.mutable.TreeSet[Int](0, m)
    var sumTerms = term(0, m)
    var k = 1
    var globalCaim = 0.0
    val remaining = scala.collection.mutable.TreeSet[Int]((1 until m): _*)

    var done = false
    while (!done && remaining.nonEmpty) {
      var bestP = -1
      var bestSum = 0.0
      var bestCaim = Double.NegativeInfinity
      remaining.foreach { p =>
        val lo = accepted.maxBefore(p).get
        val hi = accepted.minAfter(p).get
        val cand = sumTerms - term(lo, hi) + term(lo, p) + term(p, hi)
        val caim = cand / (k + 1)
        if (caim > bestCaim) { bestCaim = caim; bestSum = cand; bestP = p }
      }
      if (bestP >= 0 && (bestCaim > globalCaim || k < S)) {
        accepted += bestP
        remaining -= bestP
        sumTerms = bestSum
        globalCaim = bestCaim
        k += 1
      } else done = true
    }

    val cuts = accepted.toArray.filter(p => p > 0 && p < m)
      .map(p => (values(p - 1) + values(p)) / 2)
    (values(0) +: cuts :+ values(m - 1)).distinct
  }
}

/** Fitted CAIM model: per-feature boundary arrays; `transform` assigns bin
  * ids via [[Bucketizer]] (±∞ outer bounds so unseen out-of-range values
  * still bin at scale), a narrow executor-side pass.
  */
class CAIMDiscretizerModel(override val uid: String)
    extends Model[CAIMDiscretizerModel] with CAIMParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("caimModel"))

  private[ml] def this(uid: String, splits: Array[Array[Double]]) = {
    this(uid)
    set(splitsArray, splits)
  }

  /** Fitted boundaries per input column: `[min, cut*, ..., max]`. */
  final val splitsArray = new DoubleArrayArrayParam(this, "splitsArray", "fitted boundaries")

  def boundaries: Array[Array[Double]] = $(splitsArray)

  override def transformSchema(schema: StructType): StructType = validateIO(schema)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val io = $(inputCols).zip($(outputCols))
    // boundaries are [min, cut*, max]: length ≤ 2 means no interior cuts
    val (degenerate, real) = io.zip($(splitsArray)).partition(_._2.length <= 2)
    // degenerate feature (≤1 interval, e.g. constant column): everything is
    // bin 0 — Bucketizer needs ≥2 buckets so handle it directly
    val withDegenerate = degenerate.foldLeft(ds.toDF()) { case (df, ((_, out), _)) =>
      df.withColumn(out, org.apache.spark.sql.functions.lit(0.0))
    }
    if (real.isEmpty) withDegenerate
    else {
      val buck = new Bucketizer()
        .setInputCols(real.map(_._1._1))
        .setOutputCols(real.map(_._1._2))
        .setSplitsArray(real.map { case (_, b) =>
          Double.NegativeInfinity +: b.drop(1).dropRight(1) :+ Double.PositiveInfinity
        })
      buck.transform(withDegenerate)
    }
  }

  override def copy(extra: ParamMap): CAIMDiscretizerModel =
    copyValues(new CAIMDiscretizerModel(uid), extra).setParent(parent)
}

object CAIMDiscretizerModel extends DefaultParamsReadable[CAIMDiscretizerModel]
