package graft.ml

import org.apache.spark.ml.Model
import org.apache.spark.ml.feature.Bucketizer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{DoubleType, NumericType, StructField, StructType}

/** Shared params of the supervised discretizers and their fitted model. */
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
  * paper semantics govern, SURVEY.md §7 R7). The scale design is the
  * family's ([[SupervisedDiscretizer]]).
  */
class CAIMDiscretizer(uid: String) extends SupervisedDiscretizer(uid) {

  def this() = this(Identifiable.randomUID("caim"))

  protected def search = CAIMDiscretizer.greedySelect
}

object CAIMDiscretizer extends DefaultParamsReadable[CAIMDiscretizer] {

  /** Greedy CAIM boundary selection over a compressed histogram.
    *
    * @param values  sorted distinct feature values, length m
    * @param counts  m × S class counts at each value
    * @return boundaries `[min, cut*, ..., max]` ([[Quanta.boundaries]]).
    *
    * The criterion is (Σ_r max_r²/M_r) / k over the k intervals, searched
    * by [[Quanta.topDown]]; it keeps cutting while k < S even when the
    * criterion does not improve (the paper's floor of S intervals).
    */
  private[graft] def greedySelect(
      values: Array[Double], counts: Array[Array[Long]], nClasses: Int): Array[Double] =
    Quanta.boundaries(values, counts, nClasses) { q =>
      val S = q.S
      val prefix = q.prefix
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
      q.topDown(term, (sum, k) => sum / k, 0.0, floor = true)
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
