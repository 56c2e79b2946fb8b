package graft.ml

import org.apache.spark.ml.param._
import org.apache.spark.ml.util._

/** ChiMerge supervised discretizer — Kerber, *ChiMerge: Discretization of
  * numeric attributes*, AAAI 1992: the BOTTOM-UP member of the supervised
  * family (CAIM / Ameva / MDLP here are all top-down): every distinct
  * value starts as its own interval, and the adjacent pair with the
  * LOWEST 2×S contingency χ² merges repeatedly until every remaining
  * adjacent pair is significantly different (χ² above the df = S−1
  * critical value at the configured significance), i.e. merging further
  * would erase a class-distribution change the data supports.
  *
  * The merge loop reads the family's prefix table ([[Quanta]]): a live
  * interval is a range of value indices, so its class counts are one
  * prefix difference. The min scan over live pairs bounds the loop at
  * O(candidates²) worst case — the bounded-candidates contract (a lower
  * default cap than the top-down members) makes that a driver-side
  * constant, never a corpus cost.
  */
class ChiMergeDiscretizer(uid: String) extends SupervisedDiscretizer(uid) {

  def this() = this(Identifiable.randomUID("chimerge"))

  /** Significance level for the merge-stop test (0.05 or 0.01 — the two
    * levels Kerber's paper tabulates). */
  final val alpha = new DoubleParam(this, "alpha",
    "chi-square significance level", ParamValidators.inArray(Array(0.05, 0.01)))

  setDefault(maxCandidates -> 4096, alpha -> 0.05)

  def setAlpha(v: Double): this.type = set(alpha, v)

  protected def search = {
    val a = $(alpha)
    ChiMergeDiscretizer.chiMergeSelect(_, _, _, a)
  }
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
      counts: Array[Array[Long]], nClasses: Int, alpha: Double): Array[Double] =
    Quanta.boundaries(values, counts, nClasses) { q =>
      val S = q.S
      val m = q.m
      val prefix = q.prefix
      val thr = threshold(S, alpha)
      // pair χ² of the adjacent intervals (lo, mid] and (mid, hi]
      def pairChi(lo: Int, mid: Int, hi: Int): Double = {
        val ra = q.total(lo, mid).toDouble; val rb = q.total(mid, hi).toDouble
        val n = ra + rb
        if (ra == 0.0 || rb == 0.0 || n == 0.0) return 0.0
        var chi = 0.0; var s = 0
        while (s < S) {
          val a = prefix(mid)(s) - prefix(lo)(s); val b = prefix(hi)(s) - prefix(mid)(s)
          val cs = (a + b).toDouble
          if (cs > 0.0) {
            val ea = ra * cs / n; val eb = rb * cs / n
            chi += (a - ea) * (a - ea) / ea + (b - eb) * (b - eb) / eb
          }
          s += 1
        }
        chi
      }
      // live interval i covers the value indices (bounds(i), bounds(i + 1)];
      // start = one interval per value
      val bounds = scala.collection.mutable.ArrayBuffer.tabulate(m + 1)(identity)
      var merged = true
      while (merged && bounds.length > 2) {
        var minChi = Double.PositiveInfinity
        var minAt = -1
        var i = 0
        while (i < bounds.length - 2) {
          val c = pairChi(bounds(i), bounds(i + 1), bounds(i + 2))
          if (c < minChi) { minChi = c; minAt = i } // strict <: leftmost tie wins
          i += 1
        }
        if (minChi < thr) bounds.remove(minAt + 1) else merged = false
      }
      bounds.slice(1, bounds.length - 1)
    }
}
