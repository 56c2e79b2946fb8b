package graft.ml

import org.apache.spark.ml.util._

/** Ameva supervised discretizer — González-Abril, Cuberos, Velasco &
  * Ortega, *Ameva: An autonomous discretization algorithm*, Expert Systems
  * with Applications 36(3):5327–5332, 2009: the CAIM paper's own
  * family — the identical top-down greedy boundary loop over the quanta
  * matrix ([[Quanta.topDown]]), but scoring candidate cut sets with the
  * contingency chi-square normalized by k(ℓ−1), Ameva(k) = χ²(k) / (k(ℓ−1)),
  * instead of CAIM's max²/M term. Like CAIM it is autonomous: the loop
  * stops when the criterion stops improving, so the bin count is
  * self-selecting (the paper's §3 shows Ameva tends to pick FEWER
  * intervals than CAIM on the same data — a property AmevaSpec witnesses
  * on this corpus). χ² decomposes per interval (the class marginals C_s
  * are global constants), so adding a cut re-scores ONE split interval in
  * O(S) — the same incremental trick as CAIM's term sum.
  */
class AmevaDiscretizer(uid: String) extends SupervisedDiscretizer(uid) {

  def this() = this(Identifiable.randomUID("ameva"))

  protected def search = AmevaDiscretizer.amevaSelect
}

object AmevaDiscretizer extends DefaultParamsReadable[AmevaDiscretizer] {

  /** Greedy Ameva boundary selection over a compressed histogram — same
    * contract as [[CAIMDiscretizer.greedySelect]] (sorted distinct values,
    * m × S class counts, boundaries `[min, cut*, ..., max]`).
    *
    * χ² = N·(Σ_r Σ_s q_rs²/(M_r·C_s) − 1): the inner sum decomposes per
    * interval r because C_s are the GLOBAL class marginals, so the term
    * of interval r is Σ_s q_rs²/(M_r·C_s) and Ameva(k) =
    * N(Σ_r term − 1)/(k(ℓ−1)). The loop accepts the best cut while the
    * criterion strictly improves (the paper's autonomous stop — no k < ℓ
    * floor, unlike CAIM). No class or no row: no cuts.
    */
  private[graft] def amevaSelect(
      values: Array[Double], counts: Array[Array[Long]], nClasses: Int): Array[Double] =
    Quanta.boundaries(values, counts, nClasses) { q =>
      val S = q.S
      val m = q.m
      val prefix = q.prefix
      val classTotals = prefix(m)
      val n = classTotals.sum
      // Σ_s q_rs² / (M_r · C_s) for the interval of value indices (lo, hi]
      def term(lo: Int, hi: Int): Double = {
        val tot = q.total(lo, hi)
        if (tot == 0L) return 0.0
        var acc = 0.0; var s = 0
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
      // the best so far starts at k = 1, where χ² of the one interval is 0
      if (n == 0L || S < 2) Nil
      else q.topDown(term, score, score(term(0, m), 1), floor = false)
    }
}
