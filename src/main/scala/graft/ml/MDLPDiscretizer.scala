package graft.ml

import org.apache.spark.ml.util._

/** MDLP supervised discretizer — Fayyad & Irani, *Multi-Interval
  * Discretization of Continuous-Valued Attributes for Classification
  * Learning*, IJCAI 1993: recursive binary splitting on the
  * entropy-minimizing cut, accepted only while information gain clears the
  * Minimal-Description-Length criterion, so the number of bins is
  * self-selecting. This is the standard comparison discretizer of the
  * CAIM paper itself (Kurgan & Cios 2004 §V benchmarks CAIM against it),
  * which makes it the natural second algorithm on the §2.9 surface. The
  * recursive MDL search reads the family's prefix table ([[Quanta]]):
  * O(depth × candidates × classes) per feature.
  */
class MDLPDiscretizer(uid: String) extends SupervisedDiscretizer(uid) {

  def this() = this(Identifiable.randomUID("mdlp"))

  protected def search = MDLPDiscretizer.mdlpSelect
}

object MDLPDiscretizer extends DefaultParamsReadable[MDLPDiscretizer] {

  private val Log2 = math.log(2.0)
  private def log2(x: Double): Double = math.log(x) / Log2

  /** Recursive MDL boundary selection over a compressed histogram.
    *
    * @param values  sorted distinct feature values, length m
    * @param counts  m × S class counts at each value
    * @return boundaries `[min, cut*, ..., max]` ([[Quanta.boundaries]]),
    *         the shape every search of the family returns.
    *
    * For the interval of value indices (lo, hi]: the accepted cut is the
    * candidate minimizing the weighted child entropy (ties to the
    * smallest index — deterministic), kept iff
    *   gain > (log2(N−1) + log2(3^k − 2) − [k·H − k₁·H₁ − k₂·H₂]) / N
    * (Fayyad–Irani's MDL acceptance), then recursion on both halves.
    * Pure integer prefix sums + double entropy — deterministic.
    */
  private[graft] def mdlpSelect(
      values: Array[Double], counts: Array[Array[Long]], nClasses: Int): Array[Double] =
    Quanta.boundaries(values, counts, nClasses) { q =>
      val S = q.S
      val m = q.m
      val prefix = q.prefix
      // (total, entropy, #classes present) of the interval (lo, hi]
      def stats(lo: Int, hi: Int): (Long, Double, Int) = {
        val tot = q.total(lo, hi)
        if (tot == 0L) return (0L, 0.0, 0)
        var h = 0.0
        var k = 0
        var s = 0
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
      cuts
    }
}

