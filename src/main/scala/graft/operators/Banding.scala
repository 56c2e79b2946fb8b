package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LSH banding, the candidate stage of every near-dup generator (MinHash,
  * hyperplane cosine, SimHash, image and audio fingerprints, batch × index
  * dedup): a document is one (id, band, bv) row per band, and two documents
  * are candidates when they share a (band, bv) bucket — an equi-join on
  * that key, never all pairs (Leskovec, Rajaraman and Ullman, *Mining of
  * Massive Datasets*, ch. 3). Callers own their band maker and recall
  * math; this object owns the bucket cap and the join.
  *
  * Skew contract: one degenerate band value (the minhash of a boilerplate
  * shingle shared by everything, near-identical boilerplate collapsing a
  * 16-bit band, clustered embeddings on one side of every hyperplane in a
  * band) makes one bucket's join fan-out quadratic, and AQE splits
  * partitions but cannot split one key. So buckets of more than
  * `maxBucket` rows are DROPPED before any pair is generated: a documented
  * recall loss on over-cap buckets only. The bucket-size window partitions
  * on the (band, bv) key the join shuffles on, so the exchange is shared.
  * [[graft.streaming.IncrementalDedup]] keeps the same contract on its
  * stream state with its own cap.
  */
object Banding {

  /** Generator of (band, bv) rows slicing the long column `h` into
    * `nBands` bands of `bandBits` bits: bv = (h >> (b·bandBits)) & mask. */
  def bitBands(h: String, nBands: Int, bandBits: Int): Column =
    posexplode(expr(
      s"transform(sequence(0, ${nBands - 1}), b -> ($h >> (b * $bandBits)) & ${(1L << bandBits) - 1})"))
      .as(Seq("band", "bv"))

  /** `bands` without the rows of buckets over `maxBucket` rows, persisted
    * through `tr` (it usually feeds both join sides); `tr == null` keeps
    * the plan persist-free, as no one would free the blocks. */
  def cap(bands: DataFrame, maxBucket: Int, tr: Tracked): DataFrame = {
    val capped = bands
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bv")))
      .where(col("bsz") <= maxBucket).drop("bsz")
    if (tr == null) capped else tr.persist(capped)
  }

  /** (a_id, b_id) of rows sharing a (band, bv) bucket whose ids pass
    * `idCond`, ids keeping their type, then `a_<c>` and `b_<c>` for each
    * `carry` column (the payload a caller re-ranks on). A pair comes back
    * once per shared bucket; callers place their own `distinct`. */
  def join(a: DataFrame, b: DataFrame, id: String, carry: Seq[String] = Nil,
      idCond: (Column, Column) => Column = _ < _): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          idCond(col(s"a.$id"), col(s"b.$id")))
      .select(Seq(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id")) ++
        carry.map(c => col(s"a.$c").as(s"a_$c")) ++
        carry.map(c => col(s"b.$c").as(s"b_$c")): _*)

  /** The a < b pairs of one band frame: [[cap]], then its self-[[join]]. */
  def bucketPairs(bands: DataFrame, id: String, maxBucket: Int, tr: Tracked,
      carry: Seq[String] = Nil): DataFrame = {
    val capped = cap(bands, maxBucket, tr)
    join(capped, capped, id, carry)
  }
}
