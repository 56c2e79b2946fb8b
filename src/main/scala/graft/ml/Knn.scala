package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbour majority-vote classification over an embedding
  * table — the composition of the similarity-search operators (SURVEY.md
  * §2.10: [[Sim.topK]] + `topk_per_group` + `agg_group`, no new semantics).
  *
  * With `auto = true` the neighbour search dispatches through [[Sim.topK]]:
  * brute force on small corpora, the IVF coarse-quantizer path once the
  * corpus crosses the all-pairs budget — the vote/argmax tail is unchanged
  * either way.
  */
object Knn {

  /** @param emb  (vec_id: long, embedding: array, label) table
    * @param auto swap brute force for IVF above [[Sim.topK]]'s threshold
    * @param ivfThreshold corpus size at which the auto path leaves brute
    *        force (forwarded to [[Sim.topK]]); `nCells`/`nprobe` shape the
    *        IVF quantizer once it engages — `nprobe = nCells` probes every
    *        cell, degenerating IVF to exact (the KnnSpec gate-equivalence
    *        hook)
    * @return (vec_id, pred, votes) — majority label among the k nearest
    *         neighbours by cosine; ties break to the smaller label.
    *
    * The neighbour frame needs no persist: topK → label join → vote →
    * argmax is one linear DAG consumed by a single action, so the search
    * executes exactly once per run.
    */
  def classify(emb: DataFrame, k: Int = 5, auto: Boolean = false,
      ivfThreshold: Long = 500000, nCells: Int = 16, nprobe: Int = 2): DataFrame = {
    val neighbours = Sim.topK(emb.select(col("vec_id"), col("embedding")), k, auto,
        ivfThreshold = ivfThreshold, nCells = nCells, nprobe = nprobe)
      .join(emb.select(col("vec_id").as("b_id"), col("label").as("b_label")), "b_id")
      .select(col("a_id"), col("b_label"))
    val wv = Window.partitionBy("a_id").orderBy(col("votes").desc, col("b_label").asc)
    neighbours.groupBy("a_id", "b_label").agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(wv))
      .where(col("rk") === 1)
      .select(col("a_id").as("vec_id"), col("b_label").as("pred"), col("votes"))
      .orderBy("vec_id")
  }
}
