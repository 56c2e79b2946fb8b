package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ml.CAIMDiscretizer
import graft.queries.{Llm, TextAnalysis}

/** End-to-end training-data pipeline composed from the library's operators
  * — the "switch from the reference" usage demonstration:
  *
  *   documents ─ exact dedup ─ near-dup dedup (jaccard survivors)
  *             ─ boilerplate cut (shared-window fraction, hashed path)
  *             ─ quality filter ─ language-ID ─ token counts/fingerprint
  *   embeddings ─ CAIM-discretized features joined on doc cardinality
  *
  * Every stage is a DataFrame→DataFrame function; nothing collects to the
  * driver except the CAIM histogram inside fit. Run:
  *   sbt "runMain graft.examples.PipelineDemo /root/testdata/sf0.001"
  */
object PipelineDemo {

  /** Pure-function pipeline over a documents table: returns the cleaned,
    * annotated corpus (exact dups dropped, near-dups collapsed to the
    * min-id survivor, low-quality rows filtered, language + token stats +
    * fingerprint columns added).
    */
  def cleanCorpus(s: SparkSession, sf: String,
      // required, not defaulted: the pair-edge cache of clusterEdges is
      // reachable only through this handle — a silently-discarded default
      // Tracked would be exactly the unreleasable pinned block the
      // ownership contract exists to prevent
      tr: graft.operators.Tracked): DataFrame = {
    val docs = T.t(s, sf, "documents")

    // 1. exact dedup: keep min doc_id per content hash
    val exactSurvivors = docs
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("keep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .where(col("doc_id") === col("keep"))
      .drop("h", "keep")

    // 2. near-dup dedup, TRANSITIVE: jaccard pairs → connected components →
    // survivor materialization, all through the library kernels with the
    // CALLER's Tracked (chains (a,b),(b,c) collapse to ONE survivor, which
    // pairwise drop-the-larger-id logic cannot do). The cluster
    // representative is never an exact-dup loser: exact dups share text,
    // so they share a cluster, and the representative is the min id.
    val pairs = Llm.clusterEdges(docs, 0.5, tr)
    val clusters = graft.operators.Components.connected(pairs, "da", "db", tr)
    val deduped = graft.operators.Dedup.survivors(exactSurvivors, clusters)

    // 2b. corpus-level boilerplate cut (the hashed 100 TB path of
    // text_boilerplate) — on the DEDUPED corpus, not the raw one: before
    // dedup, every window of an exact/near-dup survivor is also in its
    // removed copies, so raw-corpus doc frequency would mark the survivor
    // itself ≥95% shared and the final filter would delete the cluster's
    // only remaining representative. Measured on survivors, shared_frac
    // catches genuine residual boilerplate BELOW the near-dup τ.
    // Ordering is Tracked-safe: connected() sealed above, which freed all
    // registered intermediates, so this stage's own seal reclaims only
    // its window table (sequential stages, one handle).
    val bp = TextAnalysis.boilerplateStats(deduped.select("doc_id", "text"),
      hashKeys = true, tr)
      .select(col("doc_id"), col("shared_frac"))

    // 3. quality + language + token annotations (reuse the declared ops)
    val quality = TextAnalysis.queries("text_quality")(s, sf)
      .select("doc_id", "quality", "stop_ratio")
    val lang = TextAnalysis.queries("text_langid")(s, sf).select("doc_id", "pred")
    val toks = TextAnalysis.queries("text_tokens")(s, sf).select("doc_id", "ws_toks")
    val fp = TextAnalysis.queries("text_fingerprint")(s, sf)

    deduped
      .join(quality, "doc_id").join(lang, "doc_id").join(toks, "doc_id").join(fp, "doc_id")
      // LEFT join: docs under 5 tokens have no windows, hence no bp row —
      // no 5-gram evidence means "not boilerplate", never a silent drop
      .join(bp, Seq("doc_id"), "left")
      .withColumn("shared_frac", coalesce(col("shared_frac"), lit(0.0)))
      .where(col("quality") >= 0.3 && col("shared_frac") < 0.95)
      .orderBy("doc_id")
  }

  /** CAIM-discretize the first two embedding dimensions against the label —
    * the reference's own workflow, distributed.
    */
  def discretizedFeatures(s: SparkSession, sf: String): DataFrame = {
    val emb = T.t(s, sf, "embeddings").select(col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("e0"),
      element_at(col("embedding"), 2).cast("double").as("e1"), col("label"))
    new CAIMDiscretizer()
      .setInputCols(Array("e0", "e1")).setOutputCols(Array("b0", "b1"))
      .setLabelCol("label")
      .fit(emb).transform(emb)
      .select("vec_id", "label", "b0", "b1")
      .orderBy("vec_id")
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(8)
    val tr = new graft.operators.Tracked
    val corpus = cleanCorpus(spark, sf, tr)
    val feats = discretizedFeatures(spark, sf)
    println(s"clean corpus rows: ${corpus.count()}")
    corpus.show(5, truncate = 40)
    println(s"discretized feature rows: ${feats.count()}")
    feats.show(5)
    // deterministic train/test split keyed on CONTENT: duplicate or
    // near-identical texts can never straddle the split, and membership is
    // stable if the pipeline re-runs on a grown corpus
    val (train, test) = graft.operators.Split.byHash(corpus, col("text"), 0.1)
    println(s"train/test: ${train.count()} / ${test.count()}")
    // training-batch prep: pack the train split's docs into fixed-capacity
    // token bins (per-partition first-fit-decreasing — the step after
    // chunking that turns a corpus into dense training sequences)
    val packed = graft.operators.Pack.firstFit(
      train.withColumnRenamed("ws_toks", "n_toks"), "doc_id", "n_toks",
      capacity = 512L, partitions = 8)
    val (bins, pdocs, toks, fill) = graft.operators.Pack.fill(packed.toDF(), 512L)
    println(f"packed $pdocs docs into $bins bins (${toks} tokens, fill ${fill * 100}%.0f%%)")
    // decontamination: flag each held-out TEST doc that shares an n-gram
    // window with the TRAIN split (5-gram here — the corpus vocabulary is
    // tiny; real corpora use 10-13). A flagged test doc is a leaked eval
    // example: drop it from the benchmark (or, to clean the train side
    // instead, attribute via the output's train_docs column and drop
    // there); near-dup dedup upstream already removed most overlap.
    val contam = graft.operators.Contamination
      .ngramHits(train.select("doc_id", "text"), test.select("doc_id", "text"), n = 5)
    println(s"test docs sharing a 5-gram with train: ${
      contam.where(col("contaminated")).count()} / ${test.count()}")
    // the release write, PUBLISHED (round 15): z-ordered on (quality,
    // ws_toks), then committed ATOMICALLY through the manifest protocol
    // with range stats and a doc_id bloom index — downstream consumers
    // get snapshot isolation, time travel, and file skipping on day one
    // instead of a bare directory of parquet
    val outDir = s"${sys.props("java.io.tmpdir")}/graft_demo_out_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.operators.ManifestTable.commit(spark, outDir,
      graft.operators.Layout.zOrdered(
          train.select("doc_id", "quality", "ws_toks", "text"),
          Seq("quality", "ws_toks"), nFiles = 4).drop("__graft_z"),
      statsCols = Seq("quality", "ws_toks"), bloomCols = Seq("doc_id"))
    println(s"release committed: ${
      graft.operators.ManifestTable.read(spark, outDir).count()} rows at $outDir")
    // a selective consumer opens only the files whose recorded ranges
    // intersect its cut (readPruned re-applies the predicate on rows)
    val cut = Seq(graft.operators.ManifestTable.ColGe("quality", 0.5))
    val (keptF, totF) = graft.operators.ManifestTable.pruneFiles(spark, outDir, cut)
    println(s"quality >= 0.5 readers open ${keptF.size} of $totF release files")
    // zero-copy snapshot for the eval team: one manifest write, no data
    val evalDir = outDir + "_eval"
    graft.operators.ManifestTable.clone(spark, outDir, evalDir)
    println(s"eval clone rows: ${
      graft.operators.ManifestTable.read(spark, evalDir).count()}")
    // compliance delete (round 16): a takedown request lands AFTER the
    // release — merge-on-read removes the affected docs at metadata speed
    // (one position scan + one manifest write, zero file rewrites; the
    // nightly OPTIMIZE materializes). The pre-delete snapshot stays
    // time-travelable for the audit trail until expire().
    val takedown = graft.operators.ManifestTable.read(spark, outDir)
      .orderBy("doc_id").limit(1).select("doc_id").collect()(0).getLong(0)
    graft.operators.ManifestTable.deleteWhere(spark, outDir,
      col("doc_id") === takedown)
    println(s"takedown of doc $takedown applied merge-on-read: ${
      graft.operators.ManifestTable.read(spark, outDir).count()} rows live")
    // corpus fully consumed — release the pipeline's cached intermediates
    // (unpersist is asynchronous, so poll briefly before reporting)
    tr.release()
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    println(s"pinned blocks after release: ${spark.sparkContext.getRDDStorageInfo.length}")
    // similarity retrieval over the embeddings — auto-dispatches to IVF
    // once the corpus crosses the all-pairs budget
    val nn = graft.ml.Sim.topK(T.t(spark, sf, "embeddings"), 5, auto = true)
    println(s"knn edges: ${nn.count()}")
    spark.stop()
  }
}
