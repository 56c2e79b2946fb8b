package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental batch dedup against a persisted corpus index (SURVEY.md
  * §2.13, round 8) — the batch complement of
  * [[graft.streaming.IncrementalDedup]]: at 100 TB nobody re-deduplicates
  * the historical corpus when a day's crawl arrives. Instead the corpus is
  * represented ONCE by its MinHash band table — (doc_id, band, bv), a few
  * tiny rows per document, written to parquet (ideally bucketed on
  * (band, bv)) — and each new batch joins its own band rows against that
  * index. Corpus text is never touched again; the dominant join carries
  * three longs a side.
  *
  * Banding is Broder/Indyk–Motwani MinHash-LSH, the same math (and the
  * same code path — [[graft.queries.Llm.minhashCandidates]] delegates
  * here) as the declared `dedup_minhash` query: a doc's band values are a
  * pure function of its own shingle set, so bands computed for a batch in
  * isolation are IDENTICAL to what a full-corpus recompute would produce —
  * which makes the incremental candidate set exactly the full rebuild's
  * candidate set restricted to pairs touching the batch (pinned in
  * DedupIndexSpec).
  *
  * Shingling is the caller's choice (the operator takes the (doc_id, ss)
  * shingle-array frame, e.g. [[graft.queries.Llm.shingleArrays]]'s 3-gram
  * words) — banding does not care what the set elements mean.
  */
object DedupIndex {

  /** (doc_id, band, bv) MinHash band table over a shingle-array frame
    * (doc_id, ss). k = nBands × rowsPerBand salted-xxhash64 signature
    * minima from ONE codegen'd aggregate; a band's value hashes its r
    * consecutive minima (AND within a band, OR across bands:
    * P[candidate] = 1 − (1 − j^r)^b).
    *
    * The generator is `posexplode_outer` plus a filter on its position,
    * not an inner `explode`: for an inner explode Catalyst infers
    * `size(ss) > 0 AND isnotnull(ss)` and pushes it below the projection
    * that defines ss, where [[graft.queries.Llm.shingleArrays]]' lambda
    * re-splits each document once per shingle (see
    * [[graft.queries.Llm.shingleRows]]). The outer form infers nothing;
    * its position is null exactly on the padding row of a null or empty
    * array, which is the row an inner explode would not emit.
    */
  def bandTable(shingled: DataFrame, nBands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val k = nBands * rowsPerBand
    shingled.select(col("doc_id"), posexplode_outer(col("ss")).as(Seq("p", "s")))
      .where(col("p").isNotNull)
      .groupBy("doc_id")
      .agg(array((0 until k).map(i => min(xxhash64(col("s"), lit(i)))): _*).as("mh"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> xxhash64(slice(mh, b * $rowsPerBand + 1, $rowsPerBand)))"))
        .as(Seq("band", "bv")))
  }

  /** Candidate near-dup pairs between a new batch and an existing index,
    * plus pairs WITHIN the batch, as UNORDERED pairs normalized to
    * a_id < b_id. Normalization matters when a doc is present in both
    * frames (re-ingest): the batch×index join finds the pair in
    * (batch, index) orientation and the batch self-join finds the same
    * pair reversed — without least/greatest the distinct keeps both and
    * every downstream exact re-rank scores the pair twice. Docs
    * self-pair suppress on id equality; callers needing batch/index
    * attribution join membership back on the ids.
    *
    * `maxBucket` caps the COMBINED (batch + index) bucket membership
    * before any pair is generated: the skew contract of [[Banding]], the
    * same as `dedup_minhash`'s. The capped union feeds three consumers
    * (two join sides × two joins), so callers pass a [[Tracked]] to
    * compute it once; without one the pipeline stays persist-free. The
    * union is never joined with itself: that would pair index docs with
    * each other, the work this operator exists to avoid.
    */
  def candidates(batchBands: DataFrame, indexBands: DataFrame,
      maxBucket: Int = 65536, tr: Tracked = null): DataFrame = {
    val u = batchBands.select(col("doc_id"), col("band"), col("bv"), lit(true).as("isb"))
      .unionByName(indexBands.select(col("doc_id"), col("band"), col("bv"), lit(false).as("isb")))
    val capped = Banding.cap(u, maxBucket, tr)
    val b = capped.where(col("isb")).drop("isb")
    val ix = capped.where(!col("isb")).drop("isb")
    val cross = Banding.join(b, ix, "doc_id", idCond = _ =!= _)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    cross.unionByName(Banding.join(b, b, "doc_id")).distinct()
  }
}
