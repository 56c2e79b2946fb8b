package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One (doc, band) row of a MinHash band signature. */
case class BandedDoc(doc_id: Long, band: Int, bv: Long)

/** Executor-side bucket state: the doc ids seen in one (band, value)
  * bucket. Array (not Seq) keeps the encoder a flat product.
  */
case class BucketState(ids: Array[Long])

/** A candidate near-dup pair (a_id < b_id), at-least-once semantics. */
case class CandidatePair(a_id: Long, b_id: Long)

/** Incremental near-duplicate detection over a DOCUMENT STREAM — the
  * streaming complement of the batch `dedup_minhash` query (SURVEY.md
  * §2.10 × §2.11): the same banded MinHash candidate generation, but a
  * newly ingested document is checked against the full history WITHOUT
  * recomputing history. Bucket membership lives in the per-partition
  * streaming state store (checkpointable, RocksDB-capable), so state is
  * ∝ corpus × bands, partitioned by bucket — never on the driver.
  *
  * Design constraints this encodes:
  *  - band signatures are computed ROW-LOCALLY (shingling, the k hash
  *    families, and per-band minima are all array expressions over the
  *    row's own text): no streaming AGGREGATION runs before the stateful
  *    op, which would otherwise force watermark/append-mode restrictions
  *    and a second shuffle. One narrow stage, then ONE keyed stateful op.
  *  - the emitted stream is CANDIDATES, at-least-once (a pair sharing
  *    several bands emits from each; micro-batch boundaries do not dedup
  *    history): downstream consumers re-rank with the exact scorer
  *    and/or the watermarked `dropDuplicates` capability, exactly like
  *    the batch pipeline's distinct + exact-Jaccard stages.
  *  - `maxBucket` caps per-bucket state: a degenerate band value (e.g.
  *    the min-hash of a boilerplate shingle shared by everything) must
  *    bound state and emission instead of going quadratic — overflow
  *    drops candidates (documented recall loss on pathological buckets),
  *    the same skew-bounding contract as the batch LSH buckets
  *    ([[graft.operators.Banding]]).
  */
object IncrementalDedup {

  /** (doc_id, band, bv) rows from a (doc_id, text, …) frame — fully
    * narrow, so it runs identically over batch frames and readStream
    * frames. Same shingle + salted-xxhash64 families as the batch
    * `dedup_minhash`.
    */
  def bandRows(docs: DataFrame, nBands: Int = 16): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("doc_id"), array_distinct(
        expr("transform(sequence(0, size(tk)-3), i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2]))"))
        .as("ss"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> array_min(transform(ss, s -> xxhash64(s, b))))"))
        .as(Seq("band", "bv")))

  /** Candidate pairs from banded rows: each arriving doc emits a pair
    * against every doc already in its (band, value) buckets — plus pairs
    * among docs arriving together — then joins the buckets. Works on a
    * streaming OR batch Dataset (same code path; batch = one big group).
    *
    * `ttlMs` (round 7) bounds state on an UNBOUNDED stream: with a
    * positive TTL each bucket gets a processing-time timeout that is
    * re-armed on every arrival, so a bucket idle for `ttlMs` is evicted
    * from the state store — total state becomes ∝ the active working set
    * (docs arriving within one TTL window), not the whole corpus history.
    * The documented recall trade: a near-dup whose twin arrived more than
    * `ttlMs` earlier is no longer paired (the batch dedup_minhash path is
    * the full-history tool). ttlMs = 0 (the default, and the batch mode
    * used by the declared `dedup_incremental` query) keeps the original
    * never-evict behaviour.
    */
  def candidates(bands: Dataset[BandedDoc], maxBucket: Int = 4096,
      ttlMs: Long = 0L): Dataset[CandidatePair] = {
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    implicit val outEnc = Encoders.product[CandidatePair]
    implicit val stateEnc = Encoders.product[BucketState]
    val timeout =
      if (ttlMs > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bands.groupByKey(b => (b.band, b.bv))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (_: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            // idle past the TTL: drop the bucket's membership entirely —
            // timeouts only fire for groups with no arrivals this batch,
            // so no candidate is lost that the TTL contract promised
            state.remove()
            Iterator.empty
          } else {
            // history stays untouched; this batch's arrivals accumulate in a
            // growable buffer and concatenate into the state ONCE — per-row
            // work is O(pairs emitted), never an array copy per arrival
            val old = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
            val seenSet = scala.collection.mutable.LongMap[Unit](old.map(_ -> ()): _*)
            val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]
            val out = List.newBuilder[CandidatePair]
            def pair(h: Long, n: Long): Unit =
              out += (if (h < n) CandidatePair(h, n) else CandidatePair(n, h))
            rows.foreach { r =>
              if (!seenSet.contains(r.doc_id) && old.length + fresh.length < maxBucket) {
                var i = 0
                while (i < old.length) { pair(old(i), r.doc_id); i += 1 }
                var j = 0
                while (j < fresh.length) { pair(fresh(j), r.doc_id); j += 1 }
                fresh += r.doc_id
                seenSet(r.doc_id) = ()
              }
            }
            state.update(BucketState(old ++ fresh))
            if (ttlMs > 0L) state.setTimeoutDuration(ttlMs)
            out.result().iterator
          }
        })
  }
}
