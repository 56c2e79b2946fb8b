package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.T.{Q, t}

/** North-star text-analysis operators for training-data pipelines:
  * language-ID (marker n-gram heuristic), quality scoring, token counting
  * (whitespace + regex), positional document fingerprinting, and
  * SimHash near-dup detection with banded candidate generation (Charikar,
  * *Similarity estimation techniques from rounding algorithms*, STOC 2002;
  * banded candidate join per the MinHash-LSH band trick).
  *
  * Note: the synthetic corpus draws the same 31-word vocabulary for every
  * `lang` value, so `text_langid` demonstrates the operator shape (marker
  * scoring + deterministic argmax), not real classification accuracy.
  */
object TextAnalysis {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Vocab-keyed-frame bound for text_collocations (r14): the scored
    * vocabulary is the top this-many token types by bigram involvement —
    * the same bounded-boundary contract as the BPE 65,536-type vocabulary
    * and the Triangles bucket cap. Never binds at bench SFs (spec-pinned);
    * at a 100 TB corpus it bounds the marginal-join broadcast sides no
    * matter how the vocabulary grows. */
  val collocVocabCap = 65536

  /** text_collocations' kernel, cap-parameterized for the spec (the
    * declared query passes [[collocVocabCap]]). See the query's doc for
    * the full contract. */
  private[graft] def collocations(docs: org.apache.spark.sql.DataFrame,
      vocabCap: Int): org.apache.spark.sql.DataFrame = {
    // r19: the bigram-count table feeds FIVE consumers (total, both
    // marginals via the union, the vocab count, and the final join) plus
    // the output sort's range-sampling pass — unpersisted, each consumer
    // re-ran the corpus explode + (w1, w2) shuffle from scratch (6 full
    // passes at 100 TB). Persist the compact count table once (rows ∝
    // distinct bigrams, never corpus tokens); every downstream consumer
    // reads the cache (values unchanged — cache only). The block lives
    // exactly as long as the returned lazy frame and is freed by the
    // session's clearCache (the harness contract); it cannot ride a
    // Tracked seal here because the result must stay lazy and sealing was
    // measured to cost more than the vocab-scale re-execution it saves.
    val ab = docs
      .select(split(col("text"), " ").as("tk"))
      .where(expr("size(tk)") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tk)-2), i -> struct(tk[i] AS w1, tk[i+1] AS w2))")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = ab.agg(sum(col("cnt_ab")).cast("long").as("n_bg"))
    val tokCnt = ab.select(col("w1").as("tk"), col("cnt_ab"))
      .unionAll(ab.select(col("w2").as("tk"), col("cnt_ab")))
      .groupBy("tk").agg(sum(col("cnt_ab")).as("c"))
    // one vocab-sized stats action buys cap observability (the Triangles
    // pattern: a binding cap is a logged, countable event, never silent)
    val nTok = tokCnt.count()
    if (nTok > vocabCap)
      logger.warn(s"text_collocations: $nTok token types exceed the " +
        s"vocab cap $vocabCap — pairs touching the dropped " +
        s"${nTok - vocabCap} types are EXCLUDED (output is a " +
        "lower bound over the kept vocabulary)")
    val kept = tokCnt.orderBy(desc("c"), col("tk")).limit(vocabCap)
      .select("tk")
    val aCnt = ab.groupBy("w1")
      .agg(sum(col("cnt_ab")).cast("long").as("cnt_a"))
      .join(kept.withColumnRenamed("tk", "w1"), Seq("w1"), "left_semi")
    val bCnt = ab.groupBy("w2")
      .agg(sum(col("cnt_ab")).cast("long").as("cnt_b"))
      .join(kept.withColumnRenamed("tk", "w2"), Seq("w2"), "left_semi")
    ab.where(col("cnt_ab") >= 5)
      .join(broadcast(aCnt), "w1").join(broadcast(bCnt), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cnt_ab"),
        round(log2((col("cnt_ab") * col("n_bg")).cast("double") /
          (col("cnt_a") * col("cnt_b")).cast("double")), 6).as("pmi"))
      .orderBy("w1", "w2")
  }

  private val enM = Seq("the", "a", "order", "data")
  private val esM = Seq("query", "fast", "row", "stream")
  private val deM = Seq("agg", "table", "key", "join")

  private def markerCount(markers: Seq[String]) = {
    val arr = markers.map(m => s"'$m'").mkString("array(", ", ", ")")
    expr(s"size(filter(tk, t -> array_contains($arr, t)))").cast("long")
  }

  /** SimHash banded candidate pairs (a_id, b_id, sha, shb): 64-bit
    * signature from the algebraic bit-vote aggregator, 4 × 16-bit band
    * equi-join buckets — the sub-quadratic candidate stage behind
    * `dedup_simhash`. `maxBucket` drops buckets whose membership exceeds
    * the cap (round 7): the skew contract of [[graft.operators.Banding]].
    * The capped band frame is persisted via `tr` (4 tiny rows per doc) so
    * both self-join sides read the cache.
    */
  private[graft] def simhashBandPairs(docsRaw: org.apache.spark.sql.DataFrame,
      maxBucket: Int, tr: graft.operators.Tracked): org.apache.spark.sql.DataFrame = {
    val toks = Llm.shingleRows(Llm.shingleArrays(docsRaw))
      .select(col("doc_id"), col("h"))
    // one ALGEBRAIC bit-vote aggregator ([[graft.functions.Udx.SimHashAgg]])
    // instead of the r3 collect_list gather + Scala-UDF fold: votes
    // partial-aggregate map-side, so only a 64-int buffer per doc ever
    // shuffles — never the full shingle-hash list — and the plan stays
    // one aggregate column wide (narrow to analyze, cheap to compile).
    val sim = tr.persist(toks.groupBy("doc_id")
      .agg(graft.functions.Udx.simhashOf(col("h")).as("sh")))
    graft.operators.Banding.bucketPairs(
        sim.select(col("doc_id"), col("sh"), graft.operators.Banding.bitBands("sh", 4, 16)),
        "doc_id", maxBucket, tr, carry = Seq("sh"))
      .select(col("a_id"), col("b_id"), col("a_sh").as("sha"), col("b_sh").as("shb"))
      .distinct()
  }

  /** Corpus-level shared-5-gram-window stats — the kernel behind
    * `text_boilerplate`. `hashKeys = false` keys every exchange on the
    * window TEXT (declared-query mode: the DuckDB oracle is
    * value-identical by construction). `hashKeys = true` is the 100 TB
    * sibling: windows collapse to `xxhash64(w)` BEFORE the distinct, so
    * all three exchanges (distinct, doc-frequency agg, join probe) carry
    * only longs — the same payload compaction as the Jaccard kernel.
    * A 64-bit collision can merge two windows (ANN-style tolerance,
    * vanishing at 2^-64 per pair); QueriesSpec pins value-identity of
    * the two paths on the fixture corpus and long-only exchanges.
    */
  private[graft] def boilerplateStats(docs: org.apache.spark.sql.DataFrame,
      hashKeys: Boolean, tr: graft.operators.Tracked): org.apache.spark.sql.DataFrame = {
    val winText = graft.functions.TextWindows.wordWindows(docs, 5)
    val keyed =
      if (hashKeys) winText.select(col("doc_id"), xxhash64(col("w")).as("w"))
      else winText
    val win = tr.persist(keyed.distinct())
    val docFreq = win.groupBy("w").agg(count(lit(1)).as("df"))
    tr.seal(win.join(docFreq, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"),
        round(sum(when(col("df") >= 2, 1L).otherwise(0L)) / count(lit(1)), 6)
          .as("shared_frac")))
  }

  /** Duplicated-span extraction kernel behind `dedup_spans` — the
    * boilerplateStats two-mode contract (r12: the hashed scale path is now
    * EXECUTED and spec-pinned, not only documented): `hashKeys = false`
    * keys the duplicate-count agg and the probe join on the k-gram window
    * TEXT (declared-query mode, oracle value-identical by construction);
    * `hashKeys = true` collapses windows to `xxhash64(w)` BEFORE the
    * persist, so the df-count exchange and the join probe carry bare longs
    * instead of ~50-byte window strings — the payload that dominates both
    * shuffles on a real corpus. Positions ride alongside either key, so
    * the span-merge windows are untouched. A 64-bit collision can mark a
    * unique window duplicated (2^-64 per pair tolerance, the
    * minhashCandidates contract); QueriesSpec pins value-identity of the
    * two paths on the fixture corpus plus long-only exchanges.
    */
  private[graft] def spanStats(docs: org.apache.spark.sql.DataFrame, k: Int,
      hashKeys: Boolean, tr: graft.operators.Tracked): org.apache.spark.sql.DataFrame = {
    val raw = graft.functions.TextWindows.wordWindowsAt(docs, k)
    val keyed =
      if (hashKeys) raw.select(col("doc_id"), col("i"), xxhash64(col("w")).as("w"))
      else raw
    val w = tr.persist(keyed)
    val dupW = w.groupBy("w").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
    val dup = w.join(dupW, "w").select(col("doc_id"), col("i"))
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val prevEnd = max(col("i") + k)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val marked = dup.withColumn("brk",
      when(col("i") > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
    val spans = marked.withColumn("g", sum(col("brk")).over(byDoc))
      .groupBy("doc_id", "g")
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + k).as("span_end"),
        count(lit(1)).as("n_windows"))
    tr.seal(spans.select(col("doc_id"), col("span_start"),
      col("span_end"), col("n_windows")))
  }

  /** Bigram-LM perplexity kernel behind `quality_perplexity` — same
    * two-mode contract: `hashKeys = true` scores over `xxhash64`-keyed
    * bigram components (and a hashed-token vocabulary count), so the model
    * tables, both marginal joins, and the vocabulary distinct all exchange
    * longs — the documented 100 TB plan, executed and spec-pinned (r12).
    * Collisions merge two token types (count inflation vanishing at 2^-64
    * per pair); QueriesSpec pins value-identity on the fixture corpus.
    */
  private[graft] def perplexityStats(docs: org.apache.spark.sql.DataFrame,
      hashKeys: Boolean, tr: graft.operators.Tracked): org.apache.spark.sql.DataFrame = {
    val raw = graft.functions.TextWindows.wordWindowsAt(docs, 2)
      .select(col("doc_id"),
        substring_index(col("w"), " ", 1).as("w1"),
        substring_index(col("w"), " ", -1).as("w2"))
    val bg = tr.persist(
      if (hashKeys) raw.select(col("doc_id"),
        xxhash64(col("w1")).as("w1"), xxhash64(col("w2")).as("w2"))
      else raw)
    val cb = tr.persist(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val cu = cb.groupBy("w1").agg(sum(col("c")).as("cw"))
    val tk0 = docs.select(explode(split(col("text"), " ")).as("tk"))
    val v = (if (hashKeys) tk0.select(xxhash64(col("tk")).as("tk")) else tk0)
      .agg(countDistinct(col("tk")).as("vv"))
    tr.seal(bg.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(pow(lit(2.0),
          -sum(log2((col("c") + lit(1.0)) / (col("cw") + col("vv")))) /
            count(lit(1))), 6).as("ppl")))
  }

  val queries: Map[String, Q] = Map(
    // language-ID: occurrence counts against per-language marker sets,
    // deterministic fixed-order argmax
    "text_langid" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          markerCount(enM).as("s_en"), markerCount(esM).as("s_es"), markerCount(deM).as("s_de"))
        .withColumn("pred",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_de"), "es").otherwise("de"))
        .orderBy("doc_id")),

    // classifier evaluation as a query (round 11) — the row-normalized
    // CONFUSION MATRIX of text_langid's predictions against the corpus's
    // true lang column: per (true, predicted) pair the count and its share
    // of the true class (recall lives on the diagonal; precision/F1 are
    // one more ratio over the same counts). The evaluation loop every
    // model-backed pipeline runs, expressed over the same deterministic
    // marker-argmax both engines share — so the whole thing hash-checks.
    // One map pass + one (true, pred) agg + a class-partitioned window
    // over the ≤|langs|² matrix. True classes outside the 3-way predictor
    // (the corpus's zh rows) appear as off-predictor rows — the honest
    // out-of-scope signal an evaluation must show, not hide.
    "eval_langid" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
        .select(col("lang"),
          markerCount(enM).as("s_en"), markerCount(esM).as("s_es"),
          markerCount(deM).as("s_de"))
        .withColumn("pred",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_de"), "es").otherwise("de"))
        .groupBy(col("lang").as("true_lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac_of_true", round(col("n") /
          sum(col("n")).over(Window.partitionBy("true_lang")), 6))
        .orderBy("true_lang", "pred")),

    // quality scoring: length/stopword/digit ratios + a composite score
    "text_quality" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), col("n_chars"), col("text"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("n_chars"),
          size(col("tk")).cast("long").as("tok_cnt"),
          round((col("n_chars") - (size(col("tk")) - 1)).cast("double") / size(col("tk")), 6)
            .as("avg_tok_len"),
          round(markerCount(enM).cast("double") / size(col("tk")), 6).as("stop_ratio"),
          round(regexp_count(col("text"), lit("[0-9]")).cast("double") / col("n_chars"), 6)
            .as("digit_ratio"))
        .withColumn("quality",
          round(least(lit(1.0), col("tok_cnt") / 100.0) * (lit(1.0) - col("stop_ratio")), 6))
        .orderBy("doc_id")),

    // first-occurrence n-gram novelty per document (the memorization /
    // template-reuse proxy of the dedup literature — Lee et al.,
    // *Deduplicating training data makes language models better*, ACL
    // 2022 measure the inverse, repeated n-grams): for each doc with ≥ 8
    // tokens, the fraction of its DISTINCT 8-grams whose FIRST corpus
    // occurrence (min doc_id) is this doc — 1.0 = fully novel text,
    // → 0 = assembled from earlier material. Executed plan follows the
    // text_boilerplate hashed-scale-path precedent: grams become
    // xxhash64 LONGS before the distinct and both shuffles (exchanges
    // carry (long, doc_id) — never 8-gram text; a collision merges two
    // gram types at 2⁻⁶⁴ per pair), while the DuckDB oracle keys on the
    // literal text — value equality across the two keyings IS the
    // collision-freeness witness at bench SFs, re-checked every round by
    // the driver. One explode + distinct + min-agg + join-back; all
    // counts exact.
    "text_novelty" -> ((s, sf) => {
      val win = graft.functions.TextWindows
        .wordWindowsAt(t(s, sf, "documents"), 8)
        .select(col("doc_id"), xxhash64(col("w")).as("h")).distinct()
      val first = win.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
      win.join(first, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    }),

    // Automated Readability Index per language (Senter & Smith, ARI,
    // Aerospace Medical Research Labs TR 1967: 4.71·chars/word +
    // 0.5·words/sentence − 21.43) — the readability screen of the
    // length-family (unlike Flesch it needs NO syllable model, so it is
    // exactly computable from integer counts and portable cross-engine).
    // Conventions declared explicitly: words = whitespace tokens, chars =
    // non-space characters, sentences = max(1, '.' count). All three are
    // exact integers per doc; the per-doc ARI is ONE identical float
    // chain; the per-language mean rides per-term DECIMAL(38,15) casts so
    // the shuffled sum is order-independent (the text_zipf discipline);
    // min/max of identical chains are portable. One narrow map + one
    // ≤|langs|-row agg at any SF.
    "text_readability" -> ((s, sf) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 15)
      t(s, sf, "documents")
        .select(col("lang"),
          (length(col("text")) -
            (expr("size(split(text, ' '))") - 1)).cast("long").as("chars"),
          expr("size(split(text, ' '))").cast("long").as("words"),
          greatest(lit(1L),
            expr("length(text) - length(replace(text, '.', ''))")
              .cast("long")).as("sents"))
        .withColumn("ari",
          lit(4.71) * col("chars") / col("words") +
            lit(0.5) * col("words") / col("sents") - lit(21.43))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("ari").cast(d38)).cast("double") / count(lit(1)), 6)
            .as("avg_ari"),
          round(min(col("ari")), 6).as("min_ari"),
          round(max(col("ari")), 6).as("max_ari"))
        .orderBy("lang")
    }),

    // feature hashing (round 10) — the HashingTF trick with a PORTABLE
    // hash: tokens bucket into a fixed 256-dim space via their md5 hex
    // prefix (the Split.portableBucket discipline) instead of murmur3, so
    // the sparse feature matrix is oracle-verifiable cross-engine. Output
    // is the (doc, dim, tf) sparse form a trainer consumes. At scale this
    // is a narrow explode + map-side-combined count; the shuffle carries
    // ∝ docs × occupied dims (≤256), never the token stream.
    "text_hashing_tf" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("doc_id"),
          substring(md5(col("tok").cast("binary")), 1, 2).as("dim"))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "dim")),

    // compression-ratio quality signal (round 15, capability row) — the
    // classic "too compressible = boilerplate/repetition, too
    // incompressible = noise/binary junk" filter (the deflate-ratio cut
    // CCNet/Gopher-line pipelines run beside stopword/perplexity
    // signals): per doc, deflate(level 6, UTF-8 bytes) size over raw
    // size. A UDF by necessity, not convenience — compression is not
    // expressible in either SQL dialect (and DuckDB has no deflate at
    // all, hence rows-only); java.util.zip.Deflater with FIXED level and
    // strategy is deterministic for a given input across JVMs, so the
    // output is still reproducible. Pure map stage — no shuffle at all;
    // per-lang rollup at the end is |langs| rows.
    "quality_compression" -> ((s, sf) => {
      val ratio = udf { text: String =>
        if (text == null || text.isEmpty) 1.0
        else {
          val raw = text.getBytes("UTF-8")
          val d = new java.util.zip.Deflater(6)
          d.setInput(raw); d.finish()
          val buf = new Array[Byte](raw.length + 64)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n,
            math.max(1, buf.length - n))
          d.end()
          n.toDouble / raw.length
        }
      }
      t(s, sf, "documents")
        .select(col("doc_id"), col("lang"),
          round(ratio(col("text")), 6).as("deflate_ratio"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("deflate_ratio")), 6).as("min_ratio"),
          // decimal sum of the 6dp ratios: the mean is order-independent
          round(sum(col("deflate_ratio").cast("decimal(12,6)"))
            .cast("double") / count(lit(1)), 6).as("avg_ratio"),
          round(max(col("deflate_ratio")), 6).as("max_ratio"),
          sum(when(col("deflate_ratio") < 0.3, 1L).otherwise(0L))
            .as("n_too_repetitive"))
        .orderBy("lang")
    }),

    // hashed BAG-OF-WORDS EMBEDDING (round 15) — text_hashing_tf taken
    // the last step to a trainer-ready vector (Weinberger et al., feature
    // hashing, ICML 2009): tokens bucket into a 64-dim space via the
    // PORTABLE md5-prefix hash (hex prefix → integer via an instr table
    // lookup — identical arithmetic in both engines; no murmur3), counts
    // are exact BIGINTs, and each doc's vector is L2-NORMALIZED so dot
    // products are cosine similarities (the sim_* tier's input contract).
    // The only floats are one sqrt over an exact integer sum of squares
    // and one division, identical cross-engine, rounded 6dp. Narrow
    // explode + map-side-combined count; the shuffle carries docs ×
    // occupied dims (≤ 64), never the token stream.
    "text_hash_embed" -> ((s, sf) => {
      val tf = t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("doc_id"),
          substring(md5(col("tok").cast("binary")), 1, 2).as("h"))
        .select(col("doc_id"),
          expr("""CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
            + instr('0123456789abcdef', substr(h, 2, 1)) - 1) % 64
            AS BIGINT)""").as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
      val l2 = tf.groupBy("doc_id")
        .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("l2"))
      tf.join(l2, Seq("doc_id"))
        .select(col("doc_id"), col("bucket"), col("tf"),
          round(col("tf").cast("double") / col("l2"), 6).as("w"))
        .orderBy("doc_id", "bucket")
    }),

    // token counting: whitespace, letter-run regex (BPE-ish pretokenizer
    // shape), and distinct-token cardinality
    "text_tokens" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_toks"),
          regexp_count(col("text"), lit("[a-z]+")).cast("long").as("re_toks"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("uniq_toks"))
        .orderBy("doc_id")),

    // positional rolling-hash fingerprint: order-sensitive, exact integer
    // arithmetic (mod 2^31-1) so it hash-matches across engines. Computed
    // as a narrow per-row array fold — no explode, no shuffle: the per-doc
    // sum never leaves the row, so at 100 TB this is a pure map stage.
    // null-text docs are dropped (matching the explode-based oracle's
    // semantics, which emits no row for them) rather than surfacing null fp
    "text_fingerprint" -> ((s, sf) =>
      t(s, sf, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          pmod(expr(
            """aggregate(sequence(0, size(tk) - 1), 0L,
              |  (acc, i) -> acc + CAST(i + 1 AS BIGINT) *
              |    (length(tk[i]) * 256 + ascii(substring(tk[i], 1, 1))))""".stripMargin),
            lit(2147483647L)).as("fp"))
        .orderBy("doc_id")),

    // text normalization: the standard pre-tokenization cleanup pass —
    // article stopword removal (word-boundary anchored so 'table' keeps
    // its 'a'), whitespace collapse, trim. Patterns live in the common
    // Java-regex ∩ RE2 dialect; per-row narrow map stage at any scale.
    "text_normalize" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("norm", trim(regexp_replace(
          regexp_replace(col("text"), lit("\\b(a|the)\\b"), lit("")),
          lit(" +"), lit(" "))))
        .select(col("doc_id"), col("norm"),
          size(split(col("text"), " ")).cast("long").as("toks_before"),
          size(split(col("norm"), " ")).cast("long").as("toks_after"))
        .orderBy("doc_id")),

    // composite quality-filter cascade (round 9) — the C4-style cleaning
    // decision as ONE case-when pass with first-match-wins reason codes:
    // too_short (chars), too_few_tokens, low_stopword (the junk-page
    // heuristic — pages whose stopword ratio is implausibly low), then
    // repetitive (distinct-token ratio — cheap proxy for the n-gram
    // repetition scan text_repetition runs in full). Thresholds sit at
    // the corpus's own low-percentile tails so every branch is live at
    // test SFs. Ratios compare RAW (identical float expressions both
    // engines — rounding before a threshold could flip a branch on one
    // side only). Single narrow map + one tiny groupBy(reason): the
    // 100 TB shape is a full-scan filter that shuffles 5 counter rows.
    "filter_pipeline" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("n_chars"),
          size(col("tk")).cast("long").as("tok_cnt"),
          (markerCount(enM).cast("double") /
            greatest(size(col("tk")), lit(1))).as("stop_ratio"),
          (size(array_distinct(col("tk"))).cast("double") /
            greatest(size(col("tk")), lit(1))).as("distinct_ratio"))
        .withColumn("reason",
          when(col("n_chars") < 100, "too_short")
            .when(col("tok_cnt") < 20, "too_few_tokens")
            .when(col("stop_ratio") < 0.05, "low_stopword")
            .when(col("distinct_ratio") < 0.30, "repetitive")
            .otherwise("kept"))
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("reason")),

    // per-doc keyword extraction (round 9) — top-3 tokens by frequency
    // with a full deterministic tiebreak (count desc, token asc): the
    // cheap tf-style salience signal. Token counts are one exploded
    // map-side-combined agg; the top-3 cut is a row_number over the
    // (doc, token) count table — state ∝ distinct tokens per doc, the
    // window partitions on doc_id so no token crosses documents.
    // BM25 keyword-search ranking (round 12, third batch) — the retrieval
    // scoring function (Robertson & Zaragoza, *The Probabilistic Relevance
    // Framework: BM25 and Beyond*, FnTIR 2009; k1 = 1.2, b = 0.75) that
    // completes the search stack tfidf/hashing_tf start: a fixed 3-term
    // keyword query ('dup' is rare — df 25/500 — so idf actually ranks)
    // scored over the documents corpus, top 20. Plan: per-doc lengths
    // come from size(split(...)) — one row per doc with NO explode — and
    // the token explode exists only for the term-filtered (3-term-tiny)
    // tf frame; df and the (total, N) scalars broadcast; the
    // scoring join is tf-sized. Float discipline: idf and the saturation
    // term are ONE identical chain from exact integers and the identical
    // avgdl double; each per-term score quantizes to DECIMAL(38,15) (the
    // per-term-decimal discipline) so the per-doc sum is exact and the
    // (score DESC, doc_id) cut compares decimals, never raw-float ranks.
    "text_bm25" -> ((s, sf) => {
      val d15 = org.apache.spark.sql.types.DecimalType(38, 15)
      val docs = t(s, sf, "documents")
      val dl = docs.select(col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("dl"))
      val stats = dl.agg(sum(col("dl")).as("tot"), count(lit(1)).as("nd"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
        .where(col("tk").isin("dup", "vector", "merge"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("tk").agg(count(lit(1)).as("df"))
      tf.join(dl, Seq("doc_id"))
        .join(broadcast(dfq), Seq("tk"))
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("nd") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))))
        .withColumn("term15", (col("idf") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl")
            / (col("tot").cast("double") / col("nd"))))).cast(d15))
        .groupBy("doc_id").agg(sum(col("term15")).as("s"))
        .orderBy(desc("s"), col("doc_id")).limit(20)
        .select(col("doc_id"), round(col("s").cast("double"), 6).as("bm25"))
    }),

    "text_top_tokens" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("c"), col("tk"))))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("tk"), col("c"))
        .orderBy("doc_id", "rnk")),

    // TF-IDF keyword (round 9) — text_top_tokens' corpus-aware upgrade:
    // each doc's single highest tf·idf token (idf = ln((N+1)/(df+1)),
    // the smoothed form), tiebreak score-desc then token-asc. Document
    // frequency is a count over the DISTINCT (doc, token) pairs — a
    // vocabulary-sized table that broadcasts onto the tf table at this SF
    // and becomes a token-hash equi-join at corpus scale (the quality_lm
    // discipline); N rides a 1-row broadcast. ln on both engines (DuckDB
    // `log` is log10 — `ln` is the portable spelling).
    "text_tfidf" -> ((s, sf) => {
      val tok = t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      val tf = tok.groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val df = tok.distinct().groupBy("tk").agg(count(lit(1)).as("df"))
      val n = t(s, sf, "documents").agg(count(lit(1)).as("n"))
      tf.join(df, "tk").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("score"), col("tk"))))
        .where(col("rnk") === 1)
        .select(col("doc_id"), col("tk"), col("tf"), col("df"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    // per-doc keyword extraction (round 16) — text_tfidf's top-k sibling
    // with an EXACT ordering: keywords rank by (tf DESC, df ASC, term) —
    // frequent-in-doc primary, rare-in-corpus tiebreak — so the rank is
    // pure integer comparison and no transcendental (ln of df, whose last
    // ulp is libm-dependent) can ever flip two near-equal scores across
    // engines. Top-3 per doc; the per-doc window partitions on doc_id
    // (corpus-keyed, bounded frames) above the one (doc, term) exchange;
    // the df side carries NO broadcast hint — a real web corpus has an
    // unbounded term domain (10⁸+ distinct terms would be a driver-side
    // broadcast bomb), so AQE's runtime size stats pick broadcast when
    // the vocab is actually small and a plain shuffled join when it
    // isn't (round-17 gate; PlanGuardSpec pins the corpus-size choice).
    "text_keywords" -> ((s, sf) => {
      val tok = t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      val tf = tok.groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val df = tok.distinct().groupBy("tk").agg(count(lit(1)).as("df"))
      tf.join(df, "tk")
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(desc("tf"), col("df"), col("tk"))))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("tk").as("term"), col("tf"), col("df"))
        .orderBy("doc_id", "rank")
    }),

    // bigram language model (round 16) — the count-based conditional
    // next-token table ("train a tiny LM on the corpus"): P(next | cur)
    // from exact bigram/unigram counts, top-3 continuations per token
    // under the pure-integer (count DESC, next) ordering (the
    // text_keywords discipline — no float in any rank). Bigrams come
    // from one NARROW zip_with over each row's own token array (no
    // positional self-join); the per-token rank windows are vocab-keyed
    // bounded frames; the totals join carries NO broadcast hint (the
    // text_keywords round-17 gate — unbounded term domains must not
    // force a driver broadcast; AQE decides from runtime size); the one
    // float is the final probability ratio of exact ints.
    "text_bigram_lm" -> ((s, sf) => {
      val tok = t(s, sf, "documents")
        .select(split(col("text"), " ").as("a"))
      val bg = tok.select(explode(expr(
          """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
             (x, y) -> struct(x AS cur, y AS nxt))""")).as("b"))
        .select(col("b.cur").as("cur"), col("b.nxt").as("nxt"))
      val c = bg.groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
      val tot = c.groupBy("cur").agg(sum(col("c")).as("tot"))
      c.join(tot, "cur")
        .withColumn("rank", row_number().over(
          Window.partitionBy("cur").orderBy(desc("c"), col("nxt"))))
        .where(col("rank") <= 3)
        .select(col("cur"), col("rank").cast("long").as("rank"),
          col("nxt"), col("c"), col("tot"),
          round(col("c").cast("double") / col("tot"), 6).as("p"))
        .orderBy("cur", "rank")
    }),

    // PII redaction (round 7): the compliance pass every training-data
    // pipeline runs before release. The corpus text carries no PII, so the
    // query splices deterministic synthetic PII (an email per doc, a phone
    // for 2/3 of docs) into the text first, then redacts with patterns in
    // the Java-regex ∩ RE2 dialect — the redacted STRING is hash-verified
    // against DuckDB, so substitution semantics (global replace, class
    // ranges, bounded quantifiers) are pinned cross-engine, and the
    // match counts expose coverage. Narrow per-row map stage at any scale.
    "text_redact" -> ((s, sf) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+1-555-[0-9]{4}"
      t(s, sf, "documents")
        .withColumn("aug", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          when(pmod(col("doc_id"), lit(3)) =!= 0,
            concat(lit(" tel +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("aug"), lit(email), lit("<EMAIL>")),
            lit(phone), lit("<PHONE>")).as("redacted"),
          regexp_count(col("aug"), lit(email)).cast("long").as("n_email"),
          regexp_count(col("aug"), lit(phone)).cast("long").as("n_phone"))
        .orderBy("doc_id")
    }),

    // sliding-window token chunking (round 7): fixed 50-token chunks at
    // stride 40 (10-token overlap) — the RAG / context-window prep step.
    // Chunks come from one transform-over-sequence per row + posexplode:
    // each row expands in place (narrow, no shuffle before the ordering),
    // and chunk count is 1 + (n-1) div stride, so every token lands in at
    // least one chunk and chunk_idx is dense from 0.
    "chunk_text" -> ((s, sf) =>
      graft.functions.TextWindows.chunkTiles(t(s, sf, "documents"), 50, 40)
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          size(split(col("chunk"), " ")).cast("long").as("n_toks"))
        .orderBy("doc_id", "chunk_idx")),

    // chunk-granularity exact dedup (round 8) — the RAG-prep sibling of
    // dedup_exact: chunks from the chunk_text tiling (50 tokens, stride
    // 40) are content-hashed and collapsed to the lexicographically
    // first (doc_id, chunk_idx) survivor via ordered-struct min (the
    // fn_struct arg-min idiom — bare min_by is tie-nondeterministic and
    // §5.4-forbidden). Same transform+posexplode tiling as chunk_text
    // (few chunks per doc — not the many-window explode path). Map stage
    // + one count agg: only 32-char hashes and id structs cross the
    // exchange, never chunk text.
    "dedup_chunks" -> ((s, sf) =>
      graft.functions.TextWindows.chunkTiles(t(s, sf, "documents"), 50, 40)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk").cast("binary")).as("h"))
        .groupBy("h")
        .agg(min(struct(col("doc_id").as("d"), col("chunk_idx").as("i"))).as("m"),
          count(lit(1)).as("cnt"))
        .select(col("h"), col("m.d").as("keep_doc"), col("m.i").as("keep_idx"),
          col("cnt"))
        .orderBy("h")),

    // intra-document repetition signals (round 8) — the Gopher/C4-style
    // quality cut a training pipeline applies before dedup: per doc, the
    // duplicated-3-gram fraction (1 − distinct/total windows) and the
    // highest single-window multiplicity. Shape: explode(sequence) +
    // per-row slice-concat (the Contamination window idiom — an inner
    // explode of an aliased transform(...) array would get an inferred
    // Generate filter, pushed below the alias, that re-splits the text
    // per element: the O(L²) trap Llm.shingleRows documents), then a
    // two-level hash agg: (doc, window) counts → per-doc totals. Narrow
    // map + map-side-combined aggs at any scale; docs under 3 tokens have
    // no windows and drop, like the other window operators.
    "text_repetition" -> ((s, sf) =>
      graft.functions.TextWindows.wordWindows(t(s, sf, "documents"), 3)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          round(lit(1.0) - count(lit(1)) / sum(col("c")), 6).as("dup_frac"),
          max(col("c")).as("top_rep"))
        .orderBy("doc_id")),

    // corpus-level boilerplate signal (round 8) — the CCNet/RefinedWeb cut
    // neither text_repetition (within-doc multiplicity) nor
    // contamination_check (directional train→eval) covers: per doc, the
    // share of its DISTINCT 5-gram windows that also occur in at least one
    // OTHER document. Plan: window explode (the Contamination slice idiom)
    // → per-doc distinct windows (persisted once, read by both consumers)
    // → doc-frequency hash agg keyed on the window → equi-join back on the
    // SAME key: the DF-agg side enters the join exchange-free (already
    // w-partitioned); the probe side pays one hash exchange on w. The DF
    // is a COUNT, not a collected doc set — a boilerplate window shared by
    // a billion docs costs a long, not a bag (the collect_set one-shuffle
    // alternative is the skew trap). df >= 2 means "seen in another doc"
    // because the window table is distinct per (doc, w). At 100 TB the
    // identical plan runs keyed on xxhash64(w) (the minhashCandidates
    // payload compaction — 8-byte keys instead of window text in both
    // exchanges); the declared query keys on the window text so the DuckDB
    // oracle is value-identical by construction, not modulo hash collisions.
    "text_boilerplate" -> ((s, sf) => {
      val tr = new graft.operators.Tracked
      boilerplateStats(t(s, sf, "documents"), hashKeys = false, tr)
        .orderBy("doc_id")
    }),

    // token-distribution Shannon entropy per doc (round 9) — the
    // lowest-order "is this gibberish or boilerplate" signal (a doc
    // repeating one token has entropy 0; a uniform draw over v tokens has
    // log2 v): H = log2(n) − (Σ c·log2 c)/n over exact integer token
    // counts, one explode + two map-side-combined hash aggs. The only
    // floats are the per-distinct-token log terms summed per doc —
    // dozens of bounded terms, so round(…,6) absorbs order noise (the
    // fn_math discipline; no decimal detour needed).
    "text_entropy" -> ((s, sf) =>
      t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          round(log2(sum(col("c"))) -
            sum(col("c") * log2(col("c"))) / sum(col("c")), 6).as("entropy"))
        .orderBy("doc_id")),

    // corpus-unigram language-model scoring (round 9) — the CCNet-style
    // perplexity quality cut with the corpus itself as the LM: per doc,
    // the mean surprisal −(Σ log2 p(tk))/n where p(tk) = corpus count /
    // corpus total. Plan: ONE token explode persisted and read three ways
    // (vocabulary frequencies, the 1-row total, the per-doc probe);
    // frequencies join back on the token (vocabulary-sized side — at
    // 100 TB a size-based broadcast or a bucketed equi-join, never a
    // corpus-sized shuffle), the total rides a 1-row broadcast cross
    // join (the scalar-subquery shape, constant build side by
    // construction — PlanGuardSpec-exempted like filter_subquery).
    "quality_lm" -> ((s, sf) => {
      val tr = new graft.operators.Tracked
      val tok = tr.persist(t(s, sf, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk")))
      val freq = tok.groupBy("tk").agg(count(lit(1)).as("cf"))
      val tot = tok.agg(count(lit(1)).as("nn"))
      tr.seal(tok.join(freq, "tk").crossJoin(broadcast(tot))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(-sum(log2(col("cf").cast("double") / col("nn"))) / count(lit(1)), 6)
              .as("avg_surprisal")))
        .orderBy("doc_id")
    }),

    // custom Catalyst Generator: character 3-gram counts (the §2.12
    // stretch UDTF, registered via SparkSessionExtensions)
    "udtf_char_ngrams" -> ((s, sf) =>
      t(s, sf, "documents")
        .selectExpr("graft_char_ngrams(text, 3) AS g")
        .groupBy("g").agg(count(lit(1)).as("cnt"))
        .orderBy("g")),

    // Gopher-style rule filter (round 11; Rae et al., *Scaling Language
    // Models: Gopher*, 2021, Appendix A — the published quality-rule
    // family): per-doc word count, mean word length, unique-token ratio,
    // and stopword presence, rolled up into per-rule failure counts and
    // the all-rules pass count. quality_lm scores; this FILTERS — the
    // named-rule summary a corpus curator reads before dropping 20% of
    // the crawl. One map-side pass (per-doc stats are array expressions),
    // one 1-row aggregate; ratio comparisons are single IEEE divisions on
    // exact integers, identical both engines.
    "quality_gopher" -> ((s, sf) => {
      val m = t(s, sf, "documents")
        .select(split(col("text"), " ").as("tk"))
        .select(expr("size(tk)").as("nw"),
          expr("aggregate(transform(tk, t -> length(t)), 0, (a, x) -> a + x)").as("sl"),
          expr("size(array_distinct(tk))").as("nu"),
          expr("size(filter(tk, t -> t IN ('the','a','of','and','in','to')))").as("ns"))
        .select(col("nw"), col("nu"), col("ns"),
          (col("sl").cast("double") / col("nw")).as("mwl"))
      m.agg(count(lit(1)).as("n_docs"),
          sum(when(col("nw") < 30, 1).otherwise(0)).cast("long").as("fail_wc"),
          sum(when(col("mwl") < 3.5 || col("mwl") > 10, 1).otherwise(0)).cast("long").as("fail_mwl"),
          sum(when(col("nu").cast("double") / col("nw") < 0.5, 1).otherwise(0)).cast("long").as("fail_uniq"),
          sum(when(col("ns") < 2, 1).otherwise(0)).cast("long").as("fail_stop"),
          sum(when(col("nw") >= 30 && col("mwl") >= 3.5 && col("mwl") <= 10 &&
            col("nu").cast("double") / col("nw") >= 0.5 && col("ns") >= 2, 1)
            .otherwise(0)).cast("long").as("pass_all"))
    }),

    // PMI collocations (round 11): statistically-bound word pairs — the
    // classic collocation score log2(P(ab) / (P(a)P(b))) over adjacent
    // token pairs, the salience signal tf alone misses ("new york" binds;
    // "of the" doesn't despite its count). ONE pass over the token stream
    // builds the (w1, w2, cnt) bigram table — the query's intrinsic
    // corpus-linear agg, the BPE word-count shape; marginals and the
    // grand total derive from that compact table (never re-reading the
    // corpus), the total broadcasts as a 1-row scalar. min-count 5 prunes
    // the noise tail before the joins.
    //
    // Vocab cap contract (r14, r13 verdict item 5): every token-keyed
    // frame that LEAVES the intrinsic bigram table is bounded — the
    // scored vocabulary is the top [[collocVocabCap]] token types by
    // bigram involvement (count desc, token asc — deterministic), and
    // both marginal join sides are kept-vocab-filtered, so they are
    // ≤ cap rows and ride explicit BROADCASTS whatever the corpus's
    // vocabulary does (the synthetic replica composer grows vocab
    // LINEARLY with SF — adversarial vs Heaps-law reality — which is
    // exactly the growth this bounds). Pairs touching a dropped token
    // type are EXCLUDED and the drop is COUNTED and WARN-logged, never
    // silent (the Triangles bucket-cap observability contract). The cap
    // never binds at bench SFs (vocab ≪ 65536 — QueriesSpec pins
    // kept == all and values hash-equal to the uncapped form), so the
    // oracle needs no cap clause. Kept marginals stay computed over the
    // FULL bigram table, so a kept pair's PMI is exact regardless of
    // what was dropped. Deterministic cross-engine: integer counts, one
    // identically-associated log2 per row (events_entropy's discipline),
    // rounded 6dp.
    "text_collocations" -> ((s, sf) =>
      collocations(t(s, sf, "documents"), collocVocabCap)),

    // exact duplicated-SPAN extents (round 11) — the "what to cut" output
    // of exact substring dedup (Lee et al., *Deduplicating Training Data
    // Makes Language Models Better*, ACL 2022, the suffix-array ExactSubstr
    // pass — re-expressed as a window-hash join, which is the
    // shuffle-friendly form at corpus scale): every 8-token window whose
    // text occurs at ≥2 positions ANYWHERE in the corpus (cross-doc or a
    // within-doc repeat) marks its [i, i+8) token interval, and per doc the
    // marked intervals are merged into MAXIMAL spans via gaps-and-islands
    // (a break opens where a window start exceeds the running max of
    // previous interval ends; the island id is the running sum of breaks).
    // This differs from text_boilerplate (per-doc duplicated-window
    // FRACTION) by emitting the span extents a removal pass needs. Plan:
    // position-carrying window stream (narrow) → one map-side-combined
    // count keyed on the window text → equi-join back (the df-count side
    // enters the join already w-partitioned) → two doc-partitioned window
    // functions over the duplicated positions only (bounded per doc by its
    // token count) → span agg. Kernel = [[spanStats]]; its hashKeys=true
    // sibling keys both exchanges on xxhash64(w) — the 100 TB plan,
    // EXECUTED and spec-pinned since r12 (value-identity + long-only
    // exchanges, QueriesSpec); declared here on window text so the oracle
    // is value-identical by construction.
    "dedup_spans" -> ((s, sf) => {
      val tr = new graft.operators.Tracked
      spanStats(t(s, sf, "documents"), k = 8, hashKeys = false, tr)
        .orderBy("doc_id", "span_start")
    }),

    // bigram-LM perplexity scoring (round 11) — the CCNet-style
    // "perplexity under a corpus LM" quality filter quality_lm's unigram
    // surprisal can't express (Wenzek et al., *CCNet*, LREC 2020 use a
    // KenLM; this is the same decision statistic from an add-one-smoothed
    // bigram model trained ON the corpus itself): P(w2|w1) =
    // (C(w1,w2)+1)/(C(w1·)+V), per-doc cross-entropy in bits, perplexity
    // = 2^H. Plan: ONE bigram stream (the wordWindowsAt n=2 shape, narrow)
    // feeds both the model counts and the scoring pass; the context
    // marginal derives from the COMPACT bigram-count table (never a
    // second corpus pass); V and the model tables join at vocab scale —
    // the text_tfidf topology. Kernel = [[perplexityStats]]; its
    // hashKeys=true sibling keys every exchange on xxhash64 token hashes —
    // the 100 TB plan, EXECUTED and spec-pinned since r12. Per-doc sums
    // of dozens of log2 terms are the only floats: round(…,6) absorbs
    // association order (fn_math discipline).
    "quality_perplexity" -> ((s, sf) => {
      val tr = new graft.operators.Tracked
      perplexityStats(t(s, sf, "documents"), hashKeys = false, tr)
        .orderBy("doc_id")
    }),

    // BPE merge training (round 11, rows-only: the merge loop is not
    // SQL-expressible — validated by TextAnalysisBpe tests in QueriesSpec
    // against an independent reference implementation): the subword-vocab
    // step of every LLM data pipeline, in the structure production
    // trainers use at corpus scale — ONE distributed word-count aggregate
    // (map-side combined; the only stage that touches corpus bytes), the
    // weighted word-TYPE vocabulary capped at 65536 types by (count desc,
    // word) before crossing the executor→driver boundary (CAIM's bounded-
    // boundary contract), then [[graft.ml.Bpe]]'s deterministic merge loop
    // (full tiebreak, left-to-right non-overlapping application) over
    // types, not tokens. Output: the 20-row merge table itself.
    "text_bpe_merges" -> ((s, sf) => {
      val vocab = t(s, sf, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(65536)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val merges = graft.ml.Bpe.train(vocab, 20)
      s.createDataFrame(merges).toDF("rank", "lhs", "rhs", "freq")
        .select(col("rank").cast("long").as("rank"), col("lhs"), col("rhs"),
          col("freq"))
        .orderBy("rank")
    }),

    // BPE application (round 11, rows-only — the encode fold is not
    // SQL-expressible; QueriesSpec pins invariants + kernel ground
    // truth): the other half of the tokenizer story — text_bpe_merges
    // TRAINS the merge table, this ENCODES the corpus with it and
    // reports per-doc subword statistics (the token-budget numbers a
    // pipeline actually bills by). The trained merges broadcast as a
    // 20-pair list; encoding is a pure map stage (per-partition, a
    // per-word memo would bound work by VOCAB at scale since word types
    // repeat); n_subwords/n_words is the compression a curator watches.
    "text_bpe_encode" -> ((s, sf) => {
      val vocab = t(s, sf, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(65536)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val merges = graft.ml.Bpe.train(vocab, 20).map(m => (m._2, m._3))
      val bc = s.sparkContext.broadcast(merges)
      // r19: per-task word-type memo — the encode fold is deterministic
      // per word, and word TYPES repeat across a corpus by orders of
      // magnitude (the design note above: "a per-word memo would bound
      // work by VOCAB at scale"); the @transient lazy map re-initializes
      // per deserialized task instance, so executor state never leaks
      // across tasks and the per-occurrence cost drops to a hash probe
      val nSub = udf(new (String => Long) with Serializable {
        @transient private lazy val memo =
          new java.util.HashMap[String, java.lang.Long]()
        def apply(text: String): Long = {
          var total = 0L
          val it = text.split(" ").iterator
          while (it.hasNext) {
            val w = it.next()
            var n = memo.get(w)
            if (n == null) {
              n = java.lang.Long.valueOf(
                graft.ml.Bpe.encode(w, bc.value).length.toLong)
              memo.put(w, n)
            }
            total += n.longValue()
          }
          total
        }
      })
      t(s, sf, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          nSub(col("text")).as("n_subwords"))
        .withColumn("subwords_per_word",
          round(col("n_subwords").cast("double") / col("n_words"), 6))
        .orderBy("doc_id")
    }),

    // SimHash near-dup (capability row: Spark's xxhash64 seeds the bits, so
    // no cross-engine oracle; tests cross-check against exact Jaccard).
    // Banded candidate join (4 × 16-bit bands, [[simhashBandPairs]], round-7
    // bucket cap) — the sub-quadratic path: at 100 TB candidates come from
    // equal-band buckets, never all pairs.
    "dedup_simhash" -> ((s, sf) => {
      val tr = new graft.operators.Tracked
      val cand = simhashBandPairs(t(s, sf, "documents"), maxBucket = 4096, tr = tr)
      tr.seal(cand
          .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long"))
          .where(col("hamming") <= 6)
          .select("a_id", "b_id", "hamming"))
        .orderBy("a_id", "b_id")
    })
  )

  private def markerSql(markers: Seq[String]) =
    markers.map(m => s"'$m'").mkString("[", ", ", "]")

  val oracle: Map[String, String] = Map(
    "quality_gopher" ->
      """WITH m AS (SELECT len(tk) AS nw,
             list_sum(list_transform(tk, t -> len(t))) AS sl,
             len(list_distinct(tk)) AS nu,
             len(list_filter(tk, t -> t IN ('the','a','of','and','in','to'))) AS ns
           FROM (SELECT string_split(text,' ') AS tk FROM documents))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN nw < 30 THEN 1 ELSE 0 END) AS BIGINT) AS fail_wc,
           CAST(sum(CASE WHEN CAST(sl AS DOUBLE)/nw < 3.5
                          OR CAST(sl AS DOUBLE)/nw > 10 THEN 1 ELSE 0 END) AS BIGINT) AS fail_mwl,
           CAST(sum(CASE WHEN CAST(nu AS DOUBLE)/nw < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fail_uniq,
           CAST(sum(CASE WHEN ns < 2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
           CAST(sum(CASE WHEN nw >= 30
                          AND CAST(sl AS DOUBLE)/nw BETWEEN 3.5 AND 10
                          AND CAST(nu AS DOUBLE)/nw >= 0.5
                          AND ns >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
         FROM m""",
    "text_collocations" ->
      """WITH bg AS (
           SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]} for i in range(1, len(tk))],
                         recursive := true)
           FROM (SELECT string_split(text,' ') AS tk FROM documents)
         ), ab AS (SELECT w1, w2, count(*) AS cnt_ab FROM bg GROUP BY 1, 2),
         a AS (SELECT w1, CAST(sum(cnt_ab) AS BIGINT) AS cnt_a FROM ab GROUP BY 1),
         b AS (SELECT w2, CAST(sum(cnt_ab) AS BIGINT) AS cnt_b FROM ab GROUP BY 1),
         n AS (SELECT CAST(sum(cnt_ab) AS BIGINT) AS n_bg FROM ab)
         SELECT ab.w1, ab.w2, cnt_ab,
           round(log2(CAST(cnt_ab * n_bg AS DOUBLE) / CAST(cnt_a * cnt_b AS DOUBLE)), 6) AS pmi
         FROM ab JOIN a ON ab.w1 = a.w1 JOIN b ON ab.w2 = b.w2 CROSS JOIN n
         WHERE cnt_ab >= 5 ORDER BY 1, 2""",
    "text_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
           c AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "quality_lm" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
           f AS (SELECT tk, count(*) AS cf FROM tok GROUP BY 1),
           tt AS (SELECT count(*) AS nn FROM tok)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(-sum(log2(CAST(cf AS DOUBLE) / nn)) / count(*), 6) AS avg_surprisal
         FROM tok JOIN f ON tok.tk = f.tk CROSS JOIN tt
         GROUP BY doc_id ORDER BY doc_id""",
    "text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
           trim(regexp_replace(regexp_replace(text, '\b(a|the)\b', '', 'g'),
                ' +', ' ', 'g')) AS norm
         FROM documents)
         SELECT doc_id, norm,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS toks_before,
           CAST(len(string_split(norm, ' ')) AS BIGINT) AS toks_after
         FROM n ORDER BY doc_id""",
    "eval_langid" ->
      s"""WITH p AS (SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred
         FROM (SELECT lang,
           len(list_filter(string_split(text,' '), t -> list_contains(${markerSql(enM)}, t))) s_en,
           len(list_filter(string_split(text,' '), t -> list_contains(${markerSql(esM)}, t))) s_es,
           len(list_filter(string_split(text,' '), t -> list_contains(${markerSql(deM)}, t))) s_de
         FROM documents)),
         c AS (SELECT lang AS true_lang, pred, count(*) AS n FROM p GROUP BY 1, 2)
         SELECT true_lang, pred, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY true_lang), 6) AS frac_of_true
         FROM c ORDER BY true_lang, pred""",
    "text_langid" ->
      s"""WITH s AS (SELECT doc_id,
           CAST(len(list_filter(string_split(text,' '), t -> list_contains(${markerSql(enM)}, t))) AS BIGINT) s_en,
           CAST(len(list_filter(string_split(text,' '), t -> list_contains(${markerSql(esM)}, t))) AS BIGINT) s_es,
           CAST(len(list_filter(string_split(text,' '), t -> list_contains(${markerSql(deM)}, t))) AS BIGINT) s_de
         FROM documents)
         SELECT doc_id, s_en, s_es, s_de,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred
         FROM s ORDER BY doc_id""",
    "text_quality" ->
      s"""WITH s AS (SELECT doc_id, n_chars, text, string_split(text,' ') tk FROM documents),
         q AS (SELECT doc_id, n_chars,
           CAST(len(tk) AS BIGINT) tok_cnt,
           round(CAST(n_chars - (len(tk) - 1) AS DOUBLE) / len(tk), 6) avg_tok_len,
           round(CAST(len(list_filter(tk, t -> list_contains(${markerSql(enM)}, t))) AS DOUBLE) / len(tk), 6) stop_ratio,
           round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / n_chars, 6) digit_ratio
         FROM s)
         SELECT doc_id, n_chars, tok_cnt, avg_tok_len, stop_ratio, digit_ratio,
           round(least(1.0, tok_cnt / 100.0) * (1.0 - stop_ratio), 6) AS quality
         FROM q ORDER BY doc_id""",
    "text_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
             FROM documents WHERE len(string_split(text, ' ')) >= 8),
           win AS (SELECT DISTINCT doc_id, w FROM (
             SELECT doc_id, unnest(
               [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
                || ' ' || tk[i+7]
                for i in range(1, len(tk) - 6)]) AS w
             FROM tok)),
           first AS (SELECT w, min(doc_id) AS first_doc FROM win GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
         FROM win JOIN first USING (w)
         GROUP BY doc_id ORDER BY doc_id""",
    "text_readability" ->
      """WITH s AS (SELECT lang,
             CAST(len(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
               AS chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             greatest(1, CAST(len(text) - len(replace(text, '.', ''))
               AS BIGINT)) AS sents
           FROM documents),
         a AS (SELECT lang,
             4.71 * chars / words + 0.5 * words / sents - 21.43 AS ari
           FROM s)
         SELECT lang, count(*) AS n_docs,
           round(CAST(sum(CAST(ari AS DECIMAL(38,15))) AS DOUBLE)
             / count(*), 6) AS avg_ari,
           round(min(ari), 6) AS min_ari, round(max(ari), 6) AS max_ari
         FROM a GROUP BY lang ORDER BY lang""",
    "text_tokens" ->
      """SELECT doc_id,
         CAST(len(string_split(text,' ')) AS BIGINT) AS ws_toks,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_toks,
         CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS uniq_toks
         FROM documents ORDER BY doc_id""",
    "text_hashing_tf" ->
      """SELECT doc_id, substr(md5(tok), 1, 2) AS dim, count(*) AS tf FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         WHERE len(tok) > 0
         GROUP BY 1, 2 ORDER BY doc_id, dim""",
    "text_hash_embed" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
           hb AS (SELECT doc_id,
               ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)
                % 64 AS bucket
             FROM tok WHERE len(tok) > 0),
           tf AS (SELECT doc_id, bucket, count(*) AS tf
             FROM hb GROUP BY 1, 2),
           l2 AS (SELECT doc_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS l2
             FROM tf GROUP BY 1)
         SELECT t.doc_id, CAST(t.bucket AS BIGINT) AS bucket,
           CAST(t.tf AS BIGINT) AS tf,
           round(CAST(t.tf AS DOUBLE) / l2.l2, 6) AS w
         FROM tf t JOIN l2 USING (doc_id) ORDER BY doc_id, bucket""",
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents),
           tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY 1, 2),
           df AS (SELECT tk, count(*) AS df
             FROM (SELECT DISTINCT doc_id, tk FROM tok) GROUP BY 1),
           nn AS (SELECT count(*) AS n FROM documents),
           sc AS (SELECT doc_id, tf.tk, tf, df,
               tf * ln((n + 1.0) / (df + 1.0)) AS score
             FROM tf JOIN df ON tf.tk = df.tk, nn),
           r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, tk) AS rnk FROM sc)
         SELECT doc_id, tk, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(score, 6) AS score
         FROM r WHERE rnk = 1 ORDER BY doc_id""",
    "text_bigram_lm" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS a FROM documents),
           bg AS (SELECT unnest(
               [{'cur': a[i], 'nxt': a[i+1]} for i in range(1, len(a))],
               recursive := true) FROM tok),
           c AS (SELECT cur, nxt, count(*) AS c FROM bg GROUP BY 1, 2),
           tt AS (SELECT cur, sum(c) AS tot FROM c GROUP BY 1),
           r AS (SELECT c.cur, c.nxt, c.c, tt.tot,
               row_number() OVER (PARTITION BY c.cur
                 ORDER BY c.c DESC, c.nxt) AS rank
             FROM c JOIN tt USING (cur))
         SELECT cur, CAST(rank AS BIGINT) AS rank, nxt,
           CAST(c AS BIGINT) AS c, CAST(tot AS BIGINT) AS tot,
           round(c * 1.0 / tot, 6) AS p
         FROM r WHERE rank <= 3 ORDER BY cur, rank""",
    "text_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents),
           tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY 1, 2),
           df AS (SELECT tk, count(*) AS df
             FROM (SELECT DISTINCT doc_id, tk FROM tok) GROUP BY 1),
           r AS (SELECT tf.doc_id, tf.tk, tf.tf, df.df,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf DESC, df.df, tf.tk) AS rank
             FROM tf JOIN df ON tf.tk = df.tk)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, tk AS term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "text_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents),
           dl AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
           st AS (SELECT CAST(sum(dl) AS BIGINT) AS tot, count(*) AS nd
             FROM dl),
           tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok
             WHERE tk IN ('dup', 'vector', 'merge') GROUP BY 1, 2),
           dfq AS (SELECT tk, count(*) AS df FROM tf GROUP BY 1),
           terms AS (SELECT tf.doc_id,
               CAST(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * (tf * 2.2)
                 / (tf + 1.2 * (0.25 + 0.75 * dl
                   / (CAST(tot AS DOUBLE) / nd)))
                 AS DECIMAL(38,15)) AS term15
             FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tk)
               CROSS JOIN st),
           sc AS (SELECT doc_id, sum(term15) AS s FROM terms GROUP BY 1)
         SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS bm25
         FROM sc ORDER BY s DESC, doc_id LIMIT 20""",
    "text_top_tokens" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents),
           c AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
           r AS (SELECT doc_id, tk, c, row_number() OVER (PARTITION BY doc_id
               ORDER BY c DESC, tk) AS rnk FROM c)
         SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tk, CAST(c AS BIGINT) AS c
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "filter_pipeline" ->
      s"""WITH s AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk
             FROM documents),
           q AS (SELECT doc_id, n_chars,
               CAST(len(tk) AS BIGINT) AS tok_cnt,
               CAST(len(list_filter(tk, t -> list_contains(${markerSql(enM)}, t)))
                    AS DOUBLE) / greatest(len(tk), 1) AS stop_ratio,
               CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1)
                 AS distinct_ratio
             FROM s),
           r AS (SELECT *, CASE WHEN n_chars < 100 THEN 'too_short'
               WHEN tok_cnt < 20 THEN 'too_few_tokens'
               WHEN stop_ratio < 0.05 THEN 'low_stopword'
               WHEN distinct_ratio < 0.30 THEN 'repetitive'
               ELSE 'kept' END AS reason FROM q)
         SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM r GROUP BY 1 ORDER BY 1""",
    "text_redact" ->
      """WITH a AS (SELECT doc_id, text ||
             ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
             CASE WHEN doc_id % 3 <> 0
                  THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS aug
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(aug,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phone
         FROM a ORDER BY doc_id""",
    "chunk_text" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           c AS (SELECT doc_id, unnest(
              [{'chunk_idx': i, 'chunk': array_to_string(tk[(i*40+1):(i*40+50)], ' ')}
               for i in range(0, ((len(tk) - 1) // 40) + 1)], recursive := true)
            FROM tok)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk,
           CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_toks
         FROM c ORDER BY doc_id, chunk_idx""",
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           g AS (SELECT doc_id, unnest(
                   [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk)-1)]) AS w
                 FROM tok),
           c AS (SELECT doc_id, w, count(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_frac,
           CAST(max(c) AS BIGINT) AS top_rep
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "dedup_chunks" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           c AS (SELECT doc_id, unnest(
              [{'chunk_idx': i, 'chunk': array_to_string(tk[(i*40+1):(i*40+50)], ' ')}
               for i in range(0, ((len(tk) - 1) // 40) + 1)], recursive := true)
            FROM tok),
           h AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, md5(chunk) AS h FROM c)
         SELECT h, min(struct_pack(d := doc_id, i := chunk_idx)).d AS keep_doc,
           CAST(min(struct_pack(d := doc_id, i := chunk_idx)).i AS BIGINT) AS keep_idx,
           CAST(count(*) AS BIGINT) AS cnt
         FROM h GROUP BY h ORDER BY h""",
    "text_boilerplate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
                      FROM documents WHERE len(string_split(text, ' ')) >= 5),
           win AS (SELECT DISTINCT doc_id, w FROM (
                     SELECT doc_id, unnest(
                       [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]
                        for i in range(1, len(tk) - 3)]) AS w
                     FROM tok)),
           df AS (SELECT w, count(*) AS df FROM win GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS shared_frac
         FROM win JOIN df USING (w)
         GROUP BY doc_id ORDER BY doc_id""",
    "udtf_char_ngrams" ->
      """SELECT g, count(*) AS cnt FROM (
           SELECT unnest([substring(text, i, 3) for i in range(1, length(text) - 1)]) AS g
           FROM documents)
         GROUP BY g ORDER BY g""",
    "quality_perplexity" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tkl FROM documents),
           bg AS (SELECT doc_id, unnest([{'w1': tkl[i], 'w2': tkl[i+1]}
                    for i in range(1, len(tkl))], recursive := true)
                  FROM tok WHERE len(tkl) >= 2),
           cb AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
           cu AS (SELECT w1, sum(c) AS cw FROM cb GROUP BY 1),
           v AS (SELECT count(DISTINCT tk) AS vv FROM
                 (SELECT unnest(string_split(text, ' ')) AS tk FROM documents))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(pow(2.0, -sum(log2((cb.c + 1.0)/(cu.cw + vv)))/count(*)), 6) AS ppl
         FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
         GROUP BY doc_id ORDER BY doc_id""",
    "dedup_spans" ->
      """WITH w AS (
           SELECT doc_id, unnest(
               [{'i': i - 1, 'w': array_to_string(tk[i:i+7], ' ')}
                for i in range(1, len(tk) - 6)], recursive := true)
           FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
           WHERE len(tk) >= 8),
         c AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
         dup AS (SELECT doc_id, i FROM w JOIN c USING (w) WHERE cnt >= 2),
         isl AS (SELECT doc_id, i,
             CASE WHEN i > coalesce(max(i + 8) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
           FROM dup),
         grp AS (SELECT doc_id, i,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
           FROM isl)
         SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + 8 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_windows
         FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""",
    "text_fingerprint" ->
      """SELECT doc_id,
         CAST(sum((pos + 1) * (length(tok)*256 + ascii(substr(tok,1,1)))) % 2147483647 AS BIGINT) AS fp
         FROM (SELECT doc_id,
                 unnest(range(len(string_split(text,' ')))) AS pos,
                 unnest(string_split(text,' ')) AS tok
               FROM documents)
         GROUP BY doc_id ORDER BY doc_id"""
  )
}
