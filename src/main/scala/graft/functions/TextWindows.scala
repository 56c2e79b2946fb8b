package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared word-window stream: (doc_id, w) where w is the space-joined
  * n-token sliding window of `text`. Shaped as explode(sequence) +
  * per-row slice-join — O(windows × n) by construction. The generator's
  * input is an expression, not an attribute, so Catalyst's
  * `InferFiltersFromGenerate` adds no `size(...) > 0` Filter; an inner
  * explode of an ALIASED `transform(...)` array gets one, and predicate
  * pushdown moves it below the alias, where the lambda re-splits the
  * text per element (the O(L²) trap [[graft.queries.Llm.shingleRows]]
  * documents). Docs under n tokens have no windows and drop. Within-doc
  * duplicate windows pass through — callers distinct/aggregate per their
  * own semantics. ONE definition for the three window consumers
  * (text_repetition, text_boilerplate, Contamination), so tokenization
  * and window bounds can never silently diverge between them.
  */
object TextWindows {
  def wordWindows(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, size(tk) - $n)")).as("i"))
      .select(col("doc_id"),
        expr(s"concat_ws(' ', slice(tk, i + 1, $n))").as("w"))
  }

  /** Position-carrying variant of [[wordWindows]]: (doc_id, i, w) where
    * `i` is the 0-based token offset of the window start. Same
    * explode(sequence) + slice-join shape (no inferred Generate filter,
    * see above); the extra column is the int offset the explode already
    * produces, so the plan is identical to wordWindows plus one kept
    * attribute. Consumer: `dedup_spans`, which needs offsets to merge
    * duplicated windows into maximal span extents.
    */
  def wordWindowsAt(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, size(tk) - $n)")).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        expr(s"concat_ws(' ', slice(tk, i + 1, $n))").as("w"))
  }

  /** Fixed-size token tiling: (doc_id, chunk_idx, chunk) with `size`-token
    * chunks at `stride` (overlap = size − stride); chunk count is
    * 1 + (n−1) div stride, so every token lands in ≥1 chunk and chunk_idx
    * is dense from 0. Unlike [[wordWindows]] this explodes a
    * transform(...) array — passed to posexplode as an expression, not
    * an aliased attribute, so no Generate filter is inferred and the
    * array is built once per doc (chunks per doc are few: n/stride). ONE
    * definition for the two tiling consumers (chunk_text, dedup_chunks),
    * so chunk geometry can never silently diverge between them.
    */
  def chunkTiles(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(tk) - 1) div $stride),
           |  i -> array_join(slice(tk, i * $stride + 1, $size), ' '))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"))
  }
}
