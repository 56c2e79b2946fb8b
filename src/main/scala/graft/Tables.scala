package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the query library.
  *
  * Determinism discipline (SURVEY.md §5.4): money-like doubles in the corpus
  * carry <=4 decimal places, so we sum them as exact DECIMAL and cast the
  * exact total back to double — bit-identical to DuckDB's reading of the same
  * arithmetic, independent of partial-aggregation order. Timestamps are
  * always emitted as epoch microseconds (BIGINT) to sidestep parquet
  * timestamp physical-type differences between writers.
  */
object T {
  type Q = (SparkSession, String) => DataFrame

  /** Load one corpus table (TESTDATA.md): `$sf/$name.parquet`.
    *
    * Timestamp contract, normalized in ONE place (every query downstream may
    * assume plain `TimestampType`):
    *
    *  - The 2026-08-13 corpus writes `timestamp[us]` with
    *    `isAdjustedToUTC=false`, which Spark 4 infers as `TIMESTAMP_NTZ` by
    *    default. We disable that inference
    *    (`spark.sql.parquet.inferTimestampNTZ.enabled=false`) so the scan
    *    itself produces `TimestampType` — value-identical under the UTC
    *    session timezone every entry point pins, and, unlike a projection
    *    cast, it keeps parquet filter pushdown on timestamp predicates.
    *  - Belt-and-braces: any `TIMESTAMP_NTZ` field that still slips through
    *    (e.g. a session built without our configs) is cast to
    *    `TimestampType` post-scan.
    *  - Back-compat with the pre-regen corpus: TIMESTAMP(NANOS) columns read
    *    as epoch-nano longs under `nanosAsLong=true` are truncated to
    *    microseconds — the same ns→µs truncation DuckDB applies.
    */
  // Loader memo (r14, the fixed-cost shave): every t() paid a file
  // listing + parquet footer schema read (~90 ms measured at sf0.1), and
  // a full harness run makes ~400 such calls — tens of seconds of pure
  // relation-resolution re-work for immutable corpus dirs. The memo keys
  // on (session identity, dir, table) and stores the LOGICAL frame (a
  // plan, not data — nothing here pins executor memory, and the harness's
  // cacheManager.clearCache() between queries is irrelevant to it).
  // Bounded; eviction wholesale (corpus tables number ~10 per SF). The
  // corpus contract makes the staleness trade explicit: /root/testdata
  // and the composed /tmp corpora are write-once per run — a table
  // REWRITTEN under a memoized path within one session would serve the
  // old file list, which is why sink/round-trip queries use their own
  // run-tagged dirs and never read through t().
  private val tMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String), DataFrame]()

  def t(s: SparkSession, sf: String, n: String): DataFrame = {
    val key = (System.identityHashCode(s), sf, n)
    val hit = tMemo.get(key)
    if (hit != null) return hit
    // pushdown-preserving NTZ fix for sessions built without our configs —
    // schema inference happens inside read.parquet, so the conf only needs
    // to hold across that call; restore the caller's value afterwards
    // rather than mutating shared session state at a distance (a caller
    // that deliberately enabled NTZ inference keeps it for its own reads)
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = s.conf.getOption(ntzKey)
    s.conf.set(ntzKey, "false")
    val df = try s.read.parquet(s"$sf/$n.parquet")
             finally prev match {
               case Some(v) => s.conf.set(ntzKey, v)
               case None => s.conf.unset(ntzKey)
             }
    val out = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast("timestamp"))
        case org.apache.spark.sql.types.LongType if f.name == "ts" =>
          d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => d
      }
    }
    if (tMemo.size >= 256) tMemo.clear()
    tMemo.put(key, out)
    out
  }

  /** Exact order-independent sum of a fixed-scale double column.
    *
    * Semantics are `sum(CAST(c AS DECIMAL(18, scale))).cast("double")` —
    * string-repr HALF_UP input rounding (the cross-engine contract), exact
    * associative accumulation, one final nearest-even double conversion.
    * Execution is the codegen'd 128-bit aggregate
    * [[graft.functions.SumUnscaledFixed]]: no per-row BigDecimal adds, and
    * for DOUBLE inputs the per-row cast itself takes the proven fast path
    * in [[graft.functions.D2U]] (round + verifying round-trip; falls back
    * to the definitional string-repr conversion whenever the proof
    * obligation fails). r18 optimization — see OPTIMIZATION_r18.md.
    *
    * Dirty input fails loudly: a DOUBLE input that is NaN, ±Infinity, or
    * whose unscaled value (x · 10^scale, rounded) lies outside Long range
    * throws an `ArithmeticException` naming `graft_dsum` (the job fails;
    * nothing is silently dropped or reset). Filter such rows first.
    * Nulls are skipped, and a group of only nulls sums to NULL.
    */
  def dsum(c: Column, scale: Int): Column =
    call_function("graft_dsum", c, lit(scale))

  /** [[dsum]] over an ALREADY-decimal column (precision ≤ 18 required):
    * the caller owns the cast — used by the explicit power/cross-moment
    * sums (agg_stats / agg_moments / agg_corr / agg_ols family) whose
    * product expressions fit 18 digits per row by column-bound analysis. */
  def dsumDecimal(c: Column): Column = call_function("graft_dsum", c)

  /** Exact average: decimal sum over bigint count, one IEEE division. */
  def davg(c: Column, scale: Int): Column =
    dsum(c, scale) / count(lit(1))

  /** Exact cross-moment sum (r19): value-identical to
    * `sum(CAST(x AS DECIMAL(18,sx)) * CAST(y AS DECIMAL(18,sy)))
    * .cast("double")` — the Σx²/Σxy sums of the agg_ols / agg_corr /
    * agg_anova family — executed as one 128-bit integer multiply-
    * accumulate per row ([[graft.functions.SumUnscaledProduct]]). Dirty
    * input fails as in [[dsum]], per factor; a row with a null on either
    * side is skipped. */
  def dxsum(x: Column, y: Column, sx: Int, sy: Int): Column =
    call_function("graft_dxsum", x, y, lit(sx), lit(sy))

  /** [[dsumDecimal]] finished as DECIMAL(38, s) instead of double, for
    * consumers that keep doing exact decimal arithmetic on the sum
    * (agg_ttest's complement subtraction). */
  def dsumDec(c: Column): Column = call_function("graft_dsumd", c)
}
