package graft.queries

import org.apache.spark.sql.functions._
import graft.T
import graft.T.{Q, t}

/** SURVEY.md §2.11 — event-time operators written once, runnable in both
  * batch (declared here, oracle-checked) and Structured Streaming (same
  * expressions under readStream + MemoryStream in the test suite, with
  * watermarks / stateful dedup as capability tests).
  *
  * Window starts are emitted as epoch microseconds; both engines align
  * tumbling/sliding grids to the epoch so `date_trunc`/`time_bucket` agree.
  */
object Streams {
  import org.apache.spark.sql.DataFrame

  /** Per-JVM sink/checkpoint namespace (the Sources.tmp discipline):
    * distinct driver runs never share streaming state. */
  private lazy val runTag = java.util.UUID.randomUUID().toString.take(8)

  /** Per-invocation sequence for the manifest/TxnSink stream fixtures
    * (round 16, r15 verdict item 5): the SOURCE staging is memoized per
    * JVM (one fixture cost), but the checkpoint + sink are FRESH per
    * invocation so every run times the real consume path. The r15 bench
    * "regression" (0.62 → 2.06 s) was an artifact of the old fully-
    * memoized dirs: Bench's outlier-retry pass re-ran the query against
    * an existing checkpoint, measured a no-op drain, and min() reported
    * that — the number measured nothing. The real split at sf0.1 (r16):
    * staging ≈ 0.9 s fixture, drain ≈ 0.7 s of which TxnSink addBatch
    * ≈ 0.4 s, readback ≈ 0.6 s; the r15 admission-control and
    * nested-converter suspects cost ≤ 14 ms of latestOffset+planning. */
  private val invocation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The merge-on-read CDC SOURCE table shared by `stream_manifest_cdf`
    * and `stream_manifest_cdf_keyed` — since r18 (optimization) this IS
    * `Sources.morCdfFixture`, the byte-identical table the batch CDC
    * queries (manifest_changes / manifest_changes_apply /
    * manifest_cdc_scd2) already stage: both modules built the SAME two
    * %2 appends + MoR DELETE of clicks + upsertMor MERGE (purchases
    * bumped by an exact-decimal +100.00, plus a key-shifted backfill
    * batch) into two different tmp dirs, so every bench run paid the
    * ~2.5 s staging twice (guide §1.2 — don't compute things twice).
    * Memoized per (JVM, SF); each streaming consumer still drains into
    * ITS OWN fresh sink + checkpoint per invocation, so the timed path
    * stays the real consume. */
  private def mcdfFixture(s: org.apache.spark.sql.SparkSession,
      sf: String): String = Sources.morCdfFixture(s, sf)

  /** Write-once event-time transforms: valid on a batch DataFrame (declared
    * queries below) and on a readStream DataFrame (StreamingSpec). Results
    * are unordered — batch callers add their ORDER BY.
    */
  def tumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), T.dsum(col("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("event_type"),
        col("cnt"), col("sum_value"))

  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("cnt"), T.dsum(col("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"), col("sum_value"))

  def session(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), T.dsum(col("value"), 2).as("sum_value"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("ws_us"),
        unix_micros(col("session_window.end")).as("we_us"), col("cnt"), col("sum_value"))

  /** Event-time interval join, write-once: each left event pairs with right
    * events of the same user inside [a_ts, a_ts + gap]. Batch: an equi-join
    * on user_id with the range condition as join filter (one hash exchange
    * per side). Streaming: the same expression on two watermarked streams —
    * the explicit time bound is what lets Spark expire join state once the
    * watermark passes a_ts + gap, keeping state O(gap × rate), not O(stream).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, gap: String): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val r = right.select(col("user_id").as("r_user"), col("ts").as("b_ts"),
      col("event_id").as("b_id"))
    l.join(r, col("user_id") === col("r_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $gap"))
      .select(col("user_id"), col("a_id"), col("b_id"), col("a_ts"), col("b_ts"))
  }

  /** Write-once keyed first-event dedup: the earliest (ts, event_id) event
    * per (user_id, event_type). Batch: one min-struct aggregate (declared
    * query below, oracled against a row_number window). Streaming: the same
    * key set under `dropDuplicatesWithinWatermark` — state is ONE row per
    * key inside the watermark horizon instead of unbounded
    * `dropDuplicates` state, which is the only dedup shape that survives
    * an endless stream; StreamingSpec pins batch ≡ streaming when events
    * arrive in event-time order.
    */
  def firstPerKey(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("f.ts")).as("first_us"), col("f.event_id").as("first_id"))

  /** Top-k event types per tumbling window. The COUNT half is the
    * streamable aggregate ([[tumbling]] — the same one stream_tumbling
    * declares); the RANK half is deliberately not a streaming operation
    * (rank over an open streaming aggregate is unsupported for good
    * reason — a window's ranking is only final when the window closes),
    * so in production it runs in the sink's foreachBatch over each
    * emitted window — exactly how StreamingSpec drives it. Deterministic
    * cut: (cnt desc, event_type) total order, never a bare rank on counts.
    */
  def topkPerWindow(counts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts.withColumn("rnk", row_number().over(
        Window.partitionBy("ws_us").orderBy(col("cnt").desc, col("event_type"))))
      .where(col("rnk") <= k)
      .select(col("ws_us"), col("rnk").cast("long").as("rnk"),
        col("event_type"), col("cnt"))
  }

  val queries: Map[String, Q] = Map(
    // top-2 event types per hourly window (the foreachBatch rank over the
    // streamable tumbling counts)
    "stream_topk" -> ((s, sf) =>
      topkPerWindow(tumbling(t(s, sf, "events")), 2)
        .orderBy("ws_us", "rnk")),

    // 1-hour tumbling event-time windows per event_type
    "stream_tumbling" -> ((s, sf) =>
      tumbling(t(s, sf, "events")).orderBy("ws_us", "event_type")),

    // keyed first-event dedup (streaming shape: dropDuplicatesWithinWatermark)
    "stream_dedup" -> ((s, sf) =>
      firstPerKey(t(s, sf, "events")).orderBy("user_id", "event_type")),

    // 1-hour windows sliding every 15 min (each event lands in 4 windows)
    "stream_sliding" -> ((s, sf) =>
      sliding(t(s, sf, "events")).orderBy("ws_us")),

    // data-driven session windows, 30-min gap, per user
    "stream_session" -> ((s, sf) =>
      session(t(s, sf, "events")).orderBy("user_id", "ws_us")),

    // exactly-once transactional streaming sink (round 12, third batch) —
    // the END of the streaming story the tumbling/session/join queries
    // start: a REAL Structured Streaming job (file source, AvailableNow)
    // lands every micro-batch in a ManifestTable through
    // [[graft.streaming.TxnSink]], whose batchId-tagged commits make
    // retries no-ops; the query then DELIBERATELY replays the last
    // batchId (the foreachBatch crash-retry) and reads the table back.
    // Hash-matching the plain-table oracle IS the exactly-once assertion:
    // one lost batch fails counts low, one duplicated replay fails them
    // high. Re-runs inside one JVM are deterministic — the memoized
    // input re-streams into a FRESH sink+checkpoint each invocation
    // (see [[invocation]]), landing the identical committed set. Scale:
    // per batch one parquet write + one O(files) manifest swap; the
    // aggregate reads the manifest's file list, never a directory
    // listing.
    "stream_sink_txn" -> ((s, sf) => {
      val tag = new java.io.File(sf).getName
      val base = s"${sys.props("java.io.tmpdir")}/graft_txnsink_${runTag}_$tag"
      // source memoized; sink + checkpoint fresh per invocation (see
      // [[invocation]]) so a re-run times a real consume, not a no-op
      val inv = invocation.incrementAndGet()
      val (inDir, tblDir, ckpt) =
        (s"$base/in", s"$base/run$inv/tbl", s"$base/run$inv/ckpt")
      // stage the source ONCE per JVM: a re-run must re-observe the same
      // committed table, not feed the checkpointed stream a fresh set of
      // part filenames (which would be new data to a file source — the
      // re-run would legitimately append a second copy)
      if (!new java.io.File(inDir).exists()) {
        t(s, sf, "events")
          .select("event_id", "user_id", "event_type", "value")
          .coalesce(4).write.parquet(inDir)
      }
      val q = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .parquet(inDir)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(tblDir, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the crash-retry: replay the highest committed batchId with the
      // same rows — the tagged commit must no-op, not duplicate. Outside
      // the stream the queryId property is unset, so the replay passes the
      // query's own id (checkpoint-stable) to land in the same tag
      // namespace the in-stream commits used.
      val lastBatch = graft.operators.ManifestTable
        .versions(s, tblDir).size - 1L
      graft.streaming.TxnSink.commitBatch(tblDir,
        s.read.parquet(inDir), lastBatch, queryId = q.id.toString)
      graft.operators.ManifestTable.read(s, tblDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          T.dsum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // manifest table as a STREAMING SOURCE (round 14) — the consume side
    // of the manifest protocol as a first-class DSv2 MicroBatchStream
    // ([[graft.streaming.ManifestTableProvider]] — the Delta-streaming-
    // source role): manifest VERSIONS are the offsets, each micro-batch
    // reads exactly the file-set diff between two manifests, and the
    // engine's offset checkpoint is the consumer's readVersion. Declared
    // end to end: the events table is PRODUCED as three manifest commits,
    // CONSUMED by a real Structured Streaming query through the source
    // (AvailableNow), landed exactly-once in a second manifest table
    // through [[graft.streaming.TxnSink]], and the result is the
    // read-back rollup — so the hash check against the plain-table
    // oracle proves the whole produce→stream→commit→read loop loses and
    // duplicates nothing (including the timestamp column surviving the
    // parquet-physical-type round trip). Re-runs in one JVM are
    // deterministic: the source commits stage once; the stream drains
    // them into a FRESH sink+checkpoint each invocation (see
    // [[invocation]]), landing the identical committed set.
    // Scale: planning a batch is two manifest reads + a set diff; each
    // added file is one input partition — a consumer pays O(increment),
    // never O(table).
    "stream_manifest_source" -> ((s, sf) => {
      val tag = new java.io.File(sf).getName
      val base = s"${sys.props("java.io.tmpdir")}/graft_msrc_${runTag}_$tag"
      // source memoized; sink + checkpoint fresh per invocation (see
      // [[invocation]]) so a re-run times a real consume, not a no-op
      val inv = invocation.incrementAndGet()
      val (srcTbl, outTbl, ckpt) =
        (s"$base/src", s"$base/run$inv/out", s"$base/run$inv/ckpt")
      if (graft.operators.ManifestTable.versions(s, srcTbl).isEmpty) {
        val e = t(s, sf, "events")
        (0 to 2).foreach { r =>
          graft.operators.ManifestTable.commit(s, srcTbl,
            e.filter(pmod(col("event_id"), lit(3)) === r))
        }
      }
      val q = s.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", srcTbl).load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(outTbl, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.ManifestTable.read(s, outTbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          T.dsum(col("value"), 2).as("sum_value"),
          max(unix_micros(col("ts"))).as("max_us"))
        .orderBy("event_type")
    }),

    // ADMISSION-CONTROLLED manifest stream consume (round 15) — the
    // maxVersionsPerTrigger rate limit (SupportsAdmissionControl): the
    // same produce→stream→exactly-once-sink→read round trip as
    // stream_manifest_source, but each micro-batch is capped at ONE
    // committed version, so a consumer starting against a long-history
    // table catches up in bounded batches instead of one giant initial
    // batch. Hash-matching the same plain-table oracle proves rate
    // limiting loses nothing and duplicates nothing; StreamingSpec pins
    // that the capped drain really took one-version batches.
    "stream_manifest_ratelimit" -> ((s, sf) => {
      val tag = new java.io.File(sf).getName
      val base = s"${sys.props("java.io.tmpdir")}/graft_msrl_${runTag}_$tag"
      // source memoized; sink + checkpoint fresh per invocation (see
      // [[invocation]]) so a re-run times a real consume, not a no-op
      val inv = invocation.incrementAndGet()
      val (srcTbl, outTbl, ckpt) =
        (s"$base/src", s"$base/run$inv/out", s"$base/run$inv/ckpt")
      if (graft.operators.ManifestTable.versions(s, srcTbl).isEmpty) {
        val e = t(s, sf, "events")
        (0 to 2).foreach { r =>
          graft.operators.ManifestTable.commit(s, srcTbl,
            e.filter(pmod(col("event_id"), lit(3)) === r))
        }
      }
      val q = s.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", srcTbl)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(outTbl, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.ManifestTable.read(s, outTbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          T.dsum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // FILE-capped manifest stream consume (round 16) — maxFilesPerTrigger,
    // the Delta-source admission cap at FILE granularity: offsets are
    // (version, file-index), so a batch can end mid-version and a
    // consumer recovering against a table whose individual commits are
    // huge still catches up in bounded batches (version caps can't bound
    // one fat commit). Same produce→stream→exactly-once-sink→read round
    // trip and the same plain-table oracle as stream_manifest_source;
    // StreamingSpec pins the mid-version slicing and no-loss.
    "stream_manifest_backfill" -> ((s, sf) => {
      val tag = new java.io.File(sf).getName
      val base = s"${sys.props("java.io.tmpdir")}/graft_msfb_${runTag}_$tag"
      val inv = invocation.incrementAndGet()
      val (srcTbl, outTbl, ckpt) =
        (s"$base/src", s"$base/run$inv/out", s"$base/run$inv/ckpt")
      if (graft.operators.ManifestTable.versions(s, srcTbl).isEmpty) {
        val e = t(s, sf, "events")
        (0 to 1).foreach { r =>
          graft.operators.ManifestTable.commit(s, srcTbl,
            e.filter(pmod(col("event_id"), lit(2)) === r).repartition(4))
        }
      }
      val q = s.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", srcTbl)
        .option("maxFilesPerTrigger", "3").load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(outTbl, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.ManifestTable.read(s, outTbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          T.dsum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // row-level STREAMING change feed (round 17) — the readChangeFeed
    // consume of a merge-on-read table, closing the r16 gap where a
    // delete-adding window could only REFUSE: the events table lands as
    // two appends + a MoR DELETE (clicks) + an upsertMor MERGE
    // (purchases value-bumped exact-decimal +100, plus a backfill batch),
    // and a real Structured Streaming query drains it with
    // .option("readChangeFeed", true) — added files arrive as insert
    // events, delete sidecars as the DELETED ROWS tagged delete (the
    // pre-delete image, Delta CDF's convention), each stamped with its
    // _commit_version. The drain lands exactly-once through TxnSink and
    // the read-back rollup hash-matches the SAME oracle as the batch
    // manifest_changes query — streaming CDC ≡ batch table_changes ≡
    // the plain-table recomputation. Scale: planning stays O(versions)
    // metadata; each insert file / delete sidecar is one partition; a
    // GDPR delete streams as O(deleted rows) retraction events, never a
    // table rescan.
    "stream_manifest_cdf" -> ((s, sf) => {
      val tag = new java.io.File(sf).getName
      val base = s"${sys.props("java.io.tmpdir")}/graft_mcdf_${runTag}_$tag"
      val inv = invocation.incrementAndGet()
      val srcTbl = mcdfFixture(s, sf)
      val (outTbl, ckpt) = (s"$base/run$inv/out", s"$base/run$inv/ckpt")
      val q = s.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", srcTbl)
        .option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(outTbl, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.ManifestTable.read(s, outTbl)
        .groupBy(col("_commit_version").as("v"),
          col("_change_type").as("change"), col("event_type"))
        .agg(count(lit(1)).as("n"), T.dsum(col("value"), 2).as("sum_value"))
        .orderBy("v", "change", "event_type")
    }),

    // KEYED streaming change feed (round 18) — stream_manifest_cdf with
    // the table key declared (.option("cdfKeyCols", "event_id")): the
    // MERGE version's delete+insert pairs of the same key arrive
    // relabeled update_preimage/update_postimage (Delta CDF's four-type
    // convention) while the backfill inserts and the pure click deletes
    // keep their labels — the streaming half of changes(keyCols),
    // per-micro-batch, no consumer-side pair reassembly. The planner
    // computes each MERGE version's update-pair key set as ONE
    // column-pruned distributed intersect over that version's own
    // changes (cost = the MERGE's change volume, never the table) and
    // broadcasts the sorted xxhash64 array (8 bytes/pair, bounded by
    // cdfMaxUpdateKeys); readers relabel by binary search with the SAME
    // catalyst xxhash64 the planner used. The oracle recomputes all six
    // (version, change) groups — including both update images — from the
    // plain events table.
    "stream_manifest_cdf_keyed" -> ((s, sf) => {
      val tag = new java.io.File(sf).getName
      val base = s"${sys.props("java.io.tmpdir")}/graft_mcdfk_${runTag}_$tag"
      val inv = invocation.incrementAndGet()
      val srcTbl = mcdfFixture(s, sf)
      val (outTbl, ckpt) = (s"$base/run$inv/out", s"$base/run$inv/ckpt")
      val q = s.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", srcTbl)
        .option("readChangeFeed", "true")
        .option("cdfKeyCols", "event_id").load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(outTbl, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.ManifestTable.read(s, outTbl)
        .groupBy(col("_commit_version").as("v"),
          col("_change_type").as("change"), col("event_type"))
        .agg(count(lit(1)).as("n"), T.dsum(col("value"), 2).as("sum_value"))
        .orderBy("v", "change", "event_type")
    }),

    // event-time interval join: view → purchase by the same user within
    // 10 minutes (the stream-stream join shape; StreamingSpec runs the
    // same expression over two watermarked MemoryStreams)
    "stream_join" -> ((s, sf) => {
      val e = t(s, sf, "events")
      intervalJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"), "10 minutes")
        .select(col("user_id"), col("a_id"), col("b_id"),
          unix_micros(col("a_ts")).as("a_us"), unix_micros(col("b_ts")).as("b_us"))
        .orderBy("user_id", "a_id", "b_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // the exactly-once law as a hash check: the transactional sink's
    // table must contain the source rows exactly once — lost batches
    // fail low, duplicated replays fail high
    "stream_sink_txn" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY 1 ORDER BY event_type""",
    // produce→stream→commit→read must be lossless and exactly-once: the
    // sink table's rollup equals the plain source-table rollup
    "stream_manifest_source" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value,
                max(epoch_us(ts)) AS max_us
         FROM events GROUP BY 1 ORDER BY event_type""",
    // rate limiting must change batch boundaries, never the data: the
    // capped drain's sink table equals the plain source rollup
    "stream_manifest_ratelimit" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY 1 ORDER BY event_type""",
    // streaming CDC ≡ batch table_changes ≡ the plain-table recomputation
    // (the manifest_changes oracle, verbatim)
    "stream_manifest_cdf" ->
      """SELECT CAST(1 AS BIGINT) AS v, 'insert' AS change, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           FROM events WHERE event_id % 2 = 0 GROUP BY event_type
         UNION ALL
         SELECT 2, 'insert', event_type, count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_id % 2 = 1 GROUP BY event_type
         UNION ALL
         SELECT 3, 'delete', event_type, count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'click' GROUP BY event_type
         UNION ALL
         SELECT 4, 'delete', event_type, count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'purchase' GROUP BY event_type
         UNION ALL
         SELECT 4, 'insert', event_type, count(*),
                CAST(sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) + 100.00
                  AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'purchase' GROUP BY event_type
         UNION ALL
         SELECT 4, 'insert', 'backfill', count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'view' AND event_id % 50 = 0
         ORDER BY v, change, event_type""",
    // the keyed feed relabels ONLY the MERGE's matched purchases: deletes
    // of clicks stay deletes, backfill inserts stay inserts, and the
    // purchase pair becomes update_preimage (old value) /
    // update_postimage (value exact-decimal +100)
    "stream_manifest_cdf_keyed" ->
      """SELECT CAST(1 AS BIGINT) AS v, 'insert' AS change, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           FROM events WHERE event_id % 2 = 0 GROUP BY event_type
         UNION ALL
         SELECT 2, 'insert', event_type, count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_id % 2 = 1 GROUP BY event_type
         UNION ALL
         SELECT 3, 'delete', event_type, count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'click' GROUP BY event_type
         UNION ALL
         SELECT 4, 'update_preimage', event_type, count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'purchase' GROUP BY event_type
         UNION ALL
         SELECT 4, 'update_postimage', event_type, count(*),
                CAST(sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) + 100.00
                  AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'purchase' GROUP BY event_type
         UNION ALL
         SELECT 4, 'insert', 'backfill', count(*),
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           FROM events WHERE event_type = 'view' AND event_id % 50 = 0
         ORDER BY v, change, event_type""",
    // file-capped drain must land the identical committed set
    "stream_manifest_backfill" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY 1 ORDER BY event_type""",
    "stream_topk" ->
      """WITH c AS (SELECT epoch_us(date_trunc('hour', ts)) AS ws_us,
             event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
           r AS (SELECT ws_us, event_type, cnt,
             row_number() OVER (PARTITION BY ws_us
               ORDER BY cnt DESC, event_type) AS rnk FROM c)
         SELECT ws_us, CAST(rnk AS BIGINT) AS rnk, event_type, cnt
         FROM r WHERE rnk <= 2 ORDER BY ws_us, rnk""",
    "stream_dedup" ->
      """SELECT user_id, event_type, first_us, first_id FROM (
           SELECT user_id, event_type, epoch_us(ts) AS first_us,
                  event_id AS first_id,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id, event_type""",
    "stream_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
         count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type""",
    "stream_sliding" ->
      """SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15*k)) AS ws_us,
         count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
         GROUP BY 1 ORDER BY ws_us""",
    "stream_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
                epoch_us(a.ts) AS a_us, epoch_us(b.ts) AS b_us
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND b.ts >= a.ts
          AND b.ts <= a.ts + INTERVAL 10 MINUTE
         WHERE a.event_type = 'view' AND b.event_type = 'purchase'
         ORDER BY 1, 2, 3""",
    "stream_session" ->
      """WITH g AS (SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           s2 AS (SELECT user_id, ts, value,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id, min(epoch_us(ts)) AS ws_us,
                max(epoch_us(ts)) + 1800000000 AS we_us,
                count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM s2 GROUP BY user_id, sid ORDER BY user_id, ws_us"""
  )
}
