package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.queries.Streams
import graft.streaming.{Stateful, UserEvent}

/** Structured Streaming capability tests (SURVEY.md §2.11, FIXTURES.md §F3):
  * the same event-time transforms declared as batch queries run under
  * readStream/MemoryStream; watermark late-data drop; stateful dedup;
  * arbitrary state via flatMapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  // (event_id, ts, user_id, event_type, value) mirroring the events schema
  private val inOrder = Seq(
    (1L, ts("2024-01-01T10:05:00Z"), 7L, "click", 1.0),
    (2L, ts("2024-01-01T10:45:00Z"), 7L, "view", 2.0),
    (3L, ts("2024-01-01T11:10:00Z"), 8L, "click", 3.0),
    (4L, ts("2024-01-01T12:59:00Z"), 7L, "click", 4.0))

  test("tumbling windows: streaming result equals batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.tumbling(df).writeStream
      .format("memory").queryName("tumb").outputMode("complete").start()
    try {
      ms.addData(inOrder: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumb").orderBy("ws_us", "event_type").collect()
      val batch = Streams.tumbling(
        inOrder.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .orderBy("ws_us", "event_type").collect()
      streamed shouldBe batch
      streamed.length shouldBe 4 // (10h click, 10h view, 11h click, 12h click)
    } finally q.stop()
  }

  test("windowed top-k: foreachBatch rank over the streamed counts equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    // the streamable half runs as a stream; the rank half runs over the
    // sink table — the production foreachBatch split stream_topk declares
    val q = Streams.tumbling(df).writeStream
      .format("memory").queryName("tkc").outputMode("complete").start()
    try {
      ms.addData(inOrder: _*)
      q.processAllAvailable()
      val streamed = Streams.topkPerWindow(spark.table("tkc"), 2)
        .orderBy("ws_us", "rnk").collect()
      val batch = Streams.topkPerWindow(Streams.tumbling(
          inOrder.toDF("event_id", "ts", "user_id", "event_type", "value")), 2)
        .orderBy("ws_us", "rnk").collect()
      streamed shouldBe batch
      // 10h has two types (both ranked), 11h and 12h have one each
      streamed.length shouldBe 4
      streamed.map(_.getLong(1)).toSeq shouldBe Seq(1L, 2L, 1L, 1L)
    } finally q.stop()
  }

  test("session windows: two bursts 31 min apart become two sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.session(df).writeStream
      .format("memory").queryName("sess").outputMode("complete").start()
    try {
      ms.addData(
        (1L, ts("2024-01-01T10:00:00Z"), 7L, "click", 1.0),
        (2L, ts("2024-01-01T10:05:00Z"), 7L, "view", 1.0),
        (3L, ts("2024-01-01T10:36:00Z"), 7L, "click", 1.0)) // 31 min after #2
      q.processAllAvailable()
      val rows = spark.table("sess").orderBy("ws_us").collect()
      rows.length shouldBe 2
      rows(0).getLong(3) shouldBe 2 // first session has 2 events
      rows(1).getLong(3) shouldBe 1
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val windowed = df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))
    val q = windowed.writeStream
      .format("memory").queryName("wm").outputMode("append").start()
    try {
      ms.addData((1L, ts("2024-01-01T10:00:00Z"), 7L, "click", 1.0),
        (2L, ts("2024-01-01T10:05:00Z"), 7L, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      ms.addData((3L, ts("2024-01-01T11:00:00Z"), 7L, "click", 1.0))
      q.processAllAvailable()
      val afterAdvance = spark.table("wm").collect()
      val w10 = unixMicros("2024-01-01T10:00:00Z")
      afterAdvance.filter(_.getLong(0) == w10).map(_.getLong(1)).toSeq shouldBe Seq(2L)
      // late event for the finalized 10:00 window → dropped, no new/changed row
      ms.addData((4L, ts("2024-01-01T10:01:00Z"), 7L, "click", 1.0))
      q.processAllAvailable()
      val afterLate = spark.table("wm").collect()
      afterLate.filter(_.getLong(0) == w10).map(_.getLong(1)).toSeq shouldBe Seq(2L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark deduplicates the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = df.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      ms.addData((1L, ts("2024-01-01T10:00:00Z"), 7L, "click", 1.0),
        (1L, ts("2024-01-01T10:00:30Z"), 7L, "click", 1.0), // dup id within watermark
        (2L, ts("2024-01-01T10:01:00Z"), 8L, "view", 2.0))
      q.processAllAvailable()
      ms.addData((9L, ts("2024-01-01T11:00:00Z"), 7L, "click", 1.0)) // flush watermark
      q.processAllAvailable()
      spark.table("dd").select("event_id").collect().map(_.getLong(0)).sorted shouldBe
        Array(1L, 2L, 9L)
    } finally q.stop()
  }

  test("stream_dedup: watermarked keyed dedup equals the batch firstPerKey") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    // the streaming side of the declared stream_dedup query: one state row
    // per (user, type) key inside the watermark horizon; with events
    // arriving in event-time order the survivor IS the event-time first,
    // which is exactly what the batch min-struct aggregate computes.
    // The 4h delay is load-bearing for the equivalence: the batch side
    // dedups GLOBALLY, so the streaming horizon must cover the widest
    // duplicate spacing in the fixture (user 7's clicks are 174 min
    // apart) — per-event feeding below advances the watermark between
    // batches, and a 10-minute horizon would legitimately evict the
    // (7, click) state and re-emit the later duplicate
    val q = df.withWatermark("ts", "4 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("first_us"), col("event_id").as("first_id"))
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      // one event per micro-batch: the batch-equals-streaming assertion
      // rests on the survivor being the FIRST ARRIVAL per key, and
      // intra-batch survivor order after the keyed shuffle is not a
      // documented guarantee — per-batch feeding makes the arrival-order
      // premise a harness invariant instead of a partitioning accident
      inOrder.foreach { e => ms.addData(e); q.processAllAvailable() }
      ms.addData((9L, ts("2024-01-01T14:00:00Z"), 9L, "view", 0.0)) // flush watermark
      q.processAllAvailable()
      val streamed = spark.table("sdedup")
        .filter(col("user_id") =!= 9L)
        .orderBy("user_id", "event_type").collect()
      val batch = Streams.firstPerKey(
          inOrder.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .orderBy("user_id", "event_type").collect()
      streamed shouldBe batch
      // user 7 has two clicks (10:05, 12:59) — only the first survives
      streamed.map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
        Seq((7L, "click"), (7L, "view"), (8L, "click"))
    } finally q.stop()
  }

  test("arbitrary state: running per-user counters across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val q = Stateful.runningCounts(ms.toDS()).writeStream
      .format("memory").queryName("state").outputMode("update").start()
    try {
      ms.addData(UserEvent(7L, 1L), UserEvent(7L, 2L), UserEvent(8L, 3L))
      q.processAllAvailable()
      ms.addData(UserEvent(7L, 4L))
      q.processAllAvailable()
      val latest = spark.table("state").groupBy("user_id")
        .agg(max("events").as("events")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      latest shouldBe Map(7L -> 3L, 8L -> 1L)
    } finally q.stop()
  }

  test("transformWithState running counters (RocksDB state store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[UserEvent]
    val q = Stateful.runningCountsTws(ms.toDS()).writeStream
      .format("memory").queryName("tws").outputMode("update").start()
    try {
      ms.addData(UserEvent(7L, 1L), UserEvent(7L, 2L), UserEvent(8L, 3L))
      q.processAllAvailable()
      ms.addData(UserEvent(7L, 4L))
      q.processAllAvailable()
      val latest = spark.table("tws").groupBy("user_id")
        .agg(max("events").as("events")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      latest shouldBe Map(7L -> 3L, 8L -> 1L)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel state machine equals the batch events_funnel query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the corpus events in event-time order, split across three
    // micro-batches — in-order delivery, the contract under which the
    // greedy fMGWS fold must reproduce the batch window minima exactly
    val ordered = T.t(spark, sf001, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .orderBy("us").as[graft.streaming.FunnelEvent].collect()
    val ms = MemoryStream[graft.streaming.FunnelEvent]
    val q = graft.streaming.Stateful.funnel(ms.toDS()).writeStream
      .format("memory").queryName("funnel").outputMode("update").start()
    try {
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).foreach { chunk =>
        ms.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // latest emitted state per user (stage is monotone, timestamps only
      // ever fill in — max(stage) row is the final state)
      val streamed = spark.table("funnel")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("stage").desc)))
        .where(col("rn") === 1)
        .select("user_id", "signup_us", "view_us", "purchase_us", "stage")
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3)), r.getLong(4)))).toMap
      val batch = SparkEntry.queries("events_funnel")(spark, sf001)
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3)), r.getLong(4)))).toMap
      // streamed covers every user the batch query reports (untouched
      // users emit at stage 0 too — same key set)
      streamed.keySet shouldBe batch.keySet
      streamed shouldBe batch
    } finally q.stop()
  }

  test("streaming last-touch attribution equals the batch events_attribution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ordered = T.t(spark, sf001, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .orderBy("us", "event_id").as[graft.streaming.TouchEvent].collect()
    val ms = MemoryStream[graft.streaming.TouchEvent]
    val q = graft.streaming.Stateful.attribution(ms.toDS()).writeStream
      .format("memory").queryName("attrib").outputMode("append").start()
    try {
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).foreach { chunk =>
        ms.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // roll the append-only attribution facts up to the batch query's
      // (touch_type, n, value) shape — must match EXACTLY
      val streamed = spark.table("attrib")
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("attributed_value"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = SparkEntry.queries("events_attribution")(spark, sf001)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      streamed shouldBe batch
      // every attributed purchase is unique (append-only, no revision)
      spark.table("attrib").groupBy("purchase_id").count()
        .where(col("count") > 1).count() shouldBe 0L
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      (1L, ts("2024-01-01T10:00:00Z"), 7L, "view", 1.0),
      (2L, ts("2024-01-01T10:30:00Z"), 7L, "view", 1.0),
      (3L, ts("2024-01-01T10:00:00Z"), 8L, "view", 1.0))
    val purchases = Seq(
      (11L, ts("2024-01-01T10:05:00Z"), 7L, "purchase", 5.0), // joins view 1
      (12L, ts("2024-01-01T10:38:00Z"), 7L, "purchase", 5.0), // joins view 2 only (> 10 min after 1)
      (13L, ts("2024-01-01T11:00:00Z"), 8L, "purchase", 5.0)) // 60 min after view 3 → no join
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val msL = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val msR = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val joined = Streams.intervalJoin(
      msL.toDF().toDF(cols: _*).withWatermark("ts", "1 hour"),
      msR.toDF().toDF(cols: _*).withWatermark("ts", "1 hour"), "10 minutes")
      .select("user_id", "a_id", "b_id")
    val q = joined.writeStream
      .format("memory").queryName("ssj").outputMode("append").start()
    try {
      msL.addData(views: _*)
      msR.addData(purchases: _*)
      q.processAllAvailable()
      // advance both watermarks so all joinable pairs are emitted
      msL.addData((99L, ts("2024-01-01T13:00:00Z"), 9L, "view", 0.0))
      msR.addData((98L, ts("2024-01-01T13:00:00Z"), 9L, "purchase", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("ssj")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Streams.intervalJoin(
        views.toDF(cols: _*), purchases.toDF(cols: _*), "10 minutes")
        .select("user_id", "a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the watermark-advancing filler events join each other; ignore them
      (streamed - ((9L, 99L, 98L))) shouldBe batch
      batch should contain allOf ((7L, 1L, 11L), (7L, 2L, 12L))
      batch should not contain ((8L, 3L, 13L))
    } finally q.stop()
  }

  test("file-source streaming: readStream over parquet equals batch") {
    // same write-once transform over a file stream source (not MemoryStream)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    val batchDf = T.t(spark, sf001, "events")
    batchDf.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
    val q = Streams.tumbling(stream).writeStream
      .format("memory").queryName("filetumb").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filetumb").orderBy("ws_us", "event_type").collect()
      val batch = Streams.tumbling(batchDf).orderBy("ws_us", "event_type").collect()
      streamed shouldBe batch
      streamed.length should be > 0
    } finally q.stop()
  }

  test("foreachBatch fans one stream into two sinks with batch-id idempotence") {
    // the production sink escape hatch: per micro-batch, arbitrary BATCH
    // writes — here one stream lands in a raw parquet sink AND a
    // per-type aggregate sink in the same foreachBatch, something no
    // single writeStream format can do. The batch df is reused twice, so
    // it is persisted for the scope of the batch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = java.nio.file.Files.createTempDirectory("graft-feb-raw").toString
    val agg = java.nio.file.Files.createTempDirectory("graft-feb-agg").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("event_id", "event_type").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        df.persist()
        try {
          df.write.mode("append").parquet(raw)
          df.groupBy("event_type").agg(count(lit(1)).as("cnt"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(agg)
        } finally { df.unpersist(); () }
      }
      .start()
    try {
      ms.addData((1L, "click"), (2L, "view"), (3L, "click"))
      q.processAllAvailable()
      ms.addData((4L, "view"))
      q.processAllAvailable()
      spark.read.parquet(raw).count() shouldBe 4L
      val a = spark.read.parquet(agg)
      // per-batch aggregates: batch 0 has click=2/view=1, batch 1 view=1
      a.where(col("batch_id") === 0 && col("event_type") === "click")
        .select("cnt").head().getLong(0) shouldBe 2L
      a.where(col("batch_id") === 1 && col("event_type") === "view")
        .select("cnt").head().getLong(0) shouldBe 1L
    } finally q.stop()
  }

  test("Trigger.AvailableNow: process the backlog, terminate, resume incrementally") {
    // the production batch-over-stream pattern for a 100 TB ingest
    // directory: a scheduled job drains everything available, STOPS
    // (fixed cost, no always-on cluster), and the next invocation resumes
    // from the checkpoint processing only what arrived in between —
    // exactly once, no manual new-file bookkeeping
    val src = java.nio.file.Files.createTempDirectory("graft-avnow-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-avnow-out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-avnow-cp").toString
    val e = T.t(spark, sf001, "events").select("event_id", "user_id", "event_type")
    def drain(): Unit = {
      val q = spark.readStream.schema(e.schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow terminates by itself once the backlog is drained
      assert(q.awaitTermination(120000))
    }
    val firstHalf = e.where(col("event_id") % 2 === 0)
    firstHalf.write.mode("append").parquet(src)
    drain()
    spark.read.parquet(out).count() shouldBe firstHalf.count()
    // new files land between scheduled runs
    e.where(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    drain()
    val sunk = spark.read.parquet(out)
    sunk.count() shouldBe e.count()
    // exactly once: nothing from the first run reprocessed
    sunk.select(countDistinct(col("event_id"))).head().getLong(0) shouldBe e.count()
  }

  test("file-sink streaming: finalized windows append to parquet exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    val cp = java.nio.file.Files.createTempDirectory("graft-stream-cp")
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val windowed = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))
    val q = windowed.writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", cp.toString)
      .outputMode("append").start()
    try {
      ms.addData((1L, ts("2024-01-01T10:00:00Z"), 7L, "click", 1.0),
        (2L, ts("2024-01-01T10:05:00Z"), 7L, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark so the 10:00 window finalizes and flushes
      ms.addData((3L, ts("2024-01-01T11:00:00Z"), 7L, "click", 1.0))
      q.processAllAvailable()
      val sunk = spark.read.parquet(out.toString)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      sunk(unixMicros("2024-01-01T10:00:00Z")) shouldBe 2L
      // the 11:00 window is still open — append mode must NOT have sunk it
      sunk.keySet should not contain unixMicros("2024-01-01T11:00:00Z")
    } finally q.stop()
  }

  test("incremental minhash dedup finds cross-batch near-dup candidates") {
    import spark.implicits._
    import graft.streaming.{BandedDoc, IncrementalDedup}
    implicit val sqlCtx = spark.sqlContext
    val docsDf = T.t(spark, sf001, "documents")
    val docs = docsDf.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val exact = graft.queries.Llm.jaccardPairs(docsDf, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should not be empty
    // split a known near-dup pair ACROSS batches: finding it requires the
    // bucket state to carry batch-1 membership into batch 2
    val (aStar, bStar) = exact.head
    val batch1 = docs.filter(d => d._1 == aStar || (d._1 != bStar && d._1 % 2 == 0))
    val batch2 = docs.filter(d => d._1 == bStar || (d._1 != aStar && d._1 % 2 == 1))
    val ms = MemoryStream[(Long, String)]
    val cands = IncrementalDedup.candidates(
      IncrementalDedup.bandRows(ms.toDF().toDF("doc_id", "text")).as[BandedDoc])
    val q = cands.writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      val afterB1 = spark.table("inc_dedup").count()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("inc_dedup").select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // candidate stream covers every exact τ=0.5 pair (the dedup_minhash
      // invariant, now incrementally) …
      exact.diff(got) shouldBe empty
      // … including the pair whose members arrived in different batches
      got should contain(if (aStar < bStar) (aStar, bStar) else (bStar, aStar))
      spark.table("inc_dedup").count() should be > afterB1
    } finally q.stop()
  }

  test("incremental dedup TTL evicts idle bucket state") {
    import spark.implicits._
    import graft.streaming.{BandedDoc, IncrementalDedup}
    implicit val sqlCtx = spark.sqlContext
    // with ProcessingTimeTimeout Spark schedules a batch every trigger to
    // check timeouts (shouldRunAnotherBatch == true), so noNewData is never
    // signalled and processAllAvailable would block forever — the test
    // POLLS the sink for sentinel pairs instead. Each addData ships an
    // identical twin whose pair is the in-batch sentinel: once the twin
    // pair is visible, that batch (including its timeout sweep) committed.
    // Vocabularies: a/b share every bucket; c is fully disjoint from both.
    val docA = (1L, "red orange yellow green blue indigo violet")
    val docB = (2L, "red orange yellow green blue indigo violet")
    val docB2 = (5L, "red orange yellow green blue indigo violet")
    val docC = (3L, "one two three four five six seven")
    val docC2 = (4L, "one two three four five six seven")
    def run(ttlMs: Long, sleepMs: Long): Set[(Long, Long)] = {
      val name = s"inc_ttl_$ttlMs"
      val ms = MemoryStream[(Long, String)]
      val cands = IncrementalDedup.candidates(
        IncrementalDedup.bandRows(ms.toDF().toDF("doc_id", "text")).as[BandedDoc],
        ttlMs = ttlMs)
      val q = cands.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
        .start()
      def await(pair: (Long, Long)): Unit = {
        val deadline = System.nanoTime() + 30000000000L
        while (!spark.table(name).collect()
            .exists(r => (r.getLong(0), r.getLong(1)) == pair)) {
          if (System.nanoTime() > deadline) fail(s"sentinel $pair never arrived")
          Thread.sleep(100L)
        }
      }
      try {
        ms.addData(docA)
        Thread.sleep(sleepMs)
        // a batch with UNRELATED data: timeouts only fire for groups with
        // no arrivals in the batch — here a's idle buckets cross the TTL
        // and are removed; the (3,4) twin pair proves the batch committed
        ms.addData(docC, docC2)
        await((3L, 4L))
        ms.addData(docB, docB2)
        // (2,5) is emitted by the SAME batch that would pair b against a's
        // surviving history — once visible, the (1,2) question is settled
        await((2L, 5L))
        spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    // control: a generous TTL keeps the (a, b) pair discoverable
    run(ttlMs = 3600000L, sleepMs = 0L) should contain((1L, 2L))
    // eviction: after idling past the TTL, a's buckets are gone, so b
    // arriving later finds no history — bounded state, documented recall
    run(ttlMs = 250L, sleepMs = 1500L) should not contain ((1L, 2L))
  }

  test("batch session_window agrees with the lag-based sessionize oracle shape") {
    // R3 parity check: Spark's session merge vs gap-and-island SQL on real data
    val viaSessionWindow = SparkEntry.queries("stream_session")(spark, sf001)
      .select("user_id", "ws_us", "cnt").collect()
    val viaLag = SparkEntry.queries("sessionize")(spark, sf001)
      .select("user_id", "start_us", "n_events").collect()
    viaSessionWindow.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted shouldBe
      viaLag.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
  }

  test("streaming CDC: foreachBatch + Upsert.merge maintains a keyed table") {
    // the streaming MERGE sink plain parquet lacks: every micro-batch of
    // change rows merges into the current table state via Upsert.merge
    // and lands as a new immutable version directory (v<batchId> — the
    // read-then-overwrite hazard never exists, and batch-id versioning
    // makes replays idempotent at the directory level). The final state
    // must equal one batch merge of the compacted deltas — the same
    // state ∪ delta contract Mview pins for aggregates, here for rows.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    Seq((1L, "a", 1.0), (2L, "b", 1.0)).toDF("k", "name", "bal")
      .write.parquet(s"$root/v_base")
    val ms = MemoryStream[(Long, String, Double)]
    val q = ms.toDF().toDF("k", "name", "bal").writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val cur = if (batchId == 0) s"$root/v_base" else s"$root/v${batchId - 1}"
        graft.operators.Upsert.merge(
            spark.read.parquet(cur), delta, Seq("k"))
          .write.mode("overwrite").parquet(s"$root/v$batchId")
        ()
      }
      .start()
    try {
      ms.addData((2L, "b2", 9.0), (3L, "c", 2.0)) // update k=2, insert k=3
      q.processAllAvailable()
      ms.addData((3L, "c2", 5.0)) // update the key batch 0 inserted
      q.processAllAvailable()
      val afterB0 = spark.read.parquet(s"$root/v0").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      afterB0 shouldBe Map(1L -> ("a", 1.0), 2L -> ("b2", 9.0), 3L -> ("c", 2.0))
      val finalState = spark.read.parquet(s"$root/v1").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      finalState shouldBe Map(1L -> ("a", 1.0), 2L -> ("b2", 9.0), 3L -> ("c2", 5.0))
      // ≡ one batch merge of the key-compacted deltas over the base
      val compacted = Seq((2L, "b2", 9.0), (3L, "c2", 5.0)).toDF("k", "name", "bal")
      val oneShot = graft.operators.Upsert.merge(
          spark.read.parquet(s"$root/v_base"), compacted, Seq("k")).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      finalState shouldBe oneShot
    } finally q.stop()
  }

  test("stateful streaming state is bounded by the watermark horizon, " +
      "not the stream length") {
    // r13 verdict item 4: the thing that decides whether stream_dedup /
    // stream_session survive an endless 100 TB stream is that their state
    // store holds ONLY the keys inside the watermark horizon. Feed an
    // ADVERSARIAL stream — every event a brand-new dedup key, event time
    // advancing steadily — and assert the state-store row count (the
    // progress API's stateOperators.numRowsTotal) stays near one
    // horizon's worth of keys while the stream grows 20 horizons long.
    // An unbounded dropDuplicates would hold every key ever seen.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val q = ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("noop").outputMode("append").start()
    try {
      val chunks = 20; val perChunk = 500 // one chunk = one event-hour
      val stateSeen = (0 until chunks).map { c =>
        ms.addData((0 until perChunk).map { i =>
          val evId = (c * perChunk + i).toLong // every key unique: worst case
          val t = new Timestamp(base + c * 3600000L + i * 3600000L / perChunk)
          (evId, t, evId % 97, "click", 1.0)
        })
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      // total distinct keys = 10,000; a horizon (30 min) holds ~250. The
      // state must stay within ~2 chunks' worth — eviction is keeping up —
      // and the LAST reading must be far below the total key count.
      stateSeen.max should be < (3L * perChunk)
      stateSeen.last should be < (3L * perChunk)
      stateSeen.last.toDouble / (chunks * perChunk) should be < 0.15
    } finally q.stop()

    // session windows: state is one row per OPEN session — continuous
    // activity holds it at ~active-user count; a silent user's session
    // closes when the watermark passes its end + gap and is EVICTED
    val ms2 = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q2 = Streams.session(
        ms2.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
          .withWatermark("ts", "10 minutes"))
      .writeStream.format("noop").outputMode("append").start()
    try {
      val users = 50L
      val states = (0 until 12).map { c =>
        ms2.addData((0 until 200).map { i =>
          val t = new Timestamp(base + c * 3600000L + i * 18000L)
          ((c * 200 + i).toLong, t, i % users, "click", 1.0)
        })
        q2.processAllAvailable()
        q2.lastProgress.stateOperators.head.numRowsTotal
      }
      // 12 event-hours, 2,400 events, 50 users: each hour's burst closes
      // (next chunk starts > 30-min gap later), so state never accumulates
      // sessions — it stays within a small multiple of the user count
      states.max should be < (4L * users)
      states.last should be < (4L * users)
    } finally q2.stop()
  }

  private def unixMicros(s: String): Long = Instant.parse(s).toEpochMilli * 1000L

  test("manifest stream source: versions are offsets; restart resumes exactly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc").toString
    val (tbl, out, ckpt) = (s"$base/tbl", s"$base/out", s"$base/ckpt")
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", tbl).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(out, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sinkRows() = graft.operators.ManifestTable.read(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    graft.operators.ManifestTable.commit(spark, tbl, mk(1, 3))
    drain()
    sinkRows() shouldBe (1 to 3).map(i => (i.toLong, s"r$i")).toSet
    // two more commits while the stream is down — one written
    // column-REORDERED (the by-name field mapping must hold)
    graft.operators.ManifestTable.commit(spark, tbl, mk(4, 5))
    graft.operators.ManifestTable.commit(spark, tbl,
      mk(6, 6).select(col("v"), col("k")))
    drain()
    // restart consumed EXACTLY the two new versions: no loss, no replay
    sinkRows() shouldBe (1 to 6).map(i => (i.toLong, s"r$i")).toSet
    // and a drain with nothing new is a no-op
    drain()
    sinkRows() shouldBe (1 to 6).map(i => (i.toLong, s"r$i")).toSet
  }

  test("manifest stream source: startingVersion skips the backfill") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc3").toString
    val tbl = s"$base/tbl"
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    val v1 = graft.operators.ManifestTable.commit(spark, tbl, mk(1, 3))
    graft.operators.ManifestTable.commit(spark, tbl, mk(4, 5))
    // start AFTER v1 (exclusive): only the second commit's rows arrive
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("startingVersion", v1.toString).load()
      .writeStream.format("memory").queryName("msrc_sv").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("msrc_sv").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set(4L -> "r4", 5L -> "r5")
  }

  test("manifest stream source: skipFilters prune files per micro-batch") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc5").toString
    val tbl = s"$base/tbl"
    def mk(lo: Int, hi: Int) = (lo to hi).map(i => (i.toLong, s"r$i"))
      .toDF("k", "v").repartition(1)
    graft.operators.ManifestTable.commit(spark, tbl, mk(1, 3),
      statsCols = Seq("k"))
    graft.operators.ManifestTable.commit(spark, tbl, mk(10, 12),
      statsCols = Seq("k"))
    graft.operators.ManifestTable.commit(spark, tbl, mk(20, 22),
      statsCols = Seq("k"))
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("skipFilters", "k >= 10").load()
      .where(col("k") >= 10L) // the residual filter stays the semantics
      .writeStream.format("memory").queryName("msrc_push").start()
    try q.processAllAvailable()
    finally q.stop()
    // values: the residual row filter holds regardless of skipping
    spark.table("msrc_push").collect().map(_.getLong(0)).sorted shouldBe
      Array(10L, 11L, 12L, 20L, 21L, 22L)
    // and the [1..3] batch's file never fed the stream: only 6 of the 9
    // committed rows entered the source (file skipping, not row filtering)
    val fed = q.recentProgress.map(_.numInputRows).sum
    fed shouldBe 6L
  }

  test("manifest stream source: widened schema reads int32/float files as long/double") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc4").toString
    val tbl = s"$base/tbl"
    // files written NARROW (int, float) — the pre-widening epoch
    graft.operators.ManifestTable.commit(spark, tbl,
      Seq((1, 1.5f), (2, 2.5f)).toDF("k", "x"))
    // consumer reads under the WIDENED table schema (long, double)
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .schema("k BIGINT, x DOUBLE")
      .option("path", tbl).load()
      .writeStream.format("memory").queryName("msrc_wide").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("msrc_wide").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldBe
      Set(1L -> 1.5, 2L -> 2.5)
  }

  test("manifest stream source: maxVersionsPerTrigger caps each batch at " +
      "one committed version and loses nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc7").toString
    val tbl = s"$base/tbl"
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    graft.operators.ManifestTable.commit(spark, tbl, mk(1, 3))
    graft.operators.ManifestTable.commit(spark, tbl, mk(4, 5))
    graft.operators.ManifestTable.commit(spark, tbl, mk(6, 8))
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("msrc_rl").start()
    try q.processAllAvailable() finally q.stop()
    // nothing lost, nothing doubled
    spark.table("msrc_rl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      (1 to 8).map(i => (i.toLong, s"r$i")).toSet
    // and the drain really took one-version batches: 3 non-empty batches,
    // none bigger than a single commit
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0L)
    sizes.length shouldBe 3
    sizes.max should be <= 3L
  }

  test("manifest stream source: struct+array tables round-trip through " +
      "produce -> stream -> TxnSink -> read") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc6").toString
    val (tbl, out, ckpt) = (s"$base/tbl", s"$base/out", s"$base/ckpt")
    // struct of (long, string) + array<long> + array<struct> + nulls at
    // every nesting level, in TWO commits so the stream sees real batches
    val src1 = Seq(
        (1L, ("a", 10L), Seq(1L, 2L, 3L), Seq(("x", 1L), ("y", 2L))),
        (2L, (null: String, 20L), Seq.empty[Long], Seq.empty[(String, Long)]))
      .toDF("id", "st", "arr", "as")
    val src2 = Seq(
        (3L, ("c", 30L), Seq(7L), Seq(("z", 9L))))
      .toDF("id", "st", "arr", "as")
    graft.operators.ManifestTable.commit(spark, tbl, src1)
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", tbl).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(out, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    graft.operators.ManifestTable.commit(spark, tbl, src2)
    drain()
    // hash-check: the sink table equals the union of the committed batches
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), to_json(struct(col("st"), col("arr"), col("as"))))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    canon(graft.operators.ManifestTable.read(spark, out)) shouldBe
      canon(src1.unionAll(src2))
  }

  test("manifest stream source: timestamps and nulls round-trip; map types refuse") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc2").toString
    val tbl = s"$base/tbl"
    val src = Seq((1L, "2024-01-02 03:04:05.123456", "x"),
        (2L, null, null))
      .toDF("id", "tss", "s")
      .select(col("id"), col("tss").cast("timestamp").as("ts"), col("s"))
    graft.operators.ManifestTable.commit(spark, tbl, src)
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).load()
      .writeStream.format("memory").queryName("msrc_ts").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("msrc_ts")
      .select(col("id"), unix_micros(col("ts")).as("us"), col("s"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSet
    val want = src.select(col("id"), unix_micros(col("ts")).as("us"), col("s"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSet
    got shouldBe want
    // genuinely unsupported types (intervals) still refuse at stream
    // build, not mangled — the refusal contract survives the round-16
    // map/decimal green paths
    // BOTH interval families refuse with the same pinned message — the
    // streaming type matrix has no undocumented cell (r16 verdict item 5:
    // primitives/decimal/struct/array/map stream; intervals refuse loudly)
    for ((ddl, name) <- Seq("id BIGINT, iv INTERVAL YEAR" -> "msrc_bad",
        "id BIGINT, iv INTERVAL DAY TO SECOND" -> "msrc_bad2")) {
      val q2 = spark.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .schema(ddl)
        .option("path", tbl).load()
        .writeStream.format("memory").queryName(name).start()
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable(); q2.awaitTermination(20000); ()
      }
      q2.stop()
      ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("") should
        include("unsupported type")
    }
  }

  test("manifest stream change feed (round 17): appends stream as inserts, " +
      "MoR deletes as delete events, upserts as delete+insert pairs") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-mcdf1").toString
    val tbl = s"$base/tbl"
    val MT = graft.operators.ManifestTable
    MT.commit(spark, tbl, (1 to 6).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    MT.deleteWhere(spark, tbl, col("k") <= 2)
    MT.upsertMor(spark, tbl,
      Seq((5L, "V5"), (7L, "v7")).toDF("k", "v"), Seq("k"))
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("mcdf1").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("mcdf1")
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    // v1: six inserts; v2: the two deleted rows as PRE-DELETE images;
    // v3 (the MERGE): matched key 5 deleted at its original value and
    // re-inserted at the new one, unmatched key 7 a plain insert
    val want = (1 to 6).map(i => (i.toLong, s"v$i", "insert", 1L)).toSet ++
      Set((1L, "v1", "delete", 2L), (2L, "v2", "delete", 2L),
        (5L, "v5", "delete", 3L), (5L, "V5", "insert", 3L),
        (7L, "v7", "insert", 3L))
    got shouldBe want
    // version-level admission control composes with the change feed:
    // maxVersionsPerTrigger=1 walked the three versions in >= 3 batches
    q.recentProgress.map(_.numInputRows).count(_ > 0) should be >= 3
    // the r16 refusal contract is UNTOUCHED for a plain (non-CDF)
    // consume — and the message now names the escape hatch
    val qp = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).load()
      .writeStream.format("memory").queryName("mcdf1p").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qp.processAllAvailable(); qp.awaitTermination(20000); ()
    }
    qp.stop()
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")) should
      include("readChangeFeed")
  }

  test("manifest stream change feed: REPLACE windows refuse (file rewrites " +
      "are not row changes); incompatible options refuse at build") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-mcdf2").toString
    val tbl = s"$base/tbl"
    val MT = graft.operators.ManifestTable
    MT.commit(spark, tbl, (1 to 4).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    MT.commit(spark, tbl,
      (1 to 4).map(i => (i.toLong, s"w$i")).toDF("k", "v"), replace = true)
    MT.commit(spark, tbl, Seq((9L, "v9")).toDF("k", "v"))
    // a feed crossing the REPLACE refuses loudly
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("mcdf2").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(20000); ()
    }
    q.stop()
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")) should
      include("not row changes")
    // restarted FROM the rewrite version, the feed reads the later appends
    val q2 = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true")
      .option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("mcdf2b").start()
    try q2.processAllAvailable() finally q2.stop()
    spark.table("mcdf2b")
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet shouldBe Set((9L, "v9", "insert", 3L))
    // file-level slicing would split a version between its inserts and
    // delete events; skip filters cannot see position sidecars — both
    // combinations refuse at build, not mid-stream
    for (opts <- Seq(Map("maxFilesPerTrigger" -> "2"),
        Map("skipFilters" -> "k >= 1"))) {
      val ex2 = intercept[Exception] {
        var r = spark.readStream
          .format(classOf[graft.streaming.ManifestTableProvider].getName)
          .option("path", tbl).option("readChangeFeed", "true")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        val qq = r.load().writeStream.format("memory")
          .queryName(s"mcdf2c${opts.keys.head}").start()
        try { qq.processAllAvailable(); qq.awaitTermination(20000) }
        finally qq.stop()
      }
      (ex2.getMessage +
        Option(ex2.getCause).map(_.getMessage).getOrElse("")) should
        include("readChangeFeed cannot combine")
    }
  }

  test("manifest stream source: map + decimal tables round-trip through " +
      "produce -> stream -> TxnSink -> read (r15 verdict item 4)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc10").toString
    val (tbl, out, ckpt) = (s"$base/tbl", s"$base/out", s"$base/ckpt")
    // map<string,long> (incl. empty and null-valued entries), decimal(12,2)
    // (int64-encoded) and decimal(24,6) (fixed-len binary, incl. negative)
    // — in TWO commits so the stream sees real batches
    def mk(rows: Seq[(Long, Map[String, java.lang.Long], String, String)]) =
      rows.toDF("id", "m", "d1s", "d2s")
        .select(col("id"), col("m"),
          col("d1s").cast("decimal(12,2)").as("d1"),
          col("d2s").cast("decimal(24,6)").as("d2"))
    val src1 = mk(Seq(
      (1L, Map("a" -> java.lang.Long.valueOf(1L), "b" -> (null: java.lang.Long)),
        "12345.67", "-98765432109876.543210"),
      (2L, Map.empty[String, java.lang.Long], null, "0.000001")))
    val src2 = mk(Seq(
      (3L, Map("z" -> java.lang.Long.valueOf(9L)), "-0.01", null)))
    graft.operators.ManifestTable.commit(spark, tbl, src1)
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", tbl).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(out, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    graft.operators.ManifestTable.commit(spark, tbl, src2)
    drain()
    // hash parity: the sink table equals the union of the committed batches
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), to_json(struct(
        map_entries(col("m")).as("me"), col("d1"), col("d2"))))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    canon(graft.operators.ManifestTable.read(spark, out)) shouldBe
      canon(src1.unionAll(src2))
    // and the sink's schema kept the exact decimal precision/scale
    val outSchema = graft.operators.ManifestTable.read(spark, out).schema
    outSchema("d1").dataType.simpleString shouldBe "decimal(12,2)"
    outSchema("d2").dataType.simpleString shouldBe "decimal(24,6)"
  }

  test("manifest stream source: maxFilesPerTrigger slices versions " +
      "mid-file-list and loses nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc11").toString
    val tbl = s"$base/tbl"
    // one fat version (6 files) + one small (2 files): file-level
    // admission must slice INSIDE v1 — version-level caps cannot
    graft.operators.ManifestTable.commit(spark, tbl,
      (1 to 12).map(i => (i.toLong, s"r$i")).toDF("k", "v").repartition(6))
    graft.operators.ManifestTable.commit(spark, tbl,
      (13 to 16).map(i => (i.toLong, s"r$i")).toDF("k", "v").repartition(2))
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("maxFilesPerTrigger", "2").load()
      .writeStream.format("memory").queryName("msrc_fl").start()
    try q.processAllAvailable() finally q.stop()
    // nothing lost, nothing doubled
    spark.table("msrc_fl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      (1 to 16).map(i => (i.toLong, s"r$i")).toSet
    // and every non-empty batch admitted at most 2 files; the 8 files
    // needed >= 4 batches (mid-version slicing happened)
    val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    perBatch.length should be >= 4 // 8 files / 2-file cap
    all(perBatch) should be <= 6L // 2 files x <= 3 rows/file (round-robin)
    // a fresh consumer over the grown table (one more commit) re-walks
    // the whole history in file-capped slices and still loses nothing
    graft.operators.ManifestTable.commit(spark, tbl,
      (17 to 18).map(i => (i.toLong, s"r$i")).toDF("k", "v").repartition(1))
    val q2 = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("maxFilesPerTrigger", "2").load()
      .writeStream.format("memory").queryName("msrc_fl2").start()
    try q2.processAllAvailable() finally q2.stop()
    spark.table("msrc_fl2").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      (1 to 18).map(i => (i.toLong, s"r$i")).toSet
  }

  test("manifest stream source: bloom sidecars prune point-lookup batches " +
      "where min/max stats cannot (the streaming half of SkipProf's bloom leg)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc8").toString
    val tbl = s"$base/tbl"
    // every batch spans the SAME lexical id range (a*..z*) so min/max
    // stats keep all files for an equality lookup; only the bloom sidecar
    // can tell which file actually holds the key
    def mk(tag: Int) = Seq((s"a$tag", tag.toLong), (s"m$tag", tag.toLong),
      (s"z$tag", tag.toLong)).toDF("id", "n").repartition(1)
    (1 to 3).foreach(i => graft.operators.ManifestTable.commit(spark, tbl,
      mk(i), statsCols = Seq("id"), bloomCols = Seq("id")))
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("skipFilters", "id = m2").load()
      .where(col("id") === "m2") // the residual stays the semantics
      .writeStream.format("memory").queryName("msrc_bloom").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("msrc_bloom").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet shouldBe Set("m2" -> 2L)
    // stats alone keep all 9 rows (overlapping ranges); the bloom probe
    // must open only batch 2's file — 3 rows fed the stream, not 9
    val fed = q.recentProgress.map(_.numInputRows).sum
    fed shouldBe 3L
  }

  test("manifest stream source: streaming from a shallow CLONE resolves " +
      "absolute source entries (no corrupt <clone>//src paths)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc9").toString
    val (src, dst) = (s"$base/src", s"$base/dst")
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    graft.operators.ManifestTable.commit(spark, src, mk(1, 3))
    graft.operators.ManifestTable.clone(spark, src, dst)
    // a LOCAL append mixes relative entries with the clone's absolute ones
    graft.operators.ManifestTable.commit(spark, dst, mk(4, 5))
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", dst).load()
      .writeStream.format("memory").queryName("msrc_clone").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("msrc_clone").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      (1 to 5).map(i => (i.toLong, s"r$i")).toSet
  }

  test("manifest stream source: evolveSchema appends stream with " +
      "null-backfill, and the schema header line is never a phantom file") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc14").toString
    val tbl = s"$base/tbl"
    graft.operators.ManifestTable.commit(spark, tbl,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // evolving append: pin gains column n; the manifest's schema line
    // CHANGES — the source's diffs must not surface that as a file
    graft.operators.ManifestTable.commit(spark, tbl,
      Seq((3L, "c", 7L)).toDF("k", "v", "n"), evolveSchema = true)
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).load()
      .writeStream.format("memory").queryName("msrc_evolve").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("msrc_evolve").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet shouldBe
      Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 7L))
    // the CDF consume streams the same window under the evolved schema
    val q2 = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("msrc_evolve2").start()
    try q2.processAllAvailable() finally q2.stop()
    spark.table("msrc_evolve2")
      .select("k", "n", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getString(2), r.getLong(3))).toSet shouldBe
      Set((1L, -1L, "insert", 1L), (2L, -1L, "insert", 1L),
        (3L, 7L, "insert", 2L))
  }

  test("manifest CDF stream: a restore that drops a delete sidecar " +
      "refuses (un-deleting rows is not a row change)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc12").toString
    val tbl = s"$base/tbl"
    graft.operators.ManifestTable.commit(spark, tbl,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    graft.operators.ManifestTable.deleteWhere(spark, tbl, col("k") === 1L)
    // same file set, sidecar line dropped — streaming past it with zero
    // events would silently corrupt downstream folds (r17 ADVICE)
    graft.operators.ManifestTable.restore(spark, tbl, 1L)
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("mcdf_restore").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(20000); ()
    }
    q.stop()
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(
      "")) should include("delete sidecar")
    // a feed starting AT the restore version streams later commits fine
    graft.operators.ManifestTable.commit(spark, tbl,
      Seq((5L, "e")).toDF("k", "v"))
    val q2 = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true")
      .option("startingVersion", "3").load()
      .writeStream.format("memory").queryName("mcdf_restore2").start()
    try q2.processAllAvailable() finally q2.stop()
    spark.table("mcdf_restore2")
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet shouldBe Set((5L, "e", "insert"))
  }

  test("manifest CDF stream: cdfKeyCols relabels MERGE pairs as " +
      "update_pre/postimage per micro-batch, exactly matching batch " +
      "changes(keyCols) (r17 verdict item 3)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc15").toString
    val tbl = s"$base/tbl"
    graft.operators.ManifestTable.commit(spark, tbl,
      (1 to 4).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    // v2: MERGE — k=2,3 updated, k=9 inserted; v3: pure delete of k=1
    graft.operators.ManifestTable.upsertMor(spark, tbl,
      Seq((2L, "V2"), (3L, "V3"), (9L, "v9")).toDF("k", "v"), Seq("k"))
    graft.operators.ManifestTable.deleteWhere(spark, tbl, col("k") === 1L)
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true")
      .option("cdfKeyCols", "k").load()
      .writeStream.format("memory").queryName("mcdf_keyed").start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val streamed = rows(spark.table("mcdf_keyed"))
    // per-micro-batch relabel ≡ the batch relabel — same pairs, same types
    streamed shouldBe rows(
      graft.operators.ManifestTable.changes(spark, tbl, 0L,
        keyCols = Seq("k")))
    // and the label semantics are Delta CDF's four types: MERGE pairs
    // relabeled, the MERGE's pure insert and the pure delete untouched
    streamed shouldBe ((1 to 4).map(i => (i.toLong, s"v$i", "insert", 1L))
      .toSet ++ Set(
      (2L, "v2", "update_preimage", 2L), (2L, "V2", "update_postimage", 2L),
      (3L, "v3", "update_preimage", 2L), (3L, "V3", "update_postimage", 2L),
      (9L, "v9", "insert", 2L), (1L, "v1", "delete", 3L)))
    // cdfKeyCols without readChangeFeed refuses at build
    val ex = intercept[Exception] {
      val qq = spark.readStream
        .format(classOf[graft.streaming.ManifestTableProvider].getName)
        .option("path", tbl).option("cdfKeyCols", "k").load()
        .writeStream.format("memory").queryName("mcdf_keyed_bad").start()
      try { qq.processAllAvailable(); qq.awaitTermination(20000) }
      finally qq.stop()
    }
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(
      "")) should include("requires readChangeFeed")
  }

  test("manifest CDF stream: a file-sliced (maxFilesPerTrigger) checkpoint " +
      "refuses readChangeFeed resume instead of re-delivering rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msrc13").toString
    val (tbl, ckpt) = (s"$base/tbl", s"$base/ckpt")
    // one fat version: a 2-file cap must slice inside it
    graft.operators.ManifestTable.commit(spark, tbl,
      (1 to 12).map(i => (i.toLong, s"r$i")).toDF("k", "v").repartition(6))
    // run exactly ONE file-capped micro-batch (a long ProcessingTime
    // interval keeps the second trigger from firing), leaving the
    // checkpoint's offset mid-version
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("maxFilesPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.count(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(
        "1 hour"))
      .start()
    val deadline = System.currentTimeMillis() + 60000
    while (q.recentProgress.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q.stop()
    q.recentProgress should not be empty
    // switching the SAME checkpoint to readChangeFeed must fail loudly —
    // replaying the sliced version whole would re-deliver consumed rows
    // as change events (r17 ADVICE)
    val q2 = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", tbl).option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.count(); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(20000); ()
    }
    q2.stop()
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(
      "")) should include("file-sliced")
  }
}
