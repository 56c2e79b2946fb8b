package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Catalog, ManifestTable, Upsert}
import scala.jdk.CollectionConverters._

/** Manifest-swap commit protocol (round 11, verdict item 7): readers only
  * ever see fully-committed snapshots; uncommitted data batches are
  * invisible; version slots are a rename-CAS; time travel reads any
  * retained snapshot; expire removes unreferenced batches and nothing
  * else; Upsert.merge composed through commit() publishes atomically.
  */
class ManifestTableSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString + "/t"

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def asSet(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** Batch dirs under `data/` and sidecars under `_deletes/` that no
    * manifest of `dir` references: what an aborted write must not leave. */
  private def unreferenced(dir: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def children(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(s => s"$sub/${s.getPath.getName}")
    }
    val lines = ManifestTable.versions(spark, dir).flatMap { v =>
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/_manifests/v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    (children("data") ++ children("_deletes"))
      .filterNot(e => lines.exists(l => l.endsWith(e) || l.contains(e + "/")))
  }

  test("append commits accumulate; replace commits swap the whole snapshot") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a", 2L -> "b")) shouldBe 1L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
    ManifestTable.commit(spark, dir, df(3L -> "c")) shouldBe 2L
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
    ManifestTable.commit(spark, dir, df(9L -> "z"), replace = true) shouldBe 3L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(9L -> "z")
    // time travel: every retained snapshot stays readable as-committed
    asSet(ManifestTable.read(spark, dir, version = 1L)) shouldBe
      Set(1L -> "a", 2L -> "b")
    asSet(ManifestTable.read(spark, dir, version = 2L)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
  }

  test("a crashed writer's data batch is invisible to readers") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a"))
    // simulate a writer that died after its data write, before its
    // manifest rename: bytes on disk under data/, no manifest entry
    df(666L -> "torn").write.parquet(s"$dir/data/crashed-batch")
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a")
    // the next real commit still lands at the next version and still
    // excludes the orphan
    ManifestTable.commit(spark, dir, df(2L -> "b")) shouldBe 2L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
  }

  test("version-slot CAS: an occupied slot forces the committer onto the next") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a"))
    // simulate a concurrent winner of v2: its manifest appears between
    // this committer's version resolution and its rename
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val v2 = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v2.manifest")
    val out = fs.create(v2, false)
    try out.write("".getBytes("UTF-8")) finally out.close()
    // this commit must observe v2 as head and land at v3 (appending to
    // v2's — empty — file list, the post-race head)
    ManifestTable.commit(spark, dir, df(3L -> "c")) shouldBe 3L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(3L -> "c")
    asSet(ManifestTable.read(spark, dir, version = 1L)) shouldBe Set(1L -> "a")
  }

  test("expire keeps the last snapshots and vacuums unreferenced batches") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a"))
    ManifestTable.commit(spark, dir, df(2L -> "b"), replace = true)
    ManifestTable.commit(spark, dir, df(3L -> "c"))
    ManifestTable.expire(spark, dir, keepLast = 2)
    ManifestTable.versions(spark, dir) shouldBe Seq(2L, 3L)
    // v1's batch is gone from disk, the retained snapshots read intact
    asSet(ManifestTable.read(spark, dir, version = 2L)) shouldBe Set(2L -> "b")
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(2L -> "b", 3L -> "c")
    intercept[IllegalArgumentException] {
      ManifestTable.read(spark, dir, version = 1L)
    }
  }

  test("Upsert.merge publishes atomically through commit(replace)") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir,
      df(1L -> "a", 2L -> "b"), replace = true)
    val target = ManifestTable.read(spark, dir)
    val merged = Upsert.merge(target, df(2L -> "b2", 3L -> "c"), Seq("k"))
    // NOTE the read-before-write: the merge reads snapshot v1 and commits
    // v2 — readers see v1 until the rename, then v2, never the in-between
    ManifestTable.commit(spark, dir, merged, replace = true) shouldBe 2L
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b2", 3L -> "c")
    asSet(ManifestTable.read(spark, dir, version = 1L)) shouldBe
      Set(1L -> "a", 2L -> "b")
  }

  test("readVersion prevents the lost-update anomaly on concurrent merges") {
    // the r11-verdict anomaly, now PREVENTED instead of prose-documented:
    // two writers both read v1 and merge disjoint keys; without conflict
    // scoping the second replace silently discards the first one's rows
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a"), replace = true)
    val readV = ManifestTable.versions(spark, dir).last
    val mergedA = Upsert.merge(
      ManifestTable.read(spark, dir, readV), df(2L -> "b"), Seq("k"))
    val mergedB = Upsert.merge(
      ManifestTable.read(spark, dir, readV), df(3L -> "c"), Seq("k"))
    // writer A lands first
    ManifestTable.commit(spark, dir, mergedA, replace = true,
      readVersion = readV) shouldBe 2L
    // writer B's replace was computed against the stale v1 — must refuse
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.commit(spark, dir, mergedB, replace = true,
        readVersion = readV)
    }
    // nothing of B leaked: head is exactly A's merge, and the refused
    // replace deleted the batch it had written
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
    unreferenced(dir) shouldBe Nil
    // B's documented retry: re-read the new head, recompute, commit
    val head = ManifestTable.versions(spark, dir).last
    val retried = Upsert.merge(
      ManifestTable.read(spark, dir, head), df(3L -> "c"), Seq("k"))
    ManifestTable.commit(spark, dir, retried, replace = true,
      readVersion = head) shouldBe 3L
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
  }

  test("appends commute past a moved head; a rewrite of read files does not") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a"))
    val readV = ManifestTable.versions(spark, dir).last
    // a concurrent APPEND moves the head — this append's read files are
    // all still present, so it proceeds (appends commute)
    ManifestTable.commit(spark, dir, df(2L -> "b")) shouldBe 2L
    ManifestTable.commit(spark, dir, df(3L -> "c"),
      readVersion = readV) shouldBe 3L
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
    // but a concurrent REPLACE retracts the files v3 was read from — an
    // append derived from them must refuse (it would resurrect the data)
    val readV2 = ManifestTable.versions(spark, dir).last
    ManifestTable.commit(spark, dir, df(9L -> "z"), replace = true) shouldBe 4L
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.commit(spark, dir, df(4L -> "d"), readVersion = readV2)
    }
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(9L -> "z")
  }

  test("a real two-thread commit race serializes: every append survives") {
    // not a simulated slot collision — two actual committers race the
    // rename-CAS from separate threads, repeatedly. The protocol's claim
    // is that losers re-resolve the head and retry, so EVERY append lands
    // exactly once and the final snapshot is the union regardless of
    // interleaving.
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(0L -> "base"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1L to 6L).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            ManifestTable.commit(spark, dir, df(i -> s"w$i"))
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // six committers -> six DISTINCT versions 2..7 (one winner per slot)
      versions.sorted shouldBe (2L to 7L)
    } finally pool.shutdown()
    asSet(ManifestTable.read(spark, dir)) shouldBe
      ((1L to 6L).map(i => i -> s"w$i").toSet + (0L -> "base"))
    // every intermediate snapshot is a prefix-union (append-only history)
    ManifestTable.versions(spark, dir) shouldBe (1L to 7L)
    (1L to 7L).foreach { v =>
      val rows = asSet(ManifestTable.read(spark, dir, version = v))
      rows should contain(0L -> "base")
      rows.size shouldBe v.toInt
    }
  }

  test("streaming foreachBatch sink commits one atomic snapshot per micro-batch") {
    // the real CDC-sink shape: a stream lands in the manifest table via
    // foreachBatch + commit(append) — every micro-batch becomes one
    // atomic snapshot, the latest read sees exactly the union, and every
    // intermediate snapshot stays time-travelable
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir()
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { ManifestTable.commit(spark, dir, batch); () }
      }
      .outputMode("append").start()
    try {
      ms.addData(1L -> "a"); q.processAllAvailable()
      ms.addData(2L -> "b", 3L -> "c"); q.processAllAvailable()
      ms.addData(4L -> "d"); q.processAllAvailable()
    } finally q.stop()
    ManifestTable.versions(spark, dir) shouldBe Seq(1L, 2L, 3L)
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    // time travel: snapshot 2 = first two batches only
    asSet(ManifestTable.read(spark, dir, version = 2L)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
  }

  test("txn sink across a RESTART: checkpoint resumes, replays no-op, table exact") {
    // the full production story: an AvailableNow run commits what exists,
    // the 'job' stops, more data lands, a SECOND run with the SAME
    // checkpoint picks up only the new file — and deliberate replays of
    // both batchIds (the crash-retry) change nothing. The read-back must
    // be each source row exactly once.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-txnsink").toString
    val (inDir, tbl, ckpt) = (s"$base/in", s"$base/tbl", s"$base/ckpt")
    // the query id is CHECKPOINT-stable: both runs must report the same
    // one, and out-of-stream replays address its tag namespace with it
    def runOnce(): String = {
      val q = spark.readStream.schema("k LONG, v STRING").parquet(inDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.TxnSink.commitBatch(tbl, b, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.id.toString
    }
    Seq(1L -> "a", 2L -> "b").toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    val qid1 = runOnce()
    asSet(ManifestTable.read(spark, tbl)) shouldBe Set(1L -> "a", 2L -> "b")
    Seq(3L -> "c").toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    val qid2 = runOnce() // restart: the checkpoint must deliver ONLY the new file
    qid2 shouldBe qid1 // same checkpoint = same query identity across restarts
    val want = Set(1L -> "a", 2L -> "b", 3L -> "c")
    asSet(ManifestTable.read(spark, tbl)) shouldBe want
    val versions = ManifestTable.versions(spark, tbl)
    // crash-retries of every delivered batchId: all no-ops
    versions.indices.foreach { i =>
      graft.streaming.TxnSink.commitBatch(tbl,
        spark.read.parquet(inDir), i.toLong, queryId = qid1)
    }
    ManifestTable.versions(spark, tbl) shouldBe versions
    asSet(ManifestTable.read(spark, tbl)) shouldBe want
  }

  test("tagged commits are exactly-once: retries no-op, torn attempts redo") {
    val dir = tmpDir()
    // first commit under a stable tag (a foreachBatch batchId)
    val v1 = ManifestTable.commit(spark, dir, df(1L -> "a"), tag = "batch-0")
    v1 shouldBe 1L
    // the crash-retry: same tag, same data → no new version, no new rows
    ManifestTable.commit(spark, dir, df(1L -> "a"), tag = "batch-0") shouldBe 1L
    ManifestTable.versions(spark, dir) shouldBe Seq(1L)
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a")
    // a TORN first attempt: data dir written under the tag but no
    // manifest references it (crash before the rename) → the retry
    // must delete the garbage and commit exactly once
    val torn = s"$dir/data/batch-1"
    df(9L -> "junk").write.parquet(torn)
    ManifestTable.commit(spark, dir, df(2L -> "b"), tag = "batch-1") shouldBe 2L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
    // untagged commits keep their blind-append semantics
    ManifestTable.commit(spark, dir, df(3L -> "c")) shouldBe 3L
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
    // TxnSink is exactly this composition (queryId-namespaced)
    graft.streaming.TxnSink.commitBatch(dir, df(4L -> "d"), 3L,
      queryId = "q") shouldBe 4L
    graft.streaming.TxnSink.commitBatch(dir, df(4L -> "d"), 3L,
      queryId = "q") shouldBe 4L
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    // r13 ADVICE (medium): with NO query identity — outside a stream and
    // no explicit queryId — the commit must FAIL FAST, not fall back to a
    // bare batch-<id> namespace that no in-stream commit ever used (the
    // mismatched replay would re-append an already-committed batch)
    an[IllegalArgumentException] should be thrownBy
      graft.streaming.TxnSink.commitBatch(dir, df(5L -> "e"), 4L)
    asSet(ManifestTable.read(spark, dir)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
  }

  test("tagged retry after a compacting replace: no-op, tag's batch survives") {
    // r12 ADVICE (medium): a head-only idempotence check would let a
    // replay that races a compaction (a) delete data/<tag> that older
    // retained manifests still reference — breaking their time travel —
    // and (b) re-append rows the compacted head already folded in. The
    // check must consult every retained manifest.
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a"), tag = "batch-0") shouldBe 1L
    // compaction: rewrite the SAME rows into fresh files and publish as a
    // replace — the head (v2) no longer references data/batch-0, v1 does
    val compacted = ManifestTable.read(spark, dir)
    ManifestTable.commit(spark, dir, compacted, replace = true) shouldBe 2L
    // the delayed foreachBatch retry of batch-0 arrives AFTER the compact
    ManifestTable.commit(spark, dir, df(1L -> "a"), tag = "batch-0") shouldBe 2L
    // exactly-once held: no new version, no duplicate rows
    ManifestTable.versions(spark, dir) shouldBe Seq(1L, 2L)
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a")
    // and the retained v1 snapshot still time-travels — its batch dir was
    // NOT clobbered by the retry
    asSet(ManifestTable.read(spark, dir, version = 1L)) shouldBe Set(1L -> "a")
  }

  test("a torn tmp manifest at the deterministic name does not wedge the retry") {
    // r12 ADVICE (low): a crash between fs.create(.tmp-<batch>-<v>) and
    // the rename used to make every replay of that (batch, version) pair
    // die with FileAlreadyExists — permanently, in exactly the crash-retry
    // scenario the sink exists for
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a")) shouldBe 1L
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // simulate the torn attempt: batch-7's data written, tmp manifest
    // created at the name the retry will recompute, rename never happened
    df(2L -> "b").write.parquet(s"$dir/data/batch-7")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_manifests/.tmp-batch-7-2")
    val out = fs.create(tmp, false)
    try out.write("torn".getBytes("UTF-8")) finally out.close()
    // the replay must clear the torn tmp and commit normally
    ManifestTable.commit(spark, dir, df(2L -> "b"), tag = "batch-7") shouldBe 2L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
  }

  test("two streaming queries sharing a table dir do not skip each other's batches") {
    // r12 ADVICE (low): with bare batch-<id> tags, query B's batch 0 was
    // silently dropped as "already committed" by query A's batch 0 —
    // data loss. queryId-namespaced tags keep the identities disjoint
    // while each query's OWN replays still no-op.
    val dir = tmpDir()
    graft.streaming.TxnSink.commitBatch(dir, df(1L -> "a"), 0L,
      queryId = "queryA") shouldBe 1L
    graft.streaming.TxnSink.commitBatch(dir, df(2L -> "b"), 0L,
      queryId = "queryB") shouldBe 2L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
    // replays inside each namespace: no-ops
    graft.streaming.TxnSink.commitBatch(dir, df(1L -> "a"), 0L,
      queryId = "queryA") shouldBe 2L
    graft.streaming.TxnSink.commitBatch(dir, df(2L -> "b"), 0L,
      queryId = "queryB") shouldBe 2L
    ManifestTable.versions(spark, dir) shouldBe Seq(1L, 2L)
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
  }

  // ---- Catalog: cross-table atomic commits (round 13) ----

  test("catalog: both tables flip together; a crashed txn leaves no torn state") {
    val dir = tmpDir()
    Catalog.commit(spark, dir,
      Map("a" -> df(1L -> "a1"), "b" -> df(1L -> "b1"))) shouldBe 1L
    // simulate a writer that crashed AFTER its per-table snapshots were
    // durable but BEFORE the catalog rename: table a's head moves, the
    // catalog does not — a catalog reader must still see the OLD pair
    ManifestTable.commit(spark, s"$dir/a", df(9L -> "torn"), replace = true)
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(1L -> "a1")
    asSet(Catalog.readTable(spark, dir, "b")) shouldBe Set(1L -> "b1")
    // the next full transaction flips BOTH tables in one rename
    Catalog.commit(spark, dir,
      Map("a" -> df(2L -> "a2"), "b" -> df(2L -> "b2"))) shouldBe 2L
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(2L -> "a2")
    asSet(Catalog.readTable(spark, dir, "b")) shouldBe Set(2L -> "b2")
    // time travel stays pairwise-consistent
    asSet(Catalog.readTable(spark, dir, "a", 1L)) shouldBe Set(1L -> "a1")
    asSet(Catalog.readTable(spark, dir, "b", 1L)) shouldBe Set(1L -> "b1")
  }

  test("catalog: write-write conflict refused; disjoint-table txns merge") {
    val dir = tmpDir()
    val v1 = Catalog.commit(spark, dir,
      Map("a" -> df(1L -> "a1"), "b" -> df(1L -> "b1")))
    // two txns computed against v1; the first rewrites a and wins
    Catalog.commit(spark, dir, Map("a" -> df(2L -> "a2")),
      readVersion = v1) shouldBe 2L
    // the second also rewrites a — publishing would discard a2 (lost
    // update); it must be refused, and the catalog must not advance
    a[java.util.ConcurrentModificationException] should be thrownBy
      Catalog.commit(spark, dir, Map("a" -> df(3L -> "a3")), readVersion = v1)
    Catalog.versions(spark, dir).last shouldBe 2L
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(2L -> "a2")
    // a txn against the SAME stale version touching only b commutes:
    // it merges onto the head, inheriting a's v2 pin untouched
    Catalog.commit(spark, dir, Map("b" -> df(2L -> "b2")),
      readVersion = v1) shouldBe 3L
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(2L -> "a2")
    asSet(Catalog.readTable(spark, dir, "b")) shouldBe Set(2L -> "b2")
  }

  test("catalog expire: retained pins survive, expired catalog versions go") {
    val dir = tmpDir()
    Catalog.commit(spark, dir,
      Map("a" -> df(1L -> "a1"), "b" -> df(1L -> "b1")))
    Catalog.commit(spark, dir,
      Map("a" -> df(2L -> "a2"), "b" -> df(2L -> "b2")))
    Catalog.commit(spark, dir, Map("a" -> df(3L -> "a3")))
    Catalog.expire(spark, dir, keepLast = 2)
    // catalog v1 is gone; v2 and v3 remain readable — INCLUDING b's pin,
    // which v3 merely inherited from v2 (the case a naive per-table
    // keepLast-of-head expire would get wrong)
    Catalog.versions(spark, dir) shouldBe Seq(2L, 3L)
    an[Exception] should be thrownBy Catalog.readTable(spark, dir, "a", 1L)
    asSet(Catalog.readTable(spark, dir, "a", 2L)) shouldBe Set(2L -> "a2")
    asSet(Catalog.readTable(spark, dir, "a", 3L)) shouldBe Set(3L -> "a3")
    asSet(Catalog.readTable(spark, dir, "b", 2L)) shouldBe Set(2L -> "b2")
    asSet(Catalog.readTable(spark, dir, "b", 3L)) shouldBe Set(2L -> "b2")
  }

  test("catalog: readVersion 0 means the empty catalog — concurrent " +
      "initializers conflict instead of last-writer-winning") {
    // r13 ADVICE (low): version numbers start at 1, so there was no way to
    // say "I computed against NOTHING" — two initial transactions writing
    // the same table silently merged last-writer-wins. readVersion = 0 is
    // that statement (the ManifestTable convention): any head pin on a
    // written table is then a concurrent initializer's commit → conflict.
    val dir = tmpDir()
    Catalog.commit(spark, dir, Map("a" -> df(1L -> "first")),
      readVersion = 0L) shouldBe 1L
    // the racing initializer, also computed against the empty catalog
    a[java.util.ConcurrentModificationException] should be thrownBy
      Catalog.commit(spark, dir, Map("a" -> df(1L -> "second")),
        readVersion = 0L)
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(1L -> "first")
    // an empty-catalog txn over a DISJOINT table still commutes
    Catalog.commit(spark, dir, Map("b" -> df(1L -> "b1")),
      readVersion = 0L) shouldBe 2L
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(1L -> "first")
    asSet(Catalog.readTable(spark, dir, "b")) shouldBe Set(1L -> "b1")
  }

  test("catalog-managed tables refuse direct ManifestTable appends") {
    // r13 ADVICE (low): a catalog conflict loser leaves the member table's
    // OWN head at a snapshot no catalog version published; a direct append
    // bases on that head and would resurrect the orphaned data. The
    // catalog stamps members `_catalog_managed`; appends fail fast.
    val dir = tmpDir()
    Catalog.commit(spark, dir, Map("a" -> df(1L -> "a1"))) shouldBe 1L
    // the orphan: a crashed/losing txn advanced a's head past the pin
    ManifestTable.commit(spark, s"$dir/a", df(9L -> "orphan"), replace = true)
    // a direct APPEND must fail fast — it would base on the orphan head
    an[IllegalStateException] should be thrownBy
      ManifestTable.commit(spark, s"$dir/a", df(2L -> "a2"))
    // replaces stay allowed (complete file list — nothing to resurrect),
    // which is also how Catalog's own phase 1 passes the guard
    Catalog.commit(spark, dir, Map("a" -> df(2L -> "a2")))
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(2L -> "a2")
    // non-catalog tables keep plain append semantics
    val plain = tmpDir()
    ManifestTable.commit(spark, plain, df(1L -> "x")) shouldBe 1L
    ManifestTable.commit(spark, plain, df(2L -> "y")) shouldBe 2L
    asSet(ManifestTable.read(spark, plain)) shouldBe Set(1L -> "x", 2L -> "y")
  }

  test("incremental reads deliver exactly the files committed after the " +
      "checkpoint version") {
    val dir = tmpDir()
    val v1 = ManifestTable.commit(spark, dir, df(1L -> "a"))
    val v2 = ManifestTable.commit(spark, dir, df(2L -> "b"))
    ManifestTable.commit(spark, dir, df(3L -> "c"))
    // consumer checkpointed at v1: the increment is batches 2+3, never 1
    asSet(ManifestTable.readIncremental(spark, dir, v1)) shouldBe
      Set(2L -> "b", 3L -> "c")
    // bounded to an explicit toVersion: just batch 2
    asSet(ManifestTable.readIncremental(spark, dir, v1, v2)) shouldBe
      Set(2L -> "b")
    // caught-up consumer: empty increment, SCHEMA preserved
    val empty = ManifestTable.readIncremental(spark, dir, 3L)
    empty.count() shouldBe 0L
    empty.columns.toSeq shouldBe Seq("k", "v")
    // a checkpoint expired out of retention must fail loudly (the VACUUM
    // lag contract), not silently deliver a wrong delta
    ManifestTable.expire(spark, dir, keepLast = 2)
    an[IllegalArgumentException] should be thrownBy
      ManifestTable.readIncremental(spark, dir, v1)
    // surviving checkpoints keep working after retention
    asSet(ManifestTable.readIncremental(spark, dir, v2)) shouldBe
      Set(3L -> "c")
    // file-granularity contract under replace: rewritten files ARE the
    // delta (re-delivery documented — exact CDC is the append-only claim)
    val v4 = ManifestTable.versions(spark, dir).last
    ManifestTable.commit(spark, dir,
      df(1L -> "a", 2L -> "b", 3L -> "c"), replace = true)
    asSet(ManifestTable.readIncremental(spark, dir, v4)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
  }

  // ---- LockedCas: commits on stores without atomic rename (round 14) ----

  /** A table dir on the clobber: scheme — rename silently overwrites, so
    * the rename CAS is unsound there and LockedCas is the correct claim. */
  private def clobberDir(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.clobber.impl", classOf[ClobberFileSystem].getName)
    "clobber://" +
      java.nio.file.Files.createTempDirectory("graft-clobber").toString + "/t"
  }

  test("the clobber store really is rename-unsafe (the simulated hazard)") {
    val dir = clobberDir()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getScheme shouldBe "clobber"
    val a = new org.apache.hadoop.fs.Path(s"$dir/a")
    val b = new org.apache.hadoop.fs.Path(s"$dir/b")
    fs.mkdirs(a.getParent)
    Seq(a, b).foreach { p =>
      val o = fs.create(p, false); o.write(p.getName.getBytes); o.close()
    }
    // rename onto an EXISTING path succeeds and overwrites — exactly the
    // object-store behavior that breaks the one-winner-per-slot rename CAS
    fs.rename(a, b) shouldBe true
    val in = fs.open(b)
    try scala.io.Source.fromInputStream(in).mkString shouldBe "a"
    finally in.close()
  }

  test("locked CAS: two concurrent committers on a rename-clobbering " +
      "store lose no commits") {
    val dir = clobberDir()
    val cas = graft.operators.LockedCas(staleLockMs = 60000L, pollMs = 5L)
    val perWriter = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { w =>
      new Thread(() =>
        try (0 until perWriter).foreach { i =>
          ManifestTable.commit(spark, dir, df((w * 100 + i).toLong -> s"w$w-$i"),
            cas = cas)
        } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    errs.asScala.toSeq shouldBe Seq.empty
    // every commit won a distinct version slot; the head holds ALL rows —
    // on this store a rename CAS would have silently lost overwritten slots
    ManifestTable.versions(spark, dir) shouldBe (1L to 2L * perWriter)
    asSet(ManifestTable.read(spark, dir)) shouldBe
      (for (w <- 0 until 2; i <- 0 until perWriter)
        yield (w * 100 + i).toLong -> s"w$w-$i").toSet
    // no lock left behind
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/_commit.lock")) shouldBe false
  }

  test("locked CAS: a torn (dead-holder) lock is broken after the lease " +
      "and the commit proceeds") {
    val dir = clobberDir()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a holder that crashed mid-commit: lock file exists, stamped
    // in the past (beyond the lease)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_manifests/_commit.lock")
    fs.mkdirs(lock.getParent)
    val o = fs.create(lock, false); o.write("dead-holder".getBytes); o.close()
    fs.setTimes(lock, System.currentTimeMillis() - 10000L, -1L)
    val cas = graft.operators.LockedCas(staleLockMs = 500L, pollMs = 5L)
    ManifestTable.commit(spark, dir, df(1L -> "a"), cas = cas) shouldBe 1L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a")
    fs.exists(lock) shouldBe false
    // a FRESH foreign lock (live holder that then dies without releasing):
    // the commit waits out the lease, breaks it, and still lands
    val o2 = fs.create(lock, false); o2.write("dying".getBytes); o2.close()
    val t0 = System.nanoTime()
    ManifestTable.commit(spark, dir, df(2L -> "b"), cas = cas) shouldBe 2L
    (System.nanoTime() - t0) / 1e6 should be >= 400.0 // honored the lease
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
  }

  test("locked CAS fencing: a holder paused past its lease loses cleanly " +
      "instead of clobbering the recovered lease's commit") {
    val dir = clobberDir()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
    val dst = new org.apache.hadoop.fs.Path(mdir, "v1.manifest")
    val lock = new org.apache.hadoop.fs.Path(mdir, "_commit.lock")
    fs.mkdirs(mdir)
    def readF(p: org.apache.hadoop.fs.Path) = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // leg 1: while H1 is paused after staging (beforeFence), its lease
    // expires; W breaks the lock, claims the SAME slot, and releases.
    // H1 resumes at the fence → must LOSE, and dst keeps W's commit —
    // without the fence, clobber-rename would overwrite it with H1's.
    val h1 = graft.operators.LockedCas(staleLockMs = 60000L, pollMs = 5L,
      beforeFence = () => {
        fs.delete(lock, false) // the waiter's stale-lease break
        graft.operators.LockedCas(staleLockMs = 60000L, pollMs = 5L)
          .claim(fs, new org.apache.hadoop.fs.Path(mdir, ".tmpW"), dst,
            "winner".getBytes("UTF-8")) shouldBe true
      })
    h1.claim(fs, new org.apache.hadoop.fs.Path(mdir, ".tmpH"), dst,
      "paused".getBytes("UTF-8")) shouldBe false
    readF(dst) shouldBe "winner"
    // leg 2: the recovered lease is STILL HELD when the paused holder
    // resumes — it must neither publish nor release the new holder's lock
    val dst2 = new org.apache.hadoop.fs.Path(mdir, "v2.manifest")
    val h2 = graft.operators.LockedCas(staleLockMs = 60000L, pollMs = 5L,
      beforeFence = () => {
        fs.delete(lock, false)
        val o = fs.create(lock, false)
        o.write("w-token".getBytes("UTF-8")); o.close()
      })
    h2.claim(fs, new org.apache.hadoop.fs.Path(mdir, ".tmpH2"), dst2,
      "paused2".getBytes("UTF-8")) shouldBe false
    fs.exists(dst2) shouldBe false
    readF(lock) shouldBe "w-token" // the live holder's lock survives
    fs.delete(lock, false)
  }

  test("catalog cross-table commits ride LockedCas on the clobber store") {
    val dir = clobberDir()
    val cas = graft.operators.LockedCas(staleLockMs = 60000L, pollMs = 5L)
    Catalog.commit(spark, dir,
      Map("a" -> df(1L -> "a1"), "b" -> df(1L -> "b1")), cas = cas) shouldBe 1L
    Catalog.commit(spark, dir,
      Map("a" -> df(2L -> "a2")), cas = cas) shouldBe 2L
    asSet(Catalog.readTable(spark, dir, "a")) shouldBe Set(2L -> "a2")
    asSet(Catalog.readTable(spark, dir, "b")) shouldBe Set(1L -> "b1")
    asSet(Catalog.readTable(spark, dir, "a", 1L)) shouldBe Set(1L -> "a1")
  }

  test("file stats skip the batches a range predicate cannot touch") {
    import ManifestTable.{ColEq, ColGe, ColLt}
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a", 2L -> "b").repartition(1),
      statsCols = Seq("k", "v"))
    ManifestTable.commit(spark, dir, df(10L -> "j", 12L -> "m").repartition(1),
      statsCols = Seq("k", "v"))
    ManifestTable.commit(spark, dir, df(20L -> "t").repartition(1),
      statsCols = Seq("k", "v"))
    val preds = Seq(ColGe("k", 10L), ColLt("k", 20L))
    val (kept, total) = ManifestTable.pruneFiles(spark, dir, preds)
    total shouldBe 3
    kept.size shouldBe 1 // only the middle batch's range intersects
    asSet(ManifestTable.readPruned(spark, dir, preds)) shouldBe
      Set(10L -> "j", 12L -> "m")
    // string equality pruning: "t" is outside both other batches' [min,max]
    val (keptEq, _) = ManifestTable.pruneFiles(spark, dir, Seq(ColEq("v", "t")))
    keptEq.size shouldBe 1
    asSet(ManifestTable.readPruned(spark, dir, Seq(ColEq("v", "t")))) shouldBe
      Set(20L -> "t")
  }

  test("pruning is conservative: boundaries keep, no-stats keep, all-null prunes") {
    import ManifestTable.{ColEq, ColGe}
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(4L -> "d", 5L -> "e").repartition(1),
      statsCols = Seq("k", "v"))
    // a batch committed WITHOUT stats can never be pruned
    ManifestTable.commit(spark, dir, df(100L -> "x").repartition(1))
    // predicate value exactly at a file's max: the file must stay
    ManifestTable.pruneFiles(spark, dir, Seq(ColGe("k", 5L)))._1.size shouldBe 2
    // past the max: only the stats-less batch survives, and the residual
    // row filter still applies on it
    val (kept, _) = ManifestTable.pruneFiles(spark, dir, Seq(ColGe("k", 6L)))
    kept.size shouldBe 1
    asSet(ManifestTable.readPruned(spark, dir, Seq(ColGe("k", 6L)))) shouldBe
      Set(100L -> "x")
    // an all-null column can satisfy no comparison predicate: prunes
    ManifestTable.commit(spark, dir, df(7L -> null).repartition(1),
      statsCols = Seq("k", "v"))
    val (keptEq, totalEq) = ManifestTable.pruneFiles(spark, dir,
      Seq(ColEq("v", "zz")))
    totalEq shouldBe 3
    keptEq.size shouldBe 1 // only the stats-less batch; "zz" > max("e") prunes batch 1
    ManifestTable.readPruned(spark, dir, Seq(ColEq("v", "zz")))
      .count() shouldBe 0L
  }

  test("timestamp stats compare by value across fractional-second renderings") {
    import ManifestTable.{ColGt, ColLe}
    val dir = tmpDir()
    import spark.implicits._
    val tdf = Seq("2024-01-10 00:00:05", "2024-01-10 00:00:05.5").toDF("s")
      .select(col("s").cast("timestamp").as("ts")).repartition(1)
    ManifestTable.commit(spark, dir, tdf, statsCols = Seq("ts"))
    // max is ..05.5: strictly-greater-than ..05 can match (the .5 row)
    ManifestTable.pruneFiles(spark, dir,
      Seq(ColGt("ts", "2024-01-10 00:00:05")))._1.size shouldBe 1
    // strictly-greater-than the max itself cannot — even though the
    // canonical strings differ in fraction rendering ("..05.5" vs "..05.50")
    ManifestTable.pruneFiles(spark, dir,
      Seq(ColGt("ts", "2024-01-10 00:00:05.50")))._1.size shouldBe 0
    ManifestTable.readPruned(spark, dir,
      Seq(ColLe("ts", "2024-01-10 00:00:05"))).count() shouldBe 1L
  }

  test("shallow clone: zero-copy snapshot, local appends, isolated vacuum") {
    val src = tmpDir(); val dst = tmpDir()
    ManifestTable.commit(spark, src, df(1L -> "a", 2L -> "b"))
    ManifestTable.commit(spark, src, df(3L -> "c"))
    // clone the head: same rows, no data files under the clone
    ManifestTable.clone(spark, src, dst) shouldBe 1L
    asSet(ManifestTable.read(spark, dst)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c")
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")) shouldBe false
    // clone an OLD version: time travel at clone time
    val dst2 = tmpDir()
    ManifestTable.clone(spark, src, dst2, version = 1L)
    asSet(ManifestTable.read(spark, dst2)) shouldBe Set(1L -> "a", 2L -> "b")
    // the clone is a full table: a LOCAL append mixes with cloned entries
    ManifestTable.commit(spark, dst, df(9L -> "z")) shouldBe 2L
    asSet(ManifestTable.read(spark, dst)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "z")
    // source evolves independently; the clone still reads ITS snapshot
    ManifestTable.commit(spark, src, df(4L -> "d"))
    asSet(ManifestTable.read(spark, dst)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "z")
    // vacuuming the CLONE never deletes source data: only local batches
    ManifestTable.expire(spark, dst, keepLast = 1)
    asSet(ManifestTable.read(spark, src)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    asSet(ManifestTable.read(spark, dst)) shouldBe
      Set(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "z")
  }

  test("bloom sidecar prunes point lookups where min/max stats cannot") {
    import ManifestTable.{ColEq, ColGe}
    val dir = tmpDir()
    import spark.implicits._
    // 4 interleaved batches: every file spans the full key range (k % 4),
    // so RANGE stats keep all files for any point predicate — the bloom
    // is the only thing that can skip here
    (0 until 4).foreach { r =>
      val rows = (0 until 200).map(i => ((i * 4 + r).toLong, s"v$r-$i"))
      ManifestTable.commit(spark, dir, rows.toDF("k", "v").repartition(1),
        statsCols = Seq("k"), bloomCols = Seq("k"), bloomBits = 1 << 14)
    }
    // k = 402 lives only in batch r=2's file
    val (kept, total) = ManifestTable.pruneFiles(spark, dir, Seq(ColEq("k", 402L)))
    total shouldBe 4
    kept.size shouldBe 1
    // range stats alone (a >= predicate — blooms don't serve ranges)
    // keep everything: the contrast that motivates the bloom
    ManifestTable.pruneFiles(spark, dir, Seq(ColGe("k", 402L)))._1.size shouldBe 4
    // row semantics exact through the pruned read
    ManifestTable.readPruned(spark, dir, Seq(ColEq("k", 402L)))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set(402L -> "v2-100")
    // an ABSENT key prunes every file (no false-negative risk the other
    // way: absence of the sidecar or a cast failure keeps files)
    ManifestTable.pruneFiles(spark, dir, Seq(ColEq("k", 99999L)))._1.size shouldBe 0
    ManifestTable.readPruned(spark, dir, Seq(ColEq("k", 99999L))).count() shouldBe 0L
    // string column blooms hash the native type: commit one with strings
    val dir2 = tmpDir()
    ManifestTable.commit(spark, dir2,
      Seq(1L -> "alpha", 2L -> "beta").toDF("k", "v").repartition(1),
      bloomCols = Seq("v"))
    ManifestTable.commit(spark, dir2,
      Seq(3L -> "gamma", 4L -> "delta").toDF("k", "v").repartition(1),
      bloomCols = Seq("v"))
    ManifestTable.pruneFiles(spark, dir2, Seq(ColEq("v", "gamma")))._1.size shouldBe 1
    ManifestTable.readPruned(spark, dir2, Seq(ColEq("v", "gamma")))
      .count() shouldBe 1L
  }

  test("optimize (ordered replace + fresh stats) turns a prune-nothing " +
      "layout into a prune-most layout") {
    import ManifestTable.{ColGe, ColLt}
    val dir = tmpDir()
    import spark.implicits._
    // ingest pathology: 4 appends, each spanning the FULL key range — a
    // k-range predicate keeps every file
    (0 until 4).foreach { r =>
      val rows = (0 until 100).map(i => ((i * 4 + r).toLong, s"v$r-$i"))
      ManifestTable.commit(spark, dir, rows.toDF("k", "v").repartition(1),
        statsCols = Seq("k"))
    }
    val pred = Seq(ColGe("k", 300L), ColLt("k", 400L))
    val (keptBefore, totBefore) = ManifestTable.pruneFiles(spark, dir, pred)
    totBefore shouldBe 4
    keptBefore.size shouldBe 4 // nothing prunable
    // OPTIMIZE: range-ordered rewrite as one replace + fresh stats
    val optimized = ManifestTable.read(spark, dir)
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    ManifestTable.commit(spark, dir, optimized, replace = true,
      statsCols = Seq("k"))
    val (keptAfter, totAfter) = ManifestTable.pruneFiles(spark, dir, pred)
    keptAfter.size should be <= (totAfter / 2) // skip-most now
    // pure physical rewrite: values identical through the pruned read
    ManifestTable.readPruned(spark, dir, pred).count() shouldBe 100L
    // and the pre-optimize snapshot stays time-travelable
    asSet(ManifestTable.read(spark, dir, version = 4L)).size shouldBe 400
  }

  test("restore republishes an old snapshot as a new head; history intact") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, df(1L -> "a", 2L -> "b")) shouldBe 1L
    ManifestTable.commit(spark, dir, df(9L -> "bad"), replace = true) shouldBe 2L
    ManifestTable.restore(spark, dir, 1L) shouldBe 3L
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(1L -> "a", 2L -> "b")
    // the bad snapshot stays readable for audit (append-only history)
    asSet(ManifestTable.read(spark, dir, version = 2L)) shouldBe
      Set(9L -> "bad")
    // restoring an expired version fails loudly
    ManifestTable.expire(spark, dir, keepLast = 1)
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, dir, 2L)
    }
  }

  test("shallow clone keeps the source's data skipping (stats resolve)") {
    import ManifestTable.ColGe
    val src = tmpDir(); val dst = tmpDir()
    ManifestTable.commit(spark, src,
      df(1L -> "a", 2L -> "b").repartition(1), statsCols = Seq("k"))
    ManifestTable.commit(spark, src,
      df(10L -> "x", 11L -> "y").repartition(1), statsCols = Seq("k"))
    ManifestTable.clone(spark, src, dst)
    val (kept, total) = ManifestTable.pruneFiles(spark, dst, Seq(ColGe("k", 5L)))
    total shouldBe 2
    kept.size shouldBe 1 // the [1,2] batch pruned via the SOURCE's sidecar
    asSet(ManifestTable.readPruned(spark, dst, Seq(ColGe("k", 5L)))) shouldBe
      Set(10L -> "x", 11L -> "y")
  }

  test("non-finite float stats never break the pruned-read path") {
    import ManifestTable.{ColGe, ColLe}
    val dir = tmpDir()
    import spark.implicits._
    // one file whose max is NaN (Spark orders NaN above all doubles) and
    // one whose min is -Infinity: both stats are unparseable as plain
    // decimals, so both files must be conservatively KEPT, not crash
    val d1 = Seq(1.0, Double.NaN).toDF("x").repartition(1)
    val d2 = Seq(Double.NegativeInfinity, 5.0).toDF("x").repartition(1)
    ManifestTable.commit(spark, dir, d1, statsCols = Seq("x"))
    ManifestTable.commit(spark, dir, d2, statsCols = Seq("x"))
    // >= 100 needs max: file1's "NaN" max is unknowable → kept; file2's
    // 5.0 max legitimately prunes. <= -100 needs min: file2's "-Infinity"
    // min is unknowable → kept; file1's 1.0 min prunes.
    val (keptGe, total) = ManifestTable.pruneFiles(spark, dir, Seq(ColGe("x", 100.0)))
    total shouldBe 2
    keptGe.size shouldBe 1
    ManifestTable.pruneFiles(spark, dir, Seq(ColLe("x", -100.0)))._1.size shouldBe 1
    // residual filter still gives exact row semantics on the survivors
    // NaN != NaN under ==, so compare renderings
    ManifestTable.readPruned(spark, dir, Seq(ColGe("x", 2.0)))
      .collect().map(_.getDouble(0).toString).toSet shouldBe
      Set("5.0", "NaN")
    ManifestTable.readPruned(spark, dir, Seq(ColLe("x", 0.0)))
      .collect().map(_.getDouble(0).toString).toSet shouldBe
      Set("-Infinity")
  }

  test("timestamp stats are zone-free: a reader in another session zone " +
      "prunes and filters consistently") {
    import ManifestTable.ColGe
    val dir = tmpDir()
    import spark.implicits._
    val tdf = Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("ts")).repartition(1)
    ManifestTable.commit(spark, dir, tdf, statsCols = Seq("ts"))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // "2024-01-15 00:00:00" now means Tokyo midnight both in the prune
      // decision and in the residual cast — one row qualifies either way
      val pred = Seq(ColGe("ts", "2024-01-15 00:00:00"))
      ManifestTable.pruneFiles(spark, dir, pred)._1.size shouldBe 1
      ManifestTable.readPruned(spark, dir, pred).count() shouldBe 1L
      // a predicate past the file's max instant must prune it — the stat
      // comparison happens on instants (micros), not rendered strings
      val past = Seq(ColGe("ts", "2024-01-25 00:00:00"))
      ManifestTable.pruneFiles(spark, dir, past)._1.size shouldBe 0
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("string stats compare in UTF-8 order, matching Spark's min/max") {
    import ManifestTable.ColGe
    val dir = tmpDir()
    import spark.implicits._
    // U+1F600 (supplementary plane) > U+FFFD in code-point/UTF-8 order,
    // but its UTF-16 lead surrogate 0xD83D < 0xFFFD — a compareTo-based
    // prune would wrongly drop this file for pred >= "�"
    val d = Seq("😀").toDF("v").repartition(1)
    ManifestTable.commit(spark, dir, d, statsCols = Seq("v"))
    val pred = Seq(ColGe("v", "�"))
    ManifestTable.pruneFiles(spark, dir, pred)._1.size shouldBe 1
    ManifestTable.readPruned(spark, dir, pred).count() shouldBe 1L
  }

  test("readPruned: numeric epoch-micros timestamp predicates filter rows " +
      "with the same interpretation the prune uses") {
    import ManifestTable.{ColGe, ColLt}
    import spark.implicits._
    val dir = tmpDir()
    val d = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T00:00:00Z"))),
      (2L, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-20T00:00:00Z"))))
      .toDF("k", "ts").repartition(1)
    ManifestTable.commit(spark, dir, d, statsCols = Seq("ts"))
    val cut = java.time.Instant.parse("2024-01-15T00:00:00Z")
      .toEpochMilli * 1000L
    // the documented numeric StatsPred form: epoch MICROS. Before round 16
    // the residual built col(ts) >= lit(bigint) — AnalysisException (or a
    // seconds-based coercion disagreeing with the micros-based prune).
    ManifestTable.readPruned(spark, dir, Seq(ColGe("ts", cut)))
      .select("k").as[Long].collect().toSet shouldBe Set(2L)
    ManifestTable.readPruned(spark, dir, Seq(ColLt("ts", cut)))
      .select("k").as[Long].collect().toSet shouldBe Set(1L)
  }

  test("restore/clone refuse to publish a head into a catalog-managed table " +
      "(the same guard commit enforces)") {
    val dir = tmpDir()
    Catalog.commit(spark, dir, Map("a" -> df(1L -> "a1")))
    Catalog.commit(spark, dir, Map("a" -> df(2L -> "a2")))
    val member = s"$dir/a"
    // restore would republish an old snapshot as a NEW member head the
    // catalog never pinned — the pinned-version invariant breaks silently
    val ex = intercept[IllegalStateException] {
      ManifestTable.restore(spark, member, 1L)
    }
    ex.getMessage should include("catalog-managed")
    // clone INTO the managed dir is the same back-door write
    val src = tmpDir()
    ManifestTable.commit(spark, src, df(9L -> "src"))
    intercept[IllegalStateException] {
      ManifestTable.clone(spark, src, member)
    }
    // cloning FROM a catalog-managed member into a fresh dir stays legal
    val out = tmpDir()
    ManifestTable.clone(spark, member, out)
    asSet(ManifestTable.read(spark, out)) shouldBe Set(2L -> "a2")
  }

  // ---- row-level deletes, merge-on-read (round 16) ----

  test("deleteWhere: merge-on-read removes exactly the predicate's rows; " +
      "time travel, appends, restore and clone all compose") {
    import spark.implicits._
    val dir = tmpDir()
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
        .toDF("k", "v").repartition(2)
    ManifestTable.commit(spark, dir, mk(1, 6))
    val preDel = ManifestTable.commit(spark, dir, mk(7, 10))
    val delV = ManifestTable.deleteWhere(spark, dir, col("v") === "even")
    delV shouldBe preDel + 1
    // merge-on-read: no data file rewritten, rows gone from the head
    asSet(ManifestTable.read(spark, dir)) shouldBe
      (1 to 10).filter(_ % 2 == 1).map(i => (i.toLong, "odd")).toSet
    // time travel: the pre-delete snapshot still has every row
    ManifestTable.read(spark, dir, preDel).count() shouldBe 10L
    // an APPEND carries the delete entries forward (no resurrection)
    ManifestTable.commit(spark, dir, mk(11, 12))
    asSet(ManifestTable.read(spark, dir)) shouldBe
      ((1 to 10).filter(_ % 2 == 1).map(i => (i.toLong, "odd")) ++
        Seq(11L -> "odd", 12L -> "even")).toSet
    // idempotent re-delete of already-gone rows publishes nothing...
    val head = ManifestTable.versions(spark, dir).last
    ManifestTable.deleteWhere(spark, dir, col("k") <= 10L && col("v") === "even")
      .shouldBe(head)
    // ...but deleting the NEW batch's even row works
    ManifestTable.deleteWhere(spark, dir, col("k") === 12L)
    asSet(ManifestTable.read(spark, dir)) shouldBe
      ((1 to 10).filter(_ % 2 == 1).map(i => (i.toLong, "odd")) ++
        Seq(11L -> "odd")).toSet
    // incremental read of a window whose to-version carries deletes
    // must not deliver deleted rows
    asSet(ManifestTable.readIncremental(spark, dir, preDel)) shouldBe
      Set(11L -> "odd")
    // a CLONE of the merge-on-read head keeps the deletes applied
    val cl = tmpDir()
    ManifestTable.clone(spark, dir, cl)
    asSet(ManifestTable.read(spark, cl)) shouldBe
      asSet(ManifestTable.read(spark, dir))
    // RESTORE to the pre-delete version resurrects the rows (as a new
    // head; the delete versions stay in history)
    ManifestTable.restore(spark, dir, preDel)
    ManifestTable.read(spark, dir).count() shouldBe 10L
  }

  test("deleteWhere: readPruned composes skipping with the delete filter; " +
      "REPLACE materializes and frees the sidecars for expire") {
    import ManifestTable.ColGe
    import spark.implicits._
    val dir = tmpDir()
    val d = (1 to 100).map(i => (i.toLong, i % 7)).toDF("k", "m")
      .repartition(4)
    ManifestTable.commit(spark, dir, d, statsCols = Seq("k"))
    ManifestTable.deleteWhere(spark, dir, col("m") === 0)
    // pruned read still applies the delete anti-join on the survivors
    val got = ManifestTable.readPruned(spark, dir, Seq(ColGe("k", 50L)))
      .select("k").as[Long].collect().toSet
    got shouldBe (50 to 100).filterNot(_ % 7 == 0).map(_.toLong).toSet
    // materialize: REPLACE from read() rewrites survivors, drops entries
    ManifestTable.commit(spark, dir,
      ManifestTable.read(spark, dir).repartition(2), replace = true)
    ManifestTable.read(spark, dir).count() shouldBe
      (1 to 100).filterNot(_ % 7 == 0).size.toLong
    // expire to the materialized head → the _deletes sidecars are swept
    ManifestTable.expire(spark, dir, keepLast = 1)
    val delRoot = new java.io.File(s"$dir/_deletes")
    (!delRoot.exists() || delRoot.listFiles().isEmpty) shouldBe true
    // and the reader no longer pays the anti-join (plan has no Join)
    ManifestTable.read(spark, dir).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    } shouldBe empty
  }

  test("upsertMor: matched keys replaced + unmatched inserted in ONE " +
      "version; no-match degrades to a pure append") {
    import spark.implicits._
    val dir = tmpDir()
    val base = (1 to 6).map(i => (i.toLong, s"old$i")).toDF("k", "v")
      .repartition(2)
    val v1 = ManifestTable.commit(spark, dir, base)
    val ups = Seq((2L, "NEW2"), (4L, "NEW4"), (9L, "INS9")).toDF("k", "v")
    val v2 = ManifestTable.upsertMor(spark, dir, ups, Seq("k"))
    v2 shouldBe v1 + 1 // one atomic publish, not delete-then-append
    asSet(ManifestTable.read(spark, dir)) shouldBe Set(
      1L -> "old1", 2L -> "NEW2", 3L -> "old3", 4L -> "NEW4",
      5L -> "old5", 6L -> "old6", 9L -> "INS9")
    // time travel: the pre-merge snapshot is intact
    asSet(ManifestTable.read(spark, dir, v1)) shouldBe
      (1 to 6).map(i => (i.toLong, s"old$i")).toSet
    // no matched key -> pure append, no delete sidecar bloat
    val v3 = ManifestTable.upsertMor(spark, dir,
      Seq((20L, "INS20")).toDF("k", "v"), Seq("k"))
    v3 shouldBe v2 + 1
    ManifestTable.read(spark, dir).count() shouldBe 8L
    // merging on top of a merge re-replaces the replaced row (the delete
    // entries compose across versions); the delta batch carries sidecars
    // like any commit, so merged tables keep skipping
    ManifestTable.upsertMor(spark, dir, Seq((2L, "NEWER2")).toDF("k", "v"),
      Seq("k"), statsCols = Seq("k"))
    ManifestTable.read(spark, dir).where(col("k") === 2L)
      .select("v").as[String].collect() shouldBe Array("NEWER2")
    ManifestTable.readPruned(spark, dir,
        Seq(ManifestTable.ColEq("k", 2L)))
      .select("v").as[String].collect() shouldBe Array("NEWER2")
    // a schema-mismatched delta refuses loudly (by-name parquet reads
    // would otherwise silently null-fill or drop columns later)
    val exSchema = intercept[IllegalArgumentException] {
      ManifestTable.upsertMor(spark, dir,
        Seq((5L, "x", 1.0)).toDF("k", "v", "extra"), Seq("k"))
    }
    // the refusal now comes from the pinned schema header (r18)
    exSchema.getMessage should include("drifts from the table schema")
  }

  test("changes (round 17): the batch change feed replays every commit's " +
      "row events; REPLACE windows and expired froms refuse; empty and " +
      "idempotent windows are empty") {
    import spark.implicits._
    val dir = tmpDir()
    def ch(from: Long, to: Long = -1L) =
      ManifestTable.changes(spark, dir, from, to)
        .select("k", "v", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
    ManifestTable.commit(spark, dir,
      (1 to 4).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    ManifestTable.deleteWhere(spark, dir, col("k") <= 2L)
    ManifestTable.upsertMor(spark, dir,
      Seq((3L, "V3"), (9L, "v9")).toDF("k", "v"), Seq("k"))
    val full = (1 to 4).map(i => (i.toLong, s"v$i", "insert", 1L)).toSet ++
      Set((1L, "v1", "delete", 2L), (2L, "v2", "delete", 2L),
        (3L, "v3", "delete", 3L), (3L, "V3", "insert", 3L),
        (9L, "v9", "insert", 3L))
    ch(0L) shouldBe full
    // windowing: (1, 3] sees only the delete + merge events
    ch(1L) shouldBe full.filter(_._4 > 1L)
    ch(1L, 2L) shouldBe full.filter(_._4 == 2L)
    // an idempotent re-delete publishes no version → the feed is stable
    val head = ManifestTable.versions(spark, dir).last
    ManifestTable.deleteWhere(spark, dir, col("k") <= 2L) shouldBe head
    ch(0L) shouldBe full
    // empty window: zero rows, schema intact (table cols + CDF cols)
    val empty = ManifestTable.changes(spark, dir, head)
    empty.count() shouldBe 0L
    empty.columns.toSeq shouldBe
      Seq("k", "v", "_change_type", "_commit_version")
    // fold-forward sanity: head state == inserts minus deletes by (k, pos
    // in time) — the CDC consumer's apply law on this keyed table
    val events = ch(0L).toSeq
    val folded = events.groupBy(_._1).flatMap { case (_, es) =>
      // per key the LAST event decides: delete → gone, insert → present;
      // within one version (a MERGE) the delete precedes the insert
      val last = es.maxBy(e => (e._4, if (e._3 == "insert") 1 else 0))
      if (last._3 == "insert") Some(last._1 -> last._2) else None
    }.toSet
    folded shouldBe asSet(ManifestTable.read(spark, dir))
    // with a DECLARED key, a MERGE's delete+insert pair relabels as one
    // UPDATE (Delta CDF's four-type convention); pure inserts/deletes
    // keep their labels
    val keyed = ManifestTable.changes(spark, dir, 0L, keyCols = Seq("k"))
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    keyed shouldBe (full -- Set(
      (3L, "v3", "delete", 3L), (3L, "V3", "insert", 3L)) ++ Set(
      (3L, "v3", "update_preimage", 3L), (3L, "V3", "update_postimage", 3L)))
    // REPLACE windows refuse (file rewrites are not row changes)...
    ManifestTable.commit(spark, dir,
      ManifestTable.read(spark, dir).repartition(1), replace = true)
    val ex = intercept[IllegalArgumentException] { ch(0L) }
    ex.getMessage should include("not row changes")
    // ...but a feed STARTING at the rewrite version reads later commits
    val rw = ManifestTable.versions(spark, dir).last
    ManifestTable.commit(spark, dir, Seq((20L, "v20")).toDF("k", "v"))
    ch(rw) shouldBe Set((20L, "v20", "insert", rw + 1))
    // an expired/unknown fromVersion refuses with the VACUUM message
    val exFrom = intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, dir, 999L)
    }
    exFrom.getMessage should include("not in committed set")
  }

  test("optimize(zorderCols): the rewritten layout prunes a 2-D box scan " +
      "at least as well as a 1-D sort — and strictly better here — while " +
      "materializing MoR deletes (r17 verdict item 4)") {
    import spark.implicits._
    val grid = (0 until 4096)
      .map(i => ((i % 64).toLong, (i / 64).toLong)).toDF("x", "y")
    val boxPreds = Seq(ManifestTable.ColLe("x", 15L),
      ManifestTable.ColLe("y", 15L))
    // 1-D baseline: x-sorted into 16 files — each file narrow in x but
    // spanning ALL of y, so the y half of the box cannot prune
    val dir1 = tmpDir()
    ManifestTable.commit(spark, dir1,
      grid.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      statsCols = Seq("x", "y"))
    val (kept1, total1) = ManifestTable.pruneFiles(spark, dir1, boxPreds)
    total1 shouldBe 16
    // manifest lifecycle: four interleaved appends (no useful layout),
    // one MoR delete, then OPTIMIZE ZORDER
    val dirZ = tmpDir()
    (0 to 3).foreach(r => ManifestTable.commit(spark, dirZ,
      grid.filter(pmod(col("x") + col("y"), lit(4)) === r).repartition(2)))
    ManifestTable.deleteWhere(spark, dirZ,
      col("x") === 63L && col("y") === 63L)
    ManifestTable.optimize(spark, dirZ, nFiles = 16,
      zorderCols = Seq("x", "y"))
    val (keptZ, totalZ) = ManifestTable.pruneFiles(spark, dirZ, boxPreds)
    totalZ shouldBe 16
    // the z-layout's per-file boxes bound BOTH dimensions: the corner box
    // keeps strictly fewer files than the 1-D sort's x-only margin
    keptZ.size should be < kept1.size
    keptZ.size should be >= 1
    // values intact, the delete materialized (head is sidecar-free)
    ManifestTable.read(spark, dirZ).count() shouldBe 4095L
    val head = ManifestTable.versions(spark, dirZ).last
    ManifestTable.history(spark, dirZ)
      .where(col("version") === head)
      .select("n_delete_entries").head.getLong(0) shouldBe 0L
    // and the box read itself returns exactly the box
    ManifestTable.readPruned(spark, dirZ, boxPreds).count() shouldBe 256L
  }

  test("schema contract (r18): drifted appends refuse pre-write; " +
      "evolveSchema null-backfills old files; time travel and restore " +
      "keep each version's own schema; clones carry the pin") {
    import spark.implicits._
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    ManifestTable.tableSchema(spark, dir)
      .map(_.fieldNames.toSeq) shouldBe Some(Seq("k", "v"))
    // drift refuses LOUDLY (the formerly-silent failure path): extra
    // column, missing column, and same-name-different-type
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, dir,
        Seq((2L, "b", 1.0)).toDF("k", "v", "x"))
    }.getMessage should include("unknown column")
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, dir, Seq(3L).toDF("k"))
    }.getMessage should include("missing column")
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, dir, Seq((4, "d")).toDF("k", "v"))
    }.getMessage should include("type mismatch")
    // ...and the refusal happened before any data landed: no orphan batches
    ManifestTable.versions(spark, dir) shouldBe Seq(1L)
    // evolveSchema append: new column appends to the pin; OLD files
    // surface it as NULL (by-name reads — the converter contract)
    ManifestTable.commit(spark, dir,
      Seq((5L, "e", 7L)).toDF("k", "v", "n"), evolveSchema = true)
    val head = ManifestTable.read(spark, dir)
    head.columns.toSeq shouldBe Seq("k", "v", "n")
    head.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet shouldBe
      Set((1L, "a", -1L), (5L, "e", 7L))
    // appends now validate against the EVOLVED pin...
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, dir, Seq((6L, "f")).toDF("k", "v"))
    }.getMessage should include("missing column")
    // ...but an evolving append may OMIT columns (they read as null)
    ManifestTable.commit(spark, dir, Seq((6L, "f")).toDF("k", "v"),
      evolveSchema = true)
    ManifestTable.read(spark, dir).where(col("k") === 6L)
      .select("n").head.isNullAt(0) shouldBe true
    // time travel reads each version under ITS schema
    ManifestTable.read(spark, dir, 1L).columns.toSeq shouldBe Seq("k", "v")
    // replace refuses drift without the flag; with it, redefines the table
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, dir, Seq((9L, 9L)).toDF("k", "n2"),
        replace = true)
    }.getMessage should include("drifts from the table schema")
    ManifestTable.commit(spark, dir, Seq((9L, 9L)).toDF("k", "n2"),
      replace = true, evolveSchema = true)
    ManifestTable.read(spark, dir).columns.toSeq shouldBe Seq("k", "n2")
    // restore to a pre-evolution version restores its schema with it
    ManifestTable.restore(spark, dir, 1L)
    ManifestTable.read(spark, dir).columns.toSeq shouldBe Seq("k", "v")
    ManifestTable.commit(spark, dir, Seq((10L, "j")).toDF("k", "v"))
    // a shallow clone carries the pinned schema (not as a phantom path)
    val dst = tmpDir()
    ManifestTable.clone(spark, dir, dst)
    ManifestTable.tableSchema(spark, dst)
      .map(_.fieldNames.toSeq) shouldBe Some(Seq("k", "v"))
    asSet(ManifestTable.read(spark, dst)) shouldBe Set(1L -> "a", 10L -> "j")
    // upsertMor validates against the pin (even with a header-only check)
    intercept[IllegalArgumentException] {
      ManifestTable.upsertMor(spark, dst,
        Seq((1L, 2.0)).toDF("k", "v"), Seq("k"))
    }.getMessage should include("type mismatch")
  }

  test("changes: the feed plan holds a CONSTANT scan count at any version " +
      "count — one scan per change type, version-attributed by file path " +
      "(r17 verdict item 2: feed cost must not grow with table age)") {
    import spark.implicits._
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.size
    def build(n: Int): String = {
      val dir = tmpDir()
      (1 to n).foreach(i => ManifestTable.commit(spark, dir,
        Seq((i.toLong, s"v$i")).toDF("k", "v")))
      ManifestTable.deleteWhere(spark, dir, col("k") === 1L)
      ManifestTable.upsertMor(spark, dir,
        Seq((2L, "V2"), (99L, "new")).toDF("k", "v"), Seq("k"))
      dir
    }
    val (d3, d10) = (build(3), build(10))
    val (small, big) =
      (ManifestTable.changes(spark, d3, 0L), ManifestTable.changes(spark, d10, 0L))
    // inserts: 1 scan; deletes: 1 sidecar scan + 1 referenced-file scan —
    // and the count does NOT grow with the number of committed versions
    scans(small) shouldBe scans(big)
    withClue(big.queryExecution.optimizedPlan.toString) {
      scans(big) should be <= 3
    }
    // version attribution survives the single-scan join: every commit's
    // events carry ITS version, exactly as the per-version legs did
    val got = big
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    got shouldBe ((1 to 10).map(i => (i.toLong, s"v$i", "insert", i.toLong))
      .toSet ++ Set((1L, "v1", "delete", 11L), (2L, "v2", "delete", 12L),
      (2L, "V2", "insert", 12L), (99L, "new", "insert", 12L)))
  }

  test("changes: a restore that drops a delete sidecar refuses (un-delete " +
      "is not a row change); empty-head windows keep the table schema") {
    import spark.implicits._
    val dir = tmpDir()
    ManifestTable.commit(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    ManifestTable.deleteWhere(spark, dir, col("k") === 1L)
    // restore to the pre-delete snapshot: SAME file set, sidecar line
    // dropped — the logically re-inserted row must not vanish silently
    // from the feed (r17 ADVICE)
    ManifestTable.restore(spark, dir, 1L)
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, dir, 0L).collect()
    }
    ex.getMessage should include("delete sidecar")
    // a feed STARTING at the restore version reads later commits fine
    val rw = ManifestTable.versions(spark, dir).last
    ManifestTable.commit(spark, dir, Seq((5L, "e")).toDF("k", "v"))
    ManifestTable.changes(spark, dir, rw)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet shouldBe Set((5L, "e", "insert"))
    // empty-head table (zero-file REPLACE): an empty feed window still
    // carries the table columns + CDF columns, and keyCols still resolves
    val dir2 = tmpDir()
    ManifestTable.commit(spark, dir2, Seq((1L, "a")).toDF("k", "v"))
    // a zero-data-file head (an empty REPLACE): published directly as an
    // empty manifest, the same simulation the version-slot CAS test uses
    val fs2 = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val v2p = new org.apache.hadoop.fs.Path(s"$dir2/_manifests/v2.manifest")
    val out2 = fs2.create(v2p, false)
    try out2.write("".getBytes("UTF-8")) finally out2.close()
    val head2 = ManifestTable.versions(spark, dir2).last
    // the fixture really is the zero-data-file head the r17 ADVICE names
    ManifestTable.history(spark, dir2)
      .where(col("version") === head2)
      .select("n_files").head.getLong(0) shouldBe 0L
    val empty = ManifestTable.changes(spark, dir2, head2)
    empty.columns.toSeq shouldBe
      Seq("k", "v", "_change_type", "_commit_version")
    empty.count() shouldBe 0L
    ManifestTable.changes(spark, dir2, head2, keyCols = Seq("k"))
      .count() shouldBe 0L
    // readIncremental's empty increment keeps the schema the same way
    ManifestTable.readIncremental(spark, dir2, head2, head2)
      .columns.toSeq shouldBe Seq("k", "v")
  }

  test("deleteWhere: streaming refuses a version window that adds deletes; " +
      "materialized heads stream again") {
    import spark.implicits._
    val dir = tmpDir()
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    ManifestTable.commit(spark, dir, mk(1, 4))
    ManifestTable.deleteWhere(spark, dir, col("k") <= 2L)
    val q = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("msrc_del").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(20000); ()
    }
    q.stop()
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")) should
      include("row-level delete")
    // materialize → the table streams again, with the deletes applied
    ManifestTable.commit(spark, dir,
      ManifestTable.read(spark, dir).repartition(1), replace = true)
    val q2 = spark.readStream
      .format(classOf[graft.streaming.ManifestTableProvider].getName)
      .option("path", dir)
      .option("startingVersion",
        (ManifestTable.versions(spark, dir).last - 1).toString).load()
      .writeStream.format("memory").queryName("msrc_del2").start()
    try q2.processAllAvailable() finally q2.stop()
    spark.table("msrc_del2").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set(3L -> "r3", 4L -> "r4")
  }

  test("deleteThenUpsertMor (r19): one head scan publishes the same two " +
      "versions, snapshots and change feed as the sequential pair") {
    import spark.implicits._
    val base = (1 to 10).map(i =>
      (i.toLong, if (i % 2 == 0) "click" else "view", i * 1.0))
      .toDF("k", "t", "v").repartition(2)
    // k=3 is live-and-viewed (merge UPDATE), k=4 is a click (deleted by
    // the pred BEFORE the merge — its update row must land as an INSERT,
    // not a double delete), k=99 is a pure insert
    val ups = Seq((3L, "view", 300.0), (4L, "click", 400.0),
      (99L, "ins", 990.0)).toDF("k", "t", "v")
    val dirA = tmpDir(); val dirB = tmpDir()
    ManifestTable.commit(spark, dirA, base)
    ManifestTable.commit(spark, dirB, base)
    val vDel = ManifestTable.deleteWhere(spark, dirA, col("t") === "click")
    val vMor = ManifestTable.upsertMor(spark, dirA, ups, Seq("k"))
    val (fDel, fMor) = ManifestTable.deleteThenUpsertMor(spark, dirB,
      col("t") === "click", ups, Seq("k"))
    fDel shouldBe vDel
    fMor shouldBe vMor
    def snap(dir: String, v: Long) = ManifestTable.read(spark, dir, v)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    (1L to vMor).foreach { v =>
      snap(dirB, v) shouldBe snap(dirA, v)
    }
    // the change feed (per-version row events) must replay identically
    def feed(dir: String) = ManifestTable.changes(spark, dir, 0L, vMor)
      .collect().map(r => r.toSeq.toList).toSet
    feed(dirB) shouldBe feed(dirA)
    // no-pred-match: the delete version is skipped on both paths
    val ups2 = Seq((1L, "view", 111.0)).toDF("k", "t", "v")
    val vA2 = ManifestTable.deleteWhere(spark, dirA, col("t") === "nope")
    val vA3 = ManifestTable.upsertMor(spark, dirA, ups2, Seq("k"))
    val (fDel2, fMor2) = ManifestTable.deleteThenUpsertMor(spark, dirB,
      col("t") === "nope", ups2, Seq("k"))
    fDel2 shouldBe vA2
    fMor2 shouldBe vA3
    snap(dirB, fMor2) shouldBe snap(dirA, vA3)
  }

  // ---- serializability of concurrent writers ----

  /** Three seeded writers race ~6 ops each (blind append, append and
    * replace at a read version, deleteWhere, upsertMor) on one table.
    * Committed versions must be dense, replaying the committed ops in
    * version order through a pure row model must give every snapshot, and
    * an op refused with ConcurrentModificationException must leave no row
    * and no unreferenced file behind. */
  private def serializable(dir: String, cas: graft.operators.CommitCas,
      seed: Long): Unit = {
    type Rows = Vector[(Long, String)]
    case class Done(kind: String, v: Long, rv: Long, model: Rows => Rows)
    ManifestTable.commit(spark, dir, df((0L until 12L).map(_ -> "base"): _*),
      cas = cas) shouldBe 1L
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    val aborted = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 3).map { w =>
      new Thread(() =>
        try {
          start.await()
          val rnd = new scala.util.Random(seed * 31 + w)
          (0 until 6).foreach { i =>
            val tag = s"w$w-$i"
            val fresh = Vector(1000L + 100 * w + 10 * i, 1001L + 100 * w + 10 * i)
              .map(_ -> tag)
            val rv = ManifestTable.versions(spark, dir).last
            try done.add(rnd.nextInt(5) match {
              case 0 => Done("append", ManifestTable.commit(spark, dir,
                df(fresh: _*), cas = cas), -1L, _ ++ fresh)
              case 1 => Done("append@rv", ManifestTable.commit(spark, dir,
                df(fresh: _*), readVersion = rv, cas = cas), rv, _ ++ fresh)
              case 2 =>
                val r = rnd.nextInt(3)
                val next = ManifestTable.read(spark, dir, rv)
                  .where(col("k") % 3 =!= r).union(df(fresh: _*))
                Done("replace@rv", ManifestTable.commit(spark, dir, next,
                  replace = true, readVersion = rv, cas = cas), rv,
                  _.filter(_._1 % 3 != r) ++ fresh)
              case 3 =>
                val r = rnd.nextInt(5)
                Done("deleteWhere", ManifestTable.deleteWhere(spark, dir,
                  col("k") % 5 === r, cas), -1L, _.filter(_._1 % 5 != r))
              case _ =>
                val ups = Vector(rnd.nextInt(12).toLong -> tag, fresh.head)
                val keys = ups.map(_._1).toSet
                Done("upsertMor", ManifestTable.upsertMor(spark, dir,
                  df(ups: _*), Seq("k"), cas), -1L,
                  _.filterNot(r => keys(r._1)) ++ ups)
            })
            catch {
              case _: java.util.ConcurrentModificationException => aborted.add(tag)
            }
          }
        } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); start.countDown()
    threads.foreach(_.join(120000))
    errs.asScala.toSeq shouldBe Seq.empty
    val ops = done.asScala.toSeq.sortBy(_.v)
    ops.size + aborted.size shouldBe 18
    val n = ManifestTable.versions(spark, dir).last
    ManifestTable.versions(spark, dir) shouldBe (1L to n)
    // every version past the base is some committed op's; a deleteWhere
    // that matched nothing returns the head it read without publishing
    (ops.map(_.v).toSet + 1L) shouldBe (1L to n).toSet
    val published = ops.filterNot(_.kind == "deleteWhere")
    published.map(_.v).distinct.size shouldBe published.size
    ops.filter(_.kind == "replace@rv").foreach(o => o.v shouldBe o.rv + 1)
    // an append at a read version commits only if no replace retracted
    // the files it read in between
    ops.filter(_.kind == "append@rv").foreach(o =>
      ops.exists(r => r.kind == "replace@rv" && r.v > o.rv && r.v < o.v) shouldBe false)
    var model: Vector[(Long, String)] = (0L until 12L).map(_ -> "base").toVector
    (1L to n).foreach { v =>
      ops.filter(_.v == v).foreach(o => model = o.model(model))
      val rows = ManifestTable.read(spark, dir, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      withClue(s"snapshot v$v: ") { rows.sorted shouldBe model.sorted }
      rows.map(_._2).filter(aborted.asScala.toSet) shouldBe Nil
    }
    unreferenced(dir) shouldBe Nil
  }

  test("concurrent writers serialize: dense versions, every snapshot is the " +
      "replay of the committed ops, refused ops leave nothing") {
    serializable(tmpDir(), graft.operators.RenameCas, seed = 7L)
    serializable(clobberDir(),
      graft.operators.LockedCas(staleLockMs = 60000L, pollMs = 5L), seed = 11L)
  }
}
