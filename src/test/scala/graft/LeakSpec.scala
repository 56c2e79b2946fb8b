package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.DataFrame
import graft.operators.{AllSourceDistances, Betweenness, Components, Hits,
  KCore, LabelProp, PageRank, Sssp, Tracked}
import graft.queries.Llm

/** Storage-block hygiene (r3 judge finding "library-level persist leaks"):
  * a long-lived session composing dedup operators must not accumulate
  * pinned blocks. Library kernels register every intermediate on a
  * [[Tracked]] handle; sealed results are the caller's single owned block,
  * freed by `release()` (or the harness's clearCache). Asserted against
  * the executor storage registry itself, so both Dataset-persist and the
  * RDD snapshots inside Components are covered.
  */
class LeakSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def storedIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def awaitStorage(before: Set[Int]): Unit = {
    // unpersist(blocking = false) is asynchronous — poll briefly. Assert
    // no NEW blocks remain (diff, not equality): blocks a PREVIOUS suite
    // pinned and async-unpersisted may drain from `before` mid-test, so
    // exact-set equality races against other suites' cleanup
    val deadline = System.nanoTime() + 10e9.toLong
    while (storedIds.diff(before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    storedIds.diff(before) shouldBe empty
  }

  test("composed dedup pipeline leaves zero pinned blocks after release") {
    val before = storedIds
    val docs = T.t(spark, sf001, "documents")
    val emb = T.t(spark, sf001, "embeddings").select(col("vec_id"), col("embedding"))
    val tr = new Tracked
    // three dedup operators, one session: exact-jaccard pair generation,
    // transitive clustering over those pairs, embedding LSH near-dup —
    // every intermediate (shingle arrays, pair cache, per-round label
    // snapshots) rides the shared Tracked
    val pairs = Llm.clusterEdges(docs, 0.5, tr)
    val clusters = Components.connected(pairs, "da", "db", tr)
    clusters.count() should be > 0L
    graft.ml.Sim.cosineLshPairs(emb, 0.4, tr = tr).count() should be > 0L
    tr.release()
    awaitStorage(before)
  }

  test("declared dedup queries pin only their sealed result, freed by clearCache") {
    val before = storedIds
    for (q <- Seq("dedup_jaccard", "dedup_minhash", "dedup_simhash", "dedup_clusters",
        "dedup_survivors", "dedup_embed_clusters", "dedup_embed_lsh",
        "dedup_index_inc")) {
      SparkEntry.queries(q)(spark, sf001).count() should be > 0L
      // the only surviving storage is the operator's own sealed result —
      // intermediates (shingles, candidate pairs, propagation rounds) are
      // freed inside the body; dedup_jaccard is a lazy plan and seals
      // nothing, so it may pin no block at all
      val bound = if (q == "dedup_jaccard") 0 else 1
      withClue(s"$q leaked intermediates: ") {
        val deadline = System.nanoTime() + 10e9.toLong
        while (storedIds.diff(before).size > bound && System.nanoTime() < deadline)
          Thread.sleep(100)
        storedIds.diff(before).size should be <= bound
      }
      spark.sharedState.cacheManager.clearCache()
      // clearCache also evicts blocks OTHER suites pinned on the shared
      // session, so assert no NEW blocks remain rather than exact equality
      val deadline = System.nanoTime() + 10e9.toLong
      while (storedIds.diff(before).nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      withClue(s"$q left blocks after clearCache: ") {
        storedIds.diff(before) shouldBe empty
      }
    }
  }

  test("warm dedup_jaccard is one SQL execution with no eager job and " +
      "no pinned block") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val (build, action, marker) =
      ("leakspec-build", "leakspec-action", "leakspec-marker")
    // SQL executions and jobs per job description; listener events arrive
    // in post order, so once the marker's execution is seen every earlier
    // event has been counted
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def bump(k: String): Unit = seen.merge(k, 1, (a: Integer, b: Integer) => a + b)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => bump(s"job:$d"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          bump(s"sql:${x.description}")
          if (x.description == marker) markerSeen.countDown()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val q = SparkEntry.queries("dedup_jaccard")
    // cold call: fills Sim.countOnce's dispatch memo for the corpus scan
    q(spark, sf001).collect() should not be empty
    val before = storedIds
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(build)
      val df = q(spark, sf001)
      sc.setJobDescription(action)
      df.collect() should not be empty
      sc.setJobDescription(marker)
      spark.range(1).collect()
      markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      def n(k: String): Int = Option(seen.get(k)).map(_.intValue).getOrElse(0)
      // building the warm plan launches nothing: the dispatch count is
      // memoized, and nothing is persisted or probed on the driver
      n(s"sql:$build") shouldBe 0
      n(s"job:$build") shouldBe 0
      n(s"sql:$action") shouldBe 1
      storedIds.diff(before) shouldBe empty
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("graph operators pin only their sealed result, and a driver-branch " +
      "run launches no job beyond its own input collects") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the sf0.01 trade graph: weighted, cost and undirected forms
    val (o, c) = (T.t(spark, sf01c, "orders"), T.t(spark, sf01c, "customer"))
    val (l, su) = (T.t(spark, sf01c, "lineitem"), T.t(spark, sf01c, "supplier"))
    val w = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val nodes = T.t(spark, sf01c, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val cost = w.select(col("src"), col("dst"),
      expr("1000000L div (w + 1) + 1").cast("long").as("cost"))
    val und = w.select(least(col("src"), col("dst")).cast("long").as("u1"),
      greatest(col("src"), col("dst")).cast("long").as("u2")).distinct()
    // (operator, run at a gate, the frames its driver branch must collect)
    val ops: Seq[(String, Long => DataFrame, Seq[DataFrame])] = Seq(
      ("PageRank", g => PageRank.run(nodes, w, 10, 0.85, g), Seq(w, nodes)),
      ("Hits", g => Hits.run(nodes, w, 10, g), Seq(w, nodes)),
      ("Sssp", g => Sssp.run(nodes, cost, 0L, 6, g), Seq(cost, nodes)),
      ("AllSourceDistances", g => AllSourceDistances.run(nodes, cost, 6, g),
        Seq(cost, nodes)),
      ("KCore", g => KCore.run(und, 3L, 8, g), Seq(und)),
      ("LabelProp", g => LabelProp.run(und, 4, g), Seq(und)),
      ("Betweenness", g => Betweenness.run(nodes, cost, 6, g),
        Seq(cost, nodes)))

    // jobs per job description; a marker job seen by the listener means
    // every earlier job start has been counted (events arrive in order)
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => seen.merge(d, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    def jobs(desc: String)(body: => Unit): Int = {
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(null)
      val marker = s"$desc-marker"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.containsKey(marker) && System.nanoTime() < deadline)
        Thread.sleep(50)
      seen.containsKey(marker) shouldBe true
      Option(seen.get(desc)).map(_.intValue).getOrElse(0)
    }
    def settle(before: Set[Int], bound: Int): Set[Int] = {
      val deadline = System.nanoTime() + 10e9.toLong
      while (storedIds.diff(before).size > bound && System.nanoTime() < deadline)
        Thread.sleep(100)
      storedIds.diff(before)
    }

    // every violation of every operator, so one run names them all
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(what: String, ok: Boolean): Unit = if (!ok) violations += what
    sc.addSparkListener(listener)
    try {
      for ((name, run, inputs) <- ops) {
        // driver branch: the bounded edge collect and the node collect are
        // all it runs — no count, no cache, nothing after the collects
        val before = storedIds
        var out: DataFrame = null
        val runJobs = jobs(s"$name-driver") { out = run(Long.MaxValue) }
        val inputJobs = jobs(s"$name-inputs") {
          inputs.head.limit(Int.MaxValue).collect()
          inputs.tail.foreach(_.collect())
        }
        check(s"$name driver branch ran $runJobs jobs, its input collects " +
          s"$inputJobs", runJobs == inputJobs)
        check(s"$name driver result is empty", out.count() > 0L)
        val driverLeft = settle(before, 0)
        check(s"$name driver branch pinned ${driverLeft.size} blocks",
          driverLeft.isEmpty)
        // distributed branch: the sealed result is the one new block, and
        // unpersisting it leaves none
        val dist = run(0L)
        check(s"$name distributed result is empty", dist.count() > 0L)
        val held = settle(before, 1).size
        check(s"$name distributed branch pinned $held blocks, not 1",
          held == 1)
        dist.unpersist()
        val left = settle(before, 0).size
        check(s"$name distributed branch left $left blocks after unpersist",
          left == 0)
      }
    } finally sc.removeSparkListener(listener)
    violations shouldBe empty
  }

  test("a discretizer fit scans its source once below the histogram's " +
      "bounded collect, at most twice above it, and pins no block") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.ml.Estimator
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerStageCompleted}
    import graft.ml.{AmevaDiscretizer, CAIMDiscretizer, CAIMDiscretizerModel,
      ChiMergeDiscretizer, MDLPDiscretizer, SupervisedHistogram}
    // a parquet source: a stage scans it iff its RDD lineage holds a
    // FileScanRDD. e0..e3 have 500 distinct values each; k1..k3 are
    // rounded to a few values, so a histogram over (e0, k1, k2, k3) fits
    // the collect of a fit capped below e0's distinct count
    val src = T.t(spark, sf001, "embeddings").select(
      (0 until 4).map(i =>
        element_at(col("embedding"), i + 1).cast("double").as(s"e$i")) ++
        (1 until 4).map(i =>
          round(element_at(col("embedding"), i + 1), 1).cast("double").as(s"k$i")) :+
        col("label"): _*)
    val wide = Array("e0", "e1", "e2", "e3")
    val mixed = Array("e0", "k1", "k2", "k3")
    val mixedRows = SupervisedHistogram.histogram(src, mixed, "label").count()
    val e0Distinct = src.select("e0").distinct().count()
    val underCap = (mixedRows / mixed.length + 1).toInt
    withClue(s"$mixedRows histogram rows, e0 has $e0Distinct values: ") {
      e0Distinct should be > underCap.toLong
      mixedRows should be <= mixed.length.toLong * underCap
    }

    // (job description, SQL execution) pairs whose stages scanned the
    // source; a marker job's end means every earlier event has been
    // counted (events arrive in order)
    type Exec = (String, String)
    val execOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Exec]()
    val descOfJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val scans = java.util.concurrent.ConcurrentHashMap.newKeySet[Exec]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties);
             d <- Option(p.getProperty("spark.job.description"))) {
          descOfJob.put(e.jobId, d)
          Option(p.getProperty("spark.sql.execution.id")).foreach(x =>
            e.stageIds.foreach(id => execOfStage.put(id, (d, x))))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(descOfJob.get(e.jobId)).foreach(ended.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          Option(execOfStage.get(e.stageInfo.stageId)).foreach(scans.add)
    }
    val sc = spark.sparkContext
    def scansOf(desc: String)(body: => Unit): Int = {
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(null)
      val marker = s"$desc-marker"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!ended.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(50)
      ended.contains(marker) shouldBe true
      scans.asScala.count(_._1 == desc)
    }

    val fits: Seq[(String, () => Estimator[CAIMDiscretizerModel])] = Seq(
      "CAIM" -> (() => new CAIMDiscretizer()),
      "MDLP" -> (() => new MDLPDiscretizer()),
      "Ameva" -> (() => new AmevaDiscretizer()),
      "ChiMerge" -> (() => new ChiMergeDiscretizer()))
    // (case, features, maxCandidates or None for the default, scans allowed)
    val cases = Seq(("uncapped", wide, None, 1 to 1),
      ("capped below the limit", mixed, Some(underCap), 1 to 1),
      ("over the limit", Array("e0"), Some(16), 1 to 2))
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    sc.addSparkListener(listener)
    try {
      for ((name, mk) <- fits; (what, feats, cap, allowed) <- cases) {
        val est = mk()
        est.set(est.getParam("inputCols"), feats)
        est.set(est.getParam("outputCols"), feats.map(_ + "_b"))
        cap.foreach(c => est.set(est.getParam("maxCandidates"), c))
        val before = storedIds
        val n = scansOf(s"$name $what") {
          est.fit(src).boundaries.length shouldBe feats.length
        }
        if (!allowed.contains(n))
          violations += s"$name $what fit scanned its source $n times"
        val left = storedIds.diff(before)
        if (left.nonEmpty) violations += s"$name $what fit left ${left.size} blocks"
      }
    } finally sc.removeSparkListener(listener)
    violations shouldBe empty
  }

  test("only Tracked persists an RDD under src/main") {
    // superstep snapshots go through Tracked.snap, which frees them
    val files = SourceScan.scalaFiles("src/main")
    files.exists(_.getName == "Tracked.scala") shouldBe true
    SourceScan.matching(files.filter(_.getName != "Tracked.scala"),
      """\.rdd\s*\.persist\(""".r).map(_.getPath) shouldBe empty
  }
}
