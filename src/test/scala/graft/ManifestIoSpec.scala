package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.ManifestTable

/** What the table layer's I/O costs: reads are built from the snapshot
  * (no job before the action, the file paths delete sidecars were keyed
  * by, equal plans over equal files), and merge-on-read writes whose
  * input fits one read split land as one file.
  */
class ManifestIoSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft-manifest-io").toString + "/t"

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo to hi).map(i => (i.toLong, s"v${i % 5}")).toDF("k", "v")
  }

  private def keys(d: DataFrame): Set[Long] = {
    import spark.implicits._
    d.select("k").as[Long].collect().toSet
  }

  /** The lines of `dir`'s manifest `v`, read straight from the file. */
  private def manifestLines(dir: String, v: Long): Seq[String] = {
    val in = fsOf(dir).open(new Path(s"$dir/_manifests/v$v.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The `.parquet` files directly under `dir/sub`. */
  private def parquetFiles(dir: String, sub: String): Int =
    fsOf(dir).listStatus(new Path(s"$dir/$sub"))
      .count(_.getPath.getName.endsWith(".parquet"))

  /** The directories under `dir/sub` (empty when `sub` is absent). */
  private def children(dir: String, sub: String): Set[String] = {
    val p = new Path(s"$dir/$sub")
    if (!fsOf(dir).exists(p)) Set.empty
    else fsOf(dir).listStatus(p).map(s => s"$sub/${s.getPath.getName}").toSet
  }

  /** Spark jobs started while `body` runs, counted per job description;
    * a marker job seen by the listener means every earlier job start has
    * been counted (events arrive in order). */
  private def jobs(desc: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => seen.merge(d, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
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
    } finally sc.removeSparkListener(listener)
  }

  test("a read builds without a job; a change feed builds with one collect") {
    import ManifestTable.{ColEq, ColGe}
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, rows(1, 60).repartition(3),
      statsCols = Seq("k"), bloomCols = Seq("v"))
    ManifestTable.deleteWhere(spark, dir, col("k") % 7 === 0)
    ManifestTable.upsertMor(spark, dir, rows(55, 70), Seq("k"))
    ManifestTable.history(spark, dir).where(col("n_delete_entries") > 0)
      .count() should be > 0L
    val live = (1 to 70).filter(i => i > 54 || i % 7 != 0).map(_.toLong).toSet
    var frame: DataFrame = null
    jobs("read") { frame = ManifestTable.read(spark, dir) } shouldBe 0
    keys(frame) shouldBe live
    jobs("readPruned") {
      frame = ManifestTable.readPruned(spark, dir, Seq(ColGe("k", 40L)))
    } shouldBe 0
    keys(frame) shouldBe live.filter(_ >= 40L)
    jobs("readPruned bloom") {
      frame = ManifestTable.readPruned(spark, dir, Seq(ColEq("v", "v1")))
    } shouldBe 0
    keys(frame) shouldBe live.filter(_ % 5 == 1)
    jobs("readIncremental") {
      frame = ManifestTable.readIncremental(spark, dir, 1L)
    } shouldBe 0
    keys(frame) shouldBe (55 to 70).map(_.toLong).toSet
    // the feed's one job is the collect of the files its deletes name
    jobs("changes") {
      frame = ManifestTable.changes(spark, dir, 0L, keyCols = Seq("k"))
    } shouldBe 1
    // v1 inserts 1..60; v2 deletes the eight multiples of 7; v3 updates
    // the five live keys of 55..60 and inserts 56 and 61..70
    frame.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe Map(
        "insert" -> 71L, "delete" -> 8L,
        "update_preimage" -> 5L, "update_postimage" -> 5L)
  }

  test("spark.read in ManifestTable is only the legacy headerless read " +
      "and the stats fallback scan") {
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/operators/ManifestTable.scala", "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val Def = """\s*(?:private\S*\s+)?def\s+(\w+).*""".r
    // each code line naming spark.read, with the def it sits in
    val sites = lines.zipWithIndex.collect {
      case (l, i) if l.contains("spark.read") &&
          !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
        lines.take(i + 1).reverse.collectFirst { case Def(n) => n }
    }
    sites.flatten.sorted shouldBe Seq("dataScan", "scanStatsLines")
    sites.size shouldBe 2
  }

  /** Position rows as the path-based scan records them: (file, pos) of
    * the rows of `files` (resolved against `dir`) with `k` in `del`. */
  private def legacyPositions(dir: String, files: Seq[String],
      del: Set[Long]): DataFrame =
    spark.read.parquet(files.map(ManifestTable.resolve(dir, _)): _*)
      .select(col("k"), col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"))
      .where(col("k").isin(del.toSeq: _*)).select("file", "pos")

  /** Publish a delete sidecar of `positions` as the head's successor,
    * the way a delete written by the path-based scan lies on disk. */
  private def publishSidecar(dir: String, positions: DataFrame): Unit = {
    val rel = s"_deletes/${java.util.UUID.randomUUID()}.parquet"
    positions.write.parquet(s"$dir/$rel")
    val head = ManifestTable.versions(spark, dir).last
    val out = fsOf(dir).create(
      new Path(s"$dir/_manifests/v${head + 1}.manifest"), false)
    try out.write(((manifestLines(dir, head) :+ s"delete:$rel")
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
  }

  test("deletes recorded by path-based scans still apply; equal snapshots " +
      "give equal plans") {
    val plain = tmpDir()
    val uri = "file:" + tmpDir()
    val src = tmpDir()
    val cloned = tmpDir()
    ManifestTable.commit(spark, src, rows(1, 40).repartition(2))
    ManifestTable.clone(spark, src, cloned)
    val del = Set(3L, 17L, 28L)
    for (dir <- Seq(plain, uri, cloned)) withClue(s"$dir: ") {
      if (dir != cloned) {
        ManifestTable.commit(spark, dir, rows(1, 20).repartition(2))
        ManifestTable.commit(spark, dir, rows(21, 40))
      }
      val head = ManifestTable.versions(spark, dir).last
      val files = manifestLines(dir, head).filterNot(_.startsWith("schema:"))
      if (dir == cloned) files.forall(ManifestTable.isAbsEntry) shouldBe true
      // the snapshot scan names its files exactly as the path-based scan
      def paths(d: DataFrame) =
        d.select(col("_metadata.file_path")).distinct().collect()
          .map(_.getString(0)).toSet
      val viaPaths = paths(spark.read.parquet(
        files.map(ManifestTable.resolve(dir, _)): _*))
      viaPaths.size shouldBe files.size
      paths(ManifestTable.read(spark, dir)) shouldBe viaPaths
      // so a sidecar those paths keyed anti-joins its rows away
      publishSidecar(dir, legacyPositions(dir, files, del))
      keys(ManifestTable.read(spark, dir)) shouldBe (1L to 40L).toSet -- del
      val a = ManifestTable.read(spark, dir)
      val b = ManifestTable.read(spark, dir)
      a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed) shouldBe true
      val c = ManifestTable.read(spark, dir, head)
      val d = ManifestTable.read(spark, dir, head)
      c.queryExecution.analyzed.sameResult(d.queryExecution.analyzed) shouldBe true
    }
  }

  test("small merge-on-read writes land one file per batch and sidecar; " +
      "commit, optimize and above-split inputs keep their layout") {
    val dir = tmpDir()
    ManifestTable.commit(spark, dir, rows(1, 200).repartition(2))
    def newDirs(body: => Unit): Seq[String] = {
      val before = children(dir, "data") ++ children(dir, "_deletes")
      body
      ((children(dir, "data") ++ children(dir, "_deletes")) -- before).toSeq.sorted
    }
    // the base commit keeps its caller's two partitions
    children(dir, "data").toSeq.map(parquetFiles(dir, _)) shouldBe Seq(2)
    val writes: Seq[(String, () => Unit, Int)] = Seq(
      ("upsertMor", () => ManifestTable.upsertMor(spark, dir,
        rows(190, 230).repartition(3), Seq("k")), 2),
      ("deleteWhere", () => ManifestTable.deleteWhere(spark, dir,
        col("k") % 11 === 0), 1),
      ("deleteThenUpsertMor", () => ManifestTable.deleteThenUpsertMor(spark,
        dir, col("k") % 13 === 0, rows(100, 120).repartition(3), Seq("k")), 3))
    for ((what, write, nDirs) <- writes) withClue(s"$what: ") {
      val made = newDirs(write())
      made.size shouldBe nDirs
      made.map(parquetFiles(dir, _)) shouldBe Seq.fill(nDirs)(1)
    }
    // below the input, the input's partitioning is kept
    val k = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(k, "4096")
    try {
      val made = newDirs(ManifestTable.upsertMor(spark, dir,
        rows(300, 500).repartition(3), Seq("k")))
      made.filter(_.startsWith("data/")).map(parquetFiles(dir, _)) shouldBe Seq(3)
    } finally spark.conf.unset(k)
    newDirs(ManifestTable.commit(spark, dir, rows(600, 610).repartition(2)))
      .map(parquetFiles(dir, _)) shouldBe Seq(2)
    ManifestTable.optimize(spark, dir, nFiles = 2)
    val head = ManifestTable.versions(spark, dir).last
    manifestLines(dir, head).filterNot(_.startsWith("schema:")).size shouldBe 2
    keys(ManifestTable.read(spark, dir)) shouldBe
      ((1 to 230).filter(i => i >= 100 && i <= 120 || i % 11 != 0 && i % 13 != 0) ++
        (300 to 500) ++ (600 to 610)).map(_.toLong).toSet
  }
}
