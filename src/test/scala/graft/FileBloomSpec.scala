package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r19 dictionary-sourced bloom sidecar BIT-IDENTICAL to the
  * distributed scan pass it replaces: `FileBloom.write`'s footer path
  * (parquet dictionary pages decoded driver-side, hashed through Spark's
  * own XxHash64 expression, zero Spark jobs) must reproduce exactly the
  * sidecar bytes the original per-column scan produced — across types,
  * nulls, all-null files, multi-file batches — and must FALL BACK to the
  * scan whenever a (file, column) is not provably dictionary-complete
  * (plain-encoded pages after a dictionary-size fallback).
  */
class FileBloomSpec extends AnyFunSuite with SparkFixture {

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecar(dir: String, rel: String): Option[Seq[String]] = {
    val p = new Path(s"$dir/$rel/_bloom.tsv")
    val fs = fsOf(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList)
      finally in.close()
    }
  }

  /** Job counter: registered per-test, counts jobs started while `f` runs
    * (listener bus is async — bounded drain wait after the body). */
  private def countJobs(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500) } finally
      spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  /** Write `df` as a batch, build the sidecar via BOTH paths, return
    * (footer-path lines, scan-path lines, footer-path job count). */
  private def both(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      mBits: Int = 1 << 14)
      : (Option[Set[String]], Option[Set[String]], Int) = {
    val dir = s"/tmp/graft_bloomspec_${java.util.UUID.randomUUID().toString.take(8)}"
    val rel = "data/b0"
    df.write.parquet(s"$dir/$rel")
    val fs = fsOf(dir)
    var footerJobs = -1
    footerJobs = countJobs {
      graft.operators.FileBloom.write(spark, fs, dir, rel,
        graft.operators.ManifestTable.batchFiles(fs, dir, rel), cols, mBits, 4, df.schema)
    }
    val footer = sidecar(dir, rel).map(_.toSet)
    fs.delete(new Path(s"$dir/$rel/_bloom.tsv"), false)
    graft.operators.FileBloom.write(spark, fs, dir, rel,
      graft.operators.ManifestTable.batchFiles(fs, dir, rel), cols, mBits, 4,
      df.schema, forceScan = true)
    val scan = sidecar(dir, rel).map(_.toSet)
    (footer, scan, footerJobs)
  }

  test("dictionary path == scan path for long/int/string/double/ts, " +
    "multi-file, with nulls — and runs ZERO Spark jobs") {
    val df = spark.range(0, 20000, 1, 3).select(
      (col("id") % 997).as("l"),
      (col("id") % 31).cast("int").as("i"),
      concat(lit("u_"), (col("id") % 211).cast("string")).as("s"),
      ((col("id") % 89) * 1.25 - 7.0).as("d"),
      timestamp_micros((col("id") % 113) * 1000000L + 1700000000000000L).as("ts"),
      when(col("id") % 7 =!= 0, col("id") % 41).as("with_nulls"))
    val cols = Seq("l", "i", "s", "d", "ts", "with_nulls")
    // the conf pin must cover the WRITE (both() writes lazily) — INT96
    // timestamps carry no usable dictionary for the footer path
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val (footer, scan, jobs) =
      try both(df, cols)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    assert(footer.isDefined && scan.isDefined)
    assert(footer.get == scan.get,
      "dictionary-built sidecar must be bit-identical to the scan-built one")
    assert(jobs == 0,
      s"dictionary path must run zero Spark jobs, ran $jobs")
  }

  test("plain-encoded (dictionary-fallback) column degrades to the scan " +
    "pass with identical bytes") {
    // high-entropy unique strings blow parquet's dictionary out (the
    // writer falls back to plain encoding mid-chunk), so the footer path
    // must hand exactly this column to the distributed pass
    val df = spark.range(0, 30000, 1, 2).select(
      (col("id") % 101).as("l"),
      sha2(concat(lit("x"), col("id").cast("string"),
        col("id").cast("string")), 512).as("big"))
    val (footer, scan, jobs) = both(df, Seq("l", "big"))
    assert(footer.isDefined && scan.isDefined)
    assert(footer.get == scan.get)
    assert(jobs > 0, "the fallback column must have paid a scan job")
  }

  test("all-null and empty files produce no sidecar lines on either path") {
    val df = spark.range(0, 4, 1, 4).select(
      (col("id") % 2).as("l"), lit(null).cast("long").as("ln"))
    val (footer, scan, _) = both(df, Seq("l", "ln"))
    assert(footer == scan)
    // the all-null column must have no lines at all
    assert(footer.get.forall(!_.startsWith("ln\t")))
    assert(footer.get.forall(l => !l.split('\t')(1).equals("ln")))
  }

  test("probe parity: job-free hashOf equals the recorded build hashing " +
    "(prune keeps exactly the files that contain the key)") {
    import graft.operators.ManifestTable
    val dir = s"/tmp/graft_bloomspec_${java.util.UUID.randomUUID().toString.take(8)}"
    // 4 disjoint batches keyed by l%4 — a ColEq(l, v) must keep exactly
    // the batch whose residue matches (plus bloom false positives, which
    // 2^17 bits over ≤2500 keys makes vanishingly unlikely)
    (0 to 3).foreach(r => ManifestTable.commit(spark, dir,
      spark.range(0, 10000, 1, 1).select((col("id") * 4 + r).as("l"),
        (col("id") % 13).as("v")),
      bloomCols = Seq("l"), bloomBits = 1 << 17))
    val (kept, total) = ManifestTable.pruneFiles(spark, dir,
      Seq(ManifestTable.ColEq("l", 42L)))
    assert(total == 4)
    assert(kept.size == 1, s"expected 1 kept file, got $kept")
    // the kept file must be the residue-2 batch (42 % 4 == 2) — prove it
    // by reading just the kept files and finding the key
    val hit = ManifestTable.readPruned(spark, dir,
      Seq(ManifestTable.ColEq("l", 42L)))
    assert(hit.count() == 1L)
  }
}
