package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r18 footer-sourced stats sidecar BYTE-EQUIVALENT to the scan
  * pass it replaced: `ManifestTable.footerStatsLines` (parquet footer
  * min/max/null-count, zero Spark jobs) must reproduce exactly the lines
  * `writeStatsScan` (the r14 distributed re-read) computes, for every
  * supported type — long, int, double, float, string, boolean, timestamp
  * (epoch-micros rendering) — across multiple files, nulls, all-null
  * files, and empty part files. Unsupported shapes must return None so
  * the caller degrades to the scan pass instead of drifting.
  */
class ManifestStatsSpec extends AnyFunSuite with SparkFixture {

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` as a manifest batch dir, run BOTH stats paths, return
    * (footerLines, scanLines) in sidecar order (files by name, columns in
    * request order) — equal sequences mean byte-identical sidecars. */
  private def both(df: org.apache.spark.sql.DataFrame, cols: Seq[String])
      : (Option[Seq[String]], Seq[String]) = {
    val dir = s"/tmp/graft_statspec_${java.util.UUID.randomUUID().toString.take(8)}"
    val rel = "data/b0"
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try df.write.parquet(s"$dir/$rel")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val fs = fsOf(dir)
    val footer = graft.operators.ManifestTable
      .footerStatsLines(spark, fs, dir, rel, cols, df.schema)
    graft.operators.ManifestTable.writeStatsScan(spark, fs, dir, rel, cols)
    val in = fs.open(new Path(s"$dir/$rel/_stats.tsv"))
    val scan = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList finally in.close()
    (footer, scan)
  }

  test("footer stats == scan stats for all supported types, multi-file, with nulls") {
    val df = spark.range(0, 10000, 1, 4).select(
      col("id").as("l"),
      col("id").cast("int").as("i"),
      (col("id") * 1.7 - 5000.0).as("d"),
      (col("id") * 0.5f + 1.0f).cast("float").as("f"),
      concat(lit("u_"), lpad(col("id").cast("string"), 6, "0")).as("s"),
      (col("id") % 3 === 0).as("b"),
      timestamp_micros(col("id") * 1000000L + 1700000000000000L).as("ts"),
      when(col("id") % 7 =!= 0, col("id").cast("double")).as("with_nulls"))
    val (footer, scan) = both(df, Seq("l", "i", "d", "f", "s", "b", "ts", "with_nulls"))
    assert(footer.isDefined, "footer path must support these types")
    assert(footer.get == scan)
  }

  test("footer stats == scan stats with adversarial doubles and strings") {
    val rows = Seq[(java.lang.Double, String)](
      (1.0e7, "a"), (-0.1, "Z"), (3.25e-5, "éclair"),
      (123456789.123456, ""), (-9.87e15, "zzü"), (null, "n"),
      (Double.MinPositiveValue, "0"), (-1.7976931348623157e308, "~"))
    val df = spark.createDataFrame(rows).toDF("d", "s").repartition(3)
    val (footer, scan) = both(df, Seq("d", "s"))
    assert(footer.isDefined)
    assert(footer.get == scan)
  }

  test("footer stats: all-null and empty files match the scan rendering") {
    // 4 partitions over 2 rows → at least two empty part files; one column
    // entirely null
    val df = spark.range(0, 2, 1, 4).select(
      col("id").as("l"), lit(null).cast("double").as("dn"))
    val (footer, scan) = both(df, Seq("l", "dn"))
    assert(footer.isDefined)
    assert(footer.get == scan)
  }

  test("footer stats refuse exactly-zero double bounds (sign-ambiguous) → scan fallback") {
    // parquet pads a zero min to -0.0 (PARQUET-1222); a true -0.0 minimum
    // SURVIVES a Spark parquet write and the scan pass renders it "-0.0"
    // (second leg below) — so a zero footer bound cannot be rendered
    // without guessing, and the footer path must hand off
    val df = spark.range(0, 10, 1, 1).select((col("id") * 1.0).as("d"))
    val (footer, _) = both(df, Seq("d"))
    assert(footer.isEmpty)
    val neg = spark.range(0, 5, 1, 1)
      .select(when(col("id") === 0, lit(-0.0)).otherwise(col("id") * 1.0).as("d"))
    val (footerN, scanN) = both(neg, Seq("d"))
    assert(footerN.isEmpty)
    assert(scanN.exists(_.contains(java.util.Base64.getEncoder
      .encodeToString("-0.0".getBytes("UTF-8")))))
  }

  test("footer stats refuse NaN doubles (stats dropped) → scan fallback") {
    val df = spark.range(0, 100, 1, 2)
      .select(when(col("id") === 50, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("d"))
    val (footer, _) = both(df, Seq("d"))
    assert(footer.isEmpty, "NaN-bearing doubles must hand off to the scan pass")
  }

  test("footer stats refuse unsupported types → scan fallback") {
    val df = spark.range(0, 10).select(col("id").cast("decimal(12,2)").as("dec"))
    val (footer, _) = both(df, Seq("dec"))
    assert(footer.isEmpty)
  }

  test("granular fallback (r19): a mixed batch takes footer lines for " +
    "clean files and scan lines for ambiguous ones — sidecar equals the " +
    "pure-scan sidecar") {
    // file 0 carries an exactly-zero double bound (sign-ambiguous footer)
    // while files 1..2 are clean — the r18 path re-scanned the WHOLE
    // batch; the r19 path must produce the identical sidecar while only
    // scanning the ambiguous file
    val dir = s"/tmp/graft_statspec_${java.util.UUID.randomUUID().toString.take(8)}"
    val rel = "data/b0"
    val df = spark.range(0, 3000, 1, 3).select(
      col("id").as("l"),
      when(org.apache.spark.sql.functions.spark_partition_id() === 0,
        col("id").cast("double") * 0.0)           // min 0.0 in file 0 only
        .otherwise(col("id").cast("double") + 1.0).as("d"))
    df.write.parquet(s"$dir/$rel")
    val fs = fsOf(dir)
    // the all-or-nothing wrapper must refuse (one pair ambiguous)...
    val footer = graft.operators.ManifestTable
      .footerStatsLines(spark, fs, dir, rel, Seq("l", "d"), df.schema)
    assert(footer.isEmpty)
    // ...but the granular map must be ambiguous ONLY for file-0's d
    val (names, pairs) = graft.operators.ManifestTable
      .footerStatsPartial(spark, graft.operators.ManifestTable.batchFiles(fs, dir, rel),
        Seq("l", "d"), df.schema)
    val amb = pairs.collect { case (k, None) => k }.toSet
    assert(amb.map(_._2) == Set("d"), s"ambiguous pairs: $amb")
    assert(amb.size == 1)
    // the written sidecar (granular path) == the pure-scan sidecar
    graft.operators.ManifestTable.writeStats(spark, fs, dir, rel,
      graft.operators.ManifestTable.batchFiles(fs, dir, rel), Seq("l", "d"), df.schema)
    val in = fs.open(new Path(s"$dir/$rel/_stats.tsv"))
    val mixed = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList finally in.close()
    graft.operators.ManifestTable.writeStatsScan(spark, fs, dir, rel,
      Seq("l", "d"))
    val in2 = fs.open(new Path(s"$dir/$rel/_stats.tsv"))
    val scanned = try scala.io.Source.fromInputStream(in2, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList finally in2.close()
    assert(mixed == scanned)
    assert(names.size == 3)
  }

  test("stats sidecar via commit() is footer-sourced and oracle-identical to pre-r18") {
    // end-to-end: a commit with statsCols over corpus events produces a
    // sidecar whose recorded values equal the recomputed truth (the
    // manifest_stats oracle shape)
    val dir = s"/tmp/graft_statspec_${java.util.UUID.randomUUID().toString.take(8)}"
    val e = T.t(spark, sf01c, "events")
    graft.operators.ManifestTable.commit(spark, dir, e.repartition(2),
      statsCols = Seq("ts", "user_id", "value"))
    val st = graft.operators.ManifestTable.stats(spark, dir)
    val truth = e.agg(
      min(unix_micros(col("ts"))).as("mn_ts"), max(unix_micros(col("ts"))).as("mx_ts"),
      min("user_id").as("mn_u"), max("user_id").as("mx_u"),
      count(lit(1)).as("n")).head
    val tsRow = st.filter(col("column") === "ts")
      .agg(min(col("min_v").cast("long")), max(col("max_v").cast("long")),
        sum("n_rows"), sum("n_nonnull")).head
    assert(tsRow.getLong(0) == truth.getAs[Long]("mn_ts"))
    assert(tsRow.getLong(1) == truth.getAs[Long]("mx_ts"))
    assert(tsRow.getLong(2) == truth.getAs[Long]("n"))
    val uRow = st.filter(col("column") === "user_id")
      .agg(min(col("min_v").cast("long")), max(col("max_v").cast("long"))).head
    assert(uRow.getLong(0) == truth.getAs[Long]("mn_u"))
    assert(uRow.getLong(1) == truth.getAs[Long]("mx_u"))
  }
}
