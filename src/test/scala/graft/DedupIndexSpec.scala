package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.DedupIndex

/** Incremental batch-vs-index dedup (SURVEY.md §2.13, round 8): the
  * persisted band table stands in for the historical corpus, and a new
  * batch's candidates must be EXACTLY what a full-corpus rebuild would
  * have found for pairs touching the batch — band values are pure
  * functions of each doc's own shingles, so incremental and rebuild can
  * only differ if the band math diverged.
  */
class DedupIndexSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def shingled = graft.queries.Llm.shingleArrays(
    T.t(spark, sf001, "documents").select(col("doc_id"), col("text")))

  private def pairKey(a: Long, b: Long) = (math.min(a, b), math.max(a, b))

  test("incremental candidates = full rebuild restricted to batch-touching pairs") {
    val sh = shingled
    val isBatch = col("doc_id") % 5 === 0
    val index = DedupIndex.bandTable(sh.where(!isBatch))
    val batch = DedupIndex.bandTable(sh.where(isBatch))
    val inc = DedupIndex.candidates(batch, index, maxBucket = 1 << 20)
      .collect().map(r => pairKey(r.getLong(0), r.getLong(1))).toSet
    // full rebuild: self-candidates over the whole corpus's band table
    val all = DedupIndex.bandTable(sh)
    val full = DedupIndex.candidates(all, all.limit(0), maxBucket = 1 << 20)
      .collect().map(r => pairKey(r.getLong(0), r.getLong(1))).toSet
    val batchIds = sh.where(isBatch).select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = full.filter { case (a, b) => batchIds(a) || batchIds(b) }
    inc shouldBe expected
    inc should not be empty
    // and the batch path found genuinely CROSS pairs, not just
    // within-batch ones — the point of keeping the index
    inc.count { case (a, b) => batchIds(a) ^ batchIds(b) } should be > 0
  }

  test("the index survives a parquet round trip (the persisted-index shape)") {
    val sh = shingled
    val isBatch = col("doc_id") % 5 === 0
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-index").toString + "/ix"
    DedupIndex.bandTable(sh.where(!isBatch)).write.parquet(dir)
    val fromDisk = spark.read.parquet(dir)
    val live = DedupIndex.bandTable(sh.where(!isBatch))
    val batch = DedupIndex.bandTable(sh.where(isBatch))
    val a = DedupIndex.candidates(batch, fromDisk).collect()
      .map(r => pairKey(r.getLong(0), r.getLong(1))).toSet
    val b = DedupIndex.candidates(batch, live).collect()
      .map(r => pairKey(r.getLong(0), r.getLong(1))).toSet
    a shouldBe b
  }

  test("re-ingested docs emit each unordered pair exactly once") {
    import spark.implicits._
    // doc 4 lives in BOTH frames (re-ingest): the batch×index join finds
    // (5,4) while the batch self-join finds (4,5) — without least/greatest
    // normalization distinct() keeps both orientations and downstream
    // re-ranks score the pair twice
    val txt = "alpha beta gamma delta epsilon zeta"
    val d = Seq(1L, 4L, 5L).map(i => (i, txt)).toDF("doc_id", "text")
    val sh = graft.queries.Llm.shingleArrays(d)
    val batch = DedupIndex.bandTable(sh.where(col("doc_id") >= 4))
    val index = DedupIndex.bandTable(sh.where(col("doc_id") <= 4))
    val got = DedupIndex.candidates(batch, index).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (a, b) => a should be < b }
    got.toSet shouldBe Set((1L, 4L), (1L, 5L), (4L, 5L))
    got.length shouldBe 3
  }

  test("bucket cap bounds combined batch+index fan-out") {
    import spark.implicits._
    // 20 identical docs split 15 index / 5 batch: every band collapses to
    // one bucket of combined size 20 — a cap below that must yield zero
    // candidates, the default cap the full quadratic set touching batch
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val d = (1 to 20).map(i => (i.toLong, txt)).toDF("doc_id", "text")
    val sh = graft.queries.Llm.shingleArrays(d)
    val ix = DedupIndex.bandTable(sh.where(col("doc_id") > 5))
    val ba = DedupIndex.bandTable(sh.where(col("doc_id") <= 5))
    DedupIndex.candidates(ba, ix, maxBucket = 10).count() shouldBe 0L
    // pairs touching the 5 batch docs: cross 5×15 + within C(5,2)
    DedupIndex.candidates(ba, ix).count() shouldBe (5L * 15 + 10)
  }

  test("band table infers no filter that re-splits documents; " +
      "null, empty and null-element arrays band as an inner explode would") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.types._
    // over unpersisted shingle arrays, an inner explode of ss infers
    // size(ss) > 0 and pushes it below the alias, where the transform
    // lambda splits the text once per shingle
    val splitFilters = DedupIndex.bandTable(shingled).queryExecution.optimizedPlan
      .collect {
        case f: Filter if f.condition.exists {
          case h: HigherOrderFunction => h.exists(_.isInstanceOf[StringSplit])
          case _ => false
        } => f
      }
    splitFilters shouldBe empty
    // callers may hand any (doc_id, ss) frame; doc 6's empty row must add
    // nothing to the band values of its other row
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ss", ArrayType(StringType))))
    val odd = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq.empty[String]), Row(2L, null), Row(3L, Seq(null)),
      Row(4L, Seq("x", null)), Row(5L, Seq("a b c", "b c d")),
      Row(6L, Seq.empty[String]), Row(6L, Seq("x")))), schema)
    // the reference is the inner-explode band table, whose inferred
    // filter costs time but not rows
    val k = 16
    val reference = odd.select(col("doc_id"), explode(col("ss")).as("s"))
      .groupBy("doc_id")
      .agg(array((0 until k).map(i => min(xxhash64(col("s"), lit(i)))): _*).as("mh"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 7), b -> xxhash64(slice(mh, b * 2 + 1, 2)))"))
        .as(Seq("band", "bv")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val got = rows(DedupIndex.bandTable(odd))
    got shouldBe rows(reference)
    got.map(_._1).distinct shouldBe Seq(3L, 4L, 5L, 6L)
  }
}
