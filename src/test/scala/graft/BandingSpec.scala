package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Banding, Tracked}

/** Pins [[Banding]], the candidate stage behind every near-dup generator,
  * against a pure-Scala model of band → bucket → pairs on hand-built band
  * frames, and guards that no other main source re-states its bucket cap,
  * its (band, bv) join or its bit-slice expression. */
class BandingSpec extends AnyFunSuite with SparkFixture with Matchers {
  import BandingSpec._

  private def bandFrame(rows: Seq[(Long, Int, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("id", "band", "bv")

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  test("bucketPairs is the model's pair multiset: one pair per shared bucket") {
    // 1 and 2 share bands 0 and 1, so (1, 2) comes back twice
    val hand = Seq((1L, 0, 10L), (1L, 1, 20L), (1L, 2, 30L),
      (2L, 0, 10L), (2L, 1, 20L), (2L, 2, 31L),
      (3L, 0, 10L), (3L, 1, 21L), (3L, 2, 32L),
      (4L, 0, 11L), (4L, 1, 21L), (4L, 2, 30L),
      (5L, 0, 12L), (5L, 1, 22L), (5L, 2, 33L))
    val got = pairs(Banding.bucketPairs(bandFrame(hand), "id", 100, null))
    got shouldBe modelPairs(hand, 100)
    got.count(_ == ((1L, 2L))) shouldBe 2
    got.distinct.size shouldBe got.size - 1
    // seeded random frame: 15 buckets of about 12 members each, capped at 12
    val rnd = new scala.util.Random(7)
    val random = for (id <- 1L to 60L; band <- 0 until 3)
      yield (id, band, rnd.nextInt(5).toLong)
    val capped = pairs(Banding.bucketPairs(bandFrame(random), "id", 12, null))
    capped shouldBe modelPairs(random, 12)
    modelPairs(random, 12).size should be < modelPairs(random, 1000).size
  }

  test("a bucket of exactly maxBucket members is kept, one of maxBucket + 1 dropped") {
    val rows = Seq(1L, 2L, 3L).map(i => (i, 0, 1L)) ++
      Seq(4L, 5L, 6L, 7L).map(i => (i, 0, 2L))
    pairs(Banding.bucketPairs(bandFrame(rows), "id", 3, null)) shouldBe
      Seq((1L, 2L), (1L, 3L), (2L, 3L))
    pairs(Banding.bucketPairs(bandFrame(rows), "id", 4, null)).size shouldBe 9
  }

  test("carry columns come through from each side") {
    val rows = Seq((1L, 0, 5L, 100L, "x"), (2L, 0, 5L, 200L, "y"),
      (3L, 1, 5L, 300L, "z"), (4L, 1, 5L, 400L, "w"))
    val df = spark.createDataFrame(rows).toDF("id", "band", "bv", "h", "tag")
    val got = Banding.bucketPairs(df, "id", 10, null, carry = Seq("h", "tag"))
    got.columns.toSeq shouldBe Seq("a_id", "b_id", "a_h", "a_tag", "b_h", "b_tag")
    got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3), r.getLong(4), r.getString(5))).toSeq.sorted shouldBe
      Seq((1L, 2L, 100L, "x", 200L, "y"), (3L, 4L, 300L, "z", 400L, "w"))
  }

  test("join with a custom id condition pairs two different band frames") {
    val left = bandFrame(Seq((1L, 0, 7L), (2L, 0, 8L)))
    val right = bandFrame(Seq((1L, 0, 7L), (3L, 0, 7L), (4L, 0, 8L)))
    pairs(Banding.join(left, right, "id", idCond = _ =!= _)) shouldBe
      Seq((1L, 3L), (2L, 4L))
  }

  test("tr == null pins no storage block; a Tracked owns the capped frame") {
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val rows = (1L to 20L).map(i => (i, (i % 2).toInt, i % 3))
    val before = stored
    pairs(Banding.bucketPairs(bandFrame(rows), "id", 10, null)) should not be empty
    stored.diff(before) shouldBe empty
    val tr = new Tracked
    pairs(Banding.bucketPairs(bandFrame(rows), "id", 10, tr)) should not be empty
    stored.diff(before) should not be empty
    tr.free()
    val deadline = System.nanoTime() + 10e9.toLong
    while (stored.diff(before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    stored.diff(before) shouldBe empty
  }

  test("an int id column comes back as int") {
    val df = spark.createDataFrame(Seq((1, 0, 5L), (2, 0, 5L))).toDF("id", "band", "bv")
    val got = Banding.bucketPairs(df, "id", 10, null)
    got.schema("a_id").dataType shouldBe IntegerType
    got.schema("b_id").dataType shouldBe IntegerType
    got.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq shouldBe Seq((1, 2))
  }

  test("bitBands slices a long into bandBits-wide bands, sign bits included") {
    val hs = Seq(0L, 1L, -1L, 0x0123456789abcdefL, Long.MinValue, -42L)
    val got = spark.createDataFrame(hs.map(Tuple1(_))).toDF("h")
      .select(col("h"), Banding.bitBands("h", 4, 16))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    got shouldBe hs.flatMap(h => (0 until 4).map(b => (h, b, (h >> (b * 16)) & 65535L))).sorted
    val two = spark.createDataFrame(Seq(Tuple1(0x2dL))).toDF("h")
      .select(Banding.bitBands("h", 3, 2)).collect().map(_.getLong(1)).toSeq
    two shouldBe Seq(1L, 3L, 2L)
  }

  test("no main source but Banding states the bucket cap, the band join or the bit slice") {
    val files = SourceScan.scalaFiles("src/main")
    for (pattern <- Seq(
        """partitionBy\("band",\s*"bv"\)""".r,
        """col\("\w+\.band"\)\s*===\s*col\("\w+\.band"\)""".r,
        """transform\(sequence\(.*b\s*->\s*\(.*>>\s*\(b\s*\*.*\)\s*&""".r))
      SourceScan.matching(files, pattern).map(_.getName) shouldBe Seq("Banding.scala")
  }
}

object BandingSpec {

  /** The banding model: rows grouped into (band, bv) buckets, buckets over
    * `maxBucket` members dropped, every a < b pair of each kept bucket,
    * sorted. */
  def modelPairs(rows: Seq[(Long, Int, Long)], maxBucket: Int): Seq[(Long, Long)] =
    rows.groupBy { case (_, band, bv) => (band, bv) }.values
      .map(_.map(_._1))
      .filter(_.size <= maxBucket)
      .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSeq.sorted
}
