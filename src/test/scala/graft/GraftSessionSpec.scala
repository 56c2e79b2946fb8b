package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One session posture: every session in the library and the suite comes
  * from [[GraftSession.local]], so tests, Verify and Bench share confs. */
class GraftSessionSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("no source file outside GraftSession builds its own SparkSession") {
    // split so this file does not match itself
    val needle = java.util.regex.Pattern.quote("SparkSession" + ".builder").r
    val files = Seq("src/main", "src/test").flatMap(SourceScan.scalaFiles)
    files.exists(_.getName == "GraftSession.scala") shouldBe true
    val builders = SourceScan.matching(
      files.filter(_.getName != "GraftSession.scala"), needle).map(_.getPath)
    builders shouldBe empty
  }

  test("the suite's session is built with the bench posture") {
    // the confs the session was built with, not runtime overrides
    val conf = spark.sparkContext.getConf
    conf.get("spark.sql.shuffle.partitions") shouldBe "32"
    conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") shouldBe "false"
    conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") shouldBe "32m"
    conf.get("spark.sql.files.minPartitionNum") shouldBe "16"
    conf.get("spark.sql.files.openCostInBytes") shouldBe "131072"
    spark.sparkContext.master shouldBe "local[8]"
    spark.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))").head().getDouble(0) shouldBe 11.0
  }
}
