package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for the test suite: [[GraftSession.local]],
  * the posture Bench times and Verify proves, so the tests exercise the
  * same plans (AQE byte target, scan floor, 32 shuffle partitions).
  */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkFixture.session

  val sf001 = "/root/testdata/sf0.001"
  val sf01c = "/root/testdata/sf0.01"

  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  lazy val session: SparkSession = GraftSession.local(8)
}
