package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites: the engine's own session
  * ([[GraftSession]], the one the CLI and the benchmark run under) on 2
  * cores, so local master with 2 shuffle partitions (mirrors the
  * reference's TestingSparkContext fixture —
  * reference: testutils/TestingSparkContext.scala:61-74). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local("2")
}

abstract class SparkSpec extends AnyFlatSpec with Matchers {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
