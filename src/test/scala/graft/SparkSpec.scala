package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.quiet(GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate())
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
}
