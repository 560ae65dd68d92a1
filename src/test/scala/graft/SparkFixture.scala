package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites in the forked test JVM, built
  * by [[GraftSession]] so tests plan queries under the Bench and Verify
  * confs (UTC included — date assertions lie otherwise, SURVEY §7.6).
  */
trait SparkFixture extends AnyFunSuite {
  lazy val spark: SparkSession = SparkFixture.session
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"
}

object SparkFixture {
  lazy val session: SparkSession = GraftSession.create(cpus = 4)
}
