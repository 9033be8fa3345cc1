package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = SparkSpec.Sf0001
}

object SparkSpec {
  val Sf0001 = "/root/testdata/sf0.001"

  /** The harness configuration at a fixed width of 4, so test plans do
    * not depend on the host's core count.
    */
  lazy val session: SparkSession = GraftSession(4, Some(Sf0001))
}
