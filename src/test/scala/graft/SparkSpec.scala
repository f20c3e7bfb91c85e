package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are forked
  * together by sbt). Built by [[GraftSession]], as Verify and Bench are, so
  * test results predict the gate.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
