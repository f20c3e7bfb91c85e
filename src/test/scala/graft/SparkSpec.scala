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

  /** Spark jobs `body` launches from this thread, counted by job group. A
    * drain job in a second group marks the end: listener events arrive in
    * order, so once its start is seen every earlier job start has been too.
    */
  def jobsLaunchedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val count = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => count.incrementAndGet()
          case Some(g) if g == s"$group-drain" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      count.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
