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

  /** Spark jobs `body` launches from this thread, counted by job group. */
  def jobsLaunchedBy(body: => Unit): Int = launchedBy(body).jobs

  /** What `body` launches from this thread: every Spark job, the root SQL
    * executions (a nested execution, such as a write's inner query, counts
    * under its root) and the jobs that run outside any SQL execution,
    * counted by job group. A drain job in a second group marks the end:
    * listener events arrive in order, so once its start is seen every
    * earlier event has been too.
    */
  def launchedBy(body: => Unit): SparkSpec.Launched = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val nonSql = new java.util.concurrent.atomic.AtomicInteger
    val roots = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            if (props.flatMap(p =>
                Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
              nonSql.incrementAndGet()
          case Some(g) if g == s"$group-drain" => drained.countDown()
          case _ =>
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.jobGroupId.contains(group) &&
              s.rootExecutionId.forall(_ == s.executionId) =>
          roots.incrementAndGet()
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
      SparkSpec.Launched(jobs.get, roots.get, nonSql.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  case class Launched(jobs: Int, rootQueries: Int, nonSqlJobs: Int)

  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
