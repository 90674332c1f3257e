package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = Session.local(4).appName("graft-test").getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs `body` starts on this thread, counted in job group
    * `group`. An RDD sentinel job in its own group closes the count: the
    * listener bus is FIFO, so once the sentinel's start has arrived every
    * job of `body` has been counted (an RDD action, not a DataFrame one,
    * which AQE would split into one job per query stage).
    */
  protected def jobsIn(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => sentinel.countDown()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "job budget")
      body
      spark.sparkContext.setJobGroup(s"$group-sentinel", "job budget sentinel")
      spark.sparkContext.parallelize(Seq(1)).count()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
