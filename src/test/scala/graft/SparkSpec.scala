package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // keep session for other suites

  /** Spark jobs started while `body` runs. */
  def jobCount(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are posted asynchronously: drain the bus
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}
