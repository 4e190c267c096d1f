package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (one JVM-wide session; scalatest runs
  * suites sequentially in-fork per build.sbt `Test / fork := true`). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep session for later suites

  /** Spark jobs `body` submits, counted by a listener scoped to a job
    * group of its own (threads the body starts inherit the group). */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs_of_${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.BusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      // fresh managed-table warehouse per JVM: a persistent
      // ./spark-warehouse with an in-memory catalog breaks
      // saveAsTable(Overwrite) with LOCATION_ALREADY_EXISTS
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
