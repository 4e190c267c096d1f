package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (one JVM-wide session; scalatest runs
  * suites sequentially in-fork per build.sbt `Test / fork := true`). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep session for later suites

  /** Spark jobs `body` submits, as [[QueryProbe]] counts them. */
  protected def jobsOf(body: => Unit): Int = QueryProbe.profile(spark)(body).jobs
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
