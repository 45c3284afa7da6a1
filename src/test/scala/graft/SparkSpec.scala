package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, Test/fork=true). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` on a session built with `GraftExtensions` through
    * `withExtensions`, on the shared SparkContext. `spark.sql.extensions`
    * is a static conf read when the context is built, so it cannot reach
    * a JVM whose context already runs; `withExtensions` feeds the same
    * instance through the same injection points, the in-process form of
    * the launch-time conf. The shared session stays active and default
    * afterwards. */
  def withExtensionsSession[T](body: SparkSession => T): T = {
    session // the shared SparkContext must exist first
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(SparkSession.builder()
      .master("local[4]")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions()(_))
      .getOrCreate()) // fresh session state on the existing SparkContext
    finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
