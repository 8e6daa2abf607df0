package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with `gates` forced onto their above-bound arm through
    * the one force switch, [[graft.util.SizeGate.ForceAboveKey]]. */
  def forcedAbove[T](gates: graft.util.SizeGate.Gate*)(body: => T): T = {
    spark.conf.set(graft.util.SizeGate.ForceAboveKey,
      gates.map(_.name).mkString(","))
    try body finally spark.conf.unset(graft.util.SizeGate.ForceAboveKey)
  }

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }
}

object SparkSpec {
  /** One shared session for all suites, with the graft extensions
    * installed — the library's recommended session shape. (A second
    * getOrCreate with different extensions would silently reuse this one,
    * so suites must not build their own.) */
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.plans.GraftExtensions.install)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
