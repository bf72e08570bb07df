package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate, so suites in
  * one JVM reuse it; sbt forks a single test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      graft.core.Scratch.dir("graft-warehouse").toString)
    .getOrCreate()

  override protected def afterAll(): Unit = {
    // keep the session alive for sibling suites; sbt tears down the JVM
    super.afterAll()
  }
}
