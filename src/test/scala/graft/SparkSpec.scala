package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suites (one per JVM; suites
  * run in the single forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config(Tables.NanosAsLong, "true")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
}
