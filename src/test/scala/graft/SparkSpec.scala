package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared local SparkSession for the test suites: one per JVM (the
  * suites run in the single forked test JVM), built by the production
  * [[Tables.session]] so every suite sees the same confs and graft's
  * injected functions. A suite must never build its own: a second
  * builder in the JVM returns this session and rewrites its confs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // a static conf, so it reaches the one builder as a system property
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    Tables.session("graft-test", cpus = 2)
  }

  val sf0001 = "/root/testdata/sf0.001"
}
