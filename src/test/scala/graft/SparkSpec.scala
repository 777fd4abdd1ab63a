package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
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

  /** The job starts and other events (streaming progress among them:
    * streams run on session clones, which all post to this one bus)
    * posted while `body` runs, collected after the bus drains. */
  def eventsDuring(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    events.asScala.toSeq
  }

  /** The jobs submitted while `body` runs. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] =
    eventsDuring(body).collect { case j: SparkListenerJobStart => j }
}

object SparkSpec {

  /** A job's call site, as the UI shows it (`csv at CasesIngest.scala:83`). */
  def callSite(j: SparkListenerJobStart): String = j.stageInfos.maxBy(_.stageId).name

  /** Is `j` a parquet schema-inference job? Inference submits its footer
    * job from the reader call, outside any SQL execution, where a write
    * that also shows `parquet at` runs inside one. */
  def parquetInference(j: SparkListenerJobStart): Boolean =
    callSite(j).startsWith("parquet at ") &&
      Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null)

  /** Is `j` a CSV header-inference job? */
  def csvHeader(j: SparkListenerJobStart): Boolean = callSite(j).startsWith("csv at ")
}
