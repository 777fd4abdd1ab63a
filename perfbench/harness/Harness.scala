package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. It calls graft only through its public
  * entry points (`SparkEntry.queries`, `Serve.start`/`registerLake`,
  * `Schedule.*`) and writes raw records (operations, spans, Spark
  * listener events) to `<runDir>/result.json`; `run.py` turns them into
  * metrics and checks outputs.
  *
  * Usage: Harness <runDir>, with the run's parameters in
  * `<runDir>/params.properties`.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val runDir = Paths.get(args(0))
    val p = new java.util.Properties
    val in = Files.newBufferedReader(runDir.resolve("params.properties"), UTF_8)
    try p.load(in) finally in.close()
    val spark = graft.Tables.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_cores" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    val body = p.getProperty("workload") match {
      case "catalog_short" => new CatalogWorkload(spark, rec, p, runDir).run()
      case "serve_refresh" => new ServeWorkload(spark, rec, p, runDir).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = body ++ rec.result ++ Map("env" -> (env ++ rec.envSample))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(runDir.resolve("result.json.tmp"), mapper.writeValueAsBytes(out))
    Files.move(runDir.resolve("result.json.tmp"), runDir.resolve("result.json"),
      StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }
}

/** Timing records plus, while tracing, Spark listener events.
  *
  * Spans (name, start, end, parent) are kept in memory and written at the
  * end. Operation, pass and tick spans are always recorded: they are the
  * end-to-end measurement. Layer spans (build, write, flows), Spark
  * listeners and listener-bus drains exist only while `tracing` is on.
  * Each layer span sets the `perfbench.span` local property, so a Spark
  * job carries the id of the span whose thread submitted it; outside any
  * span the harness thread carries `HarnessSpan`, so a job it submits
  * there is told apart from the server threads' jobs (which carry none).
  */
final class Recorder(spark: SparkSession) {
  import Recorder.{HarnessSpan, SpanKey}
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond digits. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var tracing = false

  /** Time `body` as a span; layer spans (`always = false`) only while tracing. */
  def span[T](name: String, parent: Long, always: Boolean = false,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!always && !tracing) body(0L)
    else {
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      if (tracing) sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs
      var ok = false
      try { val r = body(id); ok = true; r }
      finally {
        if (tracing) { drain(id); sc.setLocalProperty(SpanKey, prev) }
        spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
          "start" -> t0, "end" -> nowMs, "ok" -> ok, "traced" -> tracing) ++ attrs)
      }
    }

  // Listener records are immutable maps, each with a record id ("rid"):
  // the listener-bus thread adds them while the harness thread drains.
  private val rids = new AtomicLong
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streamEvents = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** Record id -> the span whose drain first saw the record. */
  private val observedIn = new ConcurrentHashMap[Long, Long]()

  /** Wait for the listener bus to deliver every event posted so far, then
    * stamp the undelivered-so-far records with the span that just ended:
    * the bus is asynchronous, so arrival order is the only link between a
    * query-execution callback and the calling thread's phase that caused it. */
  private def drain(spanId: Long): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Seq(qes.asScala, streamEvents.asScala, jobs.values.asScala).foreach(
      _.foreach(r => observedIn.putIfAbsent(r("rid").asInstanceOf[Long], spanId)))
  }

  private def record(fields: (String, Any)*): Map[String, Any] =
    Map(fields: _*) + ("rid" -> rids.incrementAndGet())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val result = e.stageInfos.maxBy(_.stageId)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, record("job" -> e.jobId, "start" -> e.time.toDouble,
        "span" -> Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(0L),
        "callsite" -> result.name, "stages" -> e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, Map("end" -> e.time.toDouble, "ok" -> (e.jobResult == JobSucceeded)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val durs = Option(taskMs.remove(si.stageId)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
      val skew = if (durs.isEmpty) 1.0
        else durs.last.toDouble / math.max(1L, durs(durs.size / 2))
      stages.add(Map("stage" -> si.stageId, "job" -> stageJob.getOrDefault(si.stageId, -1),
        "tasks" -> si.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "skew" -> skew))
    }
    // Streaming progress arrives here as well as on StreamingQueryListener:
    // graft runs its streams on conf-isolated session clones, whose
    // per-session StreamingQueryManager a listener on this session would
    // not see, while every clone posts to the one SparkContext bus.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: StreamingQueryListener.QueryStartedEvent =>
        streamEvents.add(record("kind" -> "start", "run" -> s.runId.toString,
          "at" -> java.time.Instant.parse(s.timestamp).toEpochMilli.toDouble))
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        streamEvents.add(record("kind" -> "progress", "run" -> pr.runId.toString,
          "batch" -> pr.batchId, "duration_ms" -> d,
          "input_rows" -> pr.numInputRows,
          "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> pr.stateOperators.map(_.memoryUsedBytes).sum))
      case t: StreamingQueryListener.QueryTerminatedEvent =>
        streamEvents.add(record("kind" -> "end", "run" -> t.runId.toString,
          "at" -> System.currentTimeMillis().toDouble,
          "error" -> t.exception.orNull))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(record("func" -> funcName, "ms" -> durationNs / 1e6) ++
        qe.tracker.phases.map { case (k, v) => s"${k}_ms" -> v.durationMs.toDouble })
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  /** Attach or detach every listener; spans follow the same switch. */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    val sc = spark.sparkContext
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      sc.setLocalProperty(SpanKey, HarnessSpan.toString)
      tracing = true
    } else {
      org.apache.spark.PerfbenchBus.drain(sc)
      tracing = false
      sc.setLocalProperty(SpanKey, null)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var extCpuSamples = Vector.empty[Double]
  private var loadSamples = Vector.empty[Double]
  /** Environment sample at a region boundary: the share of the box's CPU
    * used by processes other than this JVM since the previous call (the
    * same discriminator as graft.Bench), and the 1-minute load average. */
  def sampleEnv(): Unit = {
    val all = osBean.getCpuLoad
    val self = osBean.getProcessCpuLoad
    if (!all.isNaN && !self.isNaN && all >= 0 && self >= 0)
      extCpuSamples :+= math.max(0.0, all - self)
    loadSamples :+= osBean.getSystemLoadAverage
  }
  def envSample: Map[String, Any] =
    Map("ext_cpu_share" -> extCpuSamples, "loadavg" -> loadSamples)

  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }
  private var gcAtStart = (0L, 0L)
  def markTimedStart(): Unit = {
    gcAtStart = gcTotals
    osBean.getCpuLoad; osBean.getProcessCpuLoad // open the region's CPU window
    loadSamples :+= osBean.getSystemLoadAverage
  }

  private def rssPeakKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)

  def result: Map[String, Any] = {
    val (gcMs, gcN) = gcTotals
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    def seen(r: Map[String, Any]) =
      r + ("observed_in" -> observedIn.getOrDefault(r("rid").asInstanceOf[Long], 0L))
    Map(
      "spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.values.asScala.toSeq.map(j =>
        seen(j) ++ Option(jobEnds.get(j("job").asInstanceOf[Int])).getOrElse(Map.empty))
        .sortBy(_("job").asInstanceOf[Int]),
      "stages" -> stages.asScala.toSeq,
      "qes" -> qes.asScala.toSeq.map(seen),
      "stream_events" -> streamEvents.asScala.toSeq.map(seen),
      "jvm" -> Map("gc_ms" -> (gcMs - gcAtStart._1), "gc_count" -> (gcN - gcAtStart._2),
        "heap_after_gc_mb" -> heapAfterGc / 1048576.0, "rss_peak_kb" -> rssPeakKb))
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
  /** Span id of the harness thread outside every span while tracing. */
  val HarnessSpan = -1L
}

/** catalog_short: each pass runs every listed entry once, in the order
  * run.py drew for that pass from the seed. One operation is the
  * `SparkEntry.queries` call plus a noop write, as graft.Bench times it. Two untimed
  * passes come first (see run()). */
final class CatalogWorkload(spark: SparkSession, rec: Recorder,
    p: java.util.Properties, runDir: Path) {
  def run(): Map[String, Any] = {
    val sf = p.getProperty("sf_dir")
    val seconds = p.getProperty("seconds").toDouble
    val trace = p.getProperty("trace") == "1"
    val passes = Files.readAllLines(runDir.resolve("passes.txt"), UTF_8).asScala
      .map(_.split(",").toSeq.filter(_.nonEmpty)).toSeq
    val catalog = graft.SparkEntry.queries
    val errors = mutable.LinkedHashMap[String, String]()
    // Warm-up, untimed: the first pass writes every result for the oracle
    // check, the second repeats the timed shape so JIT has settled.
    for ((pass, k) <- passes.take(2).zipWithIndex; name <- pass) {
      try rec.span("warmup", 0L, always = true, Map("query" -> name, "pass" -> k)) { _ =>
        val w = catalog(name)(spark, sf).write.mode("overwrite")
        if (k == 0) w.parquet(s"$runDir/out/$name") else w.format("noop").save()
      } catch { case e: Exception => errors(name) = e.toString.take(300) }
      spark.catalog.clearCache()
    }
    val firstOpMs = rec.nowMs
    rec.markTimedStart()
    // A traced run alternates untraced and traced passes, so the tracing
    // overhead is measured on the same JVM, inputs and warm-up.
    // At least min_passes passes (of each kind); another pass only if it
    // is expected to end within --seconds (per kind).
    val minPasses = p.getProperty("min_passes").toInt * (if (trace) 2 else 1)
    val deadline = firstOpMs + seconds * 1000 * (if (trace) 2 else 1)
    var i = 2
    def nextFits: Boolean = rec.nowMs + (rec.nowMs - firstOpMs) / (i - 2) <= deadline
    while (i < passes.size && (i - 2 < minPasses || nextFits)) {
      rec.setTracing(trace && i % 2 == 1)
      rec.span("pass", 0L, always = true, Map("pass" -> i)) { passId =>
        passes(i).foreach { name =>
          spark.catalog.clearCache()
          // a failure is recorded on the span (ok = false) and counted by run.py
          try rec.span("query", passId, always = true, Map("query" -> name, "pass" -> i)) { qId =>
            val df = rec.span("build", qId)(_ => catalog(name)(spark, sf))
            rec.span("write", qId)(_ => df.write.format("noop").mode("overwrite").save())
          } catch { case e: Exception => errors(s"$name#$i") = e.toString.take(300) }
        }
      }
      i += 1
    }
    rec.setTracing(false)
    rec.sampleEnv()
    Map("first_op_ms" -> firstOpMs, "errors" -> errors.toMap,
      "oracle_sql" -> passes.head.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}

/** serve_refresh: graft.Serve over the tables plus a Schedule lake. The
  * load comes from run.py over HTTP; this side runs cadence ticks back to
  * back from the segment's start: at least `minTicks`, and a new one while
  * the segment's window is open, so a tick overlaps every operation. Each
  * tick lands its generated news files first; the news lake's row count
  * is checked after every tick.
  *
  * Protocol on stdin/stdout, one command per line:
  *   -> `PERFBENCH SERVING <port>` once the server is up
  *   -> `PERFBENCH READY` once the first tick has landed
  *   <- `GO <segment> <traced 0|1> <startEpochMs> <windowMs> <minTicks>`
  *      (segment -1 is the untimed warm-up, 0 and 1 are timed)
  *   <- `END <segment>`   -> `PERFBENCH SEGDONE <segment>`
  *   <- `QUIT`            (result.json is written, then the JVM exits)
  */
final class ServeWorkload(spark: SparkSession, rec: Recorder,
    p: java.util.Properties, runDir: Path) {
  import graft.Schedule

  private val lake = runDir.resolve("lake").toString
  private val fixtures = Paths.get(p.getProperty("fixtures_dir"))
  private val tickInputs = Paths.get(p.getProperty("tick_inputs"))
  private val history = new Schedule.FlowHistory(keep = 1000)
  private val flows = Schedule.defaultFlows(spark, lake) :+
    Schedule.vocabIndexFlow(spark, lake) :+ Schedule.compactionFlow(spark, lake)
  private val ticks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var tickNo = 0L

  private def land(tick: Long): Unit = {
    val src = tickInputs.resolve(tick.toString)
    if (Files.isDirectory(src)) {
      val files = Files.list(src)
      try files.iterator().asScala.toSeq.sortBy(_.toString).foreach { f =>
        Files.move(f, fixtures.resolve("news_landing").resolve(f.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
      } finally files.close()
    }
  }

  private def lakeStats(): Map[String, Any] = {
    val C = graft.operators.Compaction
    val names = Seq("cases", "france_cases", "virtests", "news_crawl", "vocab")
    val files = names.flatMap(n => C.visibleFileCount(spark, s"$lake/$n")).sum
    val newsDir = Paths.get(lake, "news_crawl")
    val newsBytes = if (!Files.isDirectory(newsDir)) 0L else {
      val w = Files.walk(newsDir)
      try w.iterator().asScala.filter(f => f.toString.endsWith(".parquet") &&
        !f.toString.contains("/_")).map(Files.size).sum
      finally w.close()
    }
    val newsRows = spark.read.parquet(s"$lake/news_crawl").count()
    Map("lake_files" -> files, "news_rows" -> newsRows, "news_bytes" -> newsBytes)
  }

  private def tick(segment: Int): Unit = {
    val g = tickNo
    tickNo += 1
    land(g)
    var registerMs = 0.0
    val outcomes = rec.span("tick", 0L, always = true, Map("tick" -> g, "segment" -> segment)) { tId =>
      val timed = flows.map(f => f.copy(run = (t: Long) =>
        rec.span(s"flow.${f.name}", tId)(_ => f.run(t))))
      val r = Schedule.runTick(timed, g, Some(history))
      val t0 = rec.nowMs
      rec.span("register", tId)(_ => graft.Serve.registerLake(spark, lake))
      registerMs = rec.nowMs - t0
      r.outcomes
    }
    val flowRuns = history.snapshot.flatMap { case (name, rs) =>
      rs.filter(_.tick == g).map(r => name -> Map("ms" -> r.durationMs,
        "rows" -> r.rows.getOrElse(0L), "error" -> r.error.orNull))
    }.toMap
    ticks += Map("tick" -> g, "segment" -> segment, "register_ms" -> registerMs,
      "errors" -> outcomes.collect { case (n, Some(e)) => s"$n: $e" },
      "flows" -> flowRuns) ++ rec.span("check", 0L)(_ => lakeStats())
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(fixtures.resolve("news_landing"))
    val server = graft.Serve.start(spark, p.getProperty("sf_dir"), 0,
      lakeDir = Some(lake), flowHistory = Some(history))
    println(s"PERFBENCH SERVING ${server.getAddress.getPort}")
    tick(-1)
    val commands = new LinkedBlockingQueue[String]()
    val reader = new Thread(() => {
      val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
      var line = in.readLine()
      while (line != null) { commands.put(line.trim); line = in.readLine() }
      commands.put("QUIT")
    }, "perfbench-stdin")
    reader.setDaemon(true)
    reader.start()
    println("PERFBENCH READY")
    var firstOpMs = Double.NaN
    var quit = false
    while (!quit) commands.take().split(" ").toSeq match {
      case Seq("GO", seg, traced, start, window, minTicks) =>
        val startMs = start.toDouble
        // a negative segment is the untimed warm-up under load
        if (firstOpMs.isNaN && seg.toInt >= 0) { firstOpMs = startMs; rec.markTimedStart() }
        rec.setTracing(traced == "1")
        var ended = false
        val wait = (startMs - rec.nowMs).toLong
        if (wait > 0) Thread.sleep(wait)
        var n = 0
        while (!quit && (n < minTicks.toInt || (!ended && rec.nowMs < startMs + window.toDouble))) {
          tick(seg.toInt)
          n += 1
          val c = commands.poll()
          if (c != null) { ended ||= c.startsWith("END"); quit = c == "QUIT" }
        }
        while (!ended && !quit) {
          val c = commands.take()
          ended = c.startsWith("END"); quit = c == "QUIT"
        }
        rec.setTracing(false)
        if (seg.toInt >= 0) rec.sampleEnv()
        println(s"PERFBENCH SEGDONE $seg")
      case Seq("QUIT") => quit = true
      case other => System.err.println(s"perfbench: ignoring command ${other.mkString(" ")}")
    }
    server.stop(0)
    Map("first_op_ms" -> firstOpMs, "ticks" -> ticks.toSeq)
  }
}
