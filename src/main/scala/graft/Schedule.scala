package graft

import org.apache.spark.sql.SparkSession

import graft.ingest.{CasesIngest, FranceIngest}
import graft.streaming.{NewsShaping, NewsStream}

/** The cadence driver — the reference's outermost behavior: every flow is
  * registered on a 24 h `IntervalSchedule` daemon and re-fired forever
  * (flow/scripts/insert_owid.py:282-284; the crawl flows idem). The
  * engine's per-flow semantics already existed (full-refresh overwrite,
  * AvailableNow incremental streams); this main supplies the loop that
  * re-fires the whole flow set on a fixed interval.
  *
  * Design points, each load-bearing at production scale:
  *  - Flow isolation: one flow's failure is reported in the tick's
  *    outcome and the remaining flows still run — a daemon that dies
  *    because ONE source served a malformed file loses every other
  *    source's freshness with it (the reference behaves the same way:
  *    each script is its own Prefect flow).
  *  - Fixed-rate ticks: the sleep subtracts the tick's own duration
  *    (like `IntervalSchedule`'s anchor), so a 2 h ingest against a 24 h
  *    interval fires daily, not every 26 h — and a tick that OVERRUNS
  *    the interval fires again immediately rather than drifting.
  *  - Injectable clock: the loop takes `sleep` as a parameter so tests
  *    drive ticks manually (no wall-clock waits, no flakes) — the
  *    production main passes `Thread.sleep`.
  *
  * Re-fire semantics per flow family (what makes the loop SAFE to run
  * forever): full-refresh flows land via the versioned marker-file
  * commit ([[LakeCommit.commit]] — a reader pins one immutable version
  * dir for its whole query, and the commit point is a single empty-file
  * create, atomic on object stores too), so a concurrent reader sees
  * the old or the new lake, never a mix; the news stream is
  * AvailableNow over a checkpoint, so a re-fire processes exactly the
  * landing files that arrived since the last tick (exactly-once, no
  * duplicates on overlap); the tweets flow lands through the keyed
  * upsert ([[NewsStream.upsertToLake]]), so re-scraped ids replace
  * rather than duplicate.
  */
object Schedule {

  /** One scheduled unit: `run` receives the 0-based tick number. */
  final case class Flow(name: String, run: Long => Unit)

  /** Outcome of one tick: per-flow `None` = success, `Some(msg)` =
    * isolated failure. */
  final case class TickReport(tick: Long, outcomes: Seq[(String, Option[String])])

  /** One completed flow firing as retained by [[FlowHistory]]: start
    * wall-clock, duration, the isolated error (None = ok), and rows
    * landed when the flow's landing path reported them via
    * [[FlowRuns.add]] (None = landed through a path that doesn't count,
    * or landed nothing this tick). */
  final case class RunRecord(flow: String, tick: Long, startEpochMs: Long,
      durationMs: Long, error: Option[String], rows: Option[Long])

  /** One operator-facing alert derived from the run history: `kind` is
    * `consecutive_failures` (the flow's trailing runs all errored) or
    * `late_run` (no firing started within [[FlowHistory.LateFactor]] ×
    * the cadence interval — Prefect's "late run" state,
    * README.md:121-127 operational parity). */
  final case class FlowAlert(flow: String, kind: String, detail: String)

  /** Bounded per-flow run history — the engine-side analog of the flow-run
    * listing the reference gets from its Prefect server UI
    * (docker-compose.yml:9-130; README.md:121-127 "Access Prefect UI"):
    * the last `keep` firings of each flow, oldest evicted first.
    * Thread-safe: the cadence daemon appends while `/flows` snapshots.
    * `expectedIntervalMs` (the cadence the daemon was started with)
    * arms the late-run detector in [[alerts]]. */
  final class FlowHistory(val keep: Int = 20,
      val expectedIntervalMs: Option[Long] = None) {
    require(keep >= 1, s"keep must be >= 1 (got $keep)")
    private val runs = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayDeque[RunRecord]]()
    def record(r: RunRecord): Unit = synchronized {
      val q = runs.getOrElseUpdate(r.flow,
        scala.collection.mutable.ArrayDeque.empty)
      q.append(r)
      while (q.length > keep) { q.removeHead(); () }
    }
    /** Per-flow records oldest→newest, flows in first-seen order. */
    def snapshot: Seq[(String, Seq[RunRecord])] = synchronized {
      runs.toSeq.map { case (k, v) => (k, v.toSeq) }
    }

    /** Operator alerts as of `nowMs`: a flow whose last
      * [[FailThreshold]]+ runs ALL errored (one flaky firing between
      * successes never pages), and — when the cadence interval is known
      * — a flow whose newest firing started more than [[LateFactor]] ×
      * interval ago (a hung tick, a dead daemon thread, or an overrun
      * so large the schedule has effectively stopped). Reading is
      * O(history); no state beyond the bounded record queues. */
    def alerts(nowMs: Long): Seq[FlowAlert] = synchronized {
      runs.toSeq.flatMap { case (name, q) =>
        val trailing = q.reverseIterator.takeWhile(_.error.isDefined).length
        val fails =
          if (trailing >= FailThreshold)
            Seq(FlowAlert(name, "consecutive_failures",
              s"last $trailing runs failed; newest: ${q.last.error.get}"))
          else Nil
        val late = for {
          iv <- expectedIntervalMs.toSeq
          last <- q.lastOption.toSeq
          age = nowMs - last.startEpochMs
          if age > LateFactor * iv
        } yield FlowAlert(name, "late_run",
          s"last run started ${age} ms ago (interval $iv ms)")
        fails ++ late
      }
    }
  }

  /** Consecutive-failure count that raises a [[FlowAlert]]. */
  val FailThreshold = 3
  /** A flow is late once its newest firing is this many intervals old. */
  val LateFactor = 2L

  /** Per-thread rows-landed channel between a firing flow body and the
    * recording [[runTick]]. Collection is ACTIVE only while a recorded
    * tick is running a flow — so the hundreds of [[LakeCommit.commit]]
    * calls made by tests and catalog queries pay zero counting cost;
    * landing paths call [[add]] unconditionally and it no-ops when
    * inactive. ThreadLocal because ticks run flows sequentially on the
    * daemon thread while query threads must stay unaffected. */
  object FlowRuns {
    private final class Cell { var sum: Long = -1L } // -1 = none reported
    private val cell = new ThreadLocal[Cell]()
    private[graft] def begin(): Unit = cell.set(new Cell)
    private[graft] def end(): Option[Long] = {
      val c = cell.get(); cell.remove()
      Option(c).map(_.sum).filter(_ >= 0L)
    }
    /** Is a recorded tick collecting on this thread? Landing paths use
      * this to skip row-count work entirely outside the cadence. */
    def active: Boolean = cell.get() != null
    /** Report `n` rows landed by the current flow (summed across one
      * flow's multiple landings); no-op outside a recorded tick. */
    def add(n: Long): Unit = {
      val c = cell.get()
      if (c != null && n >= 0L) { if (c.sum < 0L) c.sum = 0L; c.sum += n }
    }
  }

  /** The news feeds (sibling lake directories, one news schema), unioned
    * by the serving `news` view and by [[vocabIndexFlow]]. */
  val NewsFeeds: Seq[String] = Seq("news_crawl", "news_tweets", "news_fanout")

  /** Ingest outputs under a lake root, in `/tables` order; all compacted. */
  val IngestOutputs: Seq[String] = Seq("cases", "france_cases", "virtests") ++ NewsFeeds

  /** The [[vocabIndexFlow]] output directory under a lake root. */
  val VocabOutput = "vocab"

  /** The reference's five flows over a lake root: three full-refresh
    * ingests (owid-style cases, France hospital, France virtests), the
    * news crawl (incremental AvailableNow), and — when a tweets landing
    * dir is configured — the tweet scrape (shaped + keyed upsert).
    *
    * The two news feeds land in SIBLING directories sharing the news
    * schema (`news_crawl`, `news_tweets` — a reader unions by name, the
    * analog of the reference querying the `news_*` index PATTERN over
    * per-source indices): a streaming file sink owns its directory
    * through the `_spark_metadata` commit log, so a batch upsert
    * swapping the same directory would orphan that log and corrupt the
    * next incremental fire — one writer per directory is the contract. */
  def defaultFlows(spark: SparkSession, lakeDir: String,
      newsLanding: String = Fixtures.newsLanding,
      tweetsLanding: Option[String] = None): Seq[Flow] = {
    val base = Seq(
      Flow("cases", _ =>
        CasesIngest.writeLake(CasesIngest.canonicalCases(spark), s"$lakeDir/cases")),
      Flow("france_hospital", _ =>
        LakeCommit.commit(FranceIngest.franceCases(spark), s"$lakeDir/france_cases"): Unit),
      Flow("france_virtests", _ =>
        LakeCommit.commit(FranceIngest.virtests(spark), s"$lakeDir/virtests"): Unit),
      Flow("news_crawl", _ =>
        NewsStream.runOnce(spark, newsLanding, s"$lakeDir/news_crawl", s"$lakeDir/_news_ckpt")))
    val tweets = tweetsLanding.map { landing =>
      Flow("tweets", _ =>
        NewsStream.upsertToLake(spark,
          NewsShaping.shapeTweet(
            spark.read.schema(NewsStream.tweetRawSchema).json(landing)),
          s"$lakeDir/news_tweets"))
    }
    base ++ tweets
  }

  /** The reference's per-source crawl grid as cadence flows: the
    * GoogleNews (lang × tag) polls and/or the synthesized tweet query
    * ([[graft.ingest.CrawlFanout]]), each landing RAW records under
    * `landingRoot`, followed by ONE stream flow that shapes both
    * sources (P11/P12) and lands the deduped union in
    * `lakeDir/news_fanout`. Registered before the stream flow, a tick
    * is the full crawl cadence: poll ×N → land → stream → lake. */
  def fanoutFlows(spark: SparkSession, lakeDir: String,
      newsEndpoint: Option[String], tweetsEndpoint: Option[String],
      landingRoot: String): Seq[Flow] = {
    import graft.ingest.CrawlFanout
    val newsLanding = s"$landingRoot/gnews"
    val tweetsLanding = s"$landingRoot/tweets"
    val polls =
      newsEndpoint.toSeq.flatMap(e =>
        CrawlFanout.flows(CrawlFanout.googleNews(e), newsLanding)) ++
        tweetsEndpoint.toSeq.flatMap(e =>
          CrawlFanout.flows(CrawlFanout.tweets(e), tweetsLanding))
    if (polls.isEmpty) Nil
    else polls :+ Flow("news_fanout", _ => {
      // both landing dirs must exist for the two-source stream even
      // when only one endpoint is configured
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(newsLanding))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tweetsLanding))
      NewsStream.runOnceFanout(spark, newsLanding, tweetsLanding,
        s"$lakeDir/news_fanout", s"$lakeDir/_fanout_ckpt")
    })
  }

  /** Serving-index flow: materialize the crawled news corpus's title
    * vocabulary (term → document frequency) to `lakeDir/vocab` via the
    * versioned commit. The suggest/fuzzy endpoints' spine is this one
    * (w, df) fold — precomputing it per refresh tick turns every
    * `/suggest?index=news` from a corpus scan into a vocab-table scan
    * (O(vocab), the ES in-memory-suggester analog). Runs after the
    * news flows so the tick's own landings are indexed; skips silently
    * until a news feed exists. */
  def vocabIndexFlow(spark: SparkSession, lakeDir: String): Flow =
    Flow("vocab_index", _ => {
      val feeds = NewsFeeds.flatMap(n => LakeCommit.resolve(spark, s"$lakeDir/$n"))
        .map(spark.read.parquet(_))
      if (feeds.nonEmpty) {
        val news = feeds.reduce(_.unionByName(_))
        LakeCommit.commit(
          graft.queries.TextIndex.vocabOf(news, "title", "link"),
          s"$lakeDir/$VocabOutput"): Unit
      }
    })

  /** Housekeeping flow: compact any flow output whose visible file
    * count exceeds `maxFiles`. Register it AFTER the ingest flows —
    * ticks run flows sequentially, so it fires between AvailableNow
    * stream runs (compactSink's stopped-writer contract) and after the
    * batch lakes commit. Full-refresh lakes rewrite small each tick,
    * but the streaming sink and keyed-upsert lakes ACCRETE files with
    * every cadence — without this the reference's 24 h loop degrades
    * the lake into a small-file swamp over months. Per-lake failures
    * are isolated like any flow body; a lake that hasn't landed yet
    * (None) is skipped silently. */
  def compactionFlow(spark: SparkSession, lakeDir: String,
      maxFiles: Int = 64,
      targetBytes: Long = graft.operators.Compaction.DefaultTargetBytes): Flow =
    Flow("compact", _ => {
      val C = graft.operators.Compaction
      IngestOutputs.foreach { name =>
        val path = s"$lakeDir/$name"
        C.visibleFileCount(spark, path).foreach { n =>
          if (n > maxFiles) {
            val r = C.compactAny(spark, path, targetBytes)
            println(s"[compact] $name: ${r.filesBefore} -> ${r.filesAfter} files")
          }
        }
      }
    })

  /** Fire every flow once, in registration order, isolating failures.
    * With a `history`, each firing is timed and recorded (plus whatever
    * rows the flow's landing paths reported through [[FlowRuns]]). */
  def runTick(flows: Seq[Flow], tick: Long,
      history: Option[FlowHistory] = None): TickReport =
    TickReport(tick, flows.map { f =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      if (history.isDefined) FlowRuns.begin()
      val err = try { f.run(tick); None }
      catch { case e: Exception =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
      val rows = if (history.isDefined) FlowRuns.end() else None
      history.foreach(_.record(RunRecord(f.name, tick, startMs,
        (System.nanoTime() - t0) / 1000000L, err, rows)))
      f.name -> err
    })

  /** The daemon loop: `maxTicks` bounds it for tests (production passes
    * `Long.MaxValue`); `sleep`/`onTick` injectable for the same reason. */
  def loop(flows: Seq[Flow], intervalMs: Long,
      maxTicks: Long = Long.MaxValue,
      sleep: Long => Unit = Thread.sleep,
      onTick: TickReport => Unit = r => println(summary(r)),
      history: Option[FlowHistory] = None): Unit = {
    require(intervalMs > 0, s"interval must be positive (got $intervalMs ms)")
    var tick = 0L
    while (tick < maxTicks) {
      val t0 = System.nanoTime()
      onTick(runTick(flows, tick, history))
      tick += 1
      if (tick < maxTicks) {
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        sleep(math.max(0L, intervalMs - elapsedMs))
      }
    }
  }

  private[graft] def summary(r: TickReport): String =
    s"tick ${r.tick}: " + r.outcomes.map {
      case (n, None) => s"$n ok"
      case (n, Some(err)) => s"$n FAILED ($err)"
    }.mkString(", ")

  /** `runMain graft.Schedule <lakeDir> [intervalHours=24] [maxTicks]
    * [--tweets=<landingDir>]` */
  def main(args: Array[String]): Unit = {
    val tweets = args.collectFirst {
      case a if a.startsWith("--tweets=") => a.stripPrefix("--tweets=") }
    val pos = args.filterNot(_.startsWith("--"))
    val lakeDir = pos.headOption.getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_scheduled_lake")
    val intervalMs = (pos.lift(1).map(_.toDouble).getOrElse(24.0) * 3600 * 1000).toLong
    val maxTicks = pos.lift(2).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = Tables.session("graft-schedule")
    spark.sparkContext.setLogLevel("WARN")
    // same cadence shape as Serve's daemon: ingest flows, then the
    // serving-index build, then housekeeping compaction
    loop(defaultFlows(spark, lakeDir, tweetsLanding = tweets) :+
        vocabIndexFlow(spark, lakeDir) :+
        compactionFlow(spark, lakeDir),
      intervalMs, maxTicks)
  }
}
