package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

/** [[Schedule]] — the 24 h cadence driver — driven with MANUAL ticks
  * (injected sleep, bounded tick count): no wall-clock waits anywhere.
  */
class ScheduleSpec extends SparkSpec {

  private def sortedRows(path: String): Seq[String] =
    LakeCommit.read(spark, path).collect().map(_.toString).sorted.toSeq

  test("two consecutive full refreshes land atomically and identically") {
    val lake = Fixtures.scratchDir("sched_lake")
    val tweets = Fixtures.scratchDir("sched_tweets")
    Files.write(Paths.get(tweets, "t.json"),
      ("""{"user":"u1","content":"hello","date":"2021-03-01 10:00:00","tweet_id":"100","lang":"en"}""" + "\n" +
        """{"user":"u2","content":"world","date":"2021-03-02 11:00:00","tweet_id":"200","lang":"en"}""")
        .getBytes(UTF_8))

    val flows = Schedule.defaultFlows(spark, lake, tweetsLanding = Some(tweets))
    assert(flows.map(_.name) ===
      Seq("cases", "france_hospital", "france_virtests", "news_crawl", "tweets"))

    // Observations taken BETWEEN ticks (inside onTick = a reader hitting
    // the lake mid-cadence), so the second refresh's swap is what the
    // equality below actually exercises.
    val reports = scala.collection.mutable.ArrayBuffer.empty[Schedule.TickReport]
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[Map[String, Seq[String]]]
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dayMs = 24L * 3600 * 1000
    Schedule.loop(flows, dayMs, maxTicks = 2, sleep = sleeps += _, onTick = { r =>
      reports += r
      // surface a flow failure as ITS error, not as the snapshot read
      // that fails downstream of it
      r.outcomes.foreach { case (name, err) =>
        assert(err.isEmpty, s"tick ${r.tick} flow $name failed: $err") }
      snapshots += Map(
        "cases" -> sortedRows(s"$lake/cases"),
        "france_cases" -> sortedRows(s"$lake/france_cases"),
        "virtests" -> sortedRows(s"$lake/virtests"),
        "news_crawl" -> sortedRows(s"$lake/news_crawl"),
        "news_tweets" -> sortedRows(s"$lake/news_tweets"))
    })

    // Two ticks fired, every flow succeeded on both, and the daemon slept
    // once in between for (interval - tick duration) <= 24 h.
    assert(reports.map(_.tick) === Seq(0L, 1L))
    reports.foreach(r => r.outcomes.foreach { case (name, err) =>
      assert(err.isEmpty, s"tick ${r.tick} flow $name failed: $err")
    })
    assert(sleeps.size === 1 && sleeps.head >= 0 && sleeps.head <= dayMs)

    // The full-refresh lakes are complete and non-empty after tick 1 and
    // BYTE-IDENTICAL in content after tick 2 (overwrite swap, no
    // accumulation); the news sink is exactly-once across re-fires (the
    // checkpoint makes tick 2 a no-op over the same landing files); the
    // tweet upsert replaced same-link rows instead of duplicating.
    snapshots.head.foreach { case (name, rows) =>
      assert(rows.nonEmpty, s"$name empty after first tick")
    }
    assert(snapshots(0) === snapshots(1))
    // versioned layout housekeeping: after two refreshes of a
    // full-refresh lake only the grace window's versions remain
    // (keepVersions=2), markers and data dirs in lockstep
    val caseVers = new java.io.File(s"$lake/cases").listFiles()
      .map(_.getName).filter(_.matches("v\\d{9}")).sorted.toSeq
    val caseMarks = new java.io.File(s"$lake/cases/_commits").listFiles()
      .map(_.getName).filter(_.matches("v\\d{9}")).sorted.toSeq
    assert(caseVers === Seq("v000000001", "v000000002"), s"got $caseVers")
    assert(caseMarks === caseVers, s"markers $caseMarks != dirs $caseVers")
    // the sibling feeds share the news schema, so the `news_*` reader
    // unions them by name — both crawlers present in the union
    val crawlers = LakeCommit.read(spark, s"$lake/news_crawl")
      .unionByName(LakeCommit.read(spark, s"$lake/news_tweets"))
      .select("source.crawler").distinct().collect().map(_.getString(0)).toSet
    assert(crawlers === Set("googlenews", "tweets"))
  }

  test("a failing flow is isolated: reported, and later flows still run") {
    var ran = false
    val report = Schedule.runTick(Seq(
      Schedule.Flow("boom", _ => throw new IllegalStateException("synthetic")),
      Schedule.Flow("after", _ => ran = true)), tick = 0)
    assert(ran, "flow after the failure did not run")
    val out = report.outcomes.toMap
    assert(out("after").isEmpty)
    assert(out("boom").exists(_.contains("IllegalStateException")))
  }

  test("fixed-rate pacing: a tick that overruns the interval never sleeps negatively") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    Schedule.loop(
      Seq(Schedule.Flow("slow", _ => Thread.sleep(5))),
      intervalMs = 1, maxTicks = 3, sleep = sleeps += _, onTick = _ => ())
    assert(sleeps.size === 2 && sleeps.forall(_ >= 0))
  }

  test("run history records firings across ticks: timing, errors, rows landed, eviction") {
    import spark.implicits._
    val lake = Fixtures.scratchDir("sched_hist") + "/lake"
    val hist = new Schedule.FlowHistory(keep = 2)
    val flows = Seq(
      // lands through LakeCommit → rows counted from the written footers
      Schedule.Flow("lander", t =>
        LakeCommit.commit((0 to t.toInt).map(i => (t, i)).toDF("t", "i"), lake): Unit),
      // fails on tick 1 only — the error must be visible in THAT record
      Schedule.Flow("flaky", t =>
        if (t == 1L) throw new IllegalStateException("synthetic tick-1") else ()),
      // succeeds but lands nothing countable → rows must be None, not 0
      Schedule.Flow("silent", _ => ()))
    Schedule.loop(flows, intervalMs = 1, maxTicks = 3, sleep = _ => (),
      onTick = _ => (), history = Some(hist))

    val snap = hist.snapshot.toMap
    assert(hist.snapshot.map(_._1) === Seq("lander", "flaky", "silent"),
      "flows must list in registration order")
    // keep=2 evicts tick 0: only ticks 1 and 2 survive, oldest first
    assert(snap("lander").map(_.tick) === Seq(1L, 2L))
    // rows landed = the committed row count of that tick (tick t lands t+1 rows)
    assert(snap("lander").map(_.rows) === Seq(Some(2L), Some(3L)))
    assert(snap("lander").forall(_.error.isEmpty))
    val flaky = snap("flaky")
    assert(flaky.map(_.tick) === Seq(1L, 2L))
    assert(flaky.head.error.exists(_.contains("IllegalStateException")))
    assert(flaky.last.error.isEmpty, "tick-2 success must not inherit tick-1's error")
    assert(snap("silent").map(_.rows) === Seq(None, None),
      "a flow that lands nothing countable reports rows=None, not 0")
    assert(snap("silent").forall(r => r.durationMs >= 0 && r.startEpochMs > 0))
    // collection is tick-scoped: a commit OUTSIDE the recorded tick must
    // not count rows (the no-overhead contract for tests and queries)
    assert(!Schedule.FlowRuns.active)
    LakeCommit.commit(Seq((9, 9)).toDF("t", "i"), lake): Unit
    assert(hist.snapshot.toMap.apply("lander").map(_.rows) === Seq(Some(2L), Some(3L)))
  }

  test("news_crawl records the rows its stream landed") {
    val lake = Fixtures.scratchDir("sched_news_rows") + "/lake"
    val hist = new Schedule.FlowHistory()
    val flows = Schedule.defaultFlows(spark, lake).filter(_.name == "news_crawl")
    Schedule.runTick(flows, 0, Some(hist))
    Schedule.runTick(flows, 1, Some(hist))
    val runs = hist.snapshot.toMap.apply("news_crawl")
    assert(runs.map(_.error) === Seq(None, None))
    // tick 0 lands the fixture landing's 6 deduped docs; tick 1 re-fires
    // over the same checkpoint with no new files and lands none
    assert(runs.map(_.rows) === Seq(Some(6L), Some(0L)))
    assert(spark.read.parquet(s"$lake/news_crawl").count() === 6L)
  }

  test("alerts: consecutive failures page at the threshold, one success resets; staleness needs the interval") {
    def rec(hist: Schedule.FlowHistory, flow: String, tick: Long,
        startMs: Long, err: Option[String]): Unit =
      hist.record(Schedule.RunRecord(flow, tick, startMs, 5L, err, None))
    val hist = new Schedule.FlowHistory(keep = 10,
      expectedIntervalMs = Some(1000L))
    val t0 = 1000000L
    // 2 trailing failures: below FailThreshold (3) — silent
    rec(hist, "f", 0, t0, None)
    rec(hist, "f", 1, t0 + 1000, Some("boom1"))
    rec(hist, "f", 2, t0 + 2000, Some("boom2"))
    assert(hist.alerts(t0 + 2500).isEmpty, "2 failures must not page")
    // 3rd consecutive failure pages, detail carries the newest error
    rec(hist, "f", 3, t0 + 3000, Some("boom3"))
    val a = hist.alerts(t0 + 3500)
    assert(a.map(x => (x.flow, x.kind)) === Seq(("f", "consecutive_failures")))
    assert(a.head.detail.contains("3 runs failed") && a.head.detail.contains("boom3"))
    // one success resets the streak — a later single failure stays silent
    rec(hist, "f", 4, t0 + 4000, None)
    rec(hist, "f", 5, t0 + 5000, Some("boom4"))
    assert(hist.alerts(t0 + 5500).isEmpty, "a success must reset the streak")
    // staleness: newest start > LateFactor x interval ago
    val late = hist.alerts(t0 + 5000 + 2001)
    assert(late.map(x => (x.flow, x.kind)) === Seq(("f", "late_run")))
    assert(late.head.detail.contains("interval 1000 ms"))
    // without a cadence interval the late detector stays disarmed
    val noIv = new Schedule.FlowHistory(keep = 10)
    rec(noIv, "g", 0, t0, None)
    assert(noIv.alerts(t0 + 100000000L).isEmpty,
      "no interval -> no late_run verdicts")
    // per-flow independence: a healthy fresh sibling raises nothing
    // while f sits just inside its lateness window
    rec(hist, "healthy", 9, t0 + 6000, None)
    assert(hist.alerts(t0 + 6900).isEmpty)
  }

  test("concurrent same-lake refreshes serialize: the final lake is one whole dataset") {
    // Without LakeCommit's per-path lock, overlapping refreshes race
    // version allocation (two writers picking the same v<N>) — the lake
    // could end up a MIX of two datasets. Six overlapping refreshes of
    // six distinguishable datasets; afterwards the current version must
    // be exactly one of them, wholly, and the version chain must be six
    // distinct committed versions GC'd down to the grace window.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val lake = java.nio.file.Files.createTempDirectory("graft_swap").toString + "/lake"
    def dataset(k: Int) = (1 to 50).map(i => (k, i)).toDF("k", "i")
    val runs = (1 to 6).map(k => Future(LakeCommit.commit(dataset(k), lake): Unit))
    Await.result(Future.sequence(runs), 120.seconds)
    val got = LakeCommit.read(spark, lake).collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(got.length === 50, s"lake holds ${got.length} rows - datasets mixed or lost")
    assert(got.map(_._1).toSet.size === 1, "lake mixes rows from two refreshes")
    assert(got.map(_._2).sorted.toSeq === (1 to 50))
    // six serialized commits → current is v6, grace window keeps v5+v6
    val names = new java.io.File(lake).listFiles().map(_.getName).toSet
    assert(names === Set("_commits", "v000000005", "v000000006"), s"got $names")
    assert(LakeCommit.resolve(spark, lake).get.endsWith("v000000006"))
  }
}
