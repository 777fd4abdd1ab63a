package graft

import java.sql.Timestamp

import graft.queries.TrendOps

/** Planted-series gates for the trend pair: the CUSUM peak must land
  * on a planted level shift (the detection semantics the row-level
  * oracle can't attribute), the dense spine must zero-fill gap days
  * into the statistic, and the seasonal index must recover a planted
  * weekday bias exactly. */
class TrendOpsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Plant a 20-day series: 'shift' runs 2/day for days 1-10 then
    * 8/day for days 11-20 (a level shift at day 11); 'flat' runs
    * 3/day throughout except day 5 has NO events (spine gap);
    * 'monday' fires 7 on Mondays and 1 otherwise. 2024-01-01 is a
    * Monday and 2024-01-20 a Saturday — 3 Mondays in the spine. */
  private lazy val out = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("trend").toString
    var eid = 0L
    def day(i: Int) = f"2024-01-$i%02d"
    def evs(u: Long, t: String, d: Int, n: Int) = (1 to n).map { k =>
      eid += 1; (eid, ts(f"${day(d)} 10:${k / 60}%02d:${k % 60}%02d"), u, t, 1.0, "{}")
    }
    val rows =
      (1 to 10).flatMap(d => evs(1L, "shift", d, 2)) ++
        (11 to 20).flatMap(d => evs(1L, "shift", d, 8)) ++
        (1 to 20).filter(_ != 5).flatMap(d => evs(2L, "flat", d, 3)) ++
        (1 to 20).flatMap(d => evs(3L, "monday", d,
          if (d % 7 == 1) 7 else 1)) // days 1, 8, 15 are Mondays
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    (TrendOps.cusum(spark, tmp).collect(),
      TrendOps.seasonality(spark, tmp).collect())
  }

  test("cusum peak lands on the planted level shift and the series is exact") {
    val cs = out._1.filter(_.getAs[String]("event_type") == "shift")
    assert(cs.length === 20, "dense spine must cover all 20 days")
    val peak = cs.filter(_.getAs[Boolean]("is_peak"))
    assert(peak.length === 1)
    // mean is 5/day: cusum_scaled walks -60 per day for days 1-10
    // (2*20-100) then +60; |cusum| maxes at day 10, the last
    // pre-shift day (the standard CUSUM changepoint estimate)
    assert(peak.head.getAs[String]("day") === "2024-01-10",
      s"peak at ${peak.head.getAs[String]("day")}, expected the shift boundary")
    assert(peak.head.getAs[Long]("cusum_scaled") === -600L)
    // endpoint identity: the full-window cusum telescopes to zero
    val last = cs.filter(_.getAs[String]("day") == "2024-01-20").head
    assert(last.getAs[Long]("cusum_scaled") === 0L)
  }

  test("a zero-event gap day enters the spine and the statistic") {
    val fl = out._1.filter(_.getAs[String]("event_type") == "flat")
    assert(fl.length === 20)
    val gap = fl.filter(_.getAs[String]("day") == "2024-01-05").head
    assert(gap.getAs[Long]("n") === 0L, "gap day must zero-fill, not vanish")
    // 57 events over 20 days: deviation 0*20-57 = -57 on the gap day
    // stands out against the +3 drift (3*20-57) of normal days — the
    // peak IS the gap
    val peak = fl.filter(_.getAs[Boolean]("is_peak")).head
    assert(peak.getAs[String]("day") === "2024-01-05")
  }

  test("MAD flags only the planted wild day; Hampel medians resist the outlier") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mad").toString
    var eid = 0L
    // counts cycle 1..5 over 20 days, day 13 planted at 50: med 3,
    // MAD 1 — a mean/stddev on this series is dragged by the 50, the
    // median pair is not
    val rows = (1 to 20).flatMap { d =>
      val n = if (d == 13) 50 else (d % 5) + 1
      (1 to n).map { k =>
        eid += 1
        (eid, ts(f"2024-01-$d%02d 10:${k / 60}%02d:${k % 60}%02d"), 1L, "vary", 1.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = TrendOps.anomalyMad(spark, tmp).collect()
      .map(r => r.getAs[String]("day") -> r).toMap
    val wild = out("2024-01-13")
    assert(wild.getAs[Long]("med") === 3L && wild.getAs[Long]("mad") === 1L)
    assert(wild.getAs[Boolean]("is_outlier"), "planted 10x day not flagged")
    assert(out.values.count(_.getAs[Boolean]("is_outlier")) === 1,
      "a normal cycle day false-flagged")
  }

  test("OLS recovers a planted exact line and forecasts along it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ols").toString
    var eid = 0L
    // n = 10 + 2x for x = 0..9: slope exactly 2e6 micro, intercept 10e6
    val rows = (0 to 9).flatMap { x =>
      (1 to 10 + 2 * x).map { k =>
        eid += 1
        (eid, ts(f"2024-01-${x + 1}%02d 10:${k / 60}%02d:${k % 60}%02d"), 1L, "line", 1.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = TrendOps.forecastLinreg(spark, tmp).collect()
    assert(out.length === 7)
    out.foreach { r =>
      assert(r.getAs[Long]("slope_micro") === 2000000L)
      assert(r.getAs[Long]("intercept_micro") === 10000000L)
      val h = r.getAs[Long]("horizon_days")
      assert(r.getAs[Long]("forecast_micro") === 10000000L + 2000000L * (9 + h),
        s"forecast off the exact line at h=$h")
    }
  }

  test("a one-day corpus fits a NULL line instead of diverging on /0") {
    // dd=1 ⇒ x≡0 ⇒ den = dd·sxx − sx² = 0: Spark's div would NULL where
    // DuckDB's // raises, so the explicit guard pins NULL in both
    // engines (ADVICE r17); the 7 horizon rows still materialize.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("oneday").toString
    val rows = (1 to 3).map(k =>
      (k.toLong, ts(f"2024-01-01 10:00:0$k"), 1L, "single", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = TrendOps.forecastLinreg(spark, tmp).collect()
    assert(out.length === 7)
    out.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("slope_micro")), "den=0 must NULL the slope")
      assert(r.isNullAt(r.fieldIndex("intercept_micro")))
      assert(r.isNullAt(r.fieldIndex("forecast_micro")))
    }
  }

  test("the trend family shares ONE corpus pass via the dailyCounts cache") {
    // PlanInvariantSpec pins the STANDALONE shuffle counts (2 each:
    // corpus count agg + per-type window); this pins the in-session
    // sharing those pins deliberately exclude — with anomalyMad's
    // persisted dense spine ALREADY REGISTERED (the ordering this
    // assertion depends on, made explicit here), a cusum plan resolves
    // the identical dailyCounts subtree to the cache and keeps only the
    // model-sized window alignment live. One corpus pass feeds the
    // whole family — the 100 TB story for a dashboard rendering all
    // four trend panels off one session.
    val tmp = java.nio.file.Files.createTempDirectory("trendshare").toString
    import spark.implicits._
    (1 to 50).map(k => (k.toLong, ts(f"2024-01-${k % 20 + 1}%02d 10:00:00"),
        1L, "e", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // LIVE exchanges only: unlike deepCollect, stop at the
    // InMemoryRelation boundary — exchanges inside the cached build
    // plan run once at materialization, which is the point.
    def live(p: org.apache.spark.sql.execution.SparkPlan): Int =
      graft.plans.PlanWalk.nodes(p)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    spark.catalog.clearCache()
    try {
      TrendOps.anomalyMad(spark, tmp) // registers dense + counts caches
      val got = live(TrendOps.cusum(spark, tmp).queryExecution.executedPlan)
      assert(got === 1,
        s"cusum should reuse the family cache down to 1 live exchange, got $got")
    } finally spark.catalog.clearCache()
  }

  test("seasonal index recovers the planted Monday bias exactly") {
    val mo = out._2.filter(_.getAs[String]("event_type") == "monday")
    assert(mo.map(_.getAs[Long]("dow")).sorted.toSeq === (1L to 7L),
      "all seven ISO weekdays must appear for a 20-day spine")
    val monday = mo.find(_.getAs[Long]("dow") == 1L).get
    // 3 Mondays ×7 = 21 of 38 total; idx = 1e6*21*20 div (38*3)
    assert(monday.getAs[Long]("n_events") === 21L)
    assert(monday.getAs[Long]("n_days") === 3L)
    assert(monday.getAs[Long]("idx_micro") === 1000000L * 21 * 20 / (38 * 3))
    // a non-boosted weekday sits below parity
    val tue = mo.find(_.getAs[Long]("dow") == 2L).get
    assert(tue.getAs[Long]("idx_micro") < 1000000L)
  }
}
