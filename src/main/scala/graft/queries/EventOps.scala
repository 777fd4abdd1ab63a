package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Event-stream analytics over `events`: as-of join, gap sessionization,
  * exact percentiles, time-bounded funnel, cohort retention — the
  * time-series operators a training-data / analytics engine needs
  * beyond the reference's dashboard shapes (SURVEY §2 addendum; the
  * brief names as-of join as a canonical compose-don't-custom
  * operator).
  *
  * All of them put ONE data-sized shuffle on the fact stream: one hash
  * partition on `user_id` (windows, funnel stages, cohort/activity
  * sides of retention) or `event_type` (percentiles) — the as-of join
  * is COMPOSED as a partitioned window carry-forward, which at 100 TB
  * beats a range-join (no per-row binary search, no broadcast of a time
  * index; just a sort within each user partition that AQE sizes), and
  * the only joins (retention's cohort⋈activity) are equi-joins on the
  * same key, broadcast or co-partitioned by AQE.
  */
object EventOps {

  /** As-of join, composed: for every `click`, the most recent strictly
    * earlier `view` by the same user (null if none). Window order carries
    * the last view id forward; `-1 row` bound excludes the current row.
    * Tiebreak on event_id makes equal-timestamp order deterministic. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("matched_view",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("matched_view"))
  }

  val asofJoinSql: String =
    """SELECT event_id, user_id, matched_view
      |FROM (SELECT event_id, user_id, event_type,
      |        last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      |          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS matched_view
      |      FROM events)
      |WHERE event_type = 'click'""".stripMargin

  /** As-of join via the custom plan layer ([[graft.plans.AsofJoin]]):
    * every click matched to the latest view at-or-before it per user,
    * between two SEPARATE inputs — the case the composed window form
    * can't take without unioning both sides into one shuffle. Views are
    * pre-aggregated to one row per (user, ts) so the as-of match is
    * deterministic. Oracle: DuckDB's native ASOF LEFT JOIN. */
  def asofCustom(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("event_id")).as("view_id"))
    graft.plans.GraftPlans.asofJoin(clicks, views,
        leftKey = "user_id", leftTime = "ts",
        rightKey = "v_user", rightTime = "v_ts")
      .select(col("event_id"), col("user_id"), col("view_id"))
  }

  val asofCustomSql: String =
    """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |views AS (SELECT user_id AS v_user, ts AS v_ts, MAX(event_id) AS view_id
      |          FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, v.view_id
      |FROM clicks c ASOF LEFT JOIN views v
      |  ON c.user_id = v.v_user AND v.v_ts <= c.ts""".stripMargin

  /** Gap-based sessionization (gap > 30 min starts a new session):
    * lag-detect boundaries, running-sum them into session ids, aggregate
    * per session. Exact µs arithmetic on both engines. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    val isNew = when(lag(us, 1).over(order).isNull ||
      us - lag(us, 1).over(order) > 1800L * 1000000L, 1L).otherwise(0L)
    ev.withColumn("session_id", sum(isNew).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(us) - min(us)).as("dur_us"))
  }

  val sessionizeSql: String =
    """SELECT user_id, session_id, COUNT(*) AS n_events,
      |  CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS dur_us
      |FROM (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
      |        ORDER BY ts ASC, event_id ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |      FROM (SELECT *, CASE WHEN lag(epoch_us(ts), 1) OVER
      |              (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
      |              OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER
      |              (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000
      |            THEN 1 ELSE 0 END AS is_new
      |            FROM events))
      |GROUP BY user_id, session_id""".stripMargin

  /** Exact interpolated percentiles per group (p50/p95), rounded so
    * cross-engine interpolation arithmetic cannot flip a hash compare. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.95)), 6).as("p95"))
  }

  val percentilesSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.95), 6) AS p95
      |FROM events GROUP BY event_type""".stripMargin

  /** The scale companion of [[percentiles]] — the same split the distinct
    * family has (`rel_distinct_counts` exact vs `rel_approx_distinct`
    * HLL): exact `percentile` buffers every group's full value multiset
    * in aggregation state, which a 100 TB group turns into an executor
    * OOM; `approx_percentile` (KLL-style mergeable sketch) holds bounded
    * state per group at a declared accuracy, so THIS is the form a
    * production pipeline runs. Sketch VALUES are not cross-engine
    * hash-comparable, so the entry emits RANK-BAND verdicts instead
    * (the EventOpsSpec contract, promoted into the query): the approx
    * p50/p95 must lie between the exact quantiles ±2 rank points,
    * computed Spark-side in the same pass; the oracle re-derives the
    * group spine and asserts the verdicts literally TRUE. The sketch
    * returns an ACTUAL sample near the target rank (the exact form
    * interpolates), which is why the tolerance is a rank band and not
    * an epsilon. Unlike HLL's rsd, this IS a guaranteed bound: at
    * accuracy=10000 the sketch's worst-case rank error is N/10000
    * (0.01% of ranks), so the ±2-percentage-point band holds on ANY
    * fixture or SF, with ~200x margin — no re-audit needed when gate
    * fixtures change. Deterministic sketch ⇒ stable gate, not a flake.
    * NOTE the exact percentile aggregates exist for the verification
    * encoding only — the entry pays full-multiset state at gate SFs to
    * make the sketch's rank bound hash-checkable; the production form
    * at 100 TB runs percentile_approx alone (bounded state). */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("a95"),
        percentile(col("value"), lit(0.48)).as("lo50"),
        percentile(col("value"), lit(0.52)).as("hi50"),
        percentile(col("value"), lit(0.93)).as("lo95"),
        percentile(col("value"), lit(0.97)).as("hi95"))
      .select(col("event_type"), col("n"),
        (col("a50") >= col("lo50") && col("a50") <= col("hi50"))
          .as("p50_in_band"),
        (col("a95") >= col("lo95") && col("a95") <= col("hi95"))
          .as("p95_in_band"))
  }

  val approxPercentilesSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  TRUE AS p50_in_band, TRUE AS p95_in_band
      |FROM events GROUP BY 1""".stripMargin

  /** Per-step conversion window for [[funnel]]: each next stage must
    * land within 24 h of the previous one (without a bound the synthetic
    * events convert every user — a 1-row result verifies nothing). */
  private val FunnelWindowUs = 24L * 3600L * 1000000L

  /** Time-bounded ordered funnel (view → click within 24 h → purchase
    * within 24 h of that click): per user, the first view, the first
    * qualifying click STRICTLY after it, the first qualifying purchase
    * strictly after that; report how many users reach each stage (0 =
    * never viewed … 3 = full conversion) — the product-analytics staple
    * the dashboard family lacks, and the classic sequence query engines
    * bolt on as `windowFunnel`/`MATCH_RECOGNIZE`.
    *
    * Composed instead: three chained conditional-min windows over the
    * SAME user_id partitioning. ONE shuffle total — Spark reuses the
    * exchange across the window projections and the per-user collapse —
    * then a 4-row histogram. SQL's three-valued logic does the stage
    * gating for free: `ts > NULL` is NULL, so a missing earlier stage
    * nulls every later stage in both engines identically; the step
    * bound is exact µs integer arithmetic (the [[sessionize]]
    * convention). */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
    def stepAfter(kind: String, prev: Column): Column =
      min(when(col("event_type") === kind && col("ts") > prev &&
        unix_micros(col("ts")) - unix_micros(prev) <= FunnelWindowUs,
        col("ts"))).over(w)
    ev
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc", stepAfter("click", col("tv")))
      .withColumn("tp", stepAfter("purchase", col("tc")))
      .groupBy(col("user_id"))
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"), max(col("tp")).as("tp"))
      .select(
        when(col("tv").isNull, 0L).when(col("tc").isNull, 1L)
          .when(col("tp").isNull, 2L).otherwise(3L).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  val funnelSql: String =
    s"""WITH w1 AS (SELECT user_id, event_type, ts,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS tv FROM events),
      |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > tv
      |        AND epoch_us(ts) - epoch_us(tv) <= $FunnelWindowUs THEN ts END)
      |      OVER (PARTITION BY user_id) AS tc FROM w1),
      |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > tc
      |        AND epoch_us(ts) - epoch_us(tc) <= $FunnelWindowUs THEN ts END)
      |      OVER (PARTITION BY user_id) AS tp FROM w2),
      |u AS (SELECT user_id, MAX(tv) AS tv, MAX(tc) AS tc, MAX(tp) AS tp
      |      FROM w3 GROUP BY 1)
      |SELECT CAST(CASE WHEN tv IS NULL THEN 0 WHEN tc IS NULL THEN 1
      |            WHEN tp IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage,
      |  COUNT(*) AS n_users
      |FROM u GROUP BY 1""".stripMargin

  /** Weekly cohort retention — the other half of the product-analytics
    * pair next to [[funnel]]: users are cohorted by the ISO week of
    * their FIRST `signup` event, and each later week they show ANY
    * activity counts them active; the (cohort, week-offset) matrix is
    * the classic retention triangle. Users who never sign up are out of
    * scope (no cohort).
    *
    * Scale shape: BOTH sides are one user_id-keyed aggregation — cohorts
    * a map-side-combined min, activity a per-user week SET (`collect_set`
    * of week-truncated dates: bounded by the calendar, ~52·years entries
    * per user, regardless of how many billion raw events the user has) —
    * so the cohort⋈activity equi-join genuinely co-partitions on the two
    * exchanges with no re-shuffle (a `(user_id, wk)`-keyed distinct would
    * NOT satisfy the join's user_id distribution; r11 verdict note 3),
    * weeks explode only AFTER the join, and the final matrix aggregation
    * groups a few hundred (cohort, offset) cells. Week truncation is
    * ISO-Monday on both engines, so the offset division is an EXACT
    * multiple of 7 — no rounding-direction divergence can exist; the
    * cohort key is exported as a yyyy-MM-dd STRING (the
    * rel_date_histogram convention — engines disagree on DATE vs
    * TIMESTAMP frame dtypes, strings compare exactly). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
    val active = ev
      .groupBy(col("user_id"))
      .agg(collect_set(date_trunc("week", col("ts")).cast("date")).as("wks"))
    cohorts.join(active, "user_id")
      .select(col("cohort"), explode(col("wks")).as("wk"))
      .filter(col("wk") >= col("cohort"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  val retentionSql: String =
    """WITH cohorts AS (SELECT user_id,
      |    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |active AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |           FROM events)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
      |  CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS week_offset,
      |  COUNT(*) AS n_active
      |FROM cohorts JOIN active USING (user_id)
      |WHERE wk >= cohort
      |GROUP BY 1, 2""".stripMargin

  /** Rolling 7-day active users per day — the DAU/WAU staple that
    * completes the product-analytics trio next to [[funnel]] and
    * [[retention]]: for every day with activity, the count of DISTINCT
    * users active in the trailing window [day-6, day]. The naive form is
    * a range join (calendar × events with BETWEEN) — a nested loop at
    * scale. The scale-safe shape is the bucket-explode trick (the
    * rel_range_join family): distinct (user, day) first — collapsing the
    * raw event stream to at most users×days rows in ONE keyed shuffle —
    * then each active day contributes itself to the ≤7 window-end
    * buckets it can serve (`sequence(day, day+6)` explode, narrow), and
    * a two-phase distinct count per bucket closes it. Buckets that are
    * not themselves active days (the lead-out past each burst) are
    * dropped WITHOUT a second scan: a bucket is a real day exactly when
    * some contribution arrived at offset 0, so the validity flag rides
    * the same aggregation (`max(off = 0)`) instead of a semi-join
    * against a separately-scanned day dim — one pass over events total.
    * Day exported as a yyyy-MM-dd string (the rel_date_histogram
    * convention). The DuckDB oracle runs the naive BETWEEN join,
    * proving the exploded plan equivalent.
    *
    * A server-chosen `[from, to]` day slice (inclusive) lands on the
    * raw `ts` scan column before anything else, so its bounds reach the
    * parquet reader as PushedFilters.
    * Window semantics are slice-relative (the Kibana range behavior): a
    * day near `from` counts only users active within the slice, not
    * activity before it. */
  def activeUsers7d(spark: SparkSession, dir: String,
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame = {
    val base = Tables.load(spark, dir, "events")
    val ev = Seq(
      from.map(d => col("ts") >=
        lit(java.sql.Timestamp.valueOf(d.atStartOfDay))),
      to.map(d => col("ts") <
        lit(java.sql.Timestamp.valueOf(d.plusDays(1).atStartOfDay))))
      .flatten.foldLeft(base)(_.filter(_))
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    ud.select(col("user_id"), col("day"),
        explode(expr("sequence(0, 6)")).as("off"))
      .select(col("user_id"), col("off"),
        expr("date_add(day, off)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        count_distinct(col("user_id")).as("active_7d"),
        max((col("off") === 0).cast("int")).as("is_day"))
      .filter(col("is_day") === 1)
      .select(date_format(col("bucket"), "yyyy-MM-dd").as("day"), col("active_7d"))
  }

  val activeUsers7dSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |d AS (SELECT DISTINCT day FROM ud)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day,
      |  COUNT(DISTINCT ud.user_id) AS active_7d
      |FROM d JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day
      |GROUP BY 1""".stripMargin

  /** Z-score anomaly detection: events whose value sits ≥3σ from their
    * type's mean — the statistical-outlier shape ES ships as X-pack
    * anomaly detection, composed here from one stats fold + one
    * broadcast rejoin. Float discipline: mean/variance come from EXACT
    * DECIMAL sums (values are 2dp, squares 4dp — both exact), so the
    * per-group stats are fold-order-free; every double after that is a
    * pinned op sequence (two divisions, one multiply-subtract, one
    * IEEE-correctly-rounded sqrt) mirrored verbatim in the oracle, so z
    * is bit-identical cross-engine and the 3.0 cutoff can't flake. At
    * 100 TB: the stats side is one partial-aggregatable groupBy
    * collapsing to |event_type| rows, broadcast back over the scan —
    * the detection pass itself is map-only. */
  def anomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val vd = col("value").cast("decimal(18,2)")
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(vd).as("sv"),
      sum((vd * vd).cast("decimal(38,4)")).as("sq"))
    val mean = col("sv").cast("double") / col("n").cast("double")
    val std = sqrt(col("sq").cast("double") / col("n").cast("double") - mean * mean)
    val st = stats.select(col("event_type"), mean.as("mean"), std.as("std"))
    ev.join(broadcast(st), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(abs(col("z")) >= 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
  }

  val anomalyZscoreSql: String =
    """WITH s AS (SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS sv,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
      |        AS DECIMAL(38,4))) AS sq
      |  FROM events GROUP BY 1),
      |st AS (SELECT event_type,
      |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    sqrt(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) AS std
      |  FROM s)
      |SELECT e.event_id, e.event_type, e.value,
      |  (e.value - st.mean) / st.std AS z
      |FROM events e JOIN st ON e.event_type = st.event_type
      |WHERE abs((e.value - st.mean) / st.std) >= 3.0""".stripMargin

  /** Hopping (sliding) time windows — the Kibana moving time-chart /
    * ES date_histogram-with-overlap shape: 6 h windows advancing every
    * 2 h, counts + DECIMAL-fenced value sums per (window, type). Uses
    * Spark's native `window()` TVF (each event expands to exactly
    * duration/slide = 3 windows — a generated-column explode, no
    * self-join); the DuckDB oracle derives the same 3 aligned window
    * starts per event from integer epoch-microsecond arithmetic, so
    * the TVF's alignment convention (epoch-anchored, start-inclusive
    * end-exclusive) is independently cross-checked. Scale: one keyed
    * aggregation over 3× the event stream; partial map-side collapse
    * to |windows|×|types| rows. */
  def hoppingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.groupBy(
        window(col("ts"), "6 hours", "2 hours").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  val hoppingWindowSql: String =
    """WITH x AS (SELECT event_type, value,
      |    (epoch_us(ts) // 7200000000) * 7200000000 - k * 7200000000 AS ws
      |  FROM events CROSS JOIN range(0, 3) t(k))
      |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M') AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2""".stripMargin

  /** Event transition matrix — the product-analytics path-analysis
    * shape (the Sankey/Markov source data): per user, consecutive
    * event pairs under the (ts, event_id) total order, counted into a
    * |types|² matrix with each source row's outgoing share. The lag
    * window shuffles ONCE on user_id (the same exchange every
    * per-user event op in the catalog rides); the matrix fold is
    * partial-aggregatable and the output is bounded at |types|² for
    * any corpus size. The share is one pinned division over exact
    * counts. Tie-safety: ts alone can collide within a user, so the
    * order key appends event_id — without it the lag pairing would be
    * engine-dependent and the hash would flake. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("event_type").as("to_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val outTotals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_out"))
    counts.join(outTotals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_out").cast("double")).as("share"))
  }

  val transitionsSql: String =
    """WITH p AS (SELECT user_id, event_type AS to_type,
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS from_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
      |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, SUM(n) AS n_out FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST(c.n AS DOUBLE) / CAST(t.n_out AS DOUBLE) AS share
      |FROM c JOIN t ON c.from_type = t.from_type""".stripMargin

  /** Cohort LTV curves — the revenue companion of [[retention]]'s
    * count triangle: per (signup-week cohort, week offset), that
    * week's purchase value and the cohort's CUMULATIVE value per
    * signed-up user (the LTV curve product analytics plots). The
    * running sum is a window over DECIMAL — exact at any fold order —
    * and per-user normalization is one pinned division by the cohort
    * size ridden in from a broadcast-size join. Both sides reuse the
    * user_id-keyed exchange; the window partitions by cohort (weeks —
    * bounded), never by user. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    val weekly = ev.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .withColumn("wk", date_trunc("week", col("ts")).cast("date"))
      .filter(col("wk") >= col("cohort"))
      .select(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(sum(col("v")).as("wk_value"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("week_offset"))
    weekly
      .withColumn("cum_value", sum(col("wk_value")).over(w))
      .join(sizes, "cohort")
      .select(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"),
        col("wk_value").cast("double").as("wk_value"),
        (col("cum_value").cast("double") / col("n_users").cast("double"))
          .as("ltv_per_user"))
  }

  val cohortLtvSql: String =
    """WITH cohorts AS (SELECT user_id,
      |    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |sizes AS (SELECT cohort, COUNT(*) AS n_users FROM cohorts GROUP BY 1),
      |weekly AS (SELECT c.cohort,
      |    CAST(date_diff('day', c.cohort, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
      |    SUM(CAST(e.value AS DECIMAL(18,2))) AS wk_value
      |  FROM events e JOIN cohorts c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(date_trunc('week', e.ts) AS DATE) >= c.cohort
      |  GROUP BY 1, 2),
      |cum AS (SELECT cohort, week_offset, wk_value,
      |    SUM(wk_value) OVER (PARTITION BY cohort ORDER BY week_offset) AS cum_value
      |  FROM weekly)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, week_offset,
      |  CAST(wk_value AS DOUBLE) AS wk_value,
      |  CAST(cum_value AS DOUBLE) / CAST(n_users AS DOUBLE) AS ltv_per_user
      |FROM cum JOIN sizes USING (cohort)""".stripMargin

  /** Small-cell suppression release — the statistical-disclosure-control
    * gate a public-health dashboard applies before publishing aggregates
    * (the reference's domain is exactly this data: per-location case
    * counts, README.md:22-28 — real releases suppress cells too small
    * to be safely published). Cells = (event_type, cohort); a cell is
    * suppressed when its count falls under half the mean occupied-cell
    * count (a relative-threshold member of the SDC rule family), and
    * suppressed mass is NOT dropped: it collapses into one residual row
    * per event_type (cohort = −1), so published totals still reconcile
    * exactly — the property CellSuppressionSpec gates.
    *
    * The cohort key deliberately sqrt-buckets a hashed user id: the
    * synthetic fixture is uniform in every raw column, and uniform
    * cells make any threshold rule vacuous at the larger gate SFs —
    * sqrt-bucketing gives cell masses spanning ~200× (width of bucket
    * b ∝ 2b+1) with the SAME relative shape at every SF, so both the
    * released and the suppressed branch stay non-empty at sf0.001/0.01/
    * 0.1 (validated: 2/71/106 suppressed cells respectively).
    *
    * 100 TB: the only corpus-sized work is the one map-side-partial
    * cell aggregation; the threshold is one broadcast row, and the
    * released/residual split + residual fold run on the cell frame
    * (≤ |types|×100 rows) regardless of event volume. */
  def cellSuppression(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cohort = floor(sqrt((col("user_id") * 37 % 9973).cast("double")))
      .cast("long")
    val cells = ev.select(col("event_type"), cohort.as("cohort"), col("value"))
      .groupBy(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,12)")).as("sv"))
    val thresh = cells.agg((sum(col("n")).cast("double") /
      count(lit(1)).cast("double") * 0.5).as("thr"))
    val cellsT = cells.crossJoin(broadcast(thresh))
    val released = cellsT.filter(col("n").cast("double") >= col("thr"))
      .select(col("event_type"), col("cohort"), col("n"),
        round(col("sv").cast("double"), 6).as("sum_value"))
    val residual = cellsT.filter(col("n").cast("double") < col("thr"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).cast("long").as("n"), sum(col("sv")).as("sv"))
      .select(col("event_type"), lit(-1L).as("cohort"), col("n"),
        round(col("sv").cast("double"), 6).as("sum_value"))
    released.unionByName(residual)
  }

  val cellSuppressionSql: String =
    """WITH cells AS (SELECT event_type,
      |    CAST(FLOOR(SQRT(CAST(user_id * 37 % 9973 AS DOUBLE))) AS BIGINT)
      |      AS cohort,
      |    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(28,12))) AS sv
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 0.5
      |    AS thr FROM cells),
      |rel AS (SELECT event_type, cohort, n,
      |    round(CAST(sv AS DOUBLE), 6) AS sum_value
      |  FROM cells, t WHERE CAST(n AS DOUBLE) >= thr),
      |res AS (SELECT event_type, CAST(-1 AS BIGINT) AS cohort,
      |    CAST(SUM(n) AS BIGINT) AS n,
      |    round(CAST(SUM(sv) AS DOUBLE), 6) AS sum_value
      |  FROM cells, t WHERE CAST(n AS DOUBLE) < thr GROUP BY 1)
      |SELECT * FROM rel UNION ALL SELECT * FROM res""".stripMargin

  // ----------------------------------------------------------- EWMA trend

  /** Taps of the EWMA FIR filter (α = 1/2, so tap k carries integer
    * weight 2^(EwmaLags-1-k) and the whole numerator/denominator stay
    * BIGINT-exact until one final division). 14 days ≈ the horizon at
    * which a half-life-one-day weight (2^-13) is operationally zero. */
  private val EwmaLags = 14

  /** EWMA trend smoothing per event type — the "smoothed daily volume"
    * line a monitoring dashboard draws next to [[anomalyZscore]]'s spike
    * detector (Kibana's moving-average pipeline agg; Holt/EWMA is the
    * standard first smoother). Exponential weights with α = 1/2
    * truncated at [[EwmaLags]] taps over a DENSE daily spine (missing
    * days count 0 — without the fill, gaps would silently stretch the
    * decay horizon), normalized by the weight mass actually present so
    * the first days of the spine are unbiased.
    *
    * Scale shape: one corpus-sized keyed agg (map-side partial collapse
    * to |types|×|days| cells); everything after — spine fill, the
    * 14-tap lag window — is model-sized (cells, not events). The
    * weights are integer powers of two, so num/den are BIGINT-exact and
    * the single float step is one IEEE division + floor(x·10^6 + 0.5)
    * fence, bit-identical across engines (the catalog's halves rule). */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val days = ev
      .agg(expr("min(to_date(day))").as("lo"), expr("max(to_date(day))").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
    val dense = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(days))
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val taps = (0 until EwmaLags).map { k =>
      val weight = 1L << (EwmaLags - 1 - k)
      val x = if (k == 0) col("n_events") else lag(col("n_events"), k).over(w)
      (when(x.isNotNull, x * weight).otherwise(lit(0L)),
        when(x.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    val num = taps.map(_._1).reduce(_ + _).cast("double")
    val den = taps.map(_._2).reduce(_ + _).cast("double")
    dense.select(col("event_type"), col("day"), col("n_events"),
      (floor(num / den * 1e6 + 0.5) / 1e6).as("ewma"))
  }

  val ewmaSmoothSql: String = {
    val taps = (0 until EwmaLags).map { k =>
      val weight = 1L << (EwmaLags - 1 - k)
      val x = if (k == 0) "n_events" else s"lag(n_events, $k) OVER w"
      (s"COALESCE($x * $weight, 0)",
        s"CASE WHEN ${if (k == 0) "FALSE" else s"($x) IS NULL"} THEN 0 ELSE $weight END")
    }
    val num = taps.map(_._1).mkString(" + ")
    val den = taps.map(_._2).mkString(" + ")
    s"""WITH e AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day FROM events),
       |c AS (SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
       |b AS (SELECT MIN(CAST(day AS DATE)) AS lo, MAX(CAST(day AS DATE)) AS hi FROM e),
       |d AS (SELECT strftime(unnest(generate_series(CAST(lo AS TIMESTAMP),
       |                 CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)), '%Y-%m-%d') AS day
       |      FROM b),
       |ty AS (SELECT DISTINCT event_type FROM e),
       |dense AS (SELECT ty.event_type, d.day,
       |            CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
       |          FROM ty CROSS JOIN d
       |          LEFT JOIN c ON c.event_type = ty.event_type AND c.day = d.day)
       |SELECT event_type, day, n_events,
       |  floor(CAST(($num) AS DOUBLE) / CAST(($den) AS DOUBLE) * 1000000 + 0.5)
       |    / 1000000 AS ewma
       |FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY day)""".stripMargin
  }

  /** Micro-unit scale for the Holt fold (1e6 — the catalog's floor-fence
    * resolution, but held in BIGINT so no float ever appears). */
  private val HoltScale = 1000000L

  /** Holt's linear-trend double exponential smoothing per event type —
    * the TREND member of the time-series family ([[ewmaSmooth]] smooths
    * LEVEL only and a ramp drags it behind; Holt carries an explicit
    * trend state, the forecasting/trend-break staple behind ES
    * `moving_fn`-style panels and every ops dashboard's "where is this
    * heading" line). Over the same dense daily spine as EWMA (gap days
    * = 0 — a gap is data, not absence, for a counter):
    *
    *   l_t = (x_t·S + l_{t−1} + b_{t−1}) div 2          (α = 1/2)
    *   b_t = (l_t − l_{t−1} + 3·b_{t−1}) div 4          (β = 1/4)
    *   e_t = x_t·S − (l_{t−1} + b_{t−1})   (one-step-ahead residual)
    *
    * with l_1 = x_1·S, b_1 = 0. ALL-BIGINT: counts scale into micro
    * units, α/β are power-of-two integer divisions, and both engines'
    * integer division truncates toward zero — so the whole recursion is
    * bit-identical cross-engine and the oracle replays it as a
    * recursive CTE (one iteration per day), no fence, no band. The
    * residual column is the trend-break signal (an impulse or slope
    * change shows as |e| spiking — EwmaSpec pins it on planted series).
    *
    * Scale shape: the only corpus-sized work is the (type, day) count
    * agg (map-side collapse into |types|×|days| cells); the recursion
    * folds a calendar-bounded array (≤|days| elements) per type via
    * `aggregate` — interpreted, but over |types| rows of 30-element
    * arrays, nothing corpus-sized (the txt_repetition rule: lambda
    * folds are for model-sized state, and this one is). */
  def holtTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val days = ev
      .agg(expr("min(to_date(day))").as("lo"), expr("max(to_date(day))").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
    val dense = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(days))
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    val S = HoltScale
    // No let-binding in SQL lambdas, so l_t appears inline twice in the
    // b_t expression; element_at(acc, -1) is the (l, b) of day t−1.
    val step =
      s"""(acc, x) -> IF(size(acc) = 0,
         |  array(named_struct('l', x.n * ${S}L, 'b', 0L, 'e', 0L)),
         |  concat(acc, array(named_struct(
         |    'l', (x.n * ${S}L + element_at(acc, -1).l + element_at(acc, -1).b) div 2L,
         |    'b', ((x.n * ${S}L + element_at(acc, -1).l + element_at(acc, -1).b) div 2L
         |          - element_at(acc, -1).l + 3L * element_at(acc, -1).b) div 4L,
         |    'e', x.n * ${S}L - (element_at(acc, -1).l + element_at(acc, -1).b)))))""".stripMargin
    dense.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("n_events").as("n"))))
        .as("xs"))
      .select(col("event_type"),
        explode(expr(
          s"""arrays_zip(xs, aggregate(xs,
             |  cast(array() as array<struct<l: bigint, b: bigint, e: bigint>>),
             |  $step))""".stripMargin)).as("z"))
      .select(col("event_type"), col("z.xs.day").as("day"),
        col("z.xs.n").as("n_events"),
        col("z.1.l").as("level_micro"), col("z.1.b").as("trend_micro"),
        col("z.1.e").as("err_micro"),
        (col("z.1.l") + col("z.1.b")).as("forecast_next_micro"))
  }

  val holtTrendSql: String = {
    val S = HoltScale
    s"""WITH RECURSIVE e AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day FROM events),
       |c AS (SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
       |bn AS (SELECT MIN(CAST(day AS DATE)) AS lo, MAX(CAST(day AS DATE)) AS hi FROM e),
       |d AS (SELECT strftime(unnest(generate_series(CAST(lo AS TIMESTAMP),
       |                 CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)), '%Y-%m-%d') AS day
       |      FROM bn),
       |ty AS (SELECT DISTINCT event_type FROM e),
       |idx AS (SELECT ty.event_type, d.day,
       |          CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
       |          row_number() OVER (PARTITION BY ty.event_type ORDER BY d.day) AS i
       |        FROM ty CROSS JOIN d
       |        LEFT JOIN c ON c.event_type = ty.event_type AND c.day = d.day),
       |hw AS (
       |  SELECT event_type, i, day, n_events,
       |    n_events * $S AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS er
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT nx.event_type, nx.i, nx.day, nx.n_events,
       |    (nx.n_events * $S + hw.l + hw.b) // 2 AS l,
       |    ((nx.n_events * $S + hw.l + hw.b) // 2 - hw.l + 3 * hw.b) // 4 AS b,
       |    nx.n_events * $S - (hw.l + hw.b) AS er
       |  FROM hw JOIN idx nx
       |    ON nx.event_type = hw.event_type AND nx.i = hw.i + 1)
       |SELECT event_type, day, n_events, l AS level_micro, b AS trend_micro,
       |  er AS err_micro, l + b AS forecast_next_micro
       |FROM hw""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("evt_holt_trend", holtTrend, holtTrendSql),
    Entry("evt_ewma", ewmaSmooth, ewmaSmoothSql),
    Entry("evt_cell_suppression", cellSuppression, cellSuppressionSql),
    Entry("evt_cohort_ltv", cohortLtv, cohortLtvSql),
    Entry("evt_transitions", transitions, transitionsSql),
    Entry("evt_hopping_window", hoppingWindow, hoppingWindowSql),
    Entry("evt_anomaly_zscore", anomalyZscore, anomalyZscoreSql),
    Entry("evt_asof_join", asofJoin, asofJoinSql),
    Entry("evt_asof_custom", asofCustom, asofCustomSql),
    Entry("evt_sessionize", sessionize, sessionizeSql),
    Entry("evt_percentiles", percentiles, percentilesSql),
    Entry("evt_approx_percentiles", approxPercentiles, approxPercentilesSql),
    Entry("evt_funnel", funnel, funnelSql),
    Entry("evt_retention", retention, retentionSql),
    Entry.sliced("evt_active_users", activeUsers7d, activeUsers7dSql))
}
