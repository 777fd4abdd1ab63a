package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Change detection + seasonal decomposition over the daily event
  * series — the two remaining members of the trend family
  * ([[EventOps]] carries the smoothers: z-score residuals, EWMA, Holt;
  * these add the STRUCTURAL questions: "did the level shift, and
  * when?" and "what does a normal week look like?").
  *
  * == evt_cusum ==
  * Page's cumulative-sum statistic (Page 1954), the classic offline
  * changepoint locator: for each event type, the running sum of
  * deviations from the series mean peaks exactly at the point where
  * the level shifts. Kept EXACT-INTEGER by scaling out the division:
  * with D days and total T, the deviation `n_d − T/D` becomes
  * `n_d·D − T` (×D), so `cusum_scaled_d = Σ_{i≤d} (n_i·D − T)` is a
  * BIGINT recursion identical in both engines — zero floats, no
  * rounding fence needed (the magnitude bound is |cusum| ≤ T·D, safe
  * while T·D < 2⁶³ — 7·10⁹ daily events × a 365-day window sits at
  * 2.6·10¹⁸). The day spine is DENSE (the histogramDense convention:
  * a one-row bounds fold → sequence → explode; a distinct over
  * observed days would skip zero days and silently shrink D), and
  * `is_peak` marks the |cusum|-argmax day (ties → earliest) — the
  * changepoint estimate.
  *
  * == evt_seasonality ==
  * The day-of-week seasonal profile (the multiplicative seasonal
  * index ES dashboards overlay on date histograms): per (type, ISO
  * weekday), observed events vs the count a flat series would put on
  * that weekday. `idx_micro = (10⁶·n_dow·D) div (T·D_dow)` — exact
  * integer micro-units; D_dow (how many Mondays … the spine holds) is
  * computed off the SAME dense spine so a partial trailing week
  * cannot bias the index. Weekday numbering is ISO Monday=1
  * (`weekday()+1` here, `isodow()` in DuckDB).
  *
  * Scale shape (100 TB answer, both): ONE corpus-sized exchange — the
  * (type, day) count agg with map-side partials; everything after
  * (bounds fold, spine fill, the |days|-row cumulative window per
  * type, the 7-key weekday fold) is model-sized (|types|·|days| rows).
  * The spine broadcasts; the per-type window partitions by type.
  */
object TrendOps {

  private val Micro = 1000000L

  /** Dense per-(type, day) counts — the shared first stage. ONE
    * corpus-sized exchange: the (type, day) count agg; bounds and the
    * type dim derive from the persisted COUNTS table (every observed
    * day/type appears there), so the event stream is scanned once, not
    * three times. */
  private def dailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .select(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .groupBy(col("t"), col("day")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val days = counts.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val spine = counts.select(col("t")).distinct().crossJoin(broadcast(days))
    spine.join(counts, Seq("t", "day"), "left")
      .select(col("t"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  private val dailyCountsSql: String =
    """ev AS (SELECT event_type AS t, CAST(ts AS DATE) AS day FROM events),
      |counts AS (SELECT t, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
      |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev),
      |days AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
      |           CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |         FROM bounds),
      |spine AS (SELECT t, day FROM (SELECT DISTINCT t FROM ev) ty CROSS JOIN days),
      |dense AS (SELECT s.t, s.day, COALESCE(c.n, 0) AS n
      |          FROM spine s LEFT JOIN counts c ON c.t = s.t AND c.day = s.day)""".stripMargin

  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val dense = dailyCounts(spark, dir)
    val perType = Window.partitionBy(col("t"))
    val runW = perType.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scaled = dense
      .withColumn("dd", count(lit(1)).over(perType))
      .withColumn("tt", sum(col("n")).over(perType))
      .withColumn("cusum_scaled",
        sum(col("n") * col("dd") - col("tt")).over(runW))
    val peakW = perType.orderBy(abs(col("cusum_scaled")).desc, col("day").asc)
    scaled
      .withColumn("pk", row_number().over(peakW))
      .select(col("t").as("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("cusum_scaled"),
        (col("pk") === 1).as("is_peak"))
  }

  val cusumSql: String =
    s"""WITH $dailyCountsSql,
       |scaled AS (
       |  SELECT t, day, n,
       |    COUNT(*) OVER (PARTITION BY t) AS dd,
       |    SUM(n) OVER (PARTITION BY t) AS tt
       |  FROM dense),
       |cs AS (
       |  SELECT t, day, n,
       |    CAST(SUM(n * dd - tt) OVER (PARTITION BY t ORDER BY day ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cusum_scaled
       |  FROM scaled)
       |SELECT t AS event_type, strftime(day, '%Y-%m-%d') AS day, n,
       |  cusum_scaled,
       |  row_number() OVER (PARTITION BY t
       |                     ORDER BY abs(cusum_scaled) DESC, day ASC) = 1
       |    AS is_peak
       |FROM cs""".stripMargin

  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val dense = dailyCounts(spark, dir)
      .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
    dense
      .groupBy(col("t"), col("dow"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
      .withColumn("dd", sum(col("n_days"))
        .over(Window.partitionBy(col("t"))))
      .withColumn("tt", sum(col("n_events"))
        .over(Window.partitionBy(col("t"))))
      .select(col("t").as("event_type"), col("dow"),
        col("n_events"), col("n_days"),
        // 10⁶·n_events·dd clears 2⁶³ around 3.7·10¹¹ events/weekday on a
        // 365-day spine — the 100 TB envelope this file targets — and
        // non-ANSI Spark would WRAP silently where DuckDB errors, so the
        // numerator (and the denominator, for symmetry at the same
        // scale) go through DECIMAL(38,0)/HUGEINT like slope_micro
        expr(s"CAST((CAST($Micro AS DECIMAL(38,0)) * n_events * dd)" +
          " div (CAST(tt AS DECIMAL(38,0)) * n_days) AS BIGINT)")
          .as("idx_micro"))
  }

  val seasonalitySql: String =
    s"""WITH $dailyCountsSql,
       |dw AS (SELECT t, CAST(isodow(day) AS BIGINT) AS dow,
       |         CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_days
       |       FROM dense GROUP BY 1, 2),
       |tot AS (SELECT t, dow, n_events, n_days,
       |          CAST(SUM(n_days) OVER (PARTITION BY t) AS BIGINT) AS dd,
       |          CAST(SUM(n_events) OVER (PARTITION BY t) AS BIGINT) AS tt
       |        FROM dw)
       |SELECT t AS event_type, dow, n_events, n_days,
       |  CAST(($Micro::HUGEINT * n_events * dd) // (tt::HUGEINT * n_days) AS BIGINT)
       |    AS idx_micro
       |FROM tot""".stripMargin

  /** Robust outlier days via the median absolute deviation — the
    * breakdown-resistant complement to evt_anomaly_zscore (one wild
    * day inflates a mean/stddev enough to hide itself; the median
    * pair is immune up to 50% contamination — Hampel's rule). All
    * integer: daily counts off the dense spine, med = the lower
    * median (the value at row ⌈D/2⌉ of the (n, day) total order —
    * day breaks count ties, mirrored), MAD likewise over |n − med|,
    * flag = |n − med| > [[MadK]]·MAD. A constant series has MAD 0
    * and any deviation flags — that is Hampel's rule working, not a
    * degenerate case (documented, spec-pinned). Scale: the same one
    * corpus agg as cusum; medians are rank selections over the
    * model-sized per-type series. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val dense = dailyCounts(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perType = Window.partitionBy(col("t"))
    def lowerMedian(in: DataFrame, value: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("t"))
        .orderBy(col(value).asc, col("day").asc)
      in.withColumn("rn", row_number().over(w))
        .withColumn("dd", count(lit(1)).over(perType))
        .withColumn(out, max(when(col("rn") === expr("(dd + 1) div 2"),
          col(value))).over(perType))
        .drop("rn", "dd")
    }
    val withMed = lowerMedian(dense, "n", "med")
      .withColumn("dev", abs(col("n") - col("med")))
    lowerMedian(withMed, "dev", "mad")
      .select(col("t").as("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("med"), col("mad"),
        col("dev").as("deviation"),
        (col("dev") > lit(MadK) * col("mad")).as("is_outlier"))
  }

  private val MadK = 5L

  val anomalyMadSql: String =
    s"""WITH $dailyCountsSql,
       |m1 AS (
       |  SELECT t, day, n,
       |    row_number() OVER (PARTITION BY t ORDER BY n ASC, day ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY t) AS dd
       |  FROM dense),
       |m2 AS (
       |  SELECT t, day, n,
       |    MAX(CASE WHEN rn = (dd + 1) // 2 THEN n END) OVER (PARTITION BY t) AS med
       |  FROM m1),
       |m3 AS (SELECT *, abs(n - med) AS dev FROM m2),
       |m4 AS (
       |  SELECT t, day, n, med, dev,
       |    row_number() OVER (PARTITION BY t ORDER BY dev ASC, day ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY t) AS dd
       |  FROM m3),
       |m5 AS (
       |  SELECT t, day, n, med, dev,
       |    MAX(CASE WHEN rn = (dd + 1) // 2 THEN dev END) OVER (PARTITION BY t) AS mad
       |  FROM m4)
       |SELECT t AS event_type, strftime(day, '%Y-%m-%d') AS day, n, med, mad,
       |  dev AS deviation, dev > $MadK * mad AS is_outlier
       |FROM m5""".stripMargin

  /** Per-type OLS trend + 7-day forecast (the dashboards' "projected
    * next week" readout; the closed-form member of the trend family —
    * EWMA/Holt are recursive smoothers, this is the global line).
    * Day index x = 0..D−1 over the dense spine; the normal equations
    * stay EXACT: num = D·Σxy − Σx·Σy, den = D·Σx² − (Σx)², both
    * BIGINT; slope_micro = (10⁶·num) div den through DECIMAL(38,0)
    * (10⁶·num clears 2⁶³ around D≈365 at 10⁵ events/day — the
    * rel_abc_analysis overflow lesson applied BEFORE the decade probe
    * bites), intercept_micro = (10⁶·Σy − slope_micro·Σx) div D — the
    * truncated-slope convention, deterministic in both engines;
    * forecast(h) = intercept + slope·(D−1+h). One corpus agg; the
    * regression is a |types|-row fold. */
  def forecastLinreg(spark: SparkSession, dir: String): DataFrame = {
    val dense = dailyCounts(spark, dir)
    val xw = Window.partitionBy(col("t")).orderBy(col("day").asc)
    val fit = dense
      .withColumn("x", row_number().over(xw).cast("long") - 1L)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("dd"), sum(col("n")).as("sy"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("n")).as("sxy"))
      .withColumn("slope_micro",
        // dd·sxx − sx² = 0 exactly when the dense spine has a single day
        // (dd=1 ⇒ x≡0): Spark's non-ANSI div returns NULL on /0 but
        // DuckDB's // RAISES, so without the explicit guard the oracle
        // comparison crashes instead of matching on a one-day corpus.
        // NULL slope then propagates to intercept/forecast identically
        // in both engines (the abTest z2 guard convention).
        expr("CASE WHEN dd * sxx - sx * sx = 0 THEN NULL ELSE " +
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * (dd * sxy - sx * sy)) div (dd * sxx - sx * sx) AS BIGINT) END"))
      .withColumn("intercept_micro",
        expr("(1000000 * sy - slope_micro * sx) div dd"))
    fit.select(col("t"), col("dd"), col("slope_micro"), col("intercept_micro"),
        explode(expr("sequence(1, 7)")).as("h"))
      .select(col("t").as("event_type"), col("h").cast("long").as("horizon_days"),
        col("slope_micro"), col("intercept_micro"),
        (col("intercept_micro") + col("slope_micro") * (col("dd") - 1 + col("h")))
          .as("forecast_micro"))
  }

  val forecastLinregSql: String =
    s"""WITH $dailyCountsSql,
       |xd AS (
       |  SELECT t, n,
       |    row_number() OVER (PARTITION BY t ORDER BY day ASC) - 1 AS x
       |  FROM dense),
       |fit AS (
       |  SELECT t, COUNT(*) AS dd, CAST(SUM(n) AS BIGINT) AS sy,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(x * n) AS BIGINT) AS sxy
       |  FROM xd GROUP BY t),
       |sl AS (
       |  SELECT *,
       |    CASE WHEN dd * sxx - sx * sx = 0 THEN NULL ELSE
       |      CAST((1000000::HUGEINT * (dd * sxy - sx * sy)) // (dd * sxx - sx * sx) AS BIGINT)
       |    END AS slope_micro
       |  FROM fit),
       |ic AS (
       |  SELECT *, (1000000 * sy - slope_micro * sx) // dd AS intercept_micro
       |  FROM sl)
       |SELECT t AS event_type, CAST(h AS BIGINT) AS horizon_days,
       |  slope_micro,
       |  CAST(intercept_micro AS BIGINT) AS intercept_micro,
       |  CAST(intercept_micro + slope_micro * (dd - 1 + h) AS BIGINT) AS forecast_micro
       |FROM ic CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS h) hs""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("evt_cusum", cusum, cusumSql),
    Entry("evt_seasonality", seasonality, seasonalitySql),
    Entry("evt_anomaly_mad", anomalyMad, anomalyMadSql),
    Entry("evt_forecast_linreg", forecastLinreg, forecastLinregSql))
}
