package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Experimentation + behavioral-path analytics over the event stream —
  * the two product-analytics shapes the evt_ family did not yet cover:
  * the A/B readout (two-proportion z-test per conversion metric, the
  * Optimizely/GrowthBook results table) and clickstream path mining
  * (top-K ordered event sequences, the Amplitude "Pathfinder" panel).
  * The reference's dashboards stop at single-metric date histograms
  * (README.md:22-28); these are the next layer a product team asks of
  * the same index.
  *
  * == evt_ab_test ==
  * Variant assignment is DETERMINISTIC HASH BUCKETING, the production
  * convention (assignment must be stable across sessions without an
  * assignment store): md5(user_id) → 60-bit integer → parity, exactly
  * the [[AudienceOverlap]] hash so DuckDB mirrors it verbatim.
  * Exposure = the user's FIRST 'view' event ((ts, event_id)-min — total
  * order, event_id is unique); a metric converts iff some event of that
  * type lands strictly after exposure AND within the [[AttrHours]]-hour
  * ATTRIBUTION WINDOW (the industry "conversion window" — without it,
  * any sufficiently long event history converts every user on every
  * metric and the test degenerates; fixture-checked: rates sit in the
  * 30-50% band at all three gate SFs). Counts are exact integers;
  * rates are BIGINT micro-units via `div`; the only floats are the
  * final z² — one pinned scalar sequence per row (identical literal
  * expression in both engines, fenced round(…,6), the audience-overlap
  * convention), with the degenerate pooled rates (0 or 1) mapped to
  * NULL rather than a divide-by-zero in BOTH engines. `significant` is
  * the χ²(1) 5% test (z² > 3.841459) — NULL on the null-z² rows.
  *
  * Scale shape (100 TB answer): exposure is one (user)-keyed min-struct
  * agg with map-side partials; the attribution probe joins events back
  * to exposure on the SAME user key (one hash exchange each side, AQE
  * picks SMJ/shuffled-hash at scale) and immediately folds to one row
  * per (user, metric) with map-side partial max; the final fold is
  * |metrics|×|variants| cells. Nothing downstream of the user-keyed
  * collapse ever sees the event stream again.
  *
  * == evt_path_topk ==
  * Unit of analysis: the (user, day) visit; its path is the ordered
  * event-type sequence, capped at the first [[PathCap]] events — the
  * cap is the SKEW GUARD (a bot user-day with 10⁶ events contributes a
  * 12-step path, not a 10⁶-element collect_list; the window computes
  * global rank-in-visit BEFORE truncation so "first 12" is exact, and
  * the same QUALIFY runs in the oracle). Paths then fold by value
  * (map-side partials — popular paths collapse before the wire) and a
  * top-K window runs on the |distinct paths| survivors. share_micro is
  * integer micro-units of total visits.
  */
object Experiments {

  private val Micro = 1000000L
  /** χ²(1) upper 5% critical value — z² above this rejects. */
  private val Chi2Crit = 3.841459
  /** Conversion attribution window after first exposure. */
  private val AttrHours = 24
  private val PathCap = 12
  private val PathTopK = 20

  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id").as("u"), col("event_type").as("t"),
        col("ts"), col("event_id").as("eid"))
    // First 'view' per user — the exposure instant. min(struct) gives
    // the (ts, event_id) lexicographic minimum in one partial-agg
    // pass. Persisted: both the attribution probe and the
    // per-variant-N fold consume it, and without the persist each
    // consumer re-pays the filtered corpus scan + agg.
    val exposure = ev.filter(col("t") === "view")
      .groupBy(col("u"))
      .agg(min(struct(col("ts"), col("eid"))).as("ex"))
      .select(col("u"), col("ex.ts").as("ex_ts"), col("ex.eid").as("ex_eid"))
      .persist(sl)
    val variant = expr(
      "CASE WHEN cast(conv(substring(md5(cast(u as string)), 1, 15), 16, 10) as bigint) % 2 = 0 " +
        "THEN 'A' ELSE 'B' END")
    // Attribution probe: every non-view event of an exposed user,
    // flagged iff strictly after exposure and inside the window, then
    // collapsed to one row per (user, metric). The join keys BOTH
    // sides by u, and the groupBy(u, t) reuses that exchange —
    // HashPartitioning(u) satisfies the (u, t) clustering, so the
    // collapse is exchange-free on top of the join.
    val convs = ev.filter(col("t") =!= "view")
      .join(exposure, Seq("u"))
      .groupBy(col("u"), col("t"))
      .agg(max(
        ((col("ts") > col("ex_ts") ||
          (col("ts") === col("ex_ts") && col("eid") > col("ex_eid"))) &&
          col("ts") <= col("ex_ts") + expr(s"INTERVAL $AttrHours HOURS"))
          .cast("long")).as("conv"))
    // One conditional fold per side — no cells self-join: the variant
    // pivot happens inside the aggregate (sum-when), so the A/B split
    // costs a WHEN, not a second pass.
    val wide = convs.withColumn("v", variant)
      .groupBy(col("t"))
      .agg(sum(when(col("v") === "A", col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("v") === "B", col("conv")).otherwise(0L)).as("conv_b"))
    val ns = broadcast(exposure.withColumn("v", variant)
      .agg(sum(when(col("v") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === "B", 1L).otherwise(0L)).as("n_b")))
    // The z² scalar sequence — written ONCE as a SQL string shared
    // verbatim with the oracle (modulo dialect-identical arithmetic):
    // doubles with the same operand order are bit-identical IEEE in
    // both engines; round(…,6) fences the display value.
    // The leading n_a/n_b=0 arm covers the degenerate hash assignment
    // (every exposed user on one variant): there the per-side rate and
    // 1/n are undefined, and the engines DIVERGE without it — Spark's
    // non-ANSI integer div returns NULL where DuckDB's // raises.
    val z2 = expr(
      s"""CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
         |ELSE round(
         |  (cast(conv_a as double)/n_a - cast(conv_b as double)/n_b)
         |  * (cast(conv_a as double)/n_a - cast(conv_b as double)/n_b)
         |  / ( (cast(conv_a + conv_b as double)/(n_a + n_b))
         |      * (1.0 - cast(conv_a + conv_b as double)/(n_a + n_b))
         |      * (1.0/n_a + 1.0/n_b) ), 6) END""".stripMargin)
    wide.crossJoin(ns)
      .withColumn("z2", z2)
      .select(
        col("t").as("metric"), col("n_a"), col("conv_a"),
        col("n_b"), col("conv_b"),
        expr(s"CASE WHEN n_a = 0 THEN NULL ELSE ($Micro * conv_a) div n_a END")
          .as("rate_a_micro"),
        expr(s"CASE WHEN n_b = 0 THEN NULL ELSE ($Micro * conv_b) div n_b END")
          .as("rate_b_micro"),
        col("z2"),
        (col("z2") > Chi2Crit).as("significant"))
  }

  val abTestSql: String =
    s"""WITH ev AS (SELECT user_id AS u, event_type AS t, ts, event_id AS eid FROM events),
       |exposure AS (
       |  SELECT u, ts AS ex_ts, eid AS ex_eid FROM (
       |    SELECT u, ts, eid,
       |      row_number() OVER (PARTITION BY u ORDER BY ts ASC, eid ASC) AS rn
       |    FROM ev WHERE t = 'view') WHERE rn = 1),
       |convs AS (
       |  SELECT c.u, c.t,
       |    MAX(CASE WHEN (c.ts > e.ex_ts OR (c.ts = e.ex_ts AND c.eid > e.ex_eid))
       |              AND c.ts <= e.ex_ts + INTERVAL $AttrHours HOUR
       |             THEN 1 ELSE 0 END) AS conv
       |  FROM ev c JOIN exposure e ON c.u = e.u AND c.t <> 'view'
       |  GROUP BY 1, 2),
       |cw AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |                  THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |                  THEN 0 ELSE conv END) AS BIGINT) AS conv_b
       |  FROM convs GROUP BY t),
       |ns AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |                  THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM exposure),
       |wide AS (SELECT cw.t, cw.conv_a, cw.conv_b, ns.n_a, ns.n_b
       |         FROM cw CROSS JOIN ns),
       |z AS (
       |  SELECT *,
       |    CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
       |    ELSE round(
       |      (CAST(conv_a AS DOUBLE)/n_a - CAST(conv_b AS DOUBLE)/n_b)
       |      * (CAST(conv_a AS DOUBLE)/n_a - CAST(conv_b AS DOUBLE)/n_b)
       |      / ( (CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
       |          * (1.0 - CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
       |          * (1.0/n_a + 1.0/n_b) ), 6) END AS z2
       |  FROM wide)
       |SELECT t AS metric, n_a, conv_a, n_b, conv_b,
       |  CASE WHEN n_a = 0 THEN NULL ELSE ($Micro * conv_a) // n_a END AS rate_a_micro,
       |  CASE WHEN n_b = 0 THEN NULL ELSE ($Micro * conv_b) // n_b END AS rate_b_micro,
       |  z2, z2 > $Chi2Crit AS significant
       |FROM z""".stripMargin

  def pathTopk(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id").as("u"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id").as("eid"), col("event_type").as("t"))
    // Rank-in-visit BEFORE truncation: "the first PathCap events of the
    // visit", not "PathCap arbitrary events". The window and the
    // downstream collect share one (u, day) exchange.
    val w = Window.partitionBy(col("u"), col("day"))
      .orderBy(col("ts").asc, col("eid").asc)
    // The groupBy reuses the window's (u, day) exchange — one corpus
    // shuffle builds both rank and path. Persisted: the path fold and
    // the total-visits scalar both consume visits, and without the
    // persist the second consumer re-pays the corpus window.
    val visits = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathCap)
      .groupBy(col("u"), col("day"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("eid"), col("t")))),
          x => x.getField("t")), ">").as("path"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val paths = visits.groupBy(col("path"))
      .agg(count(lit(1)).as("n_visits"),
        countDistinct(col("u")).as("n_users"))
    val total = broadcast(visits.agg(count(lit(1)).as("tot")))
    val wk = Window.orderBy(col("n_visits").desc, col("path").asc)
    paths.withColumn("rk", row_number().over(wk)).filter(col("rk") <= PathTopK)
      .crossJoin(total)
      .select(col("path"), col("n_visits"), col("n_users"),
        col("rk").cast("long").as("path_rank"),
        expr(s"($Micro * n_visits) div tot").as("share_micro"))
  }

  val pathTopkSql: String =
    s"""WITH ev AS (
       |  SELECT user_id AS u, CAST(ts AS DATE) AS day, ts, event_id AS eid,
       |         event_type AS t,
       |         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |                            ORDER BY ts ASC, event_id ASC) AS rn
       |  FROM events),
       |visits AS (
       |  SELECT u, day, string_agg(t, '>' ORDER BY ts ASC, eid ASC) AS path
       |  FROM ev WHERE rn <= $PathCap GROUP BY u, day),
       |paths AS (
       |  SELECT path, COUNT(*) AS n_visits, COUNT(DISTINCT u) AS n_users
       |  FROM visits GROUP BY path),
       |tot AS (SELECT COUNT(*) AS tot FROM visits),
       |top AS (
       |  SELECT path, n_visits, n_users,
       |    row_number() OVER (ORDER BY n_visits DESC, path ASC) AS rk
       |  FROM paths QUALIFY rk <= $PathTopK)
       |SELECT path, n_visits, n_users, rk AS path_rank,
       |  ($Micro * n_visits) // tot.tot AS share_micro
       |FROM top CROSS JOIN tot""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("evt_ab_test", abTest, abTestSql),
    Entry("evt_path_topk", pathTopk, pathTopkSql))
}
