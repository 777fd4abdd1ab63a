package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Growth accounting + RFM segmentation — the two user-base
  * decompositions a product analytics stack runs weekly (the
  * Amplitude/Mixpanel "growth accounting" chart and the CRM quintile
  * grid), closing the behavioral family around
  * [[EventOps]] retention / [[Survival]] KM.
  *
  * == evt_growth_accounting ==
  * The Social-Capital growth-accounting identity: each day's active
  * users decompose EXACTLY into new (first-ever activity), retained
  * (also active the previous calendar day), and resurrected (seen
  * before, but not yesterday); churned(d) counts users active on d−1
  * and silent on d. The identity `active(d) = new + retained +
  * resurrected` and the flow identity `active(d) = active(d−1) −
  * churned(d) + new(d) + resurrected(d)` both hold row-by-row (the
  * spec asserts them; the oracle pins the values).
  *
  * Everything derives from ONE corpus collapse — the distinct
  * (user, day) activity table — and one per-user lag window on it
  * (u-keyed, reusing the collapse's exchange where the partitioning
  * allows): `prev` = the user's previous active day classifies the
  * day as new/retained/resurrected; churn events materialize at the
  * day each silence STARTS — `prev + 1` from the same lag for
  * mid-series gaps, `last + 1` for users who leave for good (without
  * the trailing leg the flow identity breaks for every permanent
  * departure) — so churn never needs a user × day-spine expansion
  * (the |users|·|days| anti-join a naive formulation pays). Counts
  * fold per day — model-sized output, exact integers. Days render as
  * strings per the catalog's date-output convention.
  *
  * == evt_rfm ==
  * Recency / Frequency / Monetary quintile scores. The catalog-wide
  * determinism problem with ntile(5) is that it splits TIES across
  * buckets by row order, which at scale also needs a global
  * single-partition window over |users|. Both problems fall to the
  * same reformulation: quintiles from each metric's VALUE HISTOGRAM —
  * `score(v) = 1 + (5 · |{users with value < v}|) div n` — equal
  * values share a score (the defensible tie semantics), and the
  * histogram is MODEL-SIZED by construction: recency has ≤ |days|
  * distinct values, frequency ≤ max per-user activity, monetary is
  * floored to whole units (value is a bounded per-event measure, so
  * per-user sums occupy a bounded integer range that does not grow
  * with the corpus). The cut map broadcasts back onto users; the
  * output is the (r, f, m) cell grid — ≤125 rows with counts and
  * exact monetary-cent totals. R is conventionally inverted (most
  * recent = 5): recency scores ascend with `max_day − last_day`, so
  * r_score = 6 − quintile(recency_days).
  *
  * Scale shape: one corpus exchange (the per-user metric fold); ONE
  * model-sized histogram pass for all three metrics (unpivoted,
  * metric-keyed); one broadcast join + per-user fold; one ≤125-key
  * fold.
  */
object Growth {

  /** Growth accounting, optionally over a server-chosen `[from, to]` day
    * slice (the dashboard range): the bounds land on the raw `ts` scan
    * column BEFORE anything else, so they reach the parquet reader as
    * PushedFilters. Semantics are slice-relative (the activeUsers7d
    * convention): "new" = first activity WITHIN the slice, churn at
    * the slice-local corpus edge. */
  def growthAccounting(spark: SparkSession, dir: String,
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame = {
    // Cache ONLY the unsliced/batch form: on the Serve time-slice path
    // every distinct ?from=&to= pair is a distinct logical plan, so a
    // persist there pins a new corpus-sized CacheManager entry per
    // requested range for the session's lifetime (never unpersisted —
    // unbounded growth under a dashboard date picker). The sliced
    // re-computation is bounded by the slice itself: each reuse of
    // ud/lagged re-runs a scan whose ts range is already pushed to the
    // parquet reader (asserted in GrowthSpec).
    val cacheable = from.isEmpty && to.isEmpty
    def maybeCache(df: DataFrame): DataFrame =
      if (cacheable)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val base = Tables.load(spark, dir, "events")
    val sliced = Seq(
      from.map(d => col("ts") >=
        lit(java.sql.Timestamp.valueOf(d.atStartOfDay))),
      to.map(d => col("ts") <
        lit(java.sql.Timestamp.valueOf(d.plusDays(1).atStartOfDay))))
      .flatten.foldLeft(base)(_.filter(_))
    // THE corpus collapse: distinct active (user, day), then ONE
    // per-user window carrying BOTH neighbors — lag classifies the day
    // (new/retained/resurrected), lead marks each user's last-ever day
    // (r19: the lead rides the exact same exchange+sort the lag already
    // paid, which retires the separate groupBy(u) pass the trailing
    // churn leg used to re-shuffle for).
    val ud = sliced
      .select(col("user_id").as("u"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("day").asc)
    val lagged = maybeCache(ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w)))
    val maxDay = broadcast(lagged.agg(max(col("day")).as("maxd")))
    val classified = lagged.select(col("day"),
      when(col("prev").isNull, "new")
        .when(datediff(col("day"), col("prev")) === 1, "retained")
        .otherwise("resurrected").as("kind"))
    // Churn events, re-keyed to the day each silence starts: a GAP
    // start from the same lag (active on prev, silent on prev+1), or
    // the TRAILING disappearance (a user whose last-ever day — lead is
    // null — precedes the corpus edge churns the day after it; without
    // this leg the flow identity active(d) = active(d−1) − churned(d) +
    // new(d) + resurrected(d) breaks for every user who leaves for
    // good). Flows and churn then fold in ONE day-keyed aggregation
    // over the union (r19) — the previous flows ⋈ churn full-outer
    // join paid a second day exchange plus a sort-merge join for what
    // is a single partition-of-events sum.
    val gaps = lagged.filter(col("prev").isNotNull &&
        datediff(col("day"), col("prev")) > 1)
      .select(date_add(col("prev"), 1).as("day"), lit("churned").as("kind"))
    val trailing = lagged.crossJoin(maxDay)
      .filter(col("next").isNull && col("day") < col("maxd"))
      .select(date_add(col("day"), 1).as("day"), lit("churned").as("kind"))
    classified.unionByName(gaps).unionByName(trailing)
      .groupBy(col("day"))
      .agg(sum(when(col("kind") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("kind") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L)).as("resurrected"),
        sum(when(col("kind") === "churned", 1L).otherwise(0L)).as("churned"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("retained"), col("resurrected"), col("churned"))
  }

  val growthAccountingSql: String =
    """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
      |lg AS (SELECT u, day,
      |         lag(day) OVER (PARTITION BY u ORDER BY day ASC) AS prev
      |       FROM ud),
      |flows AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |    CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS resurrected
      |  FROM lg GROUP BY 1),
      |lastp AS (SELECT u, MAX(day) AS lastd FROM ud GROUP BY 1),
      |mx AS (SELECT MAX(lastd) AS maxd FROM lastp),
      |churn AS (
      |  SELECT day, COUNT(*) AS churned FROM (
      |    SELECT prev + 1 AS day
      |    FROM lg WHERE prev IS NOT NULL AND day - prev > 1
      |    UNION ALL
      |    SELECT lastd + 1 AS day
      |    FROM lastp CROSS JOIN mx WHERE lastd < maxd) ch
      |  GROUP BY 1)
      |SELECT strftime(COALESCE(f.day, c.day), '%Y-%m-%d') AS day,
      |  COALESCE(f.new_users, 0) AS new_users,
      |  COALESCE(f.retained, 0) AS retained,
      |  COALESCE(f.resurrected, 0) AS resurrected,
      |  COALESCE(c.churned, 0) AS churned
      |FROM flows f FULL OUTER JOIN churn c ON f.day = c.day""".stripMargin

  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val users = Tables.load(spark, dir, "events")
      .select(col("user_id").as("u"), to_date(col("ts")).as("day"),
        col("value"))
      .groupBy(col("u"))
      .agg(max(col("day")).as("last"), count(lit(1)).as("freq"),
        // per-row micro-quantization BEFORE the sum: floor(v·10⁶) is
        // one deterministic IEEE product+floor per row, and the sum is
        // then INTEGER — a raw double sum would associate differently
        // across engines/partitionings and floor() could flip on an
        // integer-boundary sum
        expr("sum(cast(floor(value * 1000000) as bigint)) div 1000000")
          .as("mon"))
      .persist(sl)
    val maxDay = broadcast(users.agg(max(col("last")).as("maxd")))
    val metrics = users.crossJoin(maxDay)
      .select(col("u"), datediff(col("maxd"), col("last")).cast("long").as("rec"),
        col("freq"), col("mon"))
      .persist(sl)
    val n = broadcast(metrics.agg(count(lit(1)).as("n")))
    // Value-histogram quintile: score(v) = 1 + (5·|{value < v}|) div n
    // — the running count comes from the model-sized histogram's own
    // cumulative window, never a per-user global sort. All THREE
    // histograms ride ONE pass (r19): the metrics unpivot to
    // (metric, value), a metric-keyed repartition carries the histogram
    // aggregation AND its cumulative window exchange-free (partition
    // key ⊆ group keys; three keys, each partition bounded by one
    // metric's model-sized distinct-value set), and one broadcast join
    // + per-user conditional fold replaces the three per-metric
    // histogram subtrees and their three joins the previous shape paid.
    val melted = metrics.select(col("u"), expr(
      "stack(3, 'rec', rec, 'freq', freq, 'mon', mon) as (mname, v)"))
    val hw = Window.partitionBy(col("mname")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scores = melted
      .repartition(col("mname"))
      .groupBy(col("mname"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(hw))
      .crossJoin(n)
      .select(col("mname"), col("v"),
        (lit(1L) + expr("(5 * (cum - cnt)) div n")).as("q"))
    melted.join(broadcast(scores), Seq("mname", "v"))
      .groupBy(col("u"))
      .agg(max(when(col("mname") === "rec", col("q"))).as("q_rec"),
        max(when(col("mname") === "freq", col("q"))).as("q_freq"),
        max(when(col("mname") === "mon", col("q"))).as("q_mon"),
        max(when(col("mname") === "mon", col("v"))).as("mon"))
      // a NULL metric value never matches the equi-join — exactly the
      // rows the previous per-metric inner joins dropped
      .filter(col("q_rec").isNotNull && col("q_freq").isNotNull &&
        col("q_mon").isNotNull)
      .select(col("u"), (lit(6L) - col("q_rec")).as("r"),
        col("q_freq").as("f"), col("q_mon").as("m"), col("mon"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_users"), sum(col("mon")).as("monetary_sum"))
  }

  val rfmSql: String =
    """WITH users AS (
      |  SELECT user_id AS u, MAX(CAST(ts AS DATE)) AS last,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) // 1000000 AS BIGINT) AS mon
      |  FROM events GROUP BY 1),
      |mx AS (SELECT MAX(last) AS maxd FROM users),
      |metrics AS (
      |  SELECT u, CAST(datediff('day', last, maxd) AS BIGINT) AS rec,
      |    CAST(freq AS BIGINT) AS freq, mon
      |  FROM users CROSS JOIN mx),
      |n AS (SELECT COUNT(*) AS n FROM metrics),
      |qr AS (SELECT rec, 1 + (5 * (cum - cnt)) // n.n AS q_rec FROM (
      |    SELECT rec, COUNT(*) AS cnt,
      |      SUM(COUNT(*)) OVER (ORDER BY rec ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM metrics GROUP BY rec) h CROSS JOIN n),
      |qf AS (SELECT freq, 1 + (5 * (cum - cnt)) // n.n AS q_freq FROM (
      |    SELECT freq, COUNT(*) AS cnt,
      |      SUM(COUNT(*)) OVER (ORDER BY freq ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM metrics GROUP BY freq) h CROSS JOIN n),
      |qm AS (SELECT mon, 1 + (5 * (cum - cnt)) // n.n AS q_mon FROM (
      |    SELECT mon, COUNT(*) AS cnt,
      |      SUM(COUNT(*)) OVER (ORDER BY mon ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM metrics GROUP BY mon) h CROSS JOIN n)
      |SELECT CAST(6 - qr.q_rec AS BIGINT) AS r,
      |  CAST(qf.q_freq AS BIGINT) AS f, CAST(qm.q_mon AS BIGINT) AS m,
      |  COUNT(*) AS n_users, CAST(SUM(me.mon) AS BIGINT) AS monetary_sum
      |FROM metrics me
      |JOIN qr ON qr.rec = me.rec
      |JOIN qf ON qf.freq = me.freq
      |JOIN qm ON qm.mon = me.mon
      |GROUP BY 1, 2, 3""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry.sliced("evt_growth_accounting", growthAccounting, growthAccountingSql),
    Entry("evt_rfm", rfm, rfmSql))
}
