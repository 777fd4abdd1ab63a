package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Survival + concentration analytics — the two remaining lifecycle
  * shapes: the Kaplan-Meier product-limit estimator (Kaplan & Meier
  * 1958) over user lifetimes with right-censoring (what
  * [[EventOps]] evt_retention cannot express: retention counts
  * day-N returns per cohort; KM estimates the survival FUNCTION while
  * handling users still alive at the corpus edge), and ABC / Pareto
  * revenue classification (the 80/95 concentration cut inventory teams
  * run on every catalog).
  *
  * == evt_survival ==
  * Subject = user; birth = first event instant; a user is DEAD
  * (churned) iff their last event is more than [[ChurnHours]] hours
  * before the corpus's last instant, dying at lifetime
  * `last − birth` (completed hours); otherwise RIGHT-CENSORED at
  * `maxTs − birth`. Hour granularity is fixture-derived, not
  * arbitrary: the synthetic users are so uniformly active that at DAY
  * granularity nobody churns at any gate SF (max end-gap 2 days) and
  * the estimator would be vacuous; at 12 h the gate sees real
  * mixtures (5/15, 39/150, 445/1500 deaths). All interval arithmetic
  * is epoch-seconds integer floor-division — NOT datediff: DuckDB's
  * datediff counts calendar-boundary crossings while Spark's
  * timestampdiff counts full units, and they disagree across any
  * boundary. Per lifetime t: `n_t` = subjects with lifetime ≥ t (at
  * risk — censored subjects count until their censor time, the whole
  * point of KM), `d_t` = deaths at t, and
  * `S(t) = Π_{i≤t} (n_i − d_i)/n_i`.
  *
  * Determinism: counts are exact integers. The product is evaluated
  * as `exp(Σ ln((n−d)/n))` over a ROWS-cumulative window — BOTH
  * engines evaluate a running frame sequentially in t-order, so the
  * float additions happen in the same order and the sum is
  * reproducible; each ln input is one exact-integer ratio. A zero
  * factor (n_t = d_t — everyone at risk dies) CANNOT enter the log:
  * DuckDB's ln(0) is a hard error and Spark's is NULL, so both sides
  * route through an explicit running any-zero flag that pins S(t) = 0
  * from that step on. The fence is round(…,6); the residual
  * cross-engine surface is a libm-vs-JVM last-ulp difference in
  * ln/exp landing within ulp-distance of a rounding boundary —
  * audited at the three gate SFs: min distance of S·10⁶ to a .5
  * boundary is 1.7·10⁻¹ / 6.9·10⁻³ / 6.7·10⁻⁴ (sf0.001/0.01/0.1),
  * ≥10⁵× the ~10⁻⁹ worst-case accumulated ulp drift (the
  * geoRadiusJoin margin convention; re-audit when fixtures change).
  *
  * Scale shape: one corpus exchange (the per-user min/max fold); the
  * KM table is |lifetimes|-keyed (≤ |days| rows — model-sized), its
  * at-risk suffix sums and the cumulative log-sum are windows over
  * that model-sized table. 100 TB of events → one agg, then arithmetic
  * on ≤ a few thousand rows.
  *
  * == rel_abc_analysis ==
  * Parts ranked by exact revenue cents (l_extendedprice is a 2-decimal
  * value; ×100 + round is exact BIGINT in both engines), class A while
  * the PRIOR cumulative share is < 4/5, B while < 19/20, else C (the
  * cuts are cross-multiplied integer comparisons, see the body) —
  * "prior share" (share BEFORE this part) makes the boundary part land
  * in the class it completes, the textbook first-crossing rule, and
  * keeps the test pure-integer. Output: per class, part count, revenue
  * cents, share. The ranking window runs single-partition over |parts|
  * — the PART DIM, not the fact stream (the rel_pagerank final-window
  * convention: dim-sized global sorts are the honest cost of a global
  * concentration ranking; the corpus-sized work is the one revenue
  * agg, map-side partial).
  */
object Survival {

  private val ChurnHours = 12
  private val Micro = 1000000L

  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    // Persisted: the corpus-edge fold and the subject table both
    // consume it; without the persist each consumer re-pays the
    // corpus-sized user collapse.
    val perUser = Tables.load(spark, dir, "events")
      .select(col("user_id").as("u"), col("ts").cast("long").as("sec"))
      .groupBy(col("u"))
      .agg(min(col("sec")).as("birth"), max(col("sec")).as("last"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // One more model-sized fold for the corpus edge; broadcast back.
    val maxTs = broadcast(perUser.agg(max(col("last")).as("maxs")))
    val subjects = perUser.crossJoin(maxTs)
      .select(col("u"),
        (col("maxs") - col("last") > ChurnHours * 3600L).as("dead"),
        when(col("maxs") - col("last") > ChurnHours * 3600L,
          expr("(last - birth) div 3600"))
          .otherwise(expr("(maxs - birth) div 3600"))
          .cast("long").as("lt"))
    val km = subjects.groupBy(col("lt"))
      .agg(sum(when(col("dead"), 1L).otherwise(0L)).as("d"),
        sum(when(col("dead"), 0L).otherwise(1L)).as("c"))
    // n_t = suffix sum of (d+c) over lifetimes ≥ t; S via the running
    // log-sum with the explicit zero-factor flag (ln(0) is an ERROR in
    // DuckDB and NULL in Spark — it must never be evaluated).
    val suffix = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = Window.orderBy(col("lt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km.withColumn("n", sum(col("d") + col("c")).over(suffix))
      .withColumn("zero", max(when(col("n") === col("d"), 1).otherwise(0)).over(run))
      .withColumn("lnterm",
        when(col("d") === 0, lit(0.0)).otherwise(
          when(col("n") > col("d"),
            log((col("n") - col("d")).cast("double") / col("n")))
            .otherwise(lit(0.0))))
      .withColumn("survival",
        when(col("zero") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("lnterm")).over(run)), 6)))
      .select(col("lt").as("lifetime_hours"), col("n").as("n_risk"),
        col("d").as("n_deaths"), col("c").as("n_censored"),
        col("survival"))
  }

  val kaplanMeierSql: String =
    s"""WITH pu AS (
       |  SELECT user_id AS u,
       |         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS birth,
       |         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(last) AS maxs FROM pu),
       |subj AS (
       |  SELECT u, maxs - last > ${ChurnHours * 3600L} AS dead,
       |    CAST(CASE WHEN maxs - last > ${ChurnHours * 3600L}
       |         THEN (last - birth) // 3600
       |         ELSE (maxs - birth) // 3600 END AS BIGINT) AS lt
       |  FROM pu CROSS JOIN mx),
       |km AS (
       |  SELECT lt,
       |    CAST(SUM(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(CASE WHEN dead THEN 0 ELSE 1 END) AS BIGINT) AS c
       |  FROM subj GROUP BY 1),
       |n AS (
       |  SELECT *, CAST(SUM(d + c) OVER (ORDER BY lt DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
       |  FROM km),
       |z AS (
       |  SELECT *,
       |    MAX(CASE WHEN n = d THEN 1 ELSE 0 END) OVER (ORDER BY lt ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zero,
       |    CASE WHEN d = 0 THEN 0.0
       |         WHEN n > d THEN ln(CAST(n - d AS DOUBLE) / n)
       |         ELSE 0.0 END AS lnterm
       |  FROM n)
       |SELECT lt AS lifetime_hours, n AS n_risk, d AS n_deaths,
       |  c AS n_censored,
       |  CASE WHEN zero = 1 THEN 0.0
       |       ELSE round(exp(SUM(lnterm) OVER (ORDER BY lt ASC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END
       |    AS survival
       |FROM z""".stripMargin

  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    // Persisted: the total fold and the ranking both consume the
    // per-part collapse (and tot is cross-joined twice).
    val rev = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey").as("p"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy(col("p")).agg(sum(col("cents")).as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.orderBy(col("cents").desc, col("p").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = broadcast(rev.agg(sum(col("cents")).as("tot")))
    // Class cuts via CROSS-MULTIPLIED integer comparisons, never
    // `10⁶ · cum` (the 10× harness caught the overflow: total cents
    // ×10⁶ clears 2⁶³ already one decade past sf0.1): prior/tot < 4/5
    // ⇔ prior·5 < tot·4, and < 19/20 ⇔ prior·20 < tot·19 — safe while
    // total cents < 4.6·10¹⁷ ($4.6 quadrillion). The output share
    // goes through DECIMAL(38,0) `div` (Spark returns LONG; the
    // oracle's HUGEINT `//` is the same floor).
    rev.crossJoin(tot)
      .withColumn("cum", sum(col("cents")).over(w))
      .withColumn("prior", col("cum") - col("cents"))
      .withColumn("cls",
        when(col("prior") * 5 < col("tot") * 4, "A")
          .when(col("prior") * 20 < col("tot") * 19, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("revenue_cents"))
      .crossJoin(tot)
      .select(col("cls").as("abc_class"), col("n_parts"),
        col("revenue_cents"),
        expr(s"CAST((CAST(revenue_cents AS DECIMAL(38,0)) * $Micro) div tot AS BIGINT)")
          .as("share_micro"))
  }

  val abcAnalysisSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey AS p,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev),
       |cum AS (
       |  SELECT p, cents,
       |    CAST(SUM(cents) OVER (ORDER BY cents DESC, p ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM rev),
       |cls AS (
       |  SELECT p, cents,
       |    CASE WHEN (cum - cents) * 5 < tot.tot * 4 THEN 'A'
       |         WHEN (cum - cents) * 20 < tot.tot * 19 THEN 'B'
       |         ELSE 'C' END AS cls
       |  FROM cum CROSS JOIN tot)
       |SELECT cls AS abc_class, COUNT(*) AS n_parts,
       |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       |  CAST(($Micro::HUGEINT * CAST(SUM(cents) AS BIGINT)) // tot.tot AS BIGINT)
       |    AS share_micro
       |FROM cls CROSS JOIN tot GROUP BY cls, tot.tot""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("evt_survival", kaplanMeier, kaplanMeierSql),
    Entry("rel_abc_analysis", abcAnalysis, abcAnalysisSql))
}
