package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Audience overlap between event types via K-minimum-values (theta)
  * sketches — the SET-INTERSECTION estimate that completes the sketch
  * family: HLL ([[Relational]] rel_approx_distinct) unions cheaply but
  * fundamentally cannot intersect; KMV samples compose under BOTH union
  * and (via inclusion-exclusion) intersection (Bar-Yossef et al. 2002;
  * the DataSketches theta-sketch production shape). The analytics
  * question is the Kibana/ES audience panel: "how many users both
  * viewed AND purchased?" at 100 TB, where the exact distinct-join is
  * the expensive path and the sketch is the serving path.
  *
  * Per type: the K=256 smallest 60-bit md5 hashes of the distinct user
  * set (row_number window, ties broken by user_id). Estimator:
  * `(K−1)·M / h_K` (M = 2⁶⁰) when the sample is full, the EXACT sample
  * size when not (a type with < K users is censused, not estimated).
  * Pair union: the K smallest distinct hashes of the two samples'
  * union — valid because each sample contains every hash of its set up
  * to its own θ ≥ the combined h'_K. Intersection by inclusion-
  * exclusion, clamped at 0.
  *
  * The catalog entry also computes the exact overlap (the distinct
  * user-keyed self-join) and a `within_band` verdict at 3.5×rsd of the
  * UNION estimate (rsd = 1/√(K−2) ≈ 6.3%; inclusion-exclusion error
  * scales with the union, not the intersection — band documented and
  * fixture-validated at the three gate SFs, the HLL-verdict convention;
  * a 100 TB caller drops the exact half and keeps the sketch).
  *
  * Determinism: hashes are md5-derived integers (identical in DuckDB),
  * sample membership is integer-ordered, and every float step is a
  * pinned scalar sequence per pair (two divisions, fenced round(…,6))
  * mirrored verbatim in the oracle. Scale shape: one (type,user)
  * distinct collapse, one per-type WindowGroupLimit top-K (sample =
  * |types|·K rows — model-sized forever after), one user-keyed join
  * for the exact side; the sketch path never rescans the corpus.
  */
object AudienceOverlap {

  private val K = 256
  private val M = 1152921504606846976L // 2^60

  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // ud feeds BOTH the sketch path and the exact path, and samples
    // feeds three consumers (per-type estimates, the type dim, the pair
    // union) — persist both or each consumer re-pays the corpus
    // distinct + top-K window (the unpersisted plan carried 13
    // exchanges; ud is the collapsed |users×types| set, far smaller
    // than the event stream, and samples is |types|·K rows).
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ud = Tables.load(spark, dir, "events")
      .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      .persist(sl)
    val hashed = ud.select(col("t"), col("u"),
      expr("cast(conv(substring(md5(cast(u as string)), 1, 15), 16, 10) as bigint)").as("h"))
    val wT = Window.partitionBy(col("t")).orderBy(col("h").asc, col("u").asc)
    val samples = hashed
      .withColumn("rn", row_number().over(wT))
      .filter(col("rn") <= K)
      .select(col("t"), col("h"))
      .persist(sl)

    def estCol(n: Column, hk: Column): Column =
      when(n < K, n.cast("double"))
        .otherwise(round(lit((K - 1).toDouble * M.toDouble) / hk.cast("double"), 6))

    val typeEst = samples.groupBy(col("t"))
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(col("t"), estCol(col("n"), col("hk")).as("est"))

    val types = samples.select(col("t")).distinct()
    val pairs = types.select(col("t").as("ta"))
      .join(types.select(col("t").as("tb")), col("ta") < col("tb"))

    // union sample per pair: K smallest distinct hashes of Sa ∪ Sb
    val wP = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h").asc)
    val unionEst = pairs
      .join(samples, col("t") === col("ta") || col("t") === col("tb"))
      .select(col("ta"), col("tb"), col("h")).distinct()
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= K)
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("nu"), max(col("h")).as("hku"))
      .select(col("ta"), col("tb"), estCol(col("nu"), col("hku")).as("est_union"))

    val exact = ud.select(col("t").as("ta"), col("u"))
      .join(ud.select(col("t").as("tb"), col("u")), "u")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("exact_overlap"))

    val ea = typeEst.select(col("t").as("ta"), col("est").as("est_a"))
    val eb = typeEst.select(col("t").as("tb"), col("est").as("est_b"))
    // LEFT join + coalesce on the exact side: a pair with ZERO true
    // overlap has no row in the exact join at all, and an inner join
    // would silently drop exactly the pairs where the sketch's
    // clamp-at-0 behavior matters most (caught by the planted
    // disjoint-audience matrix in AudienceOverlapSpec).
    unionEst.join(broadcast(ea), "ta").join(broadcast(eb), "tb")
      .join(broadcast(exact), Seq("ta", "tb"), "left")
      .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
      .select(
        col("ta").as("type_a"), col("tb").as("type_b"),
        col("exact_overlap"),
        round(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")), 6)
          .as("est_overlap"),
        round(col("est_union"), 6).as("est_union"),
        (abs(round(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")), 6)
          - col("exact_overlap").cast("double"))
          <= lit(3.5) / sqrt(lit((K - 2).toDouble)) * col("est_union")).as("within_band"))
  }

  val audienceOverlapSql: String = {
    val est = (n: String, hk: String) =>
      s"CASE WHEN $n < $K THEN CAST($n AS DOUBLE) ELSE round(CAST(${(K - 1).toLong} AS DOUBLE) * CAST($M AS DOUBLE) / CAST($hk AS DOUBLE), 6) END"
    s"""WITH ud AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
       |hh AS (SELECT t, u, ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))::BIGINT AS h FROM ud),
       |sm AS (SELECT t, h FROM (
       |    SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h ASC, u ASC) AS rn
       |    FROM hh) WHERE rn <= $K),
       |te AS (SELECT t, ${est("COUNT(*)", "MAX(h)")} AS est
       |       FROM sm GROUP BY t),
       |ty AS (SELECT DISTINCT t FROM sm),
       |pr AS (SELECT a.t AS ta, b.t AS tb FROM ty a JOIN ty b ON a.t < b.t),
       |un AS (SELECT ta, tb, ${est("COUNT(*)", "MAX(h)")} AS est_union FROM (
       |    SELECT ta, tb, h, row_number() OVER (PARTITION BY ta, tb ORDER BY h ASC) AS rn
       |    FROM (SELECT DISTINCT pr.ta, pr.tb, sm.h
       |          FROM pr JOIN sm ON sm.t = pr.ta OR sm.t = pr.tb))
       |  WHERE rn <= $K GROUP BY ta, tb),
       |ex AS (SELECT a.t AS ta, b.t AS tb, COUNT(*) AS exact_overlap
       |       FROM ud a JOIN ud b ON a.u = b.u AND a.t < b.t
       |       GROUP BY 1, 2)
       |SELECT un.ta AS type_a, un.tb AS type_b,
       |  COALESCE(ex.exact_overlap, 0) AS exact_overlap,
       |  round(greatest(0.0, ea.est + eb.est - un.est_union), 6) AS est_overlap,
       |  round(un.est_union, 6) AS est_union,
       |  (abs(round(greatest(0.0, ea.est + eb.est - un.est_union), 6)
       |     - CAST(COALESCE(ex.exact_overlap, 0) AS DOUBLE))
       |   <= 3.5 / sqrt(CAST(${(K - 2).toLong} AS DOUBLE)) * un.est_union) AS within_band
       |FROM un
       |JOIN te ea ON ea.t = un.ta
       |JOIN te eb ON eb.t = un.tb
       |LEFT JOIN ex ON ex.ta = un.ta AND ex.tb = un.tb""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("evt_audience_overlap", audienceOverlap, audienceOverlapSql))
}
