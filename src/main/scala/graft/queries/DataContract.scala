package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Declarative data-quality contract over the orders feed — the
  * Deequ/dbt-test pipeline stage (Schelter et al., VLDB 2018,
  * "Automating large-scale data quality verification"): a landing batch
  * is admitted to the lake only if every declared constraint holds, and
  * the verdict artifact IS a query result (per-constraint metric +
  * pass), so the cadence driver can gate a [[graft.LakeCommit]] on it.
  *
  * Constraint set (one row each; every metric is the FRACTION of
  * compliant rows, threshold 1.0, so the verdict rule is uniform):
  * completeness (o_custkey non-null), key uniqueness (distinct
  * o_orderkey / rows), value positivity (o_totalprice > 0), accepted
  * set (o_orderstatus ∈ {O, F, P}), date sanity (o_orderdate inside
  * [1990, 2100)), and referential integrity (o_custkey resolves in
  * customer).
  *
  * Scale shape — the Deequ core idea, scan sharing: ALL row-level
  * analyzers fuse into ONE aggregate over a single pass of the fact
  * (six counters in the same partial agg, map-side collapsed);
  * uniqueness rides the same scan as a two-phase distinct; referential
  * integrity is the one keyed step — a LEFT join against the DISTINCT
  * dim keys (row-count preserving by construction, broadcast at dim
  * size, AQE's choice beyond) feeding the same fused aggregate. Output
  * is |constraints| rows at any corpus size. The naive form — one scan
  * per metric, the thing Deequ exists to avoid — would pay 6 corpus
  * passes.
  *
  * Determinism: fractions go through the floor(x·1e6+0.5)/1e6 fence
  * (the catalog halves rule); pass compares the FENCED metric, so both
  * engines decide from identical doubles. */
object DataContract {

  private def fence(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  def dataContract(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey")).distinct()
    val joined = o.join(cust, o("o_custkey") === cust("c_custkey"), "left")
    def frac(ok: Column): Column =
      fence(sum(when(ok, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"))
    val m = joined.agg(
      count(lit(1)).as("n"),
      frac(col("o_custkey").isNotNull).as("complete_custkey"),
      fence(countDistinct(col("o_orderkey")).cast("double") /
        count(lit(1)).cast("double")).as("unique_orderkey"),
      frac(coalesce(col("o_totalprice") > 0, lit(false))).as("positive_totalprice"),
      frac(col("o_orderstatus").isin("O", "F", "P")).as("accepted_status"),
      frac(col("o_orderdate") >= lit("1990-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("2100-01-01").cast("timestamp"))
        .as("orderdate_in_range"),
      frac(col("c_custkey").isNotNull).as("ri_custkey"))
    val names = Seq("complete_custkey", "unique_orderkey", "positive_totalprice",
      "accepted_status", "orderdate_in_range", "ri_custkey")
    m.select(col("n"), explode(array(names.map(c =>
        struct(lit(c).as("check_name"), col(c).as("metric"))): _*)).as("r"))
      .select(col("r.check_name").as("check_name"), col("r.metric").as("metric"),
        lit(1.0).as("threshold"), (col("r.metric") >= 1.0).as("pass"), col("n"))
  }

  val dataContractSql: String =
    """WITH j AS (
      |  SELECT o.*, c.c_custkey AS ck
      |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |    ON o.o_custkey = c.c_custkey),
      |m AS (SELECT COUNT(*) AS n,
      |  floor(CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS complete_custkey,
      |  floor(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS unique_orderkey,
      |  floor(CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS positive_totalprice,
      |  floor(CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS accepted_status,
      |  floor(CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01'
      |    AND o_orderdate < TIMESTAMP '2100-01-01' THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS orderdate_in_range,
      |  floor(CAST(SUM(CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS ri_custkey
      |  FROM j)
      |SELECT u.check_name, u.metric, 1.0 AS threshold, u.metric >= 1.0 AS pass, m.n
      |FROM m, LATERAL (VALUES
      |  ('complete_custkey', complete_custkey),
      |  ('unique_orderkey', unique_orderkey),
      |  ('positive_totalprice', positive_totalprice),
      |  ('accepted_status', accepted_status),
      |  ('orderdate_in_range', orderdate_in_range),
      |  ('ri_custkey', ri_custkey)) AS u(check_name, metric)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("ing_data_contract", dataContract, dataContractSql))
}
