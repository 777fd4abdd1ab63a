package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Elasticsearch aggregation-pipeline parity (§2 serving surface): the
  * Kibana dashboard shapes the reference delegates to ES that are not
  * yet first-class catalog entries —
  *
  *  - `geo_centroid` / `geo_bounds` (ES geo aggs rendered on the world
  *    maps, reference README.md:22-28, mapping.py:12 geo_point);
  *  - `date_histogram` with `min_doc_count: 0` (Kibana time charts draw
  *    EMPTY buckets — a plain groupBy silently drops them);
  *  - `composite` aggregation `after`-key pagination (ES's only
  *    scale-safe way to page over a high-cardinality terms agg);
  *  - `percentile_ranks` (inverse-CDF twin of the percentiles agg the
  *    catalog already has as evt_percentiles).
  *
  * Cross-engine float discipline (the catalog convention,
  * Relational.scala:16): no double ever enters a multi-row fold — sums
  * run over exact integers / DECIMAL(18,2), and every double is produced
  * by a PINNED single-expression op sequence mirrored verbatim in the
  * DuckDB oracle, so fold order can never drift the hash.
  */
object EsAggs {

  // ---------------------------------------------------------------- geo

  /** ES `geo_centroid` + `geo_bounds` per group (nation), over the same
    * deterministic synthetic lat/lon domain as geo_cell_agg — kept in
    * integer TENTHS of a degree through the fold so the group sums are
    * exact longs; the only doubles are one pinned division each at the
    * end. At 100 TB this is a single partial-aggregatable groupBy: the
    * map side collapses to one (sum, min, max, count) row per
    * (partition, nation) before the exchange. */
  def geoCentroid(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val latT = (col("c_custkey") * 37 % 1700 - 850).cast("long")
    val lonT = (col("c_custkey") * 73 % 3500 - 1750).cast("long")
    cust
      .select(col("c_nationkey"), latT.as("lat_t"), lonT.as("lon_t"))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("lat_t")).as("slat"), sum(col("lon_t")).as("slon"),
        min(col("lat_t")).as("min_lat_t"), max(col("lat_t")).as("max_lat_t"),
        min(col("lon_t")).as("min_lon_t"), max(col("lon_t")).as("max_lon_t"))
      .select(
        col("c_nationkey"), col("n"),
        (col("slat").cast("double") / 10.0 / col("n").cast("double")).as("centroid_lat"),
        (col("slon").cast("double") / 10.0 / col("n").cast("double")).as("centroid_lon"),
        (col("min_lat_t").cast("double") / 10.0).as("min_lat"),
        (col("max_lat_t").cast("double") / 10.0).as("max_lat"),
        (col("min_lon_t").cast("double") / 10.0).as("min_lon"),
        (col("max_lon_t").cast("double") / 10.0).as("max_lon"))
  }

  val geoCentroidSql: String =
    """WITH t AS (SELECT c_nationkey,
      |    CAST(c_custkey * 37 % 1700 - 850 AS BIGINT) AS lat_t,
      |    CAST(c_custkey * 73 % 3500 - 1750 AS BIGINT) AS lon_t
      |  FROM customer),
      |g AS (SELECT c_nationkey, COUNT(*) AS n,
      |    SUM(lat_t) AS slat, SUM(lon_t) AS slon,
      |    MIN(lat_t) AS min_lat_t, MAX(lat_t) AS max_lat_t,
      |    MIN(lon_t) AS min_lon_t, MAX(lon_t) AS max_lon_t
      |  FROM t GROUP BY 1)
      |SELECT c_nationkey, n,
      |  CAST(slat AS DOUBLE) / 10.0 / CAST(n AS DOUBLE) AS centroid_lat,
      |  CAST(slon AS DOUBLE) / 10.0 / CAST(n AS DOUBLE) AS centroid_lon,
      |  CAST(min_lat_t AS DOUBLE) / 10.0 AS min_lat,
      |  CAST(max_lat_t AS DOUBLE) / 10.0 AS max_lat,
      |  CAST(min_lon_t AS DOUBLE) / 10.0 AS min_lon,
      |  CAST(max_lon_t AS DOUBLE) / 10.0 AS max_lon
      |FROM g""".stripMargin

  // ---------------------------------------------- dense date histogram

  /** ES `date_histogram` with `min_doc_count: 0`: month buckets per
    * order status, INCLUDING (status, month) cells with no orders —
    * the Kibana time chart draws zero bars; a bare groupBy would drop
    * them. The month spine is the CONTINUOUS min..max calendar range
    * (ES's bounds = the data extent, every bucket in between emitted
    * even if no document anywhere lands in it), generated from a
    * one-row min/max fold via `sequence(lo, hi, interval 1 month)` —
    * at 100 TB the spine is O(statuses x months), i.e. constant, and
    * both joins below it broadcast. Status 'P' exists for only ~1 of
    * the 7 order years, so the fill is exercised (non-vacuous) at
    * every SF.
    *
    * A server-chosen `[from, to]` day slice is the Kibana "last 7
    * days" range applied ENGINE-side: the bounds land on the raw
    * `o_orderdate` scan column BEFORE the aggregate, so they reach the
    * parquet reader as PushedFilters (row groups outside the range are
    * never decoded; on a date-partitioned 100 TB lake this is partition
    * pruning). The month spine recomputes from the SLICED
    * extent, so the dense fill stays within the requested window. */
  def histogramDense(spark: SparkSession, dir: String,
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame = {
    val base = Tables.load(spark, dir, "orders")
    val sliced = Seq(
      from.map(d => col("o_orderdate") >= lit(java.sql.Date.valueOf(d))),
      to.map(d => col("o_orderdate") <= lit(java.sql.Date.valueOf(d))))
      .flatten.foldLeft(base)(_.filter(_))
    val o = sliced.select(
      col("o_orderstatus").as("st"),
      // String buckets per the catalog's date-output convention
      // (Relational.dateHistogram): parquet DATE vs DuckDB datetime64
      // round-trip differently through the driver's pandas compare.
      date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
      col("o_totalprice"))
    val counts = o.groupBy(col("st"), col("mon")).agg(
      count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_d"))
    // Continuous month range: one-row bounds fold -> sequence() ->
    // explode; a distinct() over observed months would drop calendar
    // months with zero orders across ALL statuses.
    val months = o
      .agg(expr("min(to_date(mon || '-01'))").as("lo"),
        expr("max(to_date(mon || '-01'))").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("mon"))
    val spine = o.select(col("st")).distinct().crossJoin(broadcast(months))
    spine.join(counts, Seq("st", "mon"), "left")
      .select(
        col("st"), col("mon"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("rev_d"), lit(0).cast("decimal(18,2)"))
          .cast("double").as("rev"))
  }

  val histogramDenseSql: String =
    """WITH o AS (SELECT o_orderstatus AS st,
      |    strftime(o_orderdate, '%Y-%m') AS mon,
      |    o_totalprice FROM orders),
      |c AS (SELECT st, mon, COUNT(*) AS n,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d
      |  FROM o GROUP BY 1, 2),
      |mr AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
      |    date_trunc('month', max(o_orderdate)) AS hi FROM orders),
      |months AS (SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)),
      |    '%Y-%m') AS mon FROM mr),
      |spine AS (SELECT st, mon
      |  FROM (SELECT DISTINCT st FROM o) CROSS JOIN months)
      |SELECT spine.st, spine.mon,
      |  COALESCE(n, 0) AS n,
      |  CAST(COALESCE(rev_d, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM spine LEFT JOIN c ON spine.st = c.st AND spine.mon = c.mon""".stripMargin

  // ------------------------------------------- composite-after paging

  /** ES `composite` aggregation with an `after` key: page 10 of the
    * (priority, custkey) terms agg starting after ('3-MEDIUM', 750).
    * The scale property ES invented composite for: the keyset predicate
    * is on RAW grouping columns, so it applies BELOW the aggregate and
    * reaches the parquet scan as a pushed filter — page N costs the
    * same as page 1, unlike OFFSET pagination which recomputes and
    * discards N-1 pages. Verified in PlanInvariantSpec: the scan's
    * PushedFilters carries the priority bound. */
  def compositeAfter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val afterK1 = "3-MEDIUM"
    val afterK2 = 750L
    o.filter(col("o_orderpriority") > afterK1 ||
        (col("o_orderpriority") === afterK1 && col("o_custkey") > afterK2))
      .groupBy(col("o_orderpriority"), col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
      .orderBy(col("o_orderpriority"), col("o_custkey"))
      .limit(10)
  }

  val compositeAfterSql: String =
    """SELECT o_orderpriority, o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |FROM orders
      |WHERE o_orderpriority > '3-MEDIUM'
      |   OR (o_orderpriority = '3-MEDIUM' AND o_custkey > 750)
      |GROUP BY 1, 2
      |ORDER BY 1, 2
      |LIMIT 10""".stripMargin

  // ---------------------------------------------- percentile ranks

  /** ES `percentile_ranks`: per event type, the share of values at or
    * below each fixed threshold — the inverse CDF twin of
    * evt_percentiles. One partial-aggregatable groupBy (conditional
    * counts are sums of 0/1 longs); each rank is a pinned
    * divide-then-scale over exact counts, so the doubles are
    * bit-reproducible on both engines. */
  def percentileRanks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    def le(t: Double) = count(when(col("value") <= t, 1))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        le(10.0).as("c10"), le(50.0).as("c50"), le(200.0).as("c200"))
      .select(
        col("event_type"), col("n"),
        (col("c10").cast("double") / col("n").cast("double") * 100.0).as("rank_10"),
        (col("c50").cast("double") / col("n").cast("double") * 100.0).as("rank_50"),
        (col("c200").cast("double") / col("n").cast("double") * 100.0).as("rank_200"))
  }

  val percentileRanksSql: String =
    """WITH g AS (SELECT event_type, COUNT(*) AS n,
      |    COUNT(*) FILTER (value <= 10.0) AS c10,
      |    COUNT(*) FILTER (value <= 50.0) AS c50,
      |    COUNT(*) FILTER (value <= 200.0) AS c200
      |  FROM events GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(c10 AS DOUBLE) / CAST(n AS DOUBLE) * 100.0 AS rank_10,
      |  CAST(c50 AS DOUBLE) / CAST(n AS DOUBLE) * 100.0 AS rank_50,
      |  CAST(c200 AS DOUBLE) / CAST(n AS DOUBLE) * 100.0 AS rank_200
      |FROM g""".stripMargin

  /** ES numeric `histogram` aggregation (the non-date Kibana bar
    * chart): equi-width interval buckets over order totals — bucket
    * key = floor(price / 25000)·25000, count, DECIMAL-fenced revenue,
    * exact min/max per bucket. floor of one double division is
    * deterministic on both engines (no accumulation), and min/max are
    * selections, not folds — so the only fold is the decimal sum.
    * One partial-aggregatable groupBy; bucket count is bounded by the
    * value range, not the corpus. */
  def histogramNumeric(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val bucket = (floor(col("o_totalprice") / 25000.0).cast("long") * 25000L).as("bucket")
    o.groupBy(bucket)
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  val histogramNumericSql: String =
    """SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) * 25000 AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      |FROM orders GROUP BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("rel_histogram_numeric", histogramNumeric, histogramNumericSql),
    Entry("geo_centroid", geoCentroid, geoCentroidSql),
    Entry.sliced("rel_histogram_dense", histogramDense, histogramDenseSql),
    Entry("rel_composite_after", compositeAfter, compositeAfterSql),
    Entry("evt_percentile_ranks", percentileRanks, percentileRanksSql))
}
