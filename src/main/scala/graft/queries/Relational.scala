package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Core relational operator surface (SURVEY.md §2.4-§2.9): filters, joins
  * (broadcast-dim / fact-fact / semi / anti), hash aggregation, rollup,
  * windows, top-k, set ops — each paired with ANSI SQL for the DuckDB
  * oracle.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - money sums go through DECIMAL(18,2) so the aggregate is exact and
  *    order-independent, then ONE cast to DOUBLE on both engines;
  *  - no raw TimestampType in outputs — DATE or formatted strings only
  *    (Spark writes instants as UTC-adjusted parquet, DuckDB returns naive
  *    timestamps; DATE/strings are unambiguous);
  *  - every top-k / window ordering carries a unique tiebreaker key.
  *
  * Reference shapes: aggregations A1/A3/A4/A5/A6 (SURVEY §2.6, from
  * README.md:22-28 Kibana dashboards), joins J1/J2 (insert_owid.py:255-277
  * dim lookup), sorts O1-O3 (crawl_google_news.py:75, SearchUI.js:51).
  */
object Relational {

  private val dec = DecimalType(18, 2)

  /** TPC-H Q1 shape — grouped counter sums, the A1 "world map totals"
    * aggregation (reference: Kibana maps colored by confirmed/vaccinated,
    * README.md:22-28). Hash agg with partial aggregation map-side. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    val price = $"l_extendedprice".cast(dec)
    val disc = $"l_discount".cast(dec)
    val tax = $"l_tax".cast(dec)
    li.groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (lit(1).cast(dec) - disc)).cast("double").as("sum_disc_price"),
        sum(price * (lit(1).cast(dec) - disc) * (lit(1).cast(dec) + tax))
          .cast("double").as("sum_charge"),
        (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        (sum(disc).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  SUM(l_quantity) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + predicate pushdown to the parquet scan (SURVEY §2.4 F1
    * validity-filter shape; Catalyst pushes both into the FileScan). */
  def filterScan(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    li.filter($"l_shipdate" >= lit("1997-01-01") && $"l_shipdate" < lit("1998-01-01")
        && $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice",
        date_format($"l_shipdate", "yyyy-MM-dd").as("ship_date"))
  }

  val filterScanSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q6 shape — single-row global aggregate over a pushed filter. */
  def revenueAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    li.filter($"l_shipdate" >= lit("1997-01-01") && $"l_shipdate" < lit("1998-01-01")
        && $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .agg(
        sum($"l_extendedprice".cast(dec) * $"l_discount".cast(dec))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val revenueAggSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Broadcast dim join chain (J1, insert_owid.py:255-277's name→geo
    * lookup re-expressed): fact ⋈ broadcast(nation) ⋈ broadcast(region),
    * then grouped counters + exact avg. At 100 TB the dims stay broadcast
    * (25 / 5 rows); only the customer scan is distributed. */
  def dimJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    import spark.implicits._
    cust
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        (sum($"c_acctbal".cast(dec)).cast("double") / count(lit(1))).as("avg_acctbal"))
  }

  val dimJoinAggSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** Fact-fact shuffle join (orders ⋈ lineitem on orderkey) + grouped
    * revenue. lineitem is PRE-AGGREGATED per order before the join, so
    * the join is 1:1 and the "distinct orders" count is a plain count —
    * no expand/dedup of a multiplied join output (the r1 plan spent its
    * time in exactly that countDistinct expand). At scale both sides
    * hash-partition on the order key; AQE handles skew. */
  def factFactJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    val perOrder = li.groupBy($"l_orderkey")
      .agg(
        count(lit(1)).as("items_o"),
        sum($"l_extendedprice".cast(dec) * (lit(1).cast(dec) - $"l_discount".cast(dec)))
          .as("rev_o"))
    ord.join(perOrder, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"items_o").as("n_items"),
        sum($"rev_o").cast("double").as("revenue"))
  }

  val factFactJoinSql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Left-semi join — the J2 "only rows with a resolved dim match" shape
    * (parse_insert.py:108-110 drops unresolved locations). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    cust.join(ord.filter($"o_orderstatus" === "F"),
        $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
  }

  val semiJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |GROUP BY c_mktsegment""".stripMargin

  /** Left-anti join — the QA query for unmatched keys (SURVEY §2.5:
    * parse_insert.py:90-92 logs geocode misses). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    cust.join(ord.filter($"o_totalprice" > 300000),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  /** Top-k with deterministic tiebreak — A4 "latest N" (README.md:22-24
    * latest-news panel; SearchUI.js:51 page size). Physical plan:
    * TakeOrderedAndProject (per-partition partial top-k, then merge). */
  def topkOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    ord.orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .limit(10)
  }

  val topkOrdersSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Last-row-per-group via row_number window — A5 "current totals per
    * location given validity interval" (SURVEY §2.6). */
  def lastOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    ord.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"))
  }

  val lastOrderPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders) WHERE rn = 1""".stripMargin

  /** Running cumulative sum per group — SURVEY §2.7 "cumulative from
    * deltas" (the OWID daily-delta inverse, insert_owid.py:39).
    *
    * The window order ends on `l_quantity`: the synthetic sf0.1 lineitem
    * carries a duplicate (suppkey, shipdate, orderkey, linenumber) pair
    * with DIFFERENT quantities, and a ROWS running sum over a tied order
    * is engine-scheduling-dependent (DuckDB's parallel window broke the
    * tie differently run to run — a once-per-several-runs hash flake).
    * With quantity as the final key the order is value-unique; rows tied
    * on ALL keys are full duplicates whose running totals coincide as a
    * set, so the output is deterministic on both engines either way. */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select($"l_suppkey", $"l_orderkey", $"l_linenumber",
      sum($"l_quantity").over(w).cast("long").as("running_qty"))
  }

  val runningSumSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(SUM(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
      |FROM lineitem""".stripMargin

  /** RANGE-framed sliding window (vs the ROWS frames elsewhere): per
    * supplier, quantity shipped in the 30 calendar days up to each
    * shipment — a value-based frame, so gaps in the date sequence are
    * handled by the frame bound, not row offsets. */
  def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    val dayNum = datediff($"l_shipdate".cast("date"), lit("1990-01-01").cast("date"))
    val w = Window.partitionBy($"l_suppkey").orderBy(dayNum)
      .rangeBetween(-30, 0)
    li.filter($"l_suppkey" % 50 === 0)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        dayNum.as("day_num"),
        sum($"l_quantity").over(w).cast("long").as("qty_30d"))
  }

  val rangeWindowSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, day_num,
      |  CAST(SUM(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY day_num
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS qty_30d
      |FROM (SELECT *, datediff('day', DATE '1990-01-01', l_shipdate::DATE) AS day_num
      |      FROM lineitem WHERE l_suppkey % 50 = 0)""".stripMargin

  /** lag() day-over-day delta — SURVEY §2.7 analytic shape. */
  def dailyDelta(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    val daily = ord.groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n"))
    // The un-partitioned window is bounded by construction: its input is
    // the per-day aggregate — one row per calendar day, a few thousand
    // rows for decades of data at ANY corpus scale — so the single
    // ordered partition never sees more than that.
    daily.withColumn("delta",
      $"n" - lag($"n", 1).over(Window.orderBy($"d")))
  }

  val dailyDeltaSql: String =
    """SELECT d, n, n - lag(n, 1) OVER (ORDER BY d) AS delta
      |FROM (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, COUNT(*) AS n
      |      FROM orders GROUP BY 1)""".stripMargin

  /** Date-histogram — A3 (Kibana time-sliced dashboards, README.md:22-28).
    * Hour buckets as formatted strings (timestamp output would be
    * UTC-adjusted parquet vs naive DuckDB). */
  def dateHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    import spark.implicits._
    ev.groupBy(
        date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00").as("hour_bucket"),
        $"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"value".cast(dec)).cast("double").as("sum_value"))
  }

  val dateHistogramSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_bucket,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** ROLLUP over the region→nation hierarchy (SURVEY §2.6 engine
    * requirement: hierarchical rollup for region→country). */
  def rollupHierarchy(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    import spark.implicits._
    cust
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"))
  }

  val rollupHierarchySql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin

  /** Arbitrary GROUPING SETS beyond the ROLLUP/CUBE hierarchies (§2.6
    * completion): the explicit set list ((priority, status),
    * (priority), ()) — the shape dashboards use when they want SOME
    * subtotal combinations but not the full cube (here: per-cell,
    * per-priority, and grand total, WITHOUT the per-status marginals a
    * cube would also compute). Same execution as rollup/cube — one
    * Expand (3 output rows per input row, vs a cube's 4) into one
    * keyed aggregation; the double total rides DECIMAL so group sums
    * are order-independent (the dateHistogram convention). */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    ord.groupingSets(
        Seq(Seq($"o_orderpriority", $"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast(dec)).cast("double").as("sum_price"))
  }

  val groupingSetsSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())""".stripMargin

  /** CUBE over two independent dimensions (§2.6: all grouping-set
    * combinations for cross-dimension dashboard totals). */
  def cubeDims(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    ord.cube($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast(dec)).cast("double").as("sum_price"))
  }

  val cubeDimsSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin

  /** EXCEPT — §2.9 set-op surface: nations with customers but no
    * LOW-key suppliers. Spark EXCEPT == SQL EXCEPT (distinct semantics).
    *
    * The supplier side is restricted to nationkey < 10 so the EXCEPT
    * provably returns rows (the 15 nations ≥ 10) at every gate SF — the
    * unrestricted form returned 0 rows at sf0.01, making the oracle
    * vacuous (any bug that also yields empty would still "pass",
    * VERDICT r12 item 2). */
  def exceptNations(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    import spark.implicits._
    cust.select($"c_nationkey".as("nationkey"))
      .except(supp.filter($"s_nationkey" < 10)
        .select($"s_nationkey".as("nationkey")))
  }

  val exceptNationsSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey AS nationkey FROM supplier WHERE s_nationkey < 10""".stripMargin

  /** INTERSECT + UNION in one plan — §2.9 (the reference's `news_*`
    * union-by-schema index patterns, SearchUI.js:6). */
  def setOpsCombo(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    import spark.implicits._
    val both = cust.select($"c_nationkey".as("nationkey"))
      .intersect(supp.select($"s_nationkey".as("nationkey")))
      .withColumn("side", lit("both"))
    val union = cust.select($"c_nationkey".as("nationkey")).distinct()
      .unionByName(supp.select($"s_nationkey".as("nationkey")).distinct())
      .distinct().withColumn("side", lit("any"))
    both.unionByName(union)
  }

  val setOpsComboSql: String =
    """SELECT nationkey, 'both' AS side FROM
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'any' AS side FROM
      |  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |   UNION SELECT DISTINCT s_nationkey FROM supplier)""".stripMargin

  /** FULL OUTER join — the one join shape the catalog lacked: two rare
    * subsets (customers above 9950 vs suppliers above 9500 acctbal per nation)
    * so BOTH null directions are genuinely exercised at both gate SFs
    * (measured: 3+5 one-sided nations at sf0.01, 1+4 at sf0.1), not
    * just planned. The USING-style key coalesces identically on both
    * engines; the side counts stay nullable in the output (both
    * engines hash NULL the same). Scale: two keyed pre-aggregations,
    * then a nation-sized join — outer joins broadcast/co-partition
    * like inner ones. */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    import spark.implicits._
    val c = cust.filter($"c_acctbal" > 9950)
      .groupBy($"c_nationkey".as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val s = supp.filter($"s_acctbal" > 9500)
      .groupBy($"s_nationkey".as("nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
  }

  val outerJoinSql: String =
    """WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
      |           FROM customer WHERE c_acctbal > 9950 GROUP BY 1),
      |s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
      |      FROM supplier WHERE s_acctbal > 9500 GROUP BY 1)
      |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, n_cust, n_supp
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""".stripMargin

  /** EXCEPT ALL / INTERSECT ALL — the BAG-semantics halves of §2.9 (the
    * distinct-semantics forms are rel_except / rel_setops_combo):
    * multiplicity matters — EXCEPT ALL keeps max(nₐ−n_b, 0) copies,
    * INTERSECT ALL min(nₐ, n_b) — which is what makes them the right
    * tool for count-preserving reconciliation (e.g. "which rows did
    * this batch lose?"). Folded to per-value counts so the output is
    * bounded; the counts ARE the semantics under test. */
  def setOpsBag(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    import spark.implicits._
    val a = ord.filter($"o_orderstatus" === "O").select($"o_orderpriority".as("p"))
    val b = ord.filter($"o_orderstatus" === "F").select($"o_orderpriority".as("p"))
    a.exceptAll(b).groupBy($"p").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
      .unionByName(
        a.intersectAll(b).groupBy($"p").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("intersect_all")))
  }

  val setOpsBagSql: String =
    """WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'),
      |b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'F')
      |SELECT p, COUNT(*) AS n, 'except_all' AS op
      |FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1
      |UNION ALL
      |SELECT p, COUNT(*) AS n, 'intersect_all' AS op
      |FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1""".stripMargin

  /** Exact distinct cardinality per group — A6 per-source stats
    * (README.md:163-165 index management). */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    li.groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  val distinctCountsSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Grid-cell bucketing — the A2 geo-grid shape (mapping.py:12 geo_point
    * → Kibana map tiles) applied to a numeric domain: floor-divide into
    * cells, aggregate per cell. */
  def gridCells(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    import spark.implicits._
    cust.groupBy(floor($"c_acctbal" / 1000).cast("long").as("cell"))
      .agg(
        count(lit(1)).as("n"),
        min($"c_acctbal").as("min_bal"),
        max($"c_acctbal").as("max_bal"))
  }

  val gridCellsSql: String =
    """SELECT CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS cell, COUNT(*) AS n,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
      |FROM customer GROUP BY 1""".stripMargin

  /** Regex field extraction + cast + bucketing — P-ops composite
    * (regexp_extract P4/P10, cast-with-default P7) over the events JSON
    * props column. */
  def regexExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    import spark.implicits._
    val k = regexp_extract($"props", "\"k\": (\\d+)", 1).cast("long")
    ev.select(coalesce(k, lit(-1L)).as("k"))
      .groupBy(floor($"k" / 10).cast("long").as("k_bucket"))
      .agg(count(lit(1)).as("n"), max($"k").as("max_k"))
  }

  val regexExtractSql: String =
    """SELECT CAST(FLOOR(k / 10) AS BIGINT) AS k_bucket, COUNT(*) AS n,
      |  MAX(k) AS max_k
      |FROM (SELECT COALESCE(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT), -1) AS k
      |      FROM events)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q3 shape — 3-way join (broadcastable dim-filtered customer ⋈
    * orders ⋈ lineitem) + grouped revenue + top-10. The mixed plan:
    * customer side broadcasts after its filter, the orders⋈lineitem
    * shuffle keys on the order key, top-k is TakeOrderedAndProject. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    cust.filter($"c_mktsegment" === "BUILDING")
      .join(ord, $"c_custkey" === $"o_custkey")
      .filter($"o_orderdate" < lit("1998-01-01"))
      .join(li, $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate" > lit("1998-01-01"))
      .groupBy($"l_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        $"o_orderpriority")
      .agg(sum($"l_extendedprice".cast(dec) * (lit(1).cast(dec) - $"l_discount".cast(dec)))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** Per-group-average comparison (the classic correlated-subquery shape,
    * decorrelated as a window): parts priced above their brand's mean. */
  def aboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    import spark.implicits._
    val w = Window.partitionBy($"p_brand")
    part
      .withColumn("brand_avg",
        sum($"p_retailprice".cast(dec)).over(w).cast("double") / count(lit(1)).over(w))
      .filter($"p_retailprice" > $"brand_avg" * 1.03)
      .select($"p_partkey", $"p_brand", $"p_retailprice",
        round($"brand_avg", 6).as("brand_avg"))
  }

  val aboveAvgSql: String =
    """SELECT p_partkey, p_brand, p_retailprice, round(brand_avg, 6) AS brand_avg
      |FROM (SELECT p_partkey, p_brand, p_retailprice,
      |        CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |          / COUNT(*) OVER w AS brand_avg
      |      FROM part
      |      WINDOW w AS (PARTITION BY p_brand))
      |WHERE p_retailprice > brand_avg * 1.03""".stripMargin

  /** HLL++ approximate distinct per group — the sketch path for A6
    * (fixed-size mergeable state; the production form at scale runs the
    * two approx aggregates ALONE). HLL estimates are implementation-specific, so
    * the sketch VALUE can't hash-compare cross-engine; instead the
    * entry emits the exact counts (oracle-checkable) plus a
    * `within_band` accuracy verdict per sketch, computed Spark-side
    * against the exact count in the same pass. The oracle recomputes
    * the exact side and asserts the verdicts literally TRUE — so an
    * HLL drift beyond the declared band turns the row red rather than
    * invisible. Band choice: approx_count_distinct's default 0.05 is a
    * RELATIVE STANDARD DEVIATION, not a guaranteed error bound, so the
    * gate uses 3x the configured rsd (15%) — a ~99.7% band under the
    * estimator's near-Gaussian error, wide enough that a new fixture
    * or gate SF can't legitimately turn the row red without an actual
    * estimator defect. Deterministic: HLL++ on the same data is
    * reproducible, so this is a stable gate, not a flake. NOTE the
    * exact countDistincts exist for the VERIFICATION encoding only —
    * this catalog entry deliberately pays the exact expand at gate SFs
    * to make the sketch's error bound hash-checkable; a 100 TB caller
    * drops them and keeps the sketch half. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    import spark.implicits._
    val band = 3 * 0.05 // 3x the default rsd of approx_count_distinct
    li.groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("exact_parts"),
        countDistinct($"l_suppkey").as("exact_supps"),
        approx_count_distinct($"l_partkey").as("ap"),
        approx_count_distinct($"l_suppkey").as("asup"))
      .select($"l_returnflag", $"exact_parts", $"exact_supps",
        (abs($"ap" - $"exact_parts").cast("double")
          <= $"exact_parts".cast("double") * band).as("parts_within_band"),
        (abs($"asup" - $"exact_supps").cast("double")
          <= $"exact_supps".cast("double") * band).as("supps_within_band"))
  }

  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_suppkey) AS exact_supps,
      |  TRUE AS parts_within_band,
      |  TRUE AS supps_within_band
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Interval (range) join, grain-bucketed: orders matched to 20
    * overlapping promo windows where the order date falls inside the
    * window. The naive formulation is a non-equi BETWEEN join — a
    * nested-loop at scale. The scale-safe shape used here: explode each
    * interval into the calendar WEEKS it covers, equi-join facts on
    * their week bucket (a normal keyed shuffle/broadcast join Catalyst
    * and AQE fully optimize), then apply BETWEEN as a residual filter.
    * Complete by construction (an in-interval date's week always lies in
    * the interval's week span); the DuckDB oracle runs the naive BETWEEN
    * join, proving the bucketed plan equivalent. Promo anchors are
    * literals, so the dim builds without touching data. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    // 10-day windows spaced 7 days apart: consecutive windows OVERLAP by
    // 3 days, so facts in the overlap match two promos — exercising the
    // multi-match behavior that distinguishes an interval join from a
    // plain equi-join.
    val promos = spark.range(20).select(
        col("id").as("promo_id"),
        date_add(lit("1995-01-01").cast("date"), (col("id") * 7).cast("int")).as("p_start"))
      .withColumn("p_end", date_add(col("p_start"), 9))
    val promoWeeks = promos.select(col("promo_id"), col("p_start"), col("p_end"),
      explode(sequence(date_trunc("week", col("p_start")).cast("date"),
        col("p_end"), expr("interval 7 days"))).as("pwk"))
    val facts = orders.select(
        col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
        col("o_totalprice"),
        date_trunc("week", col("o_orderdate")).cast("date").as("owk"))
    facts.join(promoWeeks,
        col("owk") === col("pwk") &&
          col("o_date").between(col("p_start"), col("p_end")))
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("sum_price"))
  }

  val rangeJoinSql: String =
    """WITH p AS (SELECT CAST(i AS BIGINT) AS promo_id,
      |    DATE '1995-01-01' + CAST(7*i AS INT) AS p_start,
      |    DATE '1995-01-01' + CAST(7*i + 9 AS INT) AS p_end
      |  FROM range(0, 20) t(i))
      |SELECT p.promo_id, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders o JOIN p
      |  ON CAST(o.o_orderdate AS DATE) BETWEEN p.p_start AND p.p_end
      |GROUP BY p.promo_id""".stripMargin

  /** Skew-salted join ([[graft.operators.Salting]]): lineitem ⋈ supplier
    * on suppkey with an 8-way salt on the fact side, then grouped
    * revenue. The salt never reaches the result, so the oracle is the
    * PLAIN join SQL — the correctness row proves row-equivalence of the
    * salted plan, which is the whole contract of the operator. */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_suppkey".as("suppkey"), $"l_extendedprice", $"l_discount")
    val sup = Tables.load(spark, dir, "supplier")
      .select($"s_suppkey".as("suppkey"), $"s_nationkey")
    graft.operators.Salting.saltedJoin(li, sup, "suppkey", 8)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast(dec) * (lit(1).cast(dec) - $"l_discount".cast(dec)))
          .cast("double").as("revenue"))
  }

  val saltedJoinAggSql: String =
    """SELECT s_nationkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey""".stripMargin

  /** Columns profiled by [[tableProfile]], with a per-type min/max
    * renderer so both engines format values identically: integers cast
    * plainly, doubles go through DECIMAL(18,2) (a raw double→string cast
    * diverges — Java Double.toString vs DuckDB shortest-round-trip),
    * timestamps through an explicit second-precision format. */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "o_orderkey" -> "int", "o_custkey" -> "int",
    "o_totalprice" -> "dbl", "o_orderpriority" -> "str",
    "o_orderstatus" -> "str", "o_orderdate" -> "ts")

  /** Single-scan table profiler over orders — the data-quality surface
    * every ingest audit needs (row count; per column: nulls, exact
    * distinct count, min/max): one `agg` computes all 6 columns' 4
    * metrics together, so the plan is ONE scan + the Expand that
    * multiple exact COUNT(DISTINCT)s plan to (rows duplicated per
    * distinct column, partials collapse map-side) — never a scan per
    * column. The long-format pivot afterwards is an explode over the
    * single aggregated row: driver-sized, free. At 100 TB the Expand's
    * ×6 row fan-out is the cost of EXACT distincts; swap in
    * approx_count_distinct (the [[approxDistinct]] precedent) when
    * estimates suffice. */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "orders")
    def fmt(name: String, kind: String)(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = kind match {
      case "dbl" => c.cast("decimal(18,2)").cast("string")
      case "ts" => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case _ => c.cast("string")
    }
    // String min/max buffers are VARIABLE-width, and one var-width
    // aggregation buffer forces the ENTIRE multi-distinct Expand plan
    // into SortAggregate — two sorts of the ×7-expanded rows (measured
    // ~3 s at bench SF). Splitting the two string min/maxes into their
    // own tiny pass (fixed one-row fold, no Expand, no sort needed)
    // keeps the big Expand aggregation fully hash-based; the one-row
    // results recombine with a broadcast nested-loop join that costs
    // nothing.
    val metrics = ProfileCols.flatMap { case (c, kind) =>
      val base = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"))
      val f = fmt(c, kind) _
      if (kind == "str") base
      else base ++ Seq(f(min(col(c))).as(s"mn_$c"), f(max(col(c))).as(s"mx_$c"))
    }
    val strMinMax = ProfileCols.filter(_._2 == "str").flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))
    }
    li.agg(count(lit(1)).as("n_rows"), metrics: _*)
      .crossJoin(broadcast(li.agg(strMinMax.head, strMinMax.tail: _*)))
      .select(col("n_rows"), explode(array(ProfileCols.map { case (c, _) =>
        struct(lit(c).as("column_name"), col(s"nn_$c").as("n_null"),
          col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"))
      }: _*)).as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_null"),
        col("p.n_distinct"), col("p.min_val"), col("p.max_val"))
  }

  val tableProfileSql: String = {
    def fmtSql(c: String, kind: String)(e: String): String = kind match {
      case "dbl" => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"
      case "ts" => s"strftime($e, '%Y-%m-%d %H:%M:%S')"
      case _ => s"CAST($e AS VARCHAR)"
    }
    val aggs = ProfileCols.map { case (c, kind) =>
      val f = fmtSql(c, kind) _
      s"""COUNT(*) - COUNT($c) AS nn_$c, COUNT(DISTINCT $c) AS nd_$c,
         |  ${f(s"MIN($c)")} AS mn_$c, ${f(s"MAX($c)")} AS mx_$c""".stripMargin
    }.mkString(",\n  ")
    val arms = ProfileCols.map { case (c, _) =>
      s"""SELECT '$c' AS column_name, n_rows, nn_$c AS n_null,
         |  nd_$c AS n_distinct, mn_$c AS min_val, mx_$c AS max_val FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH a AS (SELECT COUNT(*) AS n_rows,\n  $aggs\nFROM orders)\n$arms"
  }

  /** Fuzzy join at edit distance ≤ 1 — the entity-resolution join
    * (match records whose keys differ by one typo) that is NAIVELY an
    * all-pairs levenshtein: quadratic, the classic scale-killer. The
    * engine form is the FastSS deletion-neighborhood keyed join, which
    * is EXACT for distance ≤ 1 (no verify pass needed):
    *
    *   keys(s) = (s, −1) ∪ { (delete s[i], i) : i < |s| }
    *   ed(s,t) ≤ 1  ⟺  a shared variant exists with
    *     p_a = p_b  (same-position deletion ⟹ substitution or equal)
    *     or p_a = −1 / p_b = −1 (one side IS the other's deletion
    *     ⟹ single insert/delete)
    *
    * — so the join is an equi-join on the variant string with a cheap
    * residual position filter: O(L) keys per row shuffled instead of
    * O(N²) comparisons, the same inverted-candidate-key shape as the
    * shingle/minhash family. The DuckDB oracle runs the brute-force
    * quadratic levenshtein join, so the keyed rewrite is checked
    * against the definition it replaces. Probe side here is a keyed
    * 2.5% slice (not broadcast-tiny: the FastSS shape is what scales
    * when BOTH sides are large). */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val variantArr = expr(
      """concat(
        |  array(named_struct('v', c_name, 'p', -1)),
        |  transform(sequence(0, length(c_name) - 1),
        |    i -> named_struct(
        |      'v', concat(substring(c_name, 1, i), substring(c_name, i + 2, 1000000)),
        |      'p', i)))""".stripMargin)
    def keyed(df: DataFrame, k: String, n: String, p: String): DataFrame =
      df.select(col("c_custkey").as(k), col("c_name").as(n),
          explode(variantArr).as("kv"))
        .select(col(k), col(n), col("kv.v").as("v"), col("kv.p").as(p))
    val a = keyed(cust.filter(col("c_custkey") % 40 === 1), "a_key", "a_name", "pa")
    val b = keyed(cust, "b_key", "b_name", "pb")
    a.join(b, Seq("v"))
      .filter(col("a_key") =!= col("b_key") &&
        (col("pa") === col("pb") || col("pa") === -1 || col("pb") === -1))
      .select(col("a_key"), col("a_name"), col("b_key"), col("b_name"))
      .distinct()
      .withColumn("ed", levenshtein(col("a_name"), col("b_name")).cast("long"))
  }

  val fuzzyJoinSql: String =
    """SELECT a.c_custkey AS a_key, a.c_name AS a_name,
      |  b.c_custkey AS b_key, b.c_name AS b_name,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS ed
      |FROM customer a, customer b
      |WHERE a.c_custkey % 40 = 1 AND a.c_custkey <> b.c_custkey
      |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** Join-key skew profiler — the MEASUREMENT half of the skew-handling
    * pair ([[graft.operators.Salting]] is the mitigation half): before
    * salting a 100 TB join you need to know WHICH keys are hot and by
    * how much. Reports the top-`topK` hottest keys with their corpus
    * share, skew-vs-average ratio, and a suggested salt factor
    * (ceil(share × 32 partitions), computed in exact integer arithmetic
    * so both engines agree without a float fence), plus the global key
    * stats an operator tunes `spark.sql.shuffle.partitions` against.
    *
    * The catalog entry profiles documents.source — near-uniform on the
    * fixture (the oracle pins the mechanism), and exactly the column
    * ScaleSynth turns into a half-corpus mega-domain, so the scaling
    * corpora light it up for real. SkewProfileSpec plants a 60%-hot-key
    * fixture and checks detection + the salt suggestion.
    *
    * Shape: ONE key-count aggregation (map-side partials — the only
    * corpus-sized shuffle), a one-row global fold broadcast back, and a
    * rank window over |keys| counts. */
  def skewProfile(spark: SparkSession, dir: String,
      table: String = "documents", key: String = "source",
      topK: Int = 10): DataFrame = {
    val perKey = Tables.load(spark, dir, table)
      .groupBy(col(key).cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"))
    val glob = perKey.agg(
      sum(col("n_rows")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    val w = Window.orderBy(col("n_rows").desc, col("key").asc)
    perKey.crossJoin(broadcast(glob))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("key"), col("n_rows"),
        round(col("n_rows").cast("double") / col("total_rows"), 6).as("share"),
        round(col("n_rows") * col("n_keys") / col("total_rows").cast("double"), 6)
          .as("skew_vs_avg"),
        // ceil(n*32/total) in integer arithmetic: no float, no rounding
        // fence (Column./ is double division — `div` keeps it integral)
        expr("(n_rows * 32 + total_rows - 1) div total_rows")
          .cast("long").as("suggested_salt"),
        col("total_rows"), col("n_keys"))
  }

  val skewProfileSql: String =
    """WITH c AS (SELECT CAST(source AS VARCHAR) AS key, COUNT(*) AS n_rows
      |           FROM documents GROUP BY 1),
      |g AS (SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys FROM c),
      |r AS (SELECT c.*, g.total_rows, g.n_keys,
      |        row_number() OVER (ORDER BY c.n_rows DESC, c.key ASC) AS rank
      |      FROM c CROSS JOIN g)
      |SELECT CAST(rank AS BIGINT) AS rank, key, n_rows,
      |  round(CAST(n_rows AS DOUBLE) / total_rows, 6) AS share,
      |  round(n_rows * n_keys / CAST(total_rows AS DOUBLE), 6) AS skew_vs_avg,
      |  CAST((n_rows * 32 + total_rows - 1) // total_rows AS BIGINT) AS suggested_salt,
      |  CAST(total_rows AS BIGINT) AS total_rows, n_keys
      |FROM r WHERE rank <= 10""".stripMargin

  /** All (name -> impl) pairs in this module. */
  // ---------------------------------------------------- bloom-join

  /** Bloom-prefiltered fact⋈dim join — SIDEWAYS INFORMATION PASSING made
    * an explicit operator: the selective dim side (urgent/high-priority
    * orders, ~40% of the table here; often ≪1% in production) folds its
    * join keys into a CONSTANT 512 KiB Bloom bitset
    * ([[graft.functions.BloomBits]], one map-side-merging aggregate),
    * which ships as a literal into the fact scan and discards
    * non-matching fact rows BEFORE the join shuffle
    * ([[graft.functions.BloomProbe]], pure codegen probes). At 100 TB
    * the fact exchange is the dominant cost of a selective join, and the
    * prefilter shrinks it to ~selectivity·|fact| (+ the fp rate, ~0.06%);
    * Spark's own runtime-filter rule does this opportunistically — the
    * operator pins the shape deterministically, and the oracle (the PLAIN
    * join, no Bloom) proves the no-false-negative contract end-to-end:
    * output equality means no fact row was wrongly discarded, and the
    * join itself removes the false positives.
    *
    * Semantics: revenue per order priority over urgent+high orders. */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BloomBits, BloomProbe}
    val sel = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    val (oa, ob) = BloomProbe.halves(col("o_orderkey"))
    val bloomAgg = udaf(BloomBits,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    // one bounded driver fold: the bitset is constant-size however large
    // the dim side (the bloomDedup precedent)
    val bits: Seq[Long] = sel
      .select(oa.as("a"), ob.as("b"))
      .agg(bloomAgg(col("a"), col("b")).as("bloom"))
      .head().getAs[scala.collection.Seq[Long]]("bloom").toSeq
    val li = Tables.load(spark, dir, "lineitem")
    val (la, lb) = BloomProbe.halves(col("l_orderkey"))
    val price = col("l_extendedprice").cast(dec)
    val disc = col("l_discount").cast(dec)
    li.filter(BloomProbe.might(bits, la, lb)) // map-side, pre-shuffle
      .join(sel.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(price * (lit(1).cast(dec) - disc)).cast("double").as("revenue"))
  }

  /** The PLAIN join — deliberately no Bloom mirroring: equality IS the
    * fp/fn-safety proof. */
  val bloomJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |       AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("rel_bloom_join", bloomJoin, bloomJoinSql),
    Entry("rel_skew_profile", skewProfile(_, _), skewProfileSql),
    Entry("rel_fuzzy_join", fuzzyJoin, fuzzyJoinSql),
    Entry("rel_table_profile", tableProfile, tableProfileSql),
    Entry("rel_salted_join", saltedJoinAgg, saltedJoinAggSql),
    Entry("rel_range_join", rangeJoin, rangeJoinSql),
    Entry("rel_pricing_summary", pricingSummary, pricingSummarySql),
    Entry("rel_filter_scan", filterScan, filterScanSql),
    Entry("rel_revenue_agg", revenueAgg, revenueAggSql),
    Entry("rel_dim_join_agg", dimJoinAgg, dimJoinAggSql),
    Entry("rel_factfact_join", factFactJoin, factFactJoinSql),
    Entry("rel_semi_join", semiJoin, semiJoinSql),
    Entry("rel_anti_join", antiJoin, antiJoinSql),
    Entry("rel_topk_orders", topkOrders, topkOrdersSql),
    Entry("rel_last_per_group", lastOrderPerCustomer, lastOrderPerCustomerSql),
    Entry("rel_running_sum", runningSum, runningSumSql),
    Entry("rel_range_window", rangeWindow, rangeWindowSql),
    Entry("rel_daily_delta", dailyDelta, dailyDeltaSql),
    Entry("rel_date_histogram", dateHistogram, dateHistogramSql),
    Entry("rel_rollup", rollupHierarchy, rollupHierarchySql),
    Entry("rel_cube", cubeDims, cubeDimsSql),
    Entry("rel_grouping_sets", groupingSetsAgg, groupingSetsSql),
    Entry("rel_except", exceptNations, exceptNationsSql),
    Entry("rel_setops_combo", setOpsCombo, setOpsComboSql),
    Entry("rel_setops_bag", setOpsBag, setOpsBagSql),
    Entry("rel_outer_join", outerJoin, outerJoinSql),
    Entry("rel_distinct_counts", distinctCounts, distinctCountsSql),
    Entry("rel_approx_distinct", approxDistinct, approxDistinctSql),
    Entry("rel_shipping_priority", shippingPriority, shippingPrioritySql),
    Entry("rel_above_avg", aboveAvg, aboveAvgSql),
    Entry("rel_grid_cells", gridCells, gridCellsSql),
    Entry("rel_regex_extract", regexExtract, regexExtractSql))
}
