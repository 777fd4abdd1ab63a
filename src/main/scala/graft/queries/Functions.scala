package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Scalar/aggregate function surface beyond the core catalog (SURVEY
  * §2.10): pivot, deterministic array aggregation, ranking-window
  * analytics, datetime and string function composites — each a distinct
  * Spark API exercised end-to-end against a portable SQL oracle.
  *
  * Determinism notes: array aggregates are sorted then joined to a
  * string (raw collect_list order is partition-dependent AND array cells
  * stringify differently across pandas/parquet paths); percent_rank is
  * an exact ratio of ints; all double re-aggregation rides DECIMAL.
  */
object Functions {

  /** Pivot — groupBy().pivot() with explicit value list (planning stays
    * one pass; explicit values avoid the extra distinct-discovery job). */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
      .count()
      .na.fill(0L)
  }

  val pivotEventsSql: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
      |FROM events GROUP BY user_id""".stripMargin

  /** Deterministic array aggregation: collect → set → sort → join. */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    ord.groupBy(col("o_orderstatus"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"),
        count(lit(1)).as("n"))
  }

  val arrayAggSql: String =
    """SELECT o_orderstatus,
      |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Ranking-window composite: dense_rank, ntile, percent_rank over a
    * per-group ordering (top-3 per group keeps output bounded). */
  def windowRanks(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    cust.select(col("c_mktsegment"), col("c_custkey"),
        dense_rank().over(w).cast("long").as("drank"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("prank"))
      .filter(col("drank") <= 3)
  }

  val windowRanksSql: String =
    """SELECT c_mktsegment, c_custkey,
      |  CAST(drank AS BIGINT) AS drank, CAST(quartile AS BIGINT) AS quartile, prank
      |FROM (SELECT c_mktsegment, c_custkey,
      |        dense_rank() OVER w AS drank,
      |        ntile(4) OVER w AS quartile,
      |        round(percent_rank() OVER w, 6) AS prank
      |      FROM customer
      |      WINDOW w AS (PARTITION BY c_mktsegment
      |                   ORDER BY c_acctbal DESC, c_custkey ASC))
      |WHERE drank <= 3""".stripMargin

  /** Datetime composite: component extraction, calendar arithmetic. */
  def datetimeFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    ord.select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(col("o_orderdate"), 2), "yyyy-MM-dd").as("plus2m"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate")).cast("long")
          .as("days_to_1999"))
      .filter(col("o_orderkey") % 97 === 0)
  }

  val datetimeFuncsSql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
      |  CAST(dayofweek(o_orderdate) % 7 AS BIGINT) AS dow_sun0,
      |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
      |  strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m,
      |  CAST(datediff('day', o_orderdate::DATE, DATE '1999-01-01') AS BIGINT) AS days_to_1999
      |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin

  /** String composite: padding, translate, initcap, index, edit
    * distance. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    cust.select(
        col("c_custkey"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        translate(col("c_name"), "#", "-").as("renamed"),
        initcap(lower(col("c_mktsegment"))).as("segment_cap"),
        instr(col("c_name"), "1").cast("long").as("first_one"),
        levenshtein(col("c_mktsegment"), lit("MACHINERY")).cast("long").as("edit_dist"))
      .filter(col("c_custkey") % 89 === 0)
  }

  val stringFuncsSql: String =
    """SELECT c_custkey,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      |  replace(c_name, '#', '-') AS renamed,
      |  CASE WHEN len(c_mktsegment) > 0
      |       THEN upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2)
      |       ELSE c_mktsegment END AS segment_cap,
      |  CAST(instr(c_name, '1') AS BIGINT) AS first_one,
      |  CAST(levenshtein(c_mktsegment, 'MACHINERY') AS BIGINT) AS edit_dist
      |FROM customer WHERE c_custkey % 89 = 0""".stripMargin

  /** JSON extraction: both the path-string API (get_json_object) and the
    * schema-full parse (from_json → struct field) over the events props
    * column, cross-checked against DuckDB's JSON extraction. */
  def jsonFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k_schema"))
      .filter(col("event_id") % 101 === 0)
  }

  val jsonFuncsSql: String =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_path,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_schema
      |FROM events WHERE event_id % 101 = 0""".stripMargin

  /** MapType surface end-to-end: per status, the priority→count map is
    * BUILT (collect_list of structs, sorted for a deterministic entry
    * order, map_from_entries), PROBED (element_at on a key that may be
    * absent → null), and EXPLODED back to rows. The oracle computes the
    * same rows purely relationally (group counts + a left join for the
    * probe), so the whole map round-trip must be lossless. Maps never
    * reach the output schema — engines disagree on map hashing — only
    * their exploded entries do. */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val m = ord.groupBy(col("o_orderstatus"), col("o_orderpriority")).count()
      .groupBy(col("o_orderstatus"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("o_orderpriority"), col("count")))))
        .as("m"))
    m.select(col("o_orderstatus"),
        element_at(col("m"), "1-URGENT").as("urgent_n"),
        explode(col("m")).as(Seq("priority", "n")))
      .select(col("o_orderstatus"), col("priority"), col("n"), col("urgent_n"))
  }

  val mapFuncsSql: String =
    """WITH c AS (SELECT o_orderstatus, o_orderpriority AS priority, COUNT(*) AS n
      |           FROM orders GROUP BY 1, 2),
      |u AS (SELECT o_orderstatus, n AS urgent_n FROM c WHERE priority = '1-URGENT')
      |SELECT c.o_orderstatus, c.priority, c.n, u.urgent_n
      |FROM c LEFT JOIN u USING (o_orderstatus)""".stripMargin

  /** Null-semantics composite: three-valued logic made explicit —
    * null-safe equality (`<=>` / IS NOT DISTINCT FROM, the form that
    * never returns NULL), presence dispatch (nvl2), coalesce default,
    * and NULLS FIRST window ordering (engines disagree on the default
    * null sort position, so portable ordering must spell it out). The
    * `% 997` filter bounds the global window to ~n/1000 rows. */
  def nullFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 997 === 0)
    val v = when(col("o_orderkey") % 7 === 0, lit(null))
      .otherwise(col("o_orderpriority"))
    val w = Window.orderBy(col("v").asc_nulls_first, col("o_orderkey").asc)
    ord.select(col("o_orderkey"), v.as("v"))
      .select(
        col("o_orderkey"),
        nvl2(col("v"), lit("present"), lit("absent")).as("presence"),
        coalesce(col("v"), lit("N/A")).as("v_or_default"),
        (col("v") <=> "1-URGENT").as("is_urgent"),
        row_number().over(w).cast("long").as("nulls_first_rank"))
  }

  val nullFuncsSql: String =
    """WITH b AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS v
      |  FROM orders WHERE o_orderkey % 997 = 0)
      |SELECT o_orderkey,
      |  CASE WHEN v IS NOT NULL THEN 'present' ELSE 'absent' END AS presence,
      |  coalesce(v, 'N/A') AS v_or_default,
      |  v IS NOT DISTINCT FROM '1-URGENT' AS is_urgent,
      |  CAST(row_number() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey ASC)
      |    AS BIGINT) AS nulls_first_rank
      |FROM b""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("fn_json", jsonFuncs, jsonFuncsSql),
    Entry("fn_pivot", pivotEvents, pivotEventsSql),
    Entry("fn_array_agg", arrayAgg, arrayAggSql),
    Entry("fn_window_ranks", windowRanks, windowRanksSql),
    Entry("fn_datetime", datetimeFuncs, datetimeFuncsSql),
    Entry("fn_strings", stringFuncs, stringFuncsSql),
    Entry("fn_map_funcs", mapFuncs, mapFuncsSql),
    Entry("fn_nulls", nullFuncs, nullFuncsSql))
}
