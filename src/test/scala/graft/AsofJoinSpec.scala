package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.plans.{AsofJoin, AsofJoinExec, GraftPlans}

/** Custom as-of join: correctness vs an independently-composed oracle,
  * physical-plan shape (co-partition + sort + merge exec), column
  * pruning through the custom node, and null/empty edge cases. */
class AsofJoinSpec extends SparkSpec {

  private def asof(left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame) =
    GraftPlans.asofJoin(left, right, "k", "t", "rk", "rt")

  import scala.jdk.CollectionConverters._

  private def leftDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]) = {
    val s = spark
    s.createDataFrame(
      rows.map { case (k, t, tag) => org.apache.spark.sql.Row(k, t, tag) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, t BIGINT, tag STRING"))
  }

  private def rightDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]) = {
    val s = spark
    s.createDataFrame(
      rows.map { case (k, t, v) => org.apache.spark.sql.Row(k, t, v) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("rk BIGINT, rt BIGINT, v STRING"))
  }

  test("matches latest right row at-or-before each left row, per key") {
    val l = leftDf(Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"), (3L, 5L, "d")))
    val r = rightDf(Seq((1L, 5L, "r5"), (1L, 10L, "r10"), (1L, 18L, "r18"), (2L, 16L, "late")))
    val got = asof(l, r).select(col("tag"), col("v")).collect()
      .map(x => (x.getString(0), if (x.isNullAt(1)) null else x.getString(1))).toMap
    assert(got === Map("a" -> "r10", "b" -> "r18", "c" -> null, "d" -> null))
  }

  test("agrees with a composed union+window oracle on random data") {
    val n = 5000
    val l = spark.range(n).select(
      (col("id") % 97).as("k"), pmod(col("id") * 37 + 11, lit(1000)).as("t"),
      col("id").cast("string").as("tag"))
    val r = spark.range(n).select(
      (col("id") % 101).as("rk"), pmod(col("id") * 53 + 7, lit(1000)).as("rt"),
      concat(lit("v"), col("id")).as("v"))
      // unique (key, time) per side keeps the as-of match deterministic
      .groupBy(col("rk"), col("rt")).agg(max(col("v")).as("v"))

    val got = asof(l, r).select(col("k"), col("t"), col("tag"), col("v"))

    // Independent composition: union both sides, carry the last view
    // value forward per key, keep left rows (right rows sort first on
    // ties via the side marker so at-or-before includes equal times).
    import org.apache.spark.sql.expressions.Window
    val tagged = l.select(col("k"), col("t"), lit(1).as("side"), col("tag"), lit(null).cast("string").as("v"))
      .unionByName(r.select(col("rk").as("k"), col("rt").as("t"), lit(0).as("side"), lit(null).cast("string").as("tag"), col("v")))
    val w = Window.partitionBy(col("k")).orderBy(col("t").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = tagged.withColumn("vm", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("k"), col("t"), col("tag"), col("vm").as("v"))

    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  import PlanTestUtil.deepCollect

  test("physical plan: merge exec over two shuffles with per-partition sorts") {
    val l = leftDf(Seq((1L, 10L, "a")))
    val r = rightDf(Seq((1L, 5L, "r5")))
    val df = asof(l, r)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(deepCollect(plan) { case e: AsofJoinExec => e }.nonEmpty, plan.toString)
    assert(deepCollect(plan) { case e: ShuffleExchangeLike => e }.size === 2, plan.toString)
    assert(deepCollect(plan) { case s: SortExec => s }.size >= 2, plan.toString)
  }

  test("pruning rule narrows both children to projected + join columns") {
    val l = leftDf(Seq((1L, 10L, "a"))).withColumn("extraL", lit("x"))
    val r = rightDf(Seq((1L, 5L, "r5"))).withColumn("extraR", lit("y"))
    val df = asof(l, r).select(col("tag"), col("v"))
    val aj = df.queryExecution.optimizedPlan.collectFirst { case a: AsofJoin => a }.get
    assert(aj.left.output.map(_.name).toSet === Set("k", "t", "tag"))
    assert(aj.right.output.map(_.name).toSet === Set("rk", "rt", "v"))
  }

  test("pruning reaches the parquet ReadSchema through the custom node") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val l = ev.select(col("user_id").as("k"), col("ts").as("t"),
      col("event_id"), col("event_type"), col("value"))
    val r = ev.select(col("user_id").as("rk"), col("ts").as("rt"),
      col("event_id").as("r_event"), col("props"))
    // only event_id + r_event projected: value/event_type/props must not
    // be read from either scan
    val df = GraftPlans.asofJoin(l, r, "k", "t", "rk", "rt")
      .select(col("event_id"), col("r_event"))
    df.collect()
    val scans = deepCollect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }
    assert(scans.size === 2, df.queryExecution.executedPlan.toString)
    assert(scans.forall(_ === Set("user_id", "ts", "event_id")), scans.toString)
  }

  test("null times never match (DuckDB ASOF semantics)") {
    // right row with null time sorts first in its key but must be
    // consumed without ever becoming a candidate; left rows with null
    // time stay unmatched even when same-key right rows exist.
    val l = leftDf(Seq((1L, 10L, "a"), (2L, null, "b")))
    val r = rightDf(Seq((1L, null, "rnull"), (2L, 1L, "r2")))
    val got = asof(l, r).select(col("tag"), col("v")).collect()
      .map(x => (x.getString(0), if (x.isNullAt(1)) null else x.getString(1))).toMap
    assert(got === Map("a" -> null, "b" -> null))
  }

  test("mismatched key or time types are rejected at construction") {
    val l = leftDf(Seq((1L, 10L, "a")))
    val r = rightDf(Seq((1L, 5L, "r5")))
      .select(col("rk").cast("int").as("rk"), col("rt"), col("v"))
    assertThrows[IllegalArgumentException] {
      GraftPlans.asofJoin(l, r, "k", "t", "rk", "rt")
    }
  }

  test("null keys never match; empty right leaves all left rows unmatched") {
    val l = leftDf(Seq((null, 10L, "a"), (1L, 10L, "b")))
    val r = rightDf(Seq((null, 5L, "rnull"), (2L, 1L, "r2")))
    val got = asof(l, r).select(col("tag"), col("v")).collect()
      .map(x => (x.getString(0), if (x.isNullAt(1)) null else x.getString(1))).toMap
    assert(got === Map("a" -> null, "b" -> null))

    val empty = rightDf(Seq.empty)
    val got2 = asof(l, empty).select(col("tag")).collect().map(_.getString(0)).toSet
    assert(got2 === Set("a", "b"))
  }

  test("self-join of one DataFrame keeps output attribute ids distinct") {
    val d = leftDf(Seq((1L, 10L, "a"), (1L, 3L, "b")))
    val dd = d.select(col("k").as("rk"), col("t").as("rt"), col("tag").as("v"))
    // same underlying plan on both sides
    val joined = GraftPlans.asofJoin(
      d, d.select(col("k").as("rk"), col("t").as("rt"), col("tag").as("v")),
      "k", "t", "rk", "rt")
    assert(joined.columns.toSeq === Seq("k", "t", "tag", "rk", "rt", "v"))
    val ids = joined.queryExecution.analyzed.output.map(_.exprId)
    assert(ids.distinct.size === ids.size)
    joined.collect() // must execute without duplicate-attribute failures
    dd.collect()
  }
}
