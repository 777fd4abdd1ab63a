package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Bucketed (pre-partitioned) co-located fact join — the zero-shuffle
  * join layout for a 100 TB lake.
  *
  * A shuffle join moves BOTH fact tables across the cluster every time
  * the join runs; bucketing moves each table once at write time:
  * `bucketBy(k, key)` hash-partitions files on disk, the catalog records
  * the layout, and every later join on that key reads matching buckets
  * side by side — no exchange in the plan, ever again. That trade
  * (one-time write shuffle for exchange-free reads) is the right one for
  * any fact table joined repeatedly on a stable key, and it composes
  * with everything else here: bucket pruning, AQE, partial aggs.
  *
  * The operator stages bucketed copies of `orders` and `lineitem`
  * (8 buckets on the order key, sorted within buckets so the sort-merge
  * join also skips its sort), then answers a revenue-by-priority query
  * through the bucketed layout. BucketedJoinSpec asserts the join
  * subtree is exchange-free; the oracle answers the same query over the
  * plain parquet — layout must never change results.
  */
object Bucketed {

  private val dec = "decimal(18,2)"

  /** Stage the bucketed tables and run the co-located join. Table names
    * carry an md5 tag of the source dir, so two source dirs never share
    * staging. The tables are staged once per source dir per JVM
    * ([[graft.Fixtures.stagedInput]]) and later invocations skip
    * straight to the join. That is the operator's actual production
    * profile (bucket once at ingest, join forever) and safe here because
    * the test data is immutable for a JVM's lifetime; a deployment
    * re-stages on ingest, not per query. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val ot = s"graft_bkt_orders_$tag"
    val lt = s"graft_bkt_lineitem_$tag"
    graft.Fixtures.stagedInput("bucketed", dir) { scratch =>
      val orders = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast(dec)
            * (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev"))
      orders.write.mode("overwrite").option("path", s"$scratch/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
      li.write.mode("overwrite").option("path", s"$scratch/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
    }: Unit
    spark.table(lt)
      .join(spark.table(ot),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("rel_bucketed_join", bucketedJoin, bucketedJoinSql))
}
