package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: print the physical-plan Exchange count for each named
  * catalog query (or all lazily-planned ones) at a given SF dir —
  * the source of truth for PlanInvariantSpec's pinned shuffle budgets.
  *
  * Usage: runMain graft.tools.ExchangeCount <sfDir> [name,name,...]
  */
object ExchangeCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.NanosAsLong, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan
        def count(p: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
          var shuffles = 0; var broadcasts = 0
          def walk(q: org.apache.spark.sql.execution.SparkPlan): Unit = {
            q match {
              case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => shuffles += 1
              case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => broadcasts += 1
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(a.executedPlan)
              // keep in lockstep with PlanInvariantSpec's walker: a
              // materialized adaptive plan nests stages here
              case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(st.plan)
              case _ =>
            }
            q.children.foreach(walk)
            q.subqueries.foreach(walk)
          }
          walk(p)
          (shuffles, broadcasts)
        }
        val (sh, bc) = count(plan)
        println(s"[exchange] $name shuffles=$sh broadcasts=$bc")
      } catch { case e: Throwable =>
        println(s"[exchange] $name ERROR ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
