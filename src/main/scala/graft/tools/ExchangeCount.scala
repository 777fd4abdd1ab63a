package graft.tools

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.plans.PlanWalk

/** Dev tool: print the physical-plan Exchange count for each named
  * catalog query (or all lazily-planned ones) at a given SF dir —
  * the source of truth for PlanInvariantSpec's pinned shuffle budgets,
  * counted by the same [[PlanWalk]] over the live plan.
  *
  * Usage: runMain graft.tools.ExchangeCount <sfDir> [name,name,...]
  */
object ExchangeCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.Tables.session("graft-exchangecount")
    spark.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val nodes = PlanWalk.nodes(df.queryExecution.executedPlan)
        val sh = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
        val bc = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
        println(s"[exchange] $name shuffles=$sh broadcasts=$bc")
      } catch { case e: Throwable =>
        println(s"[exchange] $name ERROR ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
