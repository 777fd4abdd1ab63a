package graft.tools

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.SparkEntry
import graft.plans.PlanWalk

/** Dev tool: print the physical-plan Exchange count for each catalog
  * query a [[SparkEntry.select]] name filter picks (all of them without
  * one) at a given SF dir — the source of truth for PlanInvariantSpec's
  * pinned shuffle budgets, counted by the same [[PlanWalk]] over the
  * live plan.
  *
  * Usage: runMain graft.tools.ExchangeCount <sfDir> [name,name,...]
  */
object ExchangeCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Tables.session("graft-exchangecount")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.select(args.lift(1)).foreach { name =>
      val line = SparkEntry.isolated(spark) {
        val nodes = PlanWalk.nodes(
          SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
        val sh = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
        val bc = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
        s"shuffles=$sh broadcasts=$bc"
      }.fold(e => s"ERROR ${e.getClass.getSimpleName}", identity)
      println(s"[exchange] $name $line")
    }
    spark.stop()
  }
}
