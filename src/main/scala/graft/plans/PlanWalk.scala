package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The one physical-plan walker, shared by the exchange-count tool and
  * the plan-shape specs. A plain `collect` follows children only: it
  * stops at AQE boundaries (the adaptive root's plan and each query
  * stage's plan are fields, not children) and skips subqueries. This
  * walk crosses both.
  *
  * `cached = false` sees the LIVE plan: a persisted intermediate's build
  * plan runs once at materialization, so it stops at the
  * InMemoryTableScan. `cached = true` also enters that build plan,
  * where the file scans a cached query filters on live. */
object PlanWalk {

  /** `p` and every node below it, pre-order. */
  def nodes(p: SparkPlan, cached: Boolean = false): Seq[SparkPlan] = {
    val hidden = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: InMemoryTableScanExec if cached => Seq(c.relation.cachedPlan)
      case _ => Nil
    }
    p +: (hidden ++ p.children ++ p.subqueries).flatMap(nodes(_, cached))
  }
}
