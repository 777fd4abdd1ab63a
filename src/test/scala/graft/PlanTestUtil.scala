package graft

import org.apache.spark.sql.execution.SparkPlan

import graft.plans.PlanWalk

/** Shared plan-inspection helpers for specs. */
object PlanTestUtil {

  /** collect() over [[PlanWalk]] with cache boundaries crossed: AQE
    * stages, subqueries, and the build plan a persisted intermediate
    * hides (including the file scans whose PushedFilters specs assert
    * on) inside its InMemoryRelation. */
  def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    PlanWalk.nodes(p, cached = true).collect(pf)
}
