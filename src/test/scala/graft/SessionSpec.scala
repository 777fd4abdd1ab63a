package graft

import graft.plans.{AsofJoinExec, GraftPlans}

/** Graft's functions and plan layer ride the one session builder
  * ([[Tables.session]], behind [[SparkSpec]]): nothing here registers or
  * installs anything, yet every session and every clone resolves them. */
class SessionSpec extends SparkSpec {

  private val calls =
    """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
      |       geohash_encode(57.64911D, 10.40744D, 6) AS g""".stripMargin

  private def assertResolves(s: org.apache.spark.sql.SparkSession): Unit = {
    val r = s.sql(calls).collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getString(1) === "u4pruy")
  }

  test("the shared session resolves dot_product and geohash_encode") {
    assertResolves(spark)
  }

  test("GraftPlans.asofJoin plans an AsofJoinExec") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, "x")).toDF("rk", "rt", "v")
    val plan = GraftPlans.asofJoin(left, right, "k", "t", "rk", "rt")
      .queryExecution.executedPlan
    assert(PlanTestUtil.deepCollect(plan) { case e: AsofJoinExec => e }.nonEmpty,
      plan.toString)
  }

  test("a newSession() clone resolves the functions too") {
    assertResolves(spark.newSession())
  }
}
