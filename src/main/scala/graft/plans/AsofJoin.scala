package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.PlanShim

/** As-of join: for every left row, the single most recent right row with
  * an equal key and `rightTime <= leftTime` (left-outer: unmatched left
  * rows keep null right columns).
  *
  * This is the one relational operator in the catalog that Spark's
  * builtin operators genuinely cannot express as a join — the composed
  * alternatives are a union + window carry-forward (one shuffle of BOTH
  * inputs into a single window, [[graft.queries.EventOps.asofJoin]]) or
  * a range join + per-key max (quadratic in band width). Hence the full
  * custom-plan path from the build plan's preference order (c): logical
  * node → optimizer rule → strategy → physical exec, registered through
  * `SparkSessionExtensions`.
  *
  * Scale design: the physical plan co-partitions both sides on the key
  * (`ClusteredDistribution`) and sorts within partitions by (key, time)
  * (`requiredChildOrdering` — Catalyst inserts the exchanges/sorts and
  * AQE sizes them), then a single O(n+m) forward-merge pass per
  * partition with O(1) state joins each left row to its candidate. No
  * broadcast, no per-row search structure, no window buffer: at 100 TB
  * the cost is exactly two keyed shuffles + sorts, the same shape as a
  * sort-merge join.
  *
  * Reference tie-in: "latest record at or before T per entity" is the
  * reference's last-per-group pattern over time-stamped case records
  * (SURVEY §2.7 A5/W1) generalized to two tables.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Attributes the join itself consumes (used by the pruning rule). */
  def joinReferences: AttributeSet =
    AttributeSet((leftKeys ++ rightKeys :+ leftTime :+ rightTime).flatMap(_.references))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Column pruning through [[AsofJoin]]: builtin `ColumnPruning` does not
  * know custom nodes, so without this a `select(few)` above an as-of
  * join reads every column of both parquet scans. Inserts a Project
  * below the join for each side keeping only (projected ∪ join) attrs —
  * after which Catalyst's normal scan pruning gives the narrow
  * `ReadSchema`. Fixed-point safe: once children are narrow, the guard
  * finds nothing to drop. */
object AsofJoinPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(_, aj: AsofJoin) =>
      val needed = p.references ++ aj.joinReferences
      def prune(side: LogicalPlan): LogicalPlan =
        if (side.output.forall(needed.contains)) side
        else Project(side.output.filter(needed.contains), side)
      val (nl, nr) = (prune(aj.left), prune(aj.right))
      if ((nl eq aj.left) && (nr eq aj.right)) p
      else p.copy(child = aj.copy(left = nl, right = nr))
  }
}

/** Plans [[AsofJoin]] as [[AsofJoinExec]]. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt) =>
      AsofJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API for graft's custom plans. The rule and strategy
  * that plan them ride [[graft.functions.GraftExtensions]]. */
object GraftPlans {

  /** `left ASOF LEFT JOIN right ON left.leftKey = right.rightKey AND
    * right.rightTime <= left.leftTime`, matching the latest such right
    * row. Key/time columns are resolved by name against each side. */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    val lPlan = PlanShim.analyzed(left)
    var rPlan = PlanShim.analyzed(right)
    // Self-join safety: if the two plans share attribute ids, re-alias
    // the right side so output ids stay unique (the analyzer does this
    // for builtin joins; a custom node must do it itself).
    if (lPlan.outputSet.intersect(rPlan.outputSet).nonEmpty)
      rPlan = Project(rPlan.output.map(a => Alias(a, a.name)()), rPlan)
    def col(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"asofJoin: no column '$name' in [${p.output.map(_.name).mkString(", ")}]"))
    val (lk, rk) = (col(lPlan, leftKey), col(rPlan, rightKey))
    val (lt, rt) = (col(lPlan, leftTime), col(rPlan, rightTime))
    // The merge compares raw UnsafeRow fields with orderings built from
    // the LEFT side's types — mismatched types would compare garbage
    // silently, so enforce equality here (the plan layer has no analyzer
    // coercion).
    require(lk.dataType == rk.dataType,
      s"asofJoin: key types differ: ${lk.dataType.simpleString} vs ${rk.dataType.simpleString}")
    require(lt.dataType == rt.dataType,
      s"asofJoin: time types differ: ${lt.dataType.simpleString} vs ${rt.dataType.simpleString}")
    PlanShim.ofRows(spark, AsofJoin(lPlan, rPlan, Seq(lk), Seq(rk), lt, rt))
  }
}
