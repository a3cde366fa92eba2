package pipebench

import org.apache.spark.sql.execution.{InputAdapter, LeafExecNode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** Exact operator counts from walking an executed physical plan.
  *
  * The walk looks through the adaptive wrapper (its final plan), into
  * every query stage and every subquery, and stops at a reused exchange
  * (the subtree it points at is counted where it first appears).
  * `operators` counts every node except the wrappers (adaptive plan,
  * query stage, whole-stage codegen, input adapter, reused exchange);
  * `codegen` counts the ones compiled inside a whole-stage codegen
  * region.
  */
final case class PlanCounts(scans: Int = 0, exchanges: Int = 0,
                            reusedExchanges: Int = 0, smj: Int = 0,
                            bhj: Int = 0, bnlj: Int = 0,
                            operators: Int = 0, codegen: Int = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(scans + o.scans,
    exchanges + o.exchanges, reusedExchanges + o.reusedExchanges,
    smj + o.smj, bhj + o.bhj, bnlj + o.bnlj, operators + o.operators,
    codegen + o.codegen)

  def codegenFrac: Double = if (operators == 0) 0.0 else codegen.toDouble / operators
}

object PlanWalk {

  def count(plan: SparkPlan): PlanCounts = walk(plan, inCodegen = false)

  private def walk(p: SparkPlan, inCodegen: Boolean): PlanCounts = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
    case q: QueryStageExec => walk(q.plan, inCodegen)
    case _: ReusedExchangeExec => PlanCounts(reusedExchanges = 1)
    case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
    case i: InputAdapter => walk(i.child, inCodegen = false)
    case _ =>
      val own = PlanCounts(
        scans = if (p.isInstanceOf[LeafExecNode]) 1 else 0,
        exchanges = if (p.isInstanceOf[Exchange]) 1 else 0,
        smj = if (p.isInstanceOf[SortMergeJoinExec]) 1 else 0,
        bhj = if (p.isInstanceOf[BroadcastHashJoinExec]) 1 else 0,
        bnlj = if (p.isInstanceOf[BroadcastNestedLoopJoinExec]) 1 else 0,
        operators = 1,
        codegen = if (inCodegen) 1 else 0)
      (p.children.map(walk(_, inCodegen)) ++
        p.subqueries.map(walk(_, inCodegen = false)))
        .foldLeft(own)(_ + _)
  }
}

object PlanNodes {
  /** Every node of an executed plan, through the same wrappers
    * [[PlanWalk]] looks through.
    */
  def all(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => all(a.executedPlan)
    case q: QueryStageExec => all(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(all)
  }

  /** Rows the plan's source operators produced, from their
    * `numOutputRows` metrics.
    */
  def sourceRows(p: SparkPlan): Long =
    all(p).collect { case l: LeafExecNode => l.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum
}
