package graft.tools

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive._
import org.apache.spark.sql.execution.exchange._

/** Walks an executed plan tree, the way to count its input scans,
  * exchanges and exchange reuses (plan strings get truncated). It descends
  * through adaptive plans, query stages and subqueries, but NOT into a
  * ReusedExchange: that subtree is the shared one, counted once at its
  * definition site. PlanSpec's suite scan gate and PipelineQueries' skew
  * plan check read plans through it. */
object SuitePlanProbe {
  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: ReusedExchangeExec    => Seq.empty
      case _                        => p.children
    }
    // subqueries (scalar/in-subquery/dynamic-pruning) wrap plans of their
    // own — a scan hiding inside one must count against the scan budget
    p +: (kids ++ p.subqueries).flatMap(walk)
  }
}
