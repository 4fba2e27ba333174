package perfbench

import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Operator output row counts of an executed plan, read from its SQL
  * metrics after the query ran (adaptive plans are walked in their final
  * form).
  */
object PlanRows {
  /** `postings`: the operator aggregates with `graft_postings`. */
  final case class Node(name: String, postings: Boolean, rows: Long)

  def of(qe: QueryExecution): Seq[Node] = walk(qe.executedPlan)

  private def walk(p: SparkPlan): Seq[Node] = {
    val here = p.metrics.get("numOutputRows")
      .map(m => Node(p.nodeName, p.simpleString(100).contains("graft_postings"), m.value)).toSeq
    val below = p match {
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => Seq.empty // counted where it first ran
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    here ++ below
  }
}
