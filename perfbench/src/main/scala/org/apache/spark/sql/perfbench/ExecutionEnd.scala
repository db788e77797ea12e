package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event carries the QueryExecution that ran, but only
  * to code inside `org.apache.spark.sql`. For a write this is the plan of
  * the write itself, which a QueryExecutionListener does not see: its
  * callback gets the outer command.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  /** Files written by the plan: the `numFiles` of its write nodes (a scan
    * node has a `numFiles` too, for the files it read).
    */
  def filesWritten(plan: SparkPlan): Long = {
    val own = if (plan.metrics.contains("numOutputBytes")) plan.metrics.get("numFiles")
      .map(_.value).getOrElse(0L) else 0L
    val inner = plan match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    own + inner.map(filesWritten).sum
  }
}
