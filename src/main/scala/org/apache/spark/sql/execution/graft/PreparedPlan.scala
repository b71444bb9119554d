package org.apache.spark.sql.execution.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveExecutionContext, InsertAdaptiveSparkPlan}

/** Spark's physical plan for a logical plan, prepared for execution the
  * way `QueryExecution` prepares a query's (adaptive when the session
  * enables it). Spark keeps its preparation rules private to its
  * execution package, hence this package.
  */
object PreparedPlan {
  /** `plan` is planned as it stands, not through the planner's
    * `ReturnAnswer` entry. The adaptive context's own `QueryExecution`
    * never runs, so the plan posts no UI plan update over the running
    * query's.
    */
  def apply(session: SparkSession, plan: LogicalPlan): SparkPlan = {
    val planned = session.sessionState.planner.plan(plan).next()
    val adaptive =
      if (session.sessionState.conf.adaptiveExecutionEnabled)
        Some(InsertAdaptiveSparkPlan(AdaptiveExecutionContext(session, new QueryExecution(session, plan))))
      else None
    QueryExecution.prepareForExecution(QueryExecution.preparations(session, adaptive, subquery = false), planned)
  }
}
