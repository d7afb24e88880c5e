package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` classic.Dataset.ofRows for a plan that
  * is already analyzed — a rebound plan template
  * ([[graft.core.PlanTemplates]]). The plan is marked analyzed, so the
  * analyzer hands it back as it is instead of re-running every rule
  * over it; the frame then takes the normal optimizer → physical →
  * AQE path. Same tier as [[GraftRowBridge]]. */
object GraftPlanBridge {
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
