package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessors for Spark internals graft needs, the standard pattern for
  * third-party Catalyst operator packages. */
object GraftShim {
  /** Build a DataFrame from a custom LogicalPlan — the classic Dataset
    * companion is private[sql], so operator libraries
    * (graft.plans.AsOfJoin) reach `ofRows` here. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every posted listener event has been delivered. The
    * listener bus is asynchronous, so whoever judges listener records
    * (the registry censuses, tools.Profile) drains it first;
    * `waitUntilEmpty` is private[spark]. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
