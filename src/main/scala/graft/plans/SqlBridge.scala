package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge: turn a hand-built [[LogicalPlan]]
  * (graft's custom nodes) into a DataFrame. Declared in the Spark
  * namespace because `Dataset.ofRows` is `private[sql]` by design —
  * this is the standard extension-library shim (one call, nothing
  * else), kept to a single file so the boundary crossing is auditable.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
