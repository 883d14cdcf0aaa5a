package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Package-private escape hatches: `classic.Dataset.ofRows` (plan →
  * DataFrame) is `private[sql]` and the listener bus is `private[spark]`, so
  * their call-sites live in an `org.apache.spark.sql` subpackage — the
  * standard pattern for out-of-tree Spark plan extensions.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every posted listener event has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
