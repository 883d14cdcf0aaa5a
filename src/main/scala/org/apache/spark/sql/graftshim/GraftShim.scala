package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Package-private escape hatches: `classic.Dataset.ofRows` (plan →
  * DataFrame), `cloneSession` and `withActive` are `private[sql]` and the listener bus is
  * `private[spark]`, so their call-sites live in an `org.apache.spark.sql`
  * subpackage — the standard pattern for out-of-tree Spark plan extensions.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark`'s session state (runtime SQL conf, temp views,
    * functions, listeners) over its SparkContext. Conf set on the copy
    * does not reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `body` with `spark` as the thread's active session, so conf read
    * outside a Dataset action (a local Seq's encoder) is `spark`'s, and
    * threads started in `body` inherit it. */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.withActive(body)

  /** Block until every posted listener event has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
