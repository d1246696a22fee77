package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** graft's access to Spark-private API, in one place. Lives under
  * `org.apache.spark.sql` because `ExpressionUtils` (the supported
  * Column/Expression converter in Spark 4's classic API) is `private[sql]`
  * and the listener bus is `private[spark]` — the conventional pattern for
  * Spark extension libraries shipping custom expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
