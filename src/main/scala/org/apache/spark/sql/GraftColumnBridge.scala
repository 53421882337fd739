package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), for wrapping
  * graft's native Catalyst expressions that carry non-Expression
  * constructor state (e.g. a driver-trained model map) and therefore
  * cannot go through the string-based function registry; and into the
  * listener bus's drain, so a listener is read after a job's events
  * reached it. Standard Spark-extension technique: one file in the
  * `org.apache.spark.sql` package, nothing else from the internal surface.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
