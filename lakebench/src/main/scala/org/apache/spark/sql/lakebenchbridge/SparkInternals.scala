package org.apache.spark.sql.lakebenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** The two Spark internals the traced run uses, which Spark keeps private
  * to its own packages.
  */
object SparkInternals {
  /** Wait on `SparkContext.listenerBus`, so an operation's task metrics
    * have all arrived before the traced run reads them.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A predicate as the source filter Spark would push to a scan, if it
    * has one.
    */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
