package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to Spark's listener bus, which Spark keeps private. */
object TestListeners {
  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
