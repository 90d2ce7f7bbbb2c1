package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression bridge. Spark 4 wraps Columns in
  * ColumnNodes with the converters `private[sql]`, so libraries adding
  * native Catalyst expressions (see graft.functions.VectorExpressions)
  * need this one-file shim inside the `org.apache.spark.sql` namespace —
  * the established pattern for Catalyst-extending libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` as a data source filter, as Spark translates the filters it
    * pushes into a source (nested fields as dotted names); None when it
    * has no such form.
    */
  def sourceFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** `c` converted now by `spark`'s converter — a plan built by hand
    * (see [[ofRows]]) gets no lazy column-node wrapper for the analyzer.
    */
  def expression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** `plan` analyzed as a DataFrame; a command runs, as `spark.sql` runs
    * a parsed one (the facade's DELETE / UPDATE over a lake table's
    * relation).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-lift an InternalRow RDD as a DataFrame with a FRESH logical
    * plan (no lineage, default stats, no constraints). The unboxed twin
    * of `createDataFrame(df.rdd, schema)` for iterative loops that must
    * cut the Catalyst plan per round (see graft.ops.Dedup.freshen):
    * `Dataset.localCheckpoint` would bake the origin plan's
    * stats/constraints onto its LogicalRDD (squaring size estimates
    * under self-joins), and the public `df.rdd` path boxes every row.
    * Rows must already be safe to hold (copied) — `toRdd` reuses
    * UnsafeRow buffers, so callers map `_.copy()` before handing the
    * RDD over.
    */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** [[internalFrame]] that additionally DECLARES the RDD's physical hash
    * partitioning to Catalyst. For iterative loops whose per-round frames
    * were just shuffled onto their join keys (`repartition(col(k))` before
    * the RDD boundary), this lets EnsureRequirements skip re-exchanging
    * the frame in every subsequent round's joins — the plain bridge
    * reports UnknownPartitioning and pays the shuffle again. The caller
    * GUARANTEES the rows physically lie in `HashPartitioning(hashCols,
    * rdd.getNumPartitions)` layout (a row-preserving map over the
    * repartitioned toRdd keeps it); declaring a layout the rows don't
    * have silently mis-joins.
    */
  def internalFrameHashPartitioned(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      hashCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val keys = hashCols.map(n => attrs.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no such column to hash-declare: $n")))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      keys, rdd.getNumPartitions)
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      new org.apache.spark.sql.execution.LogicalRDD(attrs, rdd, part, Nil,
        false, None)(session, None, None))
  }
}
