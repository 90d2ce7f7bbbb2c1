package graft.lake.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, KnownNotNull, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** One read path for lake SQL: after Spark's scan pushdown, each ordinary
  * lake scan is replaced by the optimized plan of the facade's DataFrame
  * for the same snapshot, pushed filters and columns
  * ([[DuckLakeScan.frame]]); a metadata-answered aggregate becomes a
  * one-row projection of its literals. The query then plans the lake's
  * parquet scans (MOR deletes applied inside them) and inlined rows
  * itself — with file-size
  * statistics for static join selection, exchange reuse and file-scan
  * metrics — as the reference plans a DuckLake scan as parquet exec nodes
  * in the one DataFusion plan (src/table.rs:369-527). The rule runs in the
  * "User Provided Optimizers" batch, the first after the pushdown batch
  * that builds the scan; no batch after it folds hints or pushes
  * projections, hence the facade's OPTIMIZED plan.
  */
object SpliceLakeScans extends Rule[LogicalPlan] {

  /** Add the rule to a session's optimizer (once per session). */
  def register(session: SparkSession): Unit = {
    val exp = session.experimental
    if (!exp.extraOptimizations.contains(this))
      exp.extraOptimizations = exp.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // a metadata DELETE keeps its target: DataSourceV2Strategy plans it
    // from the scan relation itself
    case d: DeleteFromTable => d
    case _ => plan.transformWithSubqueries {
      case DataSourceV2ScanRelation(_, scan: DuckLakeScan, output, _, _) =>
        val facade = scan.frame.queryExecution.optimizedPlan
        aliased(facade.output, output, facade)
      case DataSourceV2ScanRelation(_, scan: DuckLakeMetaAggScan, output, _, _) =>
        aliased(scan.values, output, OneRowRelation())
    }
  }

  /** `child` with `values` aliased to the scan's `output` attributes
    * (exprId, name, type and metadata kept); the catalog's NOT NULL,
    * enforced on write, survives the facade's wider nullability.
    */
  private def aliased(values: Seq[Expression], output: Seq[AttributeReference],
      child: LogicalPlan): LogicalPlan = {
    require(values.size == output.size && values.zip(output).forall { case (v, o) =>
        DataTypeUtils.equalsIgnoreNullability(v.dataType, o.dataType) },
      s"lake scan produced ${values.map(_.dataType)}, expected ${output.map(_.dataType)}")
    Project(values.zip(output).map { case (v, o) =>
      Alias(if (v.nullable && !o.nullable) KnownNotNull(v) else v, o.name)(
        exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata)): NamedExpression
    }, child)
  }
}
