package graft.lake.connector

import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, KnownNotNull, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeleteFromTable, LogicalPlan, MergeIntoTable, OneRowRelation, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** One Catalyst plan for lake SQL: a post-hoc resolution rule replacing
  * each plain lake read — a `DataSourceV2Relation` over a
  * [[DuckLakeV2Table]] — with the ANALYZED plan of the facade's read of
  * that snapshot and those metadata columns ([[graft.lake.DuckLake.table]]:
  * one parquet relation per physical epoch over a self-pruning
  * `LakeFileIndex` partitioned by the identity partition columns, and
  * the inlined rows, in one union). The query's one optimizer then
  * pushes filters, prunes partitions (dynamic partition pruning
  * included) and prunes columns, nested fields too — as the reference plans a
  * DuckLake scan as parquet exec nodes in the one DataFusion plan and
  * receives the filters while building it (src/table.rs:369-527,
  * :584-598).
  *
  * Kept as DSv2 relations: the targets of DELETE, UPDATE and MERGE, held
  * as a child (a `V2WriteCommand`'s table is none), and storage-
  * partitioned reads (v2 bucketing set on, and the query references
  * every partition source column). A filterless, ungrouped COUNT/MIN/MAX
  * directly over a lake relation is answered from metadata (`MetaAgg`).
  */
object ResolveLakeReads extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    lazy val referenced = plan.collectWithSubqueries { case p => p.references }
      .flatMap(_.map(_.exprId)).toSet

    def lakeRead(r: DataSourceV2Relation, t: DuckLakeV2Table): LogicalPlan = {
      val virtual = r.output.map(_.name).filterNot(t.schema().fieldNames.contains)
      // SPJ only when the session sets v2 bucketing on (Spark's default is on)
      if (virtual.isEmpty &&
          conf.getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean &&
          t.storagePartitioned(r.output.filter(a => referenced(a.exprId)).map(_.name).toSet)) r
      else {
        val facade = t.lake.table(t.name(), Some(t.snapshot), Nil, virtual)
          .queryExecution.analyzed
        val byName = facade.output.map(a => a.name -> a).toMap
        aliased(r.output.map(o => byName(o.name)), r.output, facade)
      }
    }

    def resolve(p: LogicalPlan): LogicalPlan = p match {
      case _: DeleteFromTable | _: UpdateTable => p
      case m: MergeIntoTable => m.copy(sourceTable = resolve(m.sourceTable))
      case a: Aggregate if a.groupingExpressions.isEmpty =>
        (EliminateSubqueryAliases(a.child) match {
          case DataSourceV2Relation(t: DuckLakeV2Table, _, _, _, _, _) =>
            MetaAgg.answer(t.lake, t.name(), t.snapshot, a.aggregateExpressions)
              .map(values => aliased(values, a.output, OneRowRelation()))
          case _ => None
        }).getOrElse(a.mapChildren(resolve))
      case r @ DataSourceV2Relation(t: DuckLakeV2Table, _, _, _, _, _) => lakeRead(r, t)
      case _ => p.mapChildren(resolve)
    }
    resolve(plan)
  }

  /** `child` with `values` aliased to the replaced node's `output`
    * attributes (exprId, name, type and metadata kept); the catalog's NOT
    * NULL, enforced on write, survives the facade's wider nullability.
    */
  private def aliased(values: Seq[Expression], output: Seq[Attribute],
      child: LogicalPlan): LogicalPlan = {
    require(values.size == output.size && values.zip(output).forall { case (v, o) =>
        DataTypeUtils.equalsIgnoreNullability(v.dataType, o.dataType) },
      s"lake read produced ${values.map(_.dataType)}, expected ${output.map(_.dataType)}")
    Project(values.zip(output).map { case (v, o) =>
      Alias(if (v.nullable && !o.nullable) KnownNotNull(v) else v, o.name)(
        exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata)): NamedExpression
    }, child)
  }
}
