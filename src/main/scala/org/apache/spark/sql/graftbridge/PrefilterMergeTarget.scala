package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LocalRelation,
  LogicalPlan, Project, Range, Union, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.write.RowLevelOperationTable
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.lake.connector.DuckLakeV2Table

/** Semi-join reduction of a lake MERGE's target: under a `WriteDelta`
  * into a lake table, the target side `t` of the MERGE's `Inner` or
  * `RightOuter` join with its source `s` on `cond` becomes
  * `t LEFT SEMI JOIN s ON cond`, so only the target rows some source row
  * matches reach the join's exchange. Spark's rewrite hints the target
  * `NO_BROADCAST_AND_REPLICATION` for the cardinality check, so without
  * this every target row is shuffled and sorted.
  *
  * The source is evaluated twice, once for the semi-join's broadcast and
  * once for the join, so the rewrite fires only on a source that reads
  * the same rows every time ([[sameRowsEachRead]]). Then it is exact for
  * these two join types: a target row that matches no source row never
  * reaches their output, and a semi-join never duplicates a row, so the
  * cardinality check sees the same matches. `LeftOuter` and `FullOuter`
  * (`WHEN NOT MATCHED BY SOURCE`) keep every target row and are left
  * alone. The source's estimated size must also be within
  * `spark.sql.autoBroadcastJoinThreshold` (the semi-join broadcasts it;
  * a larger source would cost a second shuffle join).
  *
  * A pre-CBO rule: the target is still the `DataSourceV2Relation` over
  * the `RowLevelOperationTable` (scan pushdown runs later), which is how
  * the join's target side is told from a join inside the source.
  */
object PrefilterMergeTarget extends Rule[LogicalPlan] {

  /** Whether every evaluation of `p` returns the same rows: deterministic
    * projections, filters and unions over literal rows, ranges and file
    * relations (lake reads included, each pinned at its snapshot).
    * `deterministic` alone does not promise that: a LIMIT without ORDER
    * BY, a window over tied keys or a re-scanned external source all pass
    * it. Also keeps `stats` off plans whose estimate is costly or not yet
    * allowed (a v2 relation before scan pushdown).
    */
  private def sameRowsEachRead(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation | _: Range => true
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: Project | _: Filter | _: Union =>
      p.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) &&
        p.children.forall(sameRowsEachRead)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w @ WriteDelta(DataSourceV2Relation(op @ RowLevelOperationTable(_: DuckLakeV2Table, _),
        _, _, _, _, _), _, query, _, _, _) =>
      def readsTarget(p: LogicalPlan) = !p.isInstanceOf[Join] && p.exists {
        case r: DataSourceV2Relation => r.table eq op
        case _                       => false
      }
      w.copy(query = query.transform {
        case j @ Join(target, source, Inner | RightOuter, Some(cond), _)
            if readsTarget(target) && sameRowsEachRead(source) &&
              source.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold =>
          j.copy(left = Join(target, source, LeftSemi, Some(cond), JoinHint.NONE))
      })
  }
}
