package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

/** Metadata-only `count(*)` over snapshot tables (the Delta
  * `OptimizeMetadataOnlyDeltaQuery` shape): every commit records each
  * data dir's EXACT row count in the manifest
  * ([[graft.sources.SnapshotTable.Snapshot.dirRows]], counted by the
  * commit's own write tasks), so an unfiltered
  * global `COUNT(*)` / `df.count()` is the SUM of O(entries) driver-
  * resident longs — this rule rewrites the whole aggregate to a
  * [[LocalRelation]] and the 100 TB table contributes ZERO scan tasks.
  *
  * Fires ONLY when provably safe:
  *   - global aggregate (no grouping), every aggregate expression a
  *     plain `COUNT(literal)` — not `COUNT(col)` (null-sensitive), not
  *     DISTINCT, not FILTERed;
  *   - the child is the bare V2 relation, under row-count-preserving
  *     `Project`s only — any `Filter`/`Limit`/join in between fails the
  *     match and the plan scans normally;
  *   - every live entry of the resolved snapshot carries a recorded
  *     count (`metadataRowCount = Some`) — manifests from before row
  *     counting fall back to the scan, never to a guess. */
object SnapshotMetadataOnlyCount extends Rule[LogicalPlan] {

  private def isPlainCountStar(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(
        Count(Seq(Literal(_, _))), Complete, false, None, _), _) => true
    case _ => false
  }

  /** The manifest row count, if `plan` is the bare snapshot relation
    * under row-count-preserving projections — matched both BEFORE scan
    * pushdown (`injectOptimizerRule` runs in the operator batch, the
    * Verify/Bench wiring) and AFTER it (`experimental
    * .extraOptimizations` runs last), where the pushed-down scan must
    * additionally prove it is the whole table with no predicates. */
  private def tableRowCount(plan: LogicalPlan): Option[Long] = plan match {
    case Project(_, child) => tableRowCount(child) // never changes counts
    case r: DataSourceV2Relation => r.table match {
      case t: graft.sources.SnapshotV2Table if t.snapshot != null =>
        t.snapshot.metadataRowCount
      case _ => None
    }
    case r: DataSourceV2ScanRelation => r.scan match {
      case s: graft.sources.SnapshotScan if s.isFullUnfilteredScan =>
        s.metadataRowCount
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _)
        if aggExprs.nonEmpty && aggExprs.forall(isPlainCountStar) =>
      tableRowCount(child) match {
        case Some(n) =>
          LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(Seq.fill(aggExprs.size)(n))))
        case None => agg
      }
  }
}
