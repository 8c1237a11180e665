package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GenericInternalRow, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import graft.sink.{ManifestTableFormat, StatsProbes}

/** FILTERED metadata aggregates: `SELECT count(*) [, count(col),
  * min(col), max(col)…] FROM t
  * WHERE <exactly-probeable predicate>` over a manifest table folds to
  * a [[LocalRelation]] at optimization time — files whose per-file
  * stats PROVE the predicate for every row are log-counted, files
  * proven to match nothing contribute zero, and only the boundary
  * files are read (one narrow planning job, with the predicate
  * applied). On a time-clustered 10⁷-file table,
  * `COUNT(*) WHERE ts < cutoff` reads a handful of cutoff-straddling
  * files instead of all 10⁷.
  *
  * This CANNOT ride the DSv2 aggregate-pushdown seam: Spark's
  * `V2ScanRelationPushDown.rewriteAggregate` only pushes aggregates
  * when ZERO post-scan filters remain, and a parquet scan always
  * returns its data filters for re-evaluation — so a filtered COUNT
  * never reaches `pushAggregation`. A logical rule at the
  * operator-optimization seat sees `Aggregate(Filter(relation))`
  * before scan planning and owns the whole answer instead.
  *
  * MIN/MAX ride the same proof: an all-match file's recorded bounds
  * ARE its matching rows' bounds, so extrema fold from stats +
  * boundary scan exactly like counts (stats-exact kinds and
  * marked-exact strings only; see `filteredAggregates`).
  *
  * Soundness ladder (every rung fail-open to the normal scan):
  * the aggregate list must be all non-distinct, unfiltered
  * COUNT/MIN/MAX;
  * counted columns must be the RELATION's own attributes (matched by
  * exprId through [[PhysicalOperation]]'s alias substitution, so a
  * subquery alias shadowing a real column name cannot spoof the
  * lane); every filter conjunct must be deterministic and convert
  * losslessly to an exact probe ([[StatsProbes.extractExact]] —
  * fail-closed by construction); and the table hook itself refuses on
  * DV'd boundary files, missing stats, or an over-large boundary
  * (see [[ManifestTableFormat!.filteredAggregates]]). The table's
  * [[graft.sink.PinnedScan]] fixes the file list and DV cardinalities
  * at resolution, so the folded count agrees with `collect()` on the
  * same handle under any concurrent churn.
  */
object MetadataFilteredCount extends Rule[LogicalPlan]
    with PredicateHelper {

  private object GraftRel {
    def unapply(p: LogicalPlan)
        : Option[(graft.catalog.GraftTable, Seq[Attribute])] = p match {
      case r: DataSourceV2Relation => r.table match {
        case g: graft.catalog.GraftTable => Some((g, r.output))
        case _ => None
      }
      case s: DataSourceV2ScanRelation => s.relation.table match {
        case g: graft.catalog.GraftTable => Some((g, s.output))
        case _ => None
      }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case a: Aggregate if a.groupingExpressions.isEmpty =>
      fold(a).getOrElse(a)
  }

  private def fold(a: Aggregate): Option[LogicalPlan] = {
    val (filters, table, relOutput) = a.child match {
      case PhysicalOperation(_, fs, GraftRel(g, out))
          if fs.nonEmpty && fs.forall(_.deterministic) => (fs, g, out)
      case _ => return None
    }
    val pin = table.pinned
    val relIds = relOutput.map(a => a.exprId -> a.name).toMap
    def physOf(att: Attribute): Option[String] =
      relIds.get(att.exprId).flatMap(pin.typeOf).map(_._1)
    // every output expression must be a plain COUNT/MIN/MAX (no
    // DISTINCT, no FILTER clause) over a literal (count-star) or a
    // relation attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
    val targets: Seq[ManifestTableFormat.MetaAgg] =
      a.aggregateExpressions.map {
        case Alias(AggregateExpression(
            Count(Seq(l: Literal)), Complete, false, None, _), _)
            if l.value != null => ManifestTableFormat.MetaCountStar
        case Alias(AggregateExpression(
            Count(Seq(att: Attribute)), Complete, false, None, _), _) =>
          ManifestTableFormat.MetaCount(physOf(att).getOrElse(return None))
        case Alias(AggregateExpression(
            Min(att: Attribute), Complete, false, None, _), _) =>
          ManifestTableFormat.MetaMin(physOf(att).getOrElse(return None))
        case Alias(AggregateExpression(
            Max(att: Attribute), Complete, false, None, _), _) =>
          ManifestTableFormat.MetaMax(physOf(att).getOrElse(return None))
        case _ => return None
      }
    val probes = StatsProbes.extractExact(filters, pin.typeOf)
      .getOrElse(return None)
    if (probes.isEmpty) return None
    val values = pin.metaAggregates(probes, targets).getOrElse(return None)
    Some(LocalRelation(
      a.aggregateExpressions.map(_.toAttribute),
      Seq(new GenericInternalRow(
        values.toArray[Any]): InternalRow)))
  }
}
