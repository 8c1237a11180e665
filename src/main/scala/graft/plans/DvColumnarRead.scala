package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.sink.{ManifestTableFormat, PinnedScan, StatsProbes}

/** Kills the DELETION-VECTOR read tax: a DV'd manifest snapshot loaded
  * through the DSv2 seam would otherwise read via the `V1Scan`
  * fallback — `RowDataSourceScan`, per-row `Row` conversion, no
  * vectorized parquet reader, no pushdown, no file skipping. This rule
  * replaces the relation AT THE LOGICAL LEVEL with the equivalent
  * declarative plan, built from the table's [[PinnedScan]] (its
  * DV-aware reader, file pruner and per-file stats lanes):
  *
  * {{{
  *   clean files        → vectorized parquet scan
  *   UNION ALL
  *   DV'd files         → vectorized parquet scan (+ _metadata.row_index)
  *                        LEFT ANTI broadcast-join deleted (file, pos)
  * }}}
  *
  * so Catalyst's remaining passes push predicates and column pruning
  * into the parquet scans (the anti-join is null-filtering on the left
  * side, so left-side predicates descend through it), whole-stage
  * codegen fuses the filter/join, and the scan stays columnar — the
  * plan a user would have written by hand against the file list.
  *
  * Static file skipping: when a Filter sits directly on the relation
  * (operator optimization puts it there), its conjuncts are probed
  * against the manifest's per-file stats and the pinned (file, dv)
  * list shrinks BEFORE the parquet relation is built — the DV twin of
  * `ManifestStatsScanBuilder`'s skipping, fail-open on every absent
  * stat (the full predicate still evaluates above).
  *
  * Registered both as a session-extension operator-optimization rule
  * ([[graft.GraftExtensions]]) — where the un-converted
  * `DataSourceV2Relation` shape is matched and every later optimizer
  * pass applies to the substituted subtree — and as an
  * `experimental.extraOptimizations` fallback for externally-created
  * sessions, where the already-built scan relation shape is matched
  * (still vectorized + codegen'd; parquet-level pushdown needs the
  * early seat). Sessions with neither keep the exact-but-slow V1
  * fallback ([[graft.catalog.DvV1ScanBuilder]]) — three layers, same
  * rows. Output attributes keep the relation's exprIds (alias remap),
  * so the surrounding plan never re-resolves. DV-free tables never
  * match: their scans already take the stats-pruned vectorized path.
  */
object DvColumnarRead extends Rule[LogicalPlan] with PredicateHelper {

  /** The table's pin when it carries deletion vectors. */
  private def dvPinOf(t: Table): Option[PinnedScan] = t match {
    case g: graft.catalog.GraftTable => Some(g.pinned).filter(_.hasDv)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML/DDL commands (DELETE/UPDATE/MERGE …) keep their TARGET
    // relation AS a relation — DataSourceV2Strategy pattern-matches
    // it to route the operation (our GraftDmlStrategy too). But a
    // command's QUERY side is a genuine read and must NOT silently
    // drop to the V1 row fallback: `INSERT INTO … SELECT FROM dv_t`,
    // CTAS over a DV'd table, and every `df.write` of a DV'd read
    // (the round-12 finding: the write re-plans the query under a
    // Command root, so a blanket skip made exactly those reads pay
    // the de-vectorized tax — linear, invisible to SELECT-only plan
    // pins). V2 write commands carry their target as a FIELD (`table`),
    // so their one child IS the query — rewrite it wholesale; for
    // every other command, rewrite children but leave BARE relation
    // children (the DML target shape) untouched.
    case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
      w.withNewQuery(rewrite(w.query))
    case c: org.apache.spark.sql.catalyst.plans.logical.Command =>
      // only the row-level DML commands route a child relation as
      // their TARGET; everything else's relation children are genuine
      // reads (CTAS whose query collapsed to the bare relation, a
      // MERGE source that IS a bare DV'd relation) and must not pay
      // the V1 row fallback — so the exemption names the exact target
      // positions instead of sparing every bare relation child
      val targets: Seq[LogicalPlan] = c match {
        case d: org.apache.spark.sql.catalyst.plans.logical
            .DeleteFromTable => Seq(d.table)
        case u: org.apache.spark.sql.catalyst.plans.logical
            .UpdateTable => Seq(u.table)
        case m: org.apache.spark.sql.catalyst.plans.logical
            .MergeIntoTable => Seq(m.targetTable)
        case _ => Seq.empty
      }
      // reference equality: a self-merge's source is structurally
      // equal to the target but is still a genuine read
      c.mapChildren { child =>
        if (targets.exists(_ eq child)) child else rewrite(child)
      }
    case _ => rewrite(plan)
  }

  /** Manual recursion (NOT transformDown — descent must stop at the
    * bare-count guard): substitution happens at the relation shapes,
    * everything else recurses into children.
    */
  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // `SELECT count(*) FROM dv_table` stays UNSUBSTITUTED: the V1
    // builder answers it from the log (Σ rows − dv_card — see
    // DvV1ScanBuilder's aggregate lane), which beats the columnar
    // anti-join read by the whole scan. Any other aggregate, any
    // filter, any grouping takes the normal substitution below.
    case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.forall(_.references.isEmpty) &&
          bareCountStar(a) && isDvRelation(a.child) => a
    // TopN over a DV'd relation: files whose LIVE rows provably sort
    // after the top k are dropped from the pair list BEFORE the
    // anti-join plan is built — the DV twin of
    // ManifestStatsScanBuilder.pushTopN, sharing its threshold
    // arithmetic (topNKeepFiles with live lower bounds). Sort + Limit
    // stay above; exactness is theirs.
    case gl @ org.apache.spark.sql.catalyst.plans.logical.GlobalLimit(
        Literal(n: Int, _),
        ll @ org.apache.spark.sql.catalyst.plans.logical.LocalLimit(_,
          srt @ org.apache.spark.sql.catalyst.plans.logical.Sort(
            orders, true, inner, _))) =>
      topNSubstitute(n, orders, inner)
        .map(ni => gl.copy(child = ll.copy(child = srt.copy(child = ni))))
        .getOrElse(gl.mapChildren(rewrite))
    // bare LIMIT: plan the smallest pair-list prefix whose live
    // counts cover n (an un-predicated LIMIT may take ANY n rows)
    case gl @ org.apache.spark.sql.catalyst.plans.logical.GlobalLimit(
        Literal(n: Int, _),
        ll @ org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
          _, inner)) =>
      limitSubstitute(n, inner)
        .map(ni => gl.copy(child = ll.copy(child = ni)))
        .getOrElse(gl.mapChildren(rewrite))
    case f @ Filter(cond, DvRel(out, pin)) =>
      substitute(out, pin, pin.pairs, splitConjunctivePredicates(cond))
        .map(Filter(cond, _)).getOrElse(f)
    case DvRel(out, pin) =>
      substitute(out, pin, pin.pairs, Nil).getOrElse(plan)
    case other => other.mapChildren(rewrite)
  }

  private def bareCountStar(
      a: org.apache.spark.sql.catalyst.plans.logical.Aggregate): Boolean = {
    val aggs = a.aggregateExpressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression => e
    })
    aggs.nonEmpty && aggs.forall { e =>
      !e.isDistinct && (e.aggregateFunction match {
        case c: org.apache.spark.sql.catalyst.expressions.aggregate
            .Count => c.children.forall(_.foldable)
        case _ => false
      })
    }
  }

  private def isDvRelation(plan: LogicalPlan): Boolean = plan match {
    // column pruning interposes a (often empty) Project under the
    // count — transparent for a row-count
    case p: Project => isDvRelation(p.child)
    case r: DataSourceV2Relation => dvPinOf(r.table).isDefined
    case s: DataSourceV2ScanRelation => dvPinOf(s.relation.table).isDefined
    case _ => false
  }

  /** Both relation shapes with a DV table behind them. */
  private object DvRel {
    def unapply(p: LogicalPlan): Option[(Seq[Attribute], PinnedScan)] =
      p match {
        case r: DataSourceV2Relation =>
          dvPinOf(r.table).map((r.output, _))
        case s: DataSourceV2ScanRelation =>
          dvPinOf(s.relation.table).map((s.output, _))
        case _ => None
      }
  }

  /** The TopN pair-pruned substitution, or None (fall through to the
    * generic rewrite). Descends through attribute-only Projects; the
    * first sort key must be a stats-ordered column OF THE RELATION
    * (matched by exprId).
    */
  private def topNSubstitute(
      limit: Int,
      orders: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
      plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case p: Project if p.projectList.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .AttributeReference]) =>
      topNSubstitute(limit, orders, p.child)
        .map(c => p.copy(child = c))
    case DvRel(out, pin) if limit > 0 =>
      import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, NullsFirst}
      for {
        head <- orders.headOption
        att <- head.child match {
          case a: AttributeReference => Some(a)
          case _ => None
        }
        if out.exists(_.exprId == att.exprId)
        (phys, dt) <- pin.typeOf(att.name)
        if StatsProbes.statsOrderedKind(dt) &&
          !dt.isInstanceOf[org.apache.spark.sql.types.BooleanType]
        rs <- pin.ranges(pin.files, phys)
        if rs.nonEmpty
        keep <- ManifestTableFormat.topNKeepFiles(rs, limit,
          asc = head.direction == Ascending,
          nullsFirst = head.nullOrdering == NullsFirst)
        if keep.size < pin.pairs.size
        sub <- substitute(out, pin, pin.pairs.filter(p => keep(p._1)), Nil)
      } yield sub
    case _ => None
  }

  /** The bare-LIMIT pair-prefix substitution, or None. */
  private def limitSubstitute(
      limit: Int, plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case p: Project if p.projectList.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .AttributeReference]) =>
      limitSubstitute(limit, p.child).map(c => p.copy(child = c))
    case DvRel(out, pin) if limit > 0 =>
      for {
        counts <- pin.liveRows(pin.files)
        if pin.pairs.forall(p => counts.contains(p._1))
        kept = {
          var acc = 0L
          pin.pairs.takeWhile { p =>
            val take = acc < limit
            acc += counts(p._1)
            take
          }
        }
        if kept.size < pin.pairs.size
        sub <- substitute(out, pin, kept, Nil)
      } yield sub
    case _ => None
  }

  /** The DV-aware logical plan over `pairs` (a subset of the pin's),
    * output-aliased to the relation's own attribute ids — or None when
    * anything is off (missing column, reader failure), leaving the
    * exact V1 fallback in place.
    */
  private def substitute(
      out: Seq[Attribute],
      pin: PinnedScan,
      candidates: Seq[(String, Option[ManifestTableFormat.DvRef])],
      conjuncts: Seq[Expression]): Option[LogicalPlan] =
    try {
      val probes = StatsProbes.extract(conjuncts, pin.typeOf)
      val pairs =
        if (probes.isEmpty) candidates
        else pin.prune(probes).fold(candidates) { keep =>
          val k = keep.toSet
          candidates.filter(p => k(p._1))
        }
      // the reader's plan is ANALYZED, not optimized — fold its
      // broadcast() hints into join-hint form here, because the
      // optimizer's own EliminateResolvedHint (Finish Analysis) has
      // already run by the time this rule substitutes
      val child = org.apache.spark.sql.catalyst.optimizer
        .EliminateResolvedHint(pin.read(pairs).queryExecution.analyzed)
      val byName = child.output.map(a => a.name.toLowerCase -> a).toMap
      if (!out.forall(a => byName.contains(a.name.toLowerCase))) None
      else Some(Project(out.map { a =>
        Alias(byName(a.name.toLowerCase), a.name)(
          exprId = a.exprId, qualifier = a.qualifier)
      }, child))
    } catch { case scala.util.control.NonFatal(_) => None }
}
