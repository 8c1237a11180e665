package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, In, IsNotNull, Literal, PlanExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.connector.catalog.SupportsDelete
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.graftbridge.Bridge

import graft.catalog.GraftUpdatable

/** Planner strategy that gives graft catalog tables row-level SQL DML
  * — `UPDATE t SET … WHERE …` and arbitrary-predicate
  * `DELETE FROM t WHERE …` — the statements a store user reaches for
  * first (both reference stores are full SQL engines: T-SQL,
  * `AzureSQL/csharp/README.md:130-132`; Cosmos SQL,
  * `AzureCosmosDB/csharp/README.md:104-106`).
  *
  * How it hooks in: Spark 4 analyzes these statements into
  * fully-resolved commands ([[UpdateTable]], [[DeleteFromTable]]) and
  * only rejects them at PLANNING time when the table lacks
  * `SupportsRowLevelOperations`. Strategies registered on
  * `spark.experimental.extraStrategies` run BEFORE the built-ins, so
  * this one claims those commands over a [[GraftUpdatable]] relation
  * and plans them as driver-side command execs routed to the manifest
  * format's copy-on-write rewrites (`ManifestTableFormat.update` /
  * `.deleteWhere`: predicate-pushed pre-scan for affected file NAMES,
  * rewrite of only those files, rm+add in one atomic log commit).
  *
  * DELETE keeps its fast lane: predicates the document-keyed
  * `SupportsDelete` surface can serve (`document_url` equality/IN,
  * bloom-pruned on the manifest) fall through to Spark's built-in
  * `DeleteFromTableExec`; only predicates that path refuses route to
  * the row-level rewrite.
  * Unqualified DELETE still refuses loudly — a full wipe must be an
  * explicit DROP TABLE or store call, never a typo'd DELETE.
  *
  * Registered by `GraftSession.install` (post-hoc, works on any live
  * session) and by `GraftExtensions` (config-driven deployments).
  */
object GraftDmlStrategy extends SparkStrategy with PredicateHelper {

  /** [[splitConjunctivePredicates]] exposed to the exec nodes. */
  private[plans] def conjuncts(e: Expression): Seq[Expression] =
    splitConjunctivePredicates(e)

  /** The catalog table behind the DML target, whether the optimizer
    * has already rewritten the relation into its scan form
    * (V2ScanRelationPushDown runs before planning) or not.
    */
  private def tableOf(p: LogicalPlan)
      : Option[org.apache.spark.sql.connector.catalog.Table] = p match {
    case r: DataSourceV2Relation => Some(r.table)
    case r: DataSourceV2ScanRelation => Some(r.relation.table)
    case SubqueryAlias(_, child) => tableOf(child)
    case _ => None
  }

  /** True when the built-in `SupportsDelete` path will serve this
    * DELETE — a conjunction of `document_url` equality/IN terms, the
    * document-keyed fast lane (bloom-pruned on the manifest). Mirrors
    * `GraftTable.urlSet`'s filter acceptance on raw expressions; then
    * we must NOT claim it.
    */
  private def builtinDeletes(
      t: org.apache.spark.sql.connector.catalog.Table,
      condition: Expression): Boolean =
    t.isInstanceOf[SupportsDelete] &&
      splitConjunctivePredicates(condition).forall {
        case EqualTo(a: AttributeReference, _: Literal) =>
          a.name.equalsIgnoreCase("document_url")
        case EqualTo(_: Literal, a: AttributeReference) =>
          a.name.equalsIgnoreCase("document_url")
        case EqualNullSafe(a: AttributeReference, _: Literal) =>
          a.name.equalsIgnoreCase("document_url")
        case EqualNullSafe(_: Literal, a: AttributeReference) =>
          a.name.equalsIgnoreCase("document_url")
        case In(a: AttributeReference, vs)
            if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
          a.name.equalsIgnoreCase("document_url")
        case IsNotNull(a: AttributeReference) =>
          a.name.equalsIgnoreCase("document_url")
        case _ => false
      }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UpdateTable(table, assignments, condition) =>
      tableOf(table) match {
        case Some(t: GraftUpdatable) =>
          GraftUpdateExec(t.name(), t, assignments, condition) :: Nil
        case _ => Nil
      }
    case DeleteFromTable(table, condition) =>
      tableOf(table) match {
        case Some(t: GraftUpdatable)
            if !builtinDeletes(t, condition) =>
          condition match {
            case Literal.TrueLiteral =>
              throw new UnsupportedOperationException(
                s"${t.name()}: unqualified DELETE is refused — wipe " +
                  "via DROP TABLE or the store API, explicitly")
            case _ =>
              GraftDeleteExec(t.name(), t, condition) :: Nil
          }
        case _ => Nil
      }
    case m: MergeIntoTable =>
      tableOf(m.targetTable) match {
        case Some(t: GraftUpdatable) =>
          if (m.withSchemaEvolution)
            throw new UnsupportedOperationException(
              s"${t.name()}: MERGE WITH SCHEMA EVOLUTION is not " +
                "supported — evolve explicitly with ALTER TABLE ADD " +
                "COLUMN first")
          GraftMergeExec(t.name(), t,
            m.targetTable.outputSet.map(_.exprId).toSet,
            m.sourceTable,
            m.mergeCondition, m.matchedActions, m.notMatchedActions,
            m.notMatchedBySourceActions) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

private[plans] object DmlRebind {

  /** Rebind a resolved command expression into a fresh unresolved
    * Column BY NAME — sound because graft tables have a flat,
    * fixed-name schema and the rewrite re-reads the affected files
    * as a new frame with new expr ids. Subqueries (logical or
    * already planned) refuse loudly with the CALL alternative.
    */
  def column(tableName: String, e: Expression): Column = {
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      throw new UnsupportedOperationException(
        s"$tableName: DML with a subquery in SET/WHERE is not " +
          "supported — materialize the subquery as a view and use " +
          "CALL <catalog>.merge_into / delete_documents for keyed " +
          "bulk writes")
    Bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }
}

/** Physical node for UPDATE: runs the store rewrite exactly once (an
  * eagerly-executed command) and returns no rows.
  */
final case class GraftUpdateExec(
    tableName: String,
    table: GraftUpdatable,
    assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private lazy val done: Unit = {
    val set = assignments.map {
      case Assignment(k: AttributeReference, v) =>
        k.name -> DmlRebind.column(tableName, v)
      case Assignment(k, _) => throw new UnsupportedOperationException(
        s"$tableName: UPDATE target must be a top-level column, " +
          s"got ${k.sql}")
    }
    table.updateWhere(
      condition.map(DmlRebind.column(tableName, _)), set)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }

  override def executeCollect(): Array[InternalRow] = {
    done
    Array.empty
  }
}

/** Physical node for MERGE INTO: converts the analyzed WHEN-clause
  * tree into the sink's merge algebra and runs one atomic
  * copy-on-write commit. Attribute references rebind BY SIDE — the
  * target relation's expr ids qualify as `__graft_t.<name>`,
  * everything else (the source plan's) as `__graft_s.<name>` — the
  * aliases the store joins under; this disambiguates the shared
  * column names a self-shaped MERGE always has. The source plan
  * evaluates as a frame at execution time.
  */
final case class GraftMergeExec(
    tableName: String,
    table: GraftUpdatable,
    targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId],
    sourcePlan: LogicalPlan,
    mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction]) extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private def rebind(e: Expression): Column = {
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      throw new UnsupportedOperationException(
        s"$tableName: MERGE with a subquery in ON/WHEN is not " +
          "supported — materialize it as the USING source view")
    Bridge.column(e.transform {
      case a: AttributeReference if targetIds.contains(a.exprId) =>
        UnresolvedAttribute(Seq("__graft_t", a.name))
      case a: AttributeReference =>
        UnresolvedAttribute(Seq("__graft_s", a.name))
    })
  }

  private def convert(a: MergeAction): graft.sink.GraftMergeAction =
    a match {
      case u: UpdateAction =>
        graft.sink.GraftMergeUpdate(u.condition.map(rebind),
          u.assignments.map {
            case Assignment(k: AttributeReference, v) =>
              k.name -> rebind(v)
            case Assignment(k, _) =>
              throw new UnsupportedOperationException(
                s"$tableName: MERGE UPDATE target must be a " +
                  s"top-level column, got ${k.sql}")
          })
      case d: DeleteAction =>
        graft.sink.GraftMergeDelete(d.condition.map(rebind))
      case i: InsertAction =>
        graft.sink.GraftMergeInsert(i.condition.map(rebind),
          i.assignments.map {
            case Assignment(k: AttributeReference, v) =>
              k.name -> rebind(v)
            case Assignment(k, _) =>
              throw new UnsupportedOperationException(
                s"$tableName: MERGE INSERT target must be a " +
                  s"top-level column, got ${k.sql}")
          })
      case other => throw new UnsupportedOperationException(
        s"$tableName: unsupported MERGE action $other")
    }

  /** The bloom fast path: a `t.document_url = <source-only expr>`
    * conjunct in ON lets affected-file selection use the per-file url
    * stats instead of a pre-scan. The probe projects the SOURCE side
    * of that equality, resolved against the bare source frame.
    */
  private def urlProbe(
      source: org.apache.spark.sql.DataFrame): Option[org.apache.spark.sql.DataFrame] = {
    def sourceOnly(e: Expression): Boolean =
      e.references.forall(a => !targetIds.contains(a.exprId))
    def bare(e: Expression): Column = Bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
    GraftDmlStrategy.conjuncts(mergeCondition).collectFirst {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          t: AttributeReference, s)
          if targetIds.contains(t.exprId) &&
            t.name.equalsIgnoreCase("document_url") && sourceOnly(s) =>
        source.select(bare(s).cast("string").as("document_url"))
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          s, t: AttributeReference)
          if targetIds.contains(t.exprId) &&
            t.name.equalsIgnoreCase("document_url") && sourceOnly(s) =>
        source.select(bare(s).cast("string").as("document_url"))
    }
  }

  private lazy val done: Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val source = Bridge.ofRows(spark, sourcePlan)
    table.mergeRows(
      source,
      rebind(mergeCondition),
      matchedActions.map(convert),
      notMatchedActions.map(convert),
      notMatchedBySourceActions.map(convert),
      urlProbe(source))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }

  override def executeCollect(): Array[InternalRow] = {
    done
    Array.empty
  }
}

/** Physical node for row-level DELETE (predicates beyond the
  * document-keyed surface).
  */
final case class GraftDeleteExec(
    tableName: String,
    table: GraftUpdatable,
    condition: Expression) extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private lazy val done: Unit =
    table.deleteRowsWhere(DmlRebind.column(tableName, condition))

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }

  override def executeCollect(): Array[InternalRow] = {
    done
    Array.empty
  }
}
