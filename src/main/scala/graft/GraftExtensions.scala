package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions.{GraftFunctions, VectorAggregates}

/** Standard Spark extension entry point: load the whole function
  * surface, the optimizer rules and the DML strategy into any session
  * via configuration, no code changes —
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (the deployment-friendly path for spark-submit / Thrift server /
  * notebook clusters; [[GraftSession.install]] applies the same lists
  * to a session that already exists).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

/** The one registration list, read by both seats. */
object GraftExtensions {

  /** Every graft SQL function, typed aggregates included: name → builder. */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    GraftFunctions.builders ++ VectorAggregates.builders

  /** Optimizer rules in seat order. MetadataFilteredCount runs BEFORE
    * DvColumnarRead: the filtered metadata-COUNT fold must see the bare
    * relation in the same batch pass, or the DV substitution dissolves
    * the match. In the extension seat DvColumnarRead sees the
    * un-converted DataSourceV2Relation, so the substituted DV plan gets
    * the full pushdown/pruning/codegen treatment from the remaining
    * passes; in install()'s post-pushdown seat it matches the
    * already-built scan relation instead.
    */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.PrenormalizeCosine,
    graft.plans.MetadataFilteredCount,
    graft.plans.DvColumnarRead)

  /** SQL UPDATE on graft catalog tables: extra strategies run before
    * the built-ins, claiming UpdateTable before BasicOperators rejects
    * it (see graft.plans.GraftDmlStrategy).
    */
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.GraftDmlStrategy)
}
