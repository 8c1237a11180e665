package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Spark internals needed by an extension
  * library: wrapping a Catalyst [[Expression]] as a user-facing [[Column]]
  * and registering expression builders on a live session. This is the
  * standard technique used by open-source Spark extension libraries
  * (a file placed under the `org.apache.spark.sql` package tree).
  *
  * MINOR-VERSION BREAK RISK: every entry point below that casts to
  * `org.apache.spark.sql.classic.SparkSession` depends on the Spark
  * 4.x "classic" implementation split (SPARK-44111 Connect refactor).
  * Each method documents exactly which internal API it touches and
  * what a Spark upgrade breaking it would look like; `BridgeSpec`
  * is the compile-and-run canary — it exercises every entry point on
  * a live session, so a silently-changed internal fails the suite,
  * not a user query.
  *
  * PUBLIC-EQUIVALENT AUDIT (round 12, per-method): none of the
  * entry points has a public replacement in Spark 4.1 —
  * `column`/`expression` (ColumnNode ↔ Catalyst) have no public
  * bridge by design of the Connect split; `ofRows` (LogicalPlan →
  * DataFrame) has no public constructor — `spark.sql` round-trips
  * through SQL text and loses exprIds; `rewrapBatch` needs
  * `QueryExecution.toRdd` to pin a streaming batch to one execution
  * (public actions re-trigger the incremental plan); and
  * `registerFunction` needs the session `FunctionRegistry` because
  * `spark.udf.register` takes typed closures, not Expression
  * builders, and `SparkSessionExtensions.injectFunction` only works
  * at session BUILD time, not on an externally-created session;
  * `aggregatorBuilder` exists because both registries take builders
  * and a typed UDAF has no public one; `drainListenerBus` because
  * `SparkContext.listenerBus` is `private[spark]` and listeners have
  * no public way to wait for delivery. The
  * canary keeps each pinned with a user-shaped call; re-audit on any
  * Spark upgrade.
  */
object Bridge {

  /** Wrap a raw Catalyst expression as a Column (Spark 4.x ColumnNode API).
    * Internal API: `classic.ExpressionUtils.column` (an
    * `ExpressionColumnNode` wrapper). Break mode: method moved/renamed
    * → compile error here; semantics changed → BridgeSpec canary fails
    * at `column(Literal(1))` evaluation.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column, EAGERLY converted
    * to the real Catalyst tree.
    *
    * Internal API: `classic.SparkSession.expression(Column)` — the
    * per-session ColumnNode → Expression converter. This MUST be the
    * session converter, not `ExpressionUtils.expression`: the static
    * helper returns a lazy `ColumnNodeExpression` WRAPPER whose children
    * are opaque until analysis, so structural consumers
    * (`StatsProbes.extract`/`extractExact`, which pattern-match
    * comparison nodes to derive file-skipping probes) see nothing inside
    * it and fail open/closed — DML pre-scans stop pruning, the
    * metadata-only delete lane dies, predicate-scoped compaction sweeps
    * everything. Using the named session's converter also guarantees the
    * conversion runs under THAT session's SQLConf (a caller holding a
    * non-active session in a multi-session JVM still converts correctly).
    * Break mode: method moved/renamed → compile error; lazy-wrapper
    * semantics reintroduced → BridgeSpec's Column-API probe canary
    * (`StatsProbes.extract(expression(spark, col("x") > 20)).nonEmpty`)
    * fails, plus the ManifestStatsSkipSpec file-count pins.
    */
  def expression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Materialize an analyzed LogicalPlan as a DataFrame (the hook a
    * command exec needs to evaluate a statement's source relation —
    * e.g. MERGE INTO's USING side — as a frame at execution time).
    * Internal API: `classic.Dataset.ofRows`. Break mode: signature
    * drift → compile error; the canary round-trips a plan taken from
    * a real frame and checks the rows survive.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-wrap a streaming Sink.addBatch micro-batch DataFrame as a
    * plain batch frame over its already-planned rows (the Delta sink
    * technique: `toRdd` on the incremental execution, rows copied,
    * re-wrapped with `internalCreateDataFrame`). A sink that runs
    * MULTIPLE actions over the raw addBatch frame would re-trigger
    * the incremental plan per action; this pins the batch to one
    * execution.
    * Internal API: `classic.SparkSession.internalCreateDataFrame` +
    * `QueryExecution.toRdd` (InternalRow contract: rows must be
    * `.copy()`-ed out of the unsafe buffer). Break mode: either
    * member going private → compile error; an InternalRow reuse
    * change → the canary's value check catches corrupted rows.
    */
  def rewrapBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    classic.internalCreateDataFrame(
      qe.toRdd.map(_.copy()), df.schema, isStreaming = false)
  }

  /** The SQL expression builder of a typed UDAF (`functions.udaf(...)`),
    * for registries that take builders — the function registry and
    * `SparkSessionExtensions.injectFunction` — where `spark.udf.register`
    * needs a live session.
    * Internal API: `UserDefinedAggregator` (private[sql]) and
    * `ScalaAggregator.apply`, the pair `spark.udf.register` uses.
    * Break mode: either going away → compile error; a semantics change
    * → the extension-only session test (StreamingSpec) fails running
    * `vector_avg` in SQL.
    */
  def aggregatorBuilder(udaf: org.apache.spark.sql.expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = {
    val u = udaf.asInstanceOf[
      org.apache.spark.sql.expressions.UserDefinedAggregator[Any, Any, Any]]
    es => org.apache.spark.sql.execution.aggregate.ScalaAggregator(u, es)
  }

  /** Register a builder for `name` on an existing session (post-hoc; no
    * SparkSessionExtensions needed, so it works on any caller session).
    * A name already bound to this very builder (`eq`) is left alone, so
    * re-registering is free and logs no "replaced" warning.
    * Internal API: `sessionState.functionRegistry` (private[sql] on
    * the classic session) + `FunctionRegistry.registerFunction`.
    * Break mode: registry type/visibility change → compile error; the
    * canary registers a marker function and evaluates it via SQL.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry: FunctionRegistry =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.lookupFunctionBuilder(id).exists(_ eq builder))
      registry.registerFunction(id, new ExpressionInfo("graft", name), builder)
  }

  /** Block until the listener bus has delivered every event posted so
    * far: a SparkListener read afterwards has seen the end of every job
    * that ended before the call, so job counts taken this way repeat
    * exactly (a fixed sleep only makes late events unlikely).
    * Internal API: `SparkContext.listenerBus` (private[spark]) and
    * `LiveListenerBus.waitUntilEmpty`. Break mode: visibility or
    * signature change → compile error; the canary counts a job's end
    * event right after the drain.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `s` as a file-source read types it: every field, array element
    * and map value nullable, at every depth. Internal API:
    * `DataType.asNullable` (private[spark]), the call a parquet
    * relation makes on its data schema. Break mode: visibility or
    * signature change → compile error; the canary compares it with
    * the schema a parquet round trip reads back.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
