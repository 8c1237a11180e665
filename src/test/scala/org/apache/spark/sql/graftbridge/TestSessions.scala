package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** TEST-ONLY session factory (package-tree technique, test classpath
  * only — the production Bridge surface stays minimal): builds a
  * SparkSession with NO extensions over an existing context, the shape
  * an externally-created session has before `GraftSession.install`.
  * `newSession()` cannot model this — it carries the parent's
  * extensions, so the extension-seat optimizer rules still fire and
  * the `extraOptimizations` fallback seat stays unreachable.
  */
object TestSessions {
  /** A vanilla (extension-free) session sharing `spark`'s context. */
  def vanilla(spark: SparkSession): SparkSession =
    new org.apache.spark.sql.classic.SparkSession(spark.sparkContext)

  /** A session over `spark`'s context whose only wiring is the
    * `spark.sql.extensions` class list: Spark's own loader reads it
    * from the context's conf, set here for the one construction.
    */
  def withExtensionsConf(spark: SparkSession, classes: String)
      : SparkSession = {
    val conf = spark.sparkContext.conf
    val key = "spark.sql.extensions"
    val prev = conf.getOption(key)
    conf.set(key, classes)
    try new org.apache.spark.sql.classic.SparkSession(spark.sparkContext,
      new java.util.HashMap[String, String]())
    finally prev.fold(conf.remove(key))(conf.set(key, _))
  }

  /** The registry entry bound to `name`: its info and builder. */
  def registered(spark: SparkSession, name: String): Option[(
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic
      .SparkSession].sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    for {
      info <- registry.lookupFunction(id)
      builder <- registry.lookupFunctionBuilder(id)
    } yield (info, builder)
  }
}
