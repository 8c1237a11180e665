package graft

import org.apache.spark.sql.catalyst.expressions.{Add, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Compile-and-run canary for every `graftbridge.Bridge` entry point
  * (the one place this library touches `private[sql]` Spark internals
  * via the `org.apache.spark.sql` package-tree technique). A Spark
  * minor-version bump that moves any of the internals fails HERE with
  * a named assertion, not deep inside a user query. Each test names
  * the internal API it pins; see the Scaladoc on `Bridge` for the
  * break modes.
  */
class BridgeSpec extends SparkSpec {

  test("canary: the locally-built session IS a classic SparkSession " +
      "(every asInstanceOf in Bridge depends on this)") {
    assert(spark.isInstanceOf[org.apache.spark.sql.classic.SparkSession],
      s"session is ${spark.getClass.getName}; the Bridge casts " +
        "(expression/ofRows/rewrapBatch/registerFunction) would all " +
        "ClassCastException — the Connect/classic split moved under us")
  }

  test("canary: column() wraps a raw Catalyst expression " +
      "(classic.ExpressionUtils.column)") {
    import spark.implicits._
    val c = Bridge.column(Add(Literal(40), Literal(2)))
    assert(Seq(0).toDF("x").select(c.as("v")).head().getInt(0) == 42)
  }

  test("canary: expression() extracts the Catalyst expression backing " +
      "a Column (classic.SparkSession.expression)") {
    // round trip through column(): the extracted expression must be
    // the Catalyst tree the ColumnNode wraps, evaluable as-is
    val e = Bridge.expression(spark,
      Bridge.column(Add(Literal(40), Literal(2))))
    assert(e.eval(null) == 42, s"expected 42 from $e")
  }

  // The round-11 blind spot: the old canary only round-tripped a
  // catalyst-BUILT literal tree, so a rewrite of expression() that
  // returned a lazy ColumnNodeExpression WRAPPER (opaque to structural
  // pattern-matching) passed while killing every stats-probe consumer.
  // These arms pin the user-shaped paths: a Column-API comparison and a
  // functions.expr-parsed predicate must both convert EAGERLY to trees
  // StatsProbes can see inside.
  test("canary: expression() on a Column-API-built comparison yields a " +
      "tree StatsProbes can extract from (no lazy wrapper)") {
    val e = Bridge.expression(spark, col("page_number") > 20)
    val probes = graft.sink.StatsProbes.extract(Seq(e),
      n => if (n.equalsIgnoreCase("page_number"))
        Some(("page_number", org.apache.spark.sql.types.IntegerType))
      else None)
    assert(probes.nonEmpty,
      s"Column-API predicate extracted ZERO stats probes from $e — " +
        "expression() is returning an opaque wrapper again; DML " +
        "pre-scan pruning, the metadata-only delete lane, and " +
        "predicate-scoped compaction are all dead")
  }

  test("canary: expression() on a functions.expr-parsed predicate " +
      "yields a probe-extractable tree (the CALL-procedure path)") {
    val e = Bridge.expression(spark, expr("page_number > 20"))
    val probes = graft.sink.StatsProbes.extract(Seq(e),
      n => if (n.equalsIgnoreCase("page_number"))
        Some(("page_number", org.apache.spark.sql.types.IntegerType))
      else None)
    assert(probes.nonEmpty,
      s"expr()-parsed predicate extracted ZERO stats probes from $e")
    // and the exact (fail-closed) lane must also see it
    val exact = graft.sink.StatsProbes.extractExact(Seq(e),
      n => if (n.equalsIgnoreCase("page_number"))
        Some(("page_number", org.apache.spark.sql.types.IntegerType))
      else None)
    assert(exact.nonEmpty && exact.get.nonEmpty,
      s"exact lane saw nothing inside $e — metadata-only delete dead")
  }

  test("canary: ofRows() materializes an analyzed plan as a DataFrame " +
      "(classic.Dataset.ofRows)") {
    import spark.implicits._
    val src = Seq(1, 2, 3).toDF("n").filter(col("n") > 1)
    val plan = src.queryExecution.analyzed
    val back = Bridge.ofRows(spark, plan)
    assert(back.as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("canary: rewrapBatch() pins a frame to one execution with " +
      "values intact (internalCreateDataFrame + toRdd row copy)") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("v2", col("v") * 10)
    val pinned = Bridge.rewrapBatch(df)
    assert(pinned.schema == df.schema)
    // two separate actions over the pinned frame agree (no torn
    // InternalRow reuse): the copy() contract holds
    assert(pinned.count() == 2)
    assert(pinned.agg(sum("v2")).head().getLong(0) == 30)
  }

  test("canary: registerFunction() lands in the session registry and " +
      "evaluates via SQL (sessionState.functionRegistry)") {
    Bridge.registerFunction(spark, "bridge_canary_fn",
      args => Add(args.head, Literal(1)))
    assert(spark.sql("SELECT bridge_canary_fn(41) AS v")
      .head().getInt(0) == 42)
  }

  test("canary: drainListenerBus() delivers a job's end event before " +
      "it returns (SparkContext.listenerBus.waitUntilEmpty)") {
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        // a slow listener: without the drain the count reads 0
        Thread.sleep(200)
        ended.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.parallelize(1 to 4, 2).count()
      Bridge.drainListenerBus(sc)
      assert(ended.get >= 1)
    } finally sc.removeSparkListener(l)
  }

  test("canary: asNullable() types a schema as a parquet read does " +
      "(DataType.asNullable)") {
    import org.apache.spark.sql.types._
    val s = StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("m", MapType(StringType,
        ArrayType(IntegerType, containsNull = false),
        valueContainsNull = false))))
    val dir = java.nio.file.Files.createTempDirectory("graft-nullable")
      .toString + "/t"
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(Seq(1f), Map("k" -> Seq(1)))), s)
      .write.parquet(dir)
    assert(Bridge.asNullable(s) == spark.read.schema(s).parquet(dir).schema)
  }
}
