package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregate.topk_agg

class TopKAggregateSpec extends SparkSpec {

  // topk_agg keeps the smallest keys: score DESC is the negated score
  private def viaAgg(df: DataFrame, k: Int): DataFrame =
    df.groupBy("g")
      .agg(topk_agg(k)(-col("s").cast("double"), col("id")).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rnk"),
        col("col.id").as("id"), (-col("col.key")).as("s"))

  private def viaWindow(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("g").orderBy(desc("s"), asc("id"))
    df.select(col("g"), col("id"), col("s").cast("double").as("s"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("g"), col("rnk"), col("id"), col("s"))
  }

  test("topk_agg matches the window formulation on real data") {
    val docs = Tables(spark, sf(), "documents")
      .select(col("source").as("g"), col("doc_id").as("id"),
        col("n_chars").as("s"))
    for (k <- Seq(1, 3, 10)) {
      val a = viaAgg(docs, k)
      val b = viaWindow(docs, k)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"k=$k")
    }
  }

  test("ties break by id ascending, exactly like the window order") {
    import spark.implicits._
    // every score tied inside each group → selection is purely by id
    val df = (0 until 40).map(i => (i % 4, i.toLong, 7.5)).toDF("g", "id", "s")
      .repartition(4) // force multiple partial buffers → merge path
    val a = viaAgg(df, 3)
    val b = viaWindow(df, 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val g0 = a.filter(col("g") === 0).orderBy("rnk")
      .select("id").as[Long].collect()
    assert(g0.toSeq === Seq(0L, 4L, 8L))
  }

  test("k larger than the group emits the whole group, best-first") {
    import spark.implicits._
    val df = Seq((1, 10L, 1.0), (1, 11L, 9.0), (1, 12L, 5.0))
      .toDF("g", "id", "s")
    val got = viaAgg(df, 100).orderBy("rnk")
      .select("id").as[Long].collect()
    assert(got.toSeq === Seq(11L, 12L, 10L))
  }

  test("result is invariant to partitioning (merge order)") {
    val docs = Tables(spark, sf(), "documents")
      .select(col("source").as("g"), col("doc_id").as("id"),
        col("n_chars").as("s"))
    val one = viaAgg(docs.coalesce(1), 5).orderBy("g", "rnk").collect()
    val many = viaAgg(docs.repartition(7), 5).orderBy("g", "rnk").collect()
    assert(one.toSeq === many.toSeq)
  }

  test("physical plan is a partial-aggregated exchange, not a sort") {
    val docs = Tables(spark, sf(), "documents")
      .select(col("source").as("g"), col("doc_id").as("id"),
        col("n_chars").as("s"))
    val df = docs.groupBy("g")
      .agg(topk_agg(3)(col("s").cast("double"), col("id")).as("tk"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // ObjectHashAggregate partial_topk_agg ... then final — two-phase
    assert(plan.contains("partial_"), s"want partial aggregation in:\n$plan")
    assert(!plan.toLowerCase.contains("window"),
      "topk_agg must not lower to a window")
  }
}
