package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.TopKAggregate.topk_agg

/** `topk_agg` against its reference, the ranking window
  * `row_number() OVER (PARTITION BY g ORDER BY dist ASC NULLS LAST,
  * id ASC) <= k`, on hostile inputs: NaN, ±0.0, ±∞ and null distances,
  * tied distances, long and string ids (non-ASCII ones included, where
  * UTF-8 byte order and UTF-16 order disagree), k below and above 32,
  * over 1 and 7 input partitions. Ranks, ids and the raw bits of every
  * emitted distance must match. Ids are distinct, so the reference
  * order is total and the rows it keeps are defined.
  */
class TopKOrderSpec extends SparkSpec {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private def viaAgg(df: DataFrame, k: Int): DataFrame =
    df.groupBy("g")
      .agg(topk_agg(k)(col("dist"), col("id")).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rnk"), col("col.id").as("id"),
        col("col.key").as("dist"))

  private def viaWindow(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rnk", row_number().over(Window.partitionBy("g")
        .orderBy(col("dist").asc_nulls_last, col("id").asc)))
      .filter(col("rnk") <= k)
      .select(col("g"), col("rnk"), col("id"), col("dist"))

  /** (g, rank, id, raw dist bits) — NaN payloads and -0.0 count. */
  private def rows(df: DataFrame): Set[(Int, Int, Any, Option[Long])] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.get(2),
      Option(r.get(3)).map(d =>
        java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))))
      .toSet

  private val genDist: Gen[Option[Double]] = Gen.frequency(
    3 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue).map(Some(_)),
    2 -> Gen.const(None),
    // few distinct values: ties are the common case
    5 -> Gen.choose(-4, 4).map(i => Some(i / 4.0)))

  private def genCase[I](ids: Seq[I]): Gen[(Int, Seq[(Int, Option[Double], I)])] =
    for {
      k <- Gen.oneOf(Gen.choose(1, 31), Gen.choose(32, 48))
      n <- Gen.choose(0, 130)
      picked <- Gen.pick(n, ids)
      groups <- Gen.listOfN(n, Gen.choose(0, 2))
      dists <- Gen.listOfN(n, genDist)
    } yield (k, groups.lazyZip(dists).lazyZip(picked.toSeq).toSeq)

  private def agrees(df: DataFrame, k: Int): Boolean =
    Seq(1, 7).forall { p =>
      val in = df.repartition(p)
      rows(viaAgg(in, k)) == rows(viaWindow(in, k))
    }

  test("long ids: topk_agg ≡ window, bit-exact, on NaN/±0/null/ties") {
    import spark.implicits._
    val ids: Seq[Option[Long]] = None +:
      ((-80L to 80L) ++ Seq(Long.MinValue, Long.MaxValue)).map(Some(_))
    check(Prop.forAll(genCase(ids)) { case (k, data) =>
      agrees(data.toDF("g", "dist", "id"), k)
    }, n = 12)
  }

  test("string ids: topk_agg ≡ window in UTF-8 byte order") {
    import spark.implicits._
    // U+FF61 sorts BEFORE U+1F600 in UTF-8 (code point) order but
    // after it in UTF-16 order (the surrogate D83D < FF61)
    val parts = Seq("", "a", "b", "Z", "0", "ab", "\u00e9", "\u00ff",
      "\ud7ff", "\ue000", "\uff61", "\ufffd", "\ud83d\ude00")
    val ids: Seq[Option[String]] = None +:
      (for (x <- parts; y <- parts) yield Some(x + "|" + y))
    check(Prop.forAll(genCase(ids)) { case (k, data) =>
      agrees(data.toDF("g", "dist", "id"), k)
    }, n = 12)
    val pair = Seq((0, Some(1.0), "\ud83d\ude00"), (0, Some(1.0), "\uff61"))
      .toDF("g", "dist", "id")
    assert(viaAgg(pair, 1).select("id").as[String].collect().toSeq ==
      Seq("\uff61"))
  }

  test("hundreds of groups: the sort-based fallback path agrees too") {
    import spark.implicits._
    // past ObjectHashAggregate's 128-group hash-map threshold, buffers
    // spill through serialize/deserialize into a sort-based merge
    val rnd = new scala.util.Random(11)
    val df = (0 until 2000).map { i =>
      (i % 400, if (i % 9 == 0) None else Some(rnd.nextInt(5) / 2.0),
        s"id-${rnd.nextInt(1000000)}-$i")
    }.toDF("g", "dist", "id")
    assert(agrees(df, 3))
  }

  test("a group of only null distances keeps its first ids") {
    import spark.implicits._
    val df = Seq((0, None, 3L), (0, None, 1L), (0, Some(Double.NaN), 9L),
      (0, None, 2L)).toDF("g", "dist", "id")
    val got = viaAgg(df, 3).orderBy("rnk").select("id").as[Long].collect()
    // NaN is a value: it ranks before every null
    assert(got.toSeq == Seq(9L, 1L, 2L))
  }
}
