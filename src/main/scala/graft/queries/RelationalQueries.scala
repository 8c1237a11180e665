package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Tier C — the relational surface (SURVEY §2.3, C1-C37).
  *
  * The reference's target stores (Cosmos NoSQL SQL dialect / Azure SQL)
  * are full SQL engines; our engine owns that surface on Spark
  * SQL/Catalyst. Every query here is declared with a deterministic
  * DuckDB oracle form (total ORDER BY, floats ROUND()ed, types aligned
  * with DuckDB result types: counts/lengths/row_numbers are BIGINT).
  *
  * Scale notes (100 TB design intent, verified on .explain):
  *  - dimension joins (nation, region, part, date-dim) broadcast;
  *  - fact-fact joins shuffle on their equi-keys and rely on AQE for
  *    skew; no driver-side collect anywhere;
  *  - window functions always carry a PARTITION BY except over
  *    provably tiny inputs (see c10's date dimension);
  *  - aggregates are partial (map-side combine) by construction.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  def defs: Map[String, QueryDef] = Map(

    // C1: parquet scan.
    "c1_scan_count" -> QueryDef(
      "SELECT COUNT(*) AS n FROM lineitem") { (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))
    },

    // C2: projection — column pruning must reach the scan (ReadSchema
    // carries just these two columns).
    "c2_projection" -> QueryDef(
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // C3: filter with =, >, IN — predicates push to the parquet scan.
    "c3_filter" -> QueryDef(
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_quantity > 30 AND l_returnflag IN ('A','R')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // C4: inner equi-join — shuffles both sides on the key (sort-merge /
    // shuffled-hash picked by Catalyst; AQE may flip to broadcast at
    // small SF, which is exactly right).
    "c4_join_inner" -> QueryDef(
      """SELECT o.o_orderkey, c.c_name FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    },

    // C5: broadcast join of a small dimension — explicit hint so the
    // 25-row nation table never shuffles the customer side.
    "c5_join_broadcast" -> QueryDef(
      """SELECT n.n_name, COUNT(*) AS c FROM nation n
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("c"))
        .orderBy("n_name")
    },

    // C6: left outer join; COUNT(o_orderkey) counts only matches.
    "c6_join_left_outer" -> QueryDef(
      """SELECT c.c_custkey, COUNT(o.o_orderkey) AS cnt FROM customer c
        |LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("cnt"))
        .orderBy("c_custkey")
    },

    // C7: anti join (NOT IN rewrite; o_custkey has no nulls in the
    // harness data so anti-join and NOT IN agree).
    "c7_join_anti" -> QueryDef(
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    },

    // C7b: semi join.
    "c7b_join_semi" -> QueryDef(
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    },

    // C8: join with an extra non-equi conjunct — still an equi-join on
    // l_partkey (hash/broadcast), the range predicate evaluates as a
    // post-join filter; never a nested-loop.
    "c8_join_range" -> QueryDef(
      """SELECT p.p_partkey, COUNT(*) AS n FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey AND l.l_quantity < p.p_size
        |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey") &&
          col("l_quantity") < col("p_size"))
        .groupBy("p_partkey").agg(count(lit(1)).as("n"))
        .orderBy("p_partkey")
    },

    // C9: cross join (5×5 — only ever sane on tiny inputs).
    "c9_join_cross" -> QueryDef(
      """SELECT r1.r_name AS name1, r2.r_name AS name2
        |FROM region r1 CROSS JOIN region r2
        |ORDER BY name1, name2""".stripMargin) { (s, dir) =>
      val r1 = t(s, dir, "region").select(col("r_name").as("name1"))
      val r2 = t(s, dir, "region").select(col("r_name").as("name2"))
      r1.crossJoin(r2).orderBy("name1", "name2")
    },

    // C10: as-of style join (events ↔ latest order at ts). Naive form
    // is an |events| × |orders| nested-loop. Instead: reduce orders to
    // a per-day running max, densify over a generated calendar (a true
    // date dimension — tiny at any fact scale; the single-partition
    // window runs only there), then EQUI-join events on their day.
    // Event days past the last order day clamp to it (the running max
    // there is the global max — same semantics, no range predicate).
    // Per-event cost is one broadcast-hash probe, not O(|dates|)
    // comparisons; the oracle keeps the declarative range-join form.
    "c10_asof_join" -> QueryDef(
      """SELECT e.event_id, MAX(o.o_orderkey) AS last_order FROM events e
        |JOIN orders o ON o.o_orderdate <= e.ts
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val perDate = t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
        .groupBy("d").agg(max("o_orderkey").as("mx"))
      val bounds = perDate.agg(min("d").as("d0"), max("d").as("d1"))
      val cal = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      val filled = cal.join(perDate, Seq("d"), "left")
        .withColumn("last_order",
          max("mx").over(Window.orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("d", "last_order")
      t(s, dir, "events")
        .crossJoin(broadcast(bounds.select(col("d1"))))
        .select(col("event_id"), least(to_date(col("ts")), col("d1")).as("d"))
        .join(broadcast(filled), "d")
        .select("event_id", "last_order")
        .orderBy("event_id")
    },

    // C11: hash aggregate, multiple measures (partial + final agg).
    "c11_agg_hash" -> QueryDef(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_extendedprice), 4) AS s,
        |       ROUND(AVG(l_discount), 6) AS a
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 4).as("s"),
          round(avg("l_discount"), 6).as("a"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // C12: distinct aggregate.
    "c12_agg_distinct" -> QueryDef(
      "SELECT COUNT(DISTINCT l_partkey) AS d FROM lineitem") { (s, dir) =>
      t(s, dir, "lineitem").agg(countDistinct(col("l_partkey")).as("d"))
    },

    // C13: approx distinct (HLL). Sketch values differ across engines,
    // so the declared check is the SURVEY tolerance form: the engine
    // asserts its own estimate lands within 5% of exact and exports
    // the verdict — which the oracle CAN hash-match.
    "c13_approx_distinct" -> QueryDef(
      "SELECT TRUE AS within_tolerance") { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("ap"),
          countDistinct(col("l_partkey")).as("ex"))
        .select((abs(col("ap") - col("ex")) * lit(1.0) / col("ex") <= 0.05)
          .as("within_tolerance"))
    },

    // C13b: approx percentile vs exact within 2% — the at-scale
    // replacement for c11b's exact median (t-digest sketch: one pass,
    // bounded memory, mergeable across partitions).
    "c13b_approx_percentile" -> QueryDef(
      "SELECT TRUE AS within_tolerance") { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"),
          expr("percentile(l_extendedprice, 0.5)").as("ex"))
        .select((abs(col("ap") - col("ex")) / col("ex") <= 0.02)
          .as("within_tolerance"))
    },

    // C14: ROLLUP (Expand operator). NULLS FIRST pinned on both sides —
    // Spark's ASC default is nulls-first, DuckDB's is nulls-last.
    "c14_rollup" -> QueryDef(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // C14b: CUBE.
    "c14b_cube" -> QueryDef(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // C14d: explicit GROUPING SETS — the third grouping form next to
    // rollup/cube: exactly the requested sets, nothing interpolated
    // (here: per-returnflag, per-linestatus, and the grand total,
    // but NOT the (flag, status) cross — which CUBE would add).
    "c14d_grouping_sets" -> QueryDef(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    },

    // C15: HAVING (post-aggregation filter).
    "c15_having" -> QueryDef(
      """SELECT o_custkey, COUNT(*) AS n FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) > 2
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 2)
        .orderBy("o_custkey")
    },

    // C16: ranking window (BIGINT rn to match DuckDB's row_number type).
    "c16_window_rank" -> QueryDef(
      """SELECT o_orderkey,
        |       ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                          ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          row_number().over(Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")).cast("long").as("rn"))
        .orderBy("o_orderkey")
    },

    // C17: analytic window (lag).
    "c17_window_lag" -> QueryDef(
      """SELECT event_id,
        |       LAG(event_type) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) AS prev
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          lag(col("event_type"), 1).over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id")).as("prev"))
        .orderBy("event_id")
    },

    // C18: frame spec (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW).
    "c18_window_frame" -> QueryDef(
      """SELECT event_id,
        |       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS s
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          round(sum("value").over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id").rowsBetween(-2, Window.currentRow)), 4)
            .as("s"))
        .orderBy("event_id")
    },

    // C19: multi-key sort, DESC + tiebreak.
    "c19_sort" -> QueryDef(
      """SELECT o_orderkey FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey")
    },

    // C20: top-k — lowers to TakeOrderedAndProject (partial top-k per
    // partition, merged at the driver; shuffle-free).
    "c20_topk" -> QueryDef(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    },

    // C21: UNION (distinct) across tables.
    "c21_union" -> QueryDef(
      """SELECT c_nationkey AS k FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("k"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy("k")
    },

    // C21b: UNION ALL + aggregate (keeps result deterministic).
    "c21b_union_all" -> QueryDef(
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("k"))
        .unionAll(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // C22: INTERSECT (distinct semantics in both engines).
    "c22_intersect" -> QueryDef(
      """SELECT c_nationkey AS k FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("k"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
    },

    // C22b: EXCEPT.
    "c22b_except" -> QueryDef(
      """SELECT c_nationkey AS k FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("k"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
    },

    // C23: DISTINCT.
    "c23_distinct" -> QueryDef(
      "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus") { (s, dir) =>
      t(s, dir, "orders").select("o_orderstatus").distinct()
        .orderBy("o_orderstatus")
    },

    // C24: scalar subquery (Catalyst decorrelation) — exercised through
    // the SQL entry point, which is the surface the stores expose.
    "c24_scalar_subquery" -> QueryDef(
      """SELECT o_orderkey FROM orders o
        |WHERE o.o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderkey FROM orders o
          |WHERE o.o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // C24b: correlated subquery.
    "c24b_correlated_subquery" -> QueryDef(
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT c_custkey FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    },

    // C25: CASE WHEN.
    "c25_case_when" -> QueryDef(
      """SELECT event_id, CASE WHEN value > 100 THEN 'hi' ELSE 'lo' END AS b
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          when(col("value") > 100, "hi").otherwise("lo").as("b"))
        .orderBy("event_id")
    },

    // C26: string functions (BIGINT length to match DuckDB).
    "c26_string_fns" -> QueryDef(
      """SELECT doc_id, UPPER(SUBSTR(text, 1, 10)) AS h, LENGTH(text) AS l,
        |       REPLACE(SUBSTR(text, 1, 20), ' ', '_') AS r,
        |       TRIM(CONCAT('  ', SUBSTR(text, 1, 5), '  ')) AS tr
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          upper(substring(col("text"), 1, 10)).as("h"),
          length(col("text")).cast("long").as("l"),
          regexp_replace(substring(col("text"), 1, 20), " ", "_").as("r"),
          trim(concat(lit("  "), substring(col("text"), 1, 5), lit("  "))).as("tr"))
        .orderBy("doc_id")
    },

    // C27: date/time functions (INTEGER year on both sides).
    "c27_date_fns" -> QueryDef(
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
        |       COUNT(*) AS n
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))
        .orderBy("y", "m")
    },

    // C28: math functions.
    "c28_math_fns" -> QueryDef(
      """SELECT l_orderkey, l_linenumber,
        |       ROUND(SQRT(l_extendedprice), 6) AS r,
        |       CAST(FLOOR(l_quantity) AS BIGINT) AS f,
        |       ROUND(LN(l_extendedprice), 6) AS lg,
        |       CAST(ABS(l_orderkey) AS BIGINT) AS ab
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_extendedprice")), 6).as("r"),
          floor(col("l_quantity")).cast("long").as("f"),
          round(log(col("l_extendedprice")), 6).as("lg"),
          abs(col("l_orderkey")).cast("long").as("ab"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // C29: array functions over the embedding column (1-based
    // element_at matches DuckDB's 1-based [] indexing).
    "c29_array_fns" -> QueryDef(
      """SELECT vec_id, CAST(LENGTH(embedding) AS BIGINT) AS d,
        |       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0,
        |       ROUND(CAST(embedding[64] AS DOUBLE), 6) AS elast
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("d"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
          round(element_at(col("embedding"), 64).cast("double"), 6).as("elast"))
        .orderBy("vec_id")
    },

    // C30: struct + map construction and field access round-trip. The
    // oracle reduces to the same scalar values (testdata has no native
    // map column — SURVEY C30).
    "c30_struct_map" -> QueryDef(
      """SELECT event_id, event_type AS st, value AS mv
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          struct(col("event_type").as("et"), col("value").as("v")).as("pack"),
          map(lit("k"), col("value")).as("m"))
        .select(col("event_id"),
          col("pack.et").as("st"),
          element_at(col("m"), "k").as("mv"))
        .orderBy("event_id")
    },

    // C31: JSON extraction (Spark get_json_object ≡ DuckDB json_extract).
    "c31_json_fns" -> QueryDef(
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    },

    // C32: cast / coalesce / nullif.
    "c32_cast_coalesce" -> QueryDef(
      """SELECT event_id, COALESCE(NULLIF(event_type, 'error'), 'none') AS tp,
        |       CAST(FLOOR(value) AS BIGINT) AS vi
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // explicit FLOOR on both sides: DuckDB's double→int CAST rounds
      // to nearest while Spark's truncates — pin the semantics instead.
      t(s, dir, "events")
        .select(col("event_id"),
          coalesce(nullif(col("event_type"), lit("error")), lit("none")).as("tp"),
          floor(col("value")).cast("long").as("vi"))
        .orderBy("event_id")
    },

    // C33: tumbling window aggregate — built with the streaming-capable
    // window() operator; NTZ output so both engines hash naive
    // timestamps.
    "c33_window_tumbling" -> QueryDef(
      """SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n,
        |       ROUND(SUM(value), 4) AS s
        |FROM events GROUP BY w, event_type ORDER BY w, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("s"))
        .select(col("win.start").cast("timestamp_ntz").as("w"),
          col("event_type"), col("n"), col("s"))
        .orderBy("w", "event_type")
    },

    // C34: sliding window (10 min / 5 min slide): each event lands in
    // exactly two windows; the oracle reproduces the epoch-aligned slide
    // starts arithmetically.
    "c34_window_sliding" -> QueryDef(
      """SELECT make_timestamp(ws) AS w, COUNT(*) AS n, ROUND(SUM(value), 4) AS s
        |FROM (SELECT (epoch_us(ts) // 300000000 - t.k) * 300000000 AS ws, value
        |      FROM events, (VALUES (0), (1)) t(k))
        |GROUP BY ws ORDER BY w""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("s"))
        .select(col("win.start").cast("timestamp_ntz").as("w"), col("n"), col("s"))
        .orderBy("w")
    },

    // C35: sessionization (30-min gap) via lag + cumulative sum; epoch
    // microseconds on both sides avoid ns-vs-us precision skew. BIGINT
    // session_id (DuckDB SUM(int) would be HUGEINT — cast there).
    "c35_session_window" -> QueryDef(
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events)
        |SELECT user_id,
        |       CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS session_id,
        |       tus
        |FROM g ORDER BY user_id, tus""".stripMargin) { (s, dir) =>
      val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val g = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("brk",
          when(col("tus") - lag(col("tus"), 1).over(byTime) > 1800000000L, 1)
            .otherwise(0))
      g.select(col("user_id"),
          sum("brk").over(Window.partitionBy("user_id").orderBy("tus")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long").as("session_id"),
          col("tus"))
        .orderBy("user_id", "tus")
    },

    // C8b: true range join (point-in-interval) via bin bucketing —
    // "events within 24 hours after each probe event, same user"
    // (probes = every 97th event id, spread across the timeline).
    // The oracle states the inequality join directly; the engine
    // computes it as a binned equi-join (no nested loop — pinned).
    "c8b_interval_join" -> QueryDef(
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS probe_id, tus AS t0,
        |             tus + 86400000000 AS t1
        |      FROM ev WHERE event_id % 97 = 0)
        |SELECT p.probe_id, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(e.tus) AS BIGINT) AS first_t
        |FROM p JOIN ev e
        |  ON e.user_id = p.user_id AND e.tus BETWEEN p.t0 AND p.t1
        |     AND e.event_id <> p.probe_id
        |GROUP BY p.probe_id ORDER BY p.probe_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      val probes = ev
        .filter(col("event_id") % 97 === 0)
        .select(col("user_id"), col("event_id").as("probe_id"),
          col("tus").as("t0"), (col("tus") + 86400000000L).as("t1"))
      graft.ops.RangeJoin
        .pointInInterval(ev, probes, "tus", "t0", "t1",
          binWidth = 86400000000L, keys = Seq("user_id"))
        .filter(col("event_id") =!= col("probe_id"))
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n"), min("tus").as("first_t"))
        .orderBy("probe_id")
    },

    // C10b: the KEYED as-of join operator (union + carry-forward
    // window, one shuffle on the key) — "latest strictly-previous
    // quote value per user". The right side aggregates to one row per
    // (user, ts) — MAX(value) — making the semantics unconditional
    // under any timestamp ties the data may ever carry, then unions an
    // exact duplicate of itself: the planted tied rows exercise the
    // operator's tie handling (identical payloads → deterministic
    // pick) and its strictness (a right row exists AT every left ts
    // and must be excluded; a non-strict join would return the own-ts
    // value and hash-mismatch). The oracle is a true strict as-of:
    // LAG over the distinct-(user, ts) aggregate.
    "c10b_asof_keyed" -> QueryDef(
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |r AS (SELECT user_id, epoch_us(ts) AS tus, MAX(value) AS v
        |      FROM events GROUP BY 1, 2),
        |rl AS (SELECT user_id, tus,
        |              LAG(v) OVER (PARTITION BY user_id ORDER BY tus) AS pv
        |       FROM r)
        |SELECT e.event_id, ROUND(rl.pv, 4) AS prev_value
        |FROM ev e JOIN rl ON rl.user_id = e.user_id AND rl.tus = e.tus
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      val r0 = ev.groupBy(col("user_id"), col("tus").as("rtus"))
        .agg(max(col("value")).as("pv"))
      graft.ops.AsOfJoin.asOf(
          ev.select(col("user_id"), col("event_id"), col("tus")),
          r0.unionAll(r0), // planted per-(user, ts) ties
          keys = Seq("user_id"), leftTs = "tus", rightTs = "rtus",
          payload = Seq("pv"), strict = true)
        .select(col("event_id"), round(col("pv"), 4).as("prev_value"))
        .orderBy("event_id")
    },

    // C35b: the session_window() OPERATOR itself, batch form (its
    // streaming form runs in StreamingSpec). Sessions are
    // [min ts, max ts + gap) with the window end EXCLUSIVE, so a gap of
    // exactly 30 min starts a new session — hence `>=` in the oracle's
    // break condition (c35's lag+cumsum gate specs `>` for itself).
    "c35b_session_window_operator" -> QueryDef(
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, value,
        |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |                >= 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, tus, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, MIN(tus) AS session_start,
        |       MAX(tus) + 1800000000 AS session_end,
        |       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sv
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("win"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
        .select(col("user_id"),
          unix_micros(col("win.start")).as("session_start"),
          unix_micros(col("win.end")).as("session_end"),
          col("n"), col("sv"))
        .orderBy("user_id", "session_start")
    },

    // C35c: sessionization as CUSTOM TYPED STATE
    // (flatMapGroupsWithState — `streaming.Sessionize`; its streaming
    // form with event-time timeout runs in StreamingSpec). Strict gap
    // break (`>`), sessions [min, last + gap) — the lag+cumsum oracle
    // restated as per-session aggregates.
    "c35c_session_custom_state" -> QueryDef(
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, value,
        |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |                > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, tus, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, MIN(tus) AS session_start,
        |       MAX(tus) + 1800000000 AS session_end,
        |       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sv
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("value"))
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize.sessionsBatch(ev, 1800000000L)
        .toDF()
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n"), round(col("sv"), 4).as("sv"))
        .orderBy("user_id", "session_start")
    },

    // C36: dedup by key (batch form of streaming
    // withWatermark+dropDuplicates; the streaming variant is exercised
    // in the test suite).
    "c36_dedup_by_key" -> QueryDef(
      "SELECT COUNT(*) AS n FROM (SELECT DISTINCT event_id FROM events)") { (s, dir) =>
      t(s, dir, "events")
        .dropDuplicates("event_id")
        .agg(count(lit(1)).as("n"))
    },

    // C37: last-writer-wins upsert semantics (mirrors A17's keyed MERGE)
    // over a synthetic re-ingest: two ingest generations of the same
    // keys collapse to the latest.
    "c37_upsert_lww" -> QueryDef(
      """SELECT doc_id, MAX(ingest_seq) AS last_seq FROM (
        |  SELECT doc_id, 1 AS ingest_seq FROM documents
        |  UNION ALL SELECT doc_id, 2 AS ingest_seq FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d1 = t(s, dir, "documents").select(col("doc_id"),
        lit(1).as("ingest_seq"))
      val d2 = t(s, dir, "documents").select(col("doc_id"),
        lit(2).as("ingest_seq"))
      d1.unionAll(d2)
        .groupBy("doc_id").agg(max("ingest_seq").as("last_seq"))
        .orderBy("doc_id")
    },

    // C37b: the same upsert-LWW semantics run THROUGH the chunk
    // store's manifest log (its log-committed MERGE): ingest v1 of
    // every document, re-merge v2 of
    // the evens (copy-on-write rewrite found from log metadata),
    // DELETE FROM every 17th, then read the snapshot back. The oracle
    // recomputes the final state relationally, so merge/delete/read
    // through the log must agree row-for-row. ManifestFormatSpec
    // pins the concurrency/crash/vacuum behavior the oracle can't see.
    "c37b_manifest_merge" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text || CASE WHEN doc_id % 2 = 0 THEN ' v2' ELSE '' END
        |         AS chunk_text
        |FROM documents WHERE doc_id % 17 <> 0
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val path =
        s"/tmp/graft-manifest-${dir.replaceAll("[^A-Za-z0-9.]", "_")}/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(
        lit(0).as("chunk_id"),
        col("chunk_text"),
        array(lit(0f)).as("embedding"),
        lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url"))
      val docs = t(s, dir, "documents")
      store.upsert(rows(docs.select(col("doc_id"),
        col("text").as("chunk_text"))))
      store.upsert(rows(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2"))
          .as("chunk_text"))))
      store.delete(docs.filter(col("doc_id") % 17 === 0)
        .select(concat(lit("doc://"), col("doc_id")))
        .collect().map(_.getString(0)).toSeq)
      // checkpoint + vacuum: the read below replays FROM the
      // checkpoint (exercising the summary path in the oracle gate)
      // and the subsumed entries/dead files are pruned, which also
      // bounds the log across repeated harness runs
      val mtf = new graft.sink.ManifestTableFormat(s, path, store.schema)
      mtf.checkpoint()
      mtf.vacuum()
      store.read().select("document_url", "chunk_text")
        .orderBy("document_url")
    },

    // C37c: the c37b upsert-LWW state read back PURELY through SQL —
    // the store registered on a DataSourceV2 TableCatalog
    // (graft.catalog.GraftCatalog) and queried by name, the way both
    // reference stores are queryable in their own SQL dialects. The
    // scan behind the name is Spark's parquet v2 over the manifest
    // log's live file set, so the oracle match proves the catalog
    // resolves exactly the committed snapshot.
    "c37c_sql_catalog" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text || CASE WHEN doc_id % 2 = 0 THEN ' v2' ELSE '' END
        |         AS chunk_text
        |FROM documents WHERE doc_id % 17 <> 0
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      // run-scoped warehouse: concurrent gate runs against the same
      // source never collide on a shared path (the b2b pattern)
      val wh = java.nio.file.Files
        .createTempDirectory("graft-sqlcat").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(
        lit(0).as("chunk_id"), col("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url"))
      val docs = t(s, dir, "documents")
      store.upsert(rows(docs.select(col("doc_id"),
        col("text").as("chunk_text"))))
      store.upsert(rows(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2"))
          .as("chunk_text"))))
      store.delete(docs.filter(col("doc_id") % 17 === 0)
        .select(concat(lit("doc://"), col("doc_id")))
        .collect().map(_.getString(0)).toSeq)
      val cat = QueryDef.freshCatalog(s, "graft", wh)
      s.sql(s"SELECT document_url, chunk_text FROM $cat.chunks " +
        "ORDER BY document_url")
    },

    // C37d: time travel through SQL syntax — `VERSION AS OF 0` on the
    // same history replays the pre-merge pre-delete state, which the
    // oracle recomputes as plain v1 of every document. Proves the
    // catalog maps Spark's VERSION AS OF clause onto the manifest
    // log's readVersion, not just the head snapshot.
    "c37d_sql_time_travel" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text
        |FROM documents
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      // run-scoped warehouse (fresh dir ⇒ version 0 is the v1 load);
      // no cross-run collision on a fixed /tmp path
      val wh = java.nio.file.Files
        .createTempDirectory("graft-sqltt").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(
        lit(0).as("chunk_id"), col("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url"))
      val docs = t(s, dir, "documents")
      store.upsert(rows(docs.select(col("doc_id"),
        col("text").as("chunk_text"))))                    // version 0
      store.upsert(rows(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2"))
          .as("chunk_text"))))                             // version 1
      store.delete(docs.filter(col("doc_id") % 17 === 0)
        .select(concat(lit("doc://"), col("doc_id")))
        .collect().map(_.getString(0)).toSeq)              // version 2
      val cat = QueryDef.freshCatalog(s, "graft_tt", wh)
      s.sql(s"SELECT document_url, chunk_text FROM $cat.chunks " +
        "VERSION AS OF 0 ORDER BY document_url")
    },

    // C37e: CHANGE FEED over the same history — the Cosmos change-feed
    // / Delta CDF capability, computed from the manifest log's file
    // diff (added-minus-removed rows = net inserts; the reverse = net
    // deletes; copy-on-write survivor rows cancel via exceptAll
    // without being special-cased). The oracle recomputes the v0→head
    // delta from first principles: the merged evens appear as
    // insert(v2 text) + delete(v1 text), deleted documents as
    // delete(v1 text).
    "c37e_change_feed" -> QueryDef(
      """SELECT 'insert' AS _change_type,
        |       'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text || ' v2' AS chunk_text
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 17 <> 0
        |UNION ALL
        |SELECT 'delete', 'doc://' || CAST(doc_id AS VARCHAR),
        |       text
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 17 <> 0
        |UNION ALL
        |SELECT 'delete', 'doc://' || CAST(doc_id AS VARCHAR),
        |       text
        |FROM documents WHERE doc_id % 17 = 0
        |ORDER BY _change_type, document_url, chunk_text""".stripMargin) {
      (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-cdf").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(
        lit(0).as("chunk_id"), col("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url"))
      val docs = t(s, dir, "documents")
      store.upsert(rows(docs.select(col("doc_id"),
        col("text").as("chunk_text"))))                    // version 0
      store.upsert(rows(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2"))
          .as("chunk_text"))))                             // version 1
      store.delete(docs.filter(col("doc_id") % 17 === 0)
        .select(concat(lit("doc://"), col("doc_id"))
          .as("document_url")))                            // version 2
      val mtf = new graft.sink.ManifestTableFormat(s, path, store.schema)
      mtf.changesBetween(0L, mtf.version)
        .select(col("_change_type"), col("document_url"),
          col("chunk_text"))
        .orderBy("_change_type", "document_url", "chunk_text")
    },

    // C37f: plain SQL `UPDATE t SET … WHERE …` on a catalog table —
    // the row-level statement a store user reaches for first (both
    // reference stores are full SQL engines). Planned by
    // graft.plans.GraftDmlStrategy into the manifest format's
    // copy-on-write rewrite: a pre-scan finds the file NAMES that may
    // hold a matching row (predicate pushed to the parquet scan), only
    // those files are rewritten (`when(cond, new).otherwise(old)` per
    // assigned column), and rm+add commit in one atomic log entry.
    // The oracle replays the UPDATE relationally as CASE WHEN, so the
    // post-update snapshot must match row-for-row — including rows the
    // predicate did NOT touch (byte-preserved survivors) and the
    // assignment that references the updated column itself.
    "c37f_sql_update" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CASE WHEN doc_id % 10 = 0 THEN text || ' v2'
        |            ELSE text END AS chunk_text,
        |       CASE WHEN doc_id % 10 = 0 THEN 10 ELSE 0 END
        |         AS page_number
        |FROM documents
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-sqlupd").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.upsert(docs.select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val cat = QueryDef.freshCatalog(s, "graft_upd", wh)
      s.sql(s"UPDATE $cat.chunks " +
        "SET chunk_text = chunk_text || ' v2', " +
        "page_number = page_number + 10 " +
        "WHERE document_url LIKE '%0'")
      s.sql(s"SELECT document_url, chunk_text, page_number " +
        s"FROM $cat.chunks ORDER BY document_url")
    },

    // C37g: schema evolution through SQL — `ALTER TABLE ADD COLUMN`
    // commits a schema sidecar to the manifest log (no data rewrite),
    // old files read the new column as NULL, and the evolved column
    // is immediately UPDATE-able. The final scan mixes pre-ALTER
    // files (null-filled), post-ALTER rewritten files, and the
    // copy-on-write UPDATE's survivors; the oracle recomputes the
    // whole evolution relationally.
    "c37g_schema_evolution" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CASE WHEN doc_id % 10 = 7 THEN 'en' END AS lang
        |FROM documents
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-sqlevo").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.upsert(docs.select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val cat = QueryDef.freshCatalog(s, "graft_se", wh)
      s.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang STRING")
      s.sql(s"UPDATE $cat.chunks SET lang = 'en' " +
        "WHERE document_url LIKE '%7'")
      s.sql(s"SELECT document_url, chunk_text, lang " +
        s"FROM $cat.chunks ORDER BY document_url")
    },

    // C37h: row-level SQL DELETE — an arbitrary (non-document-key)
    // predicate routes to the copy-on-write rewrite (pre-scan picks
    // the affected files, survivors keep rows where the predicate is
    // false or NULL); url-keyed deletes keep the bloom-pruned fast
    // lane. The oracle filters relationally.
    "c37h_sql_delete_rows" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(doc_id % 3 AS INTEGER) AS page_number
        |FROM documents WHERE doc_id % 3 <> 1
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-sqldel").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.upsert(docs.select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 3).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val cat = QueryDef.freshCatalog(s, "graft_del", wh)
      s.sql(s"DELETE FROM $cat.chunks WHERE page_number = 1")
      s.sql(s"SELECT document_url, chunk_text, page_number " +
        s"FROM $cat.chunks ORDER BY document_url")
    },

    // C37i: SQL `MERGE INTO` with the full WHEN-clause algebra in ONE
    // atomic commit — matched UPDATE, conditional NOT MATCHED INSERT,
    // and a conditional NOT MATCHED BY SOURCE DELETE, planned by
    // GraftDmlStrategy onto the manifest's copy-on-write merge (url
    // equality in ON feeds the bloom fast path when no BY SOURCE
    // clause forces a full pass). The oracle replays the algebra
    // relationally: evens updated, unmatched targets ending in 7
    // deleted, every doc_id % 5 = 0 source row inserted.
    "c37i_sql_merge" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CASE WHEN doc_id % 2 = 0 THEN text || ' v2'
        |            ELSE text END AS chunk_text
        |FROM documents WHERE doc_id % 10 <> 7
        |UNION ALL
        |SELECT 'new://' || CAST(doc_id AS VARCHAR),
        |       'fresh ' || CAST(doc_id AS VARCHAR)
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY document_url, chunk_text""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-sqlmrg").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.upsert(docs.select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      docs.filter(col("doc_id") % 2 === 0)
        .select(lit(0).as("chunk_id"),
          concat(col("text"), lit(" v2")).as("chunk_text"),
          array(lit(0f)).as("embedding"), lit(0).as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select(lit(0).as("chunk_id"),
            concat(lit("fresh "), col("doc_id")).as("chunk_text"),
            array(lit(0f)).as("embedding"), lit(0).as("page_number"),
            concat(lit("new://"), col("doc_id")).as("document_url")))
        .createOrReplaceTempView("c37i_src")
      val cat = QueryDef.freshCatalog(s, "graft_mrg", wh)
      s.sql(
        s"""MERGE INTO $cat.chunks t USING c37i_src s
           |ON t.document_url = s.document_url
           |WHEN MATCHED THEN UPDATE SET t.chunk_text = s.chunk_text
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE
           |  AND t.document_url LIKE '%7' THEN DELETE""".stripMargin)
      s.sql(s"SELECT document_url, chunk_text FROM $cat.chunks " +
        "ORDER BY document_url, chunk_text")
    },

    // C37j: manifest-native DATA SKIPPING — add-actions carry
    // per-column min/max + null-count stats (Delta's file-skipping
    // idea, no sidecar), and the catalog's manifest scans prune the
    // planned FILE list from the predicates Catalyst pushes
    // (ManifestStatsScanBuilder → pruneFilesForScan; fail-open on any
    // absent/uncastable stat). Three appends land disjoint
    // page_number decades in disjoint file sets; the range query must
    // return exactly the middle decade — the oracle recomputes it
    // relationally, so a wrong prune (dropped matching file) or a
    // stats/render bug shows as a hash mismatch. The file-subset
    // plan shape itself is pinned by ManifestStatsSkipSpec.
    "c37j_stats_pruned_scan" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(10 + doc_id % 10 AS INTEGER) AS page_number
        |FROM documents WHERE doc_id % 3 = 1
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-skip").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      def part(m: Int, base: Int) = docs
        .filter(col("doc_id") % 3 === m)
        .select(lit(0).as("chunk_id"), col("text").as("chunk_text"),
          array(lit(0f)).as("embedding"),
          (lit(base) + col("doc_id") % 10).cast("int")
            .as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url"))
      store.append(part(0, 0))   // pages 0..9
      store.append(part(1, 10))  // pages 10..19
      store.append(part(2, 20))  // pages 20..29
      val cat = QueryDef.freshCatalog(s, "graft_skip", wh)
      s.sql(s"SELECT document_url, chunk_text, page_number " +
        s"FROM $cat.chunks WHERE page_number BETWEEN 10 AND 19 " +
        "ORDER BY document_url")
    },

    // C37k: EXACTLY-ONCE streaming append into a manifest table — a
    // parquet file stream drains through StreamWriter (foreachBatch +
    // an atomic (appId, batchId) transaction marker in the commit,
    // the Delta SetTransaction design), then drains AGAIN from the
    // same checkpoint AND from a fresh checkpoint under the same
    // app id. Any replayed batch that re-applied would double the
    // row count — the oracle's exact per-document expectation makes
    // that a hash mismatch, so the exactly-once contract is
    // oracle-checked, not just spec-pinned (StreamWriterSpec pins
    // the race/vacuum corners).
    "c37k_stream_append" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text
        |FROM documents
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-swr").toString
      val path = s"$wh/chunks"
      // file streams source from a DIRECTORY; stage the table file
      val src = s"$wh/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$src/documents.parquet"))
      val docsSchema = s.read.parquet(src).schema
      def stream() = s.readStream.schema(docsSchema).parquet(src)
        .select(lit(0).as("chunk_id"), col("text").as("chunk_text"),
          array(lit(0f)).as("embedding"), lit(0).as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url"))
      graft.streaming.StreamWriter.sync(
        stream(), path, s"$wh/ckpt", Some("c37k"))
      // same checkpoint: the source reports nothing new — no-op
      graft.streaming.StreamWriter.sync(
        stream(), path, s"$wh/ckpt", Some("c37k"))
      // FRESH checkpoint, same app id: batch 0 re-delivers and the
      // marker must make it a no-op
      graft.streaming.StreamWriter.sync(
        stream(), path, s"$wh/ckpt2", Some("c37k"))
      val cat = QueryDef.freshCatalog(s, "graft_swr", wh)
      s.sql(s"SELECT document_url, chunk_text FROM $cat.chunks " +
        "ORDER BY document_url")
    },

    // C37l: Z-ORDER COMPACTION on a manifest table — `CALL
    // compact_zorder(table, cols)` rewrites the live set clustered on
    // the morton curve in one copy-on-write commit; the new files'
    // per-column stats then serve the 2-dim range query through c37j
    // file skipping (b11b/b11c/b11e probe the same lane on lineitem).
    // The oracle replays the query relationally, so a row lost or
    // duplicated by the rewrite is a hash mismatch; the pruned plan
    // shape is pinned by ManifestStatsSkipSpec.
    "c37l_zorder_compact" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(doc_id % 50 AS INTEGER) AS page_number,
        |       CAST(doc_id // 50 AS INTEGER) AS chunk_id
        |FROM documents
        |WHERE doc_id % 50 BETWEEN 10 AND 19
        |  AND doc_id // 50 BETWEEN 2 AND 5
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-zcmp").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.append(docs.select(
        (col("doc_id") / 50).cast("int").as("chunk_id"),
        col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 50).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val cat = QueryDef.freshCatalog(s, "graft_zc", wh)
      s.sql(s"CALL $cat.compact_zorder('chunks', 'page_number,chunk_id')")
      s.sql(s"SELECT document_url, chunk_text, page_number, chunk_id " +
        s"FROM $cat.chunks " +
        "WHERE page_number BETWEEN 10 AND 19 " +
        "AND chunk_id BETWEEN 2 AND 5 ORDER BY document_url")
    },

    // C37m: DROP COLUMN — the other half of schema evolution (c37g
    // added). An evolved column fills with an UPDATE (rewriting some
    // files), a second column is added, then the first DROPS —
    // metadata-only: a new schema sidecar stops projecting it while
    // the rewritten files still carry its bytes on disk. The head
    // scan must show the base shape + the surviving evolved column
    // (all NULL), with every document intact — the oracle recomputes
    // relationally. Base-column drops and re-ADD resurrection are
    // refused (GraftCatalogSpec pins those plus pre-drop time travel).
    "c37m_drop_column" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(NULL AS DOUBLE) AS score
        |FROM documents
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-drop").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.upsert(docs.select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val cat = QueryDef.freshCatalog(s, "graft_dc", wh)
      s.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang STRING")
      s.sql(s"UPDATE $cat.chunks SET lang = 'en' " +
        "WHERE document_url LIKE '%3'")
      s.sql(s"ALTER TABLE $cat.chunks ADD COLUMN score DOUBLE")
      s.sql(s"ALTER TABLE $cat.chunks DROP COLUMN lang")
      s.sql(s"SELECT document_url, chunk_text, score " +
        s"FROM $cat.chunks ORDER BY document_url")
    },

    // C37n: SQL INSERT OVERWRITE — whole-table replace as ONE atomic
    // rm-all+add commit (snapshot-isolated; the old state stays
    // time-travelable until vacuum). The table seeds with every
    // document, then an overwrite keeps only the doc_id % 4 = 0
    // quarter with rewritten text; the head scan must show exactly
    // the replacement — a leaked pre-overwrite row or a lost new row
    // is a hash mismatch. GraftCatalogSpec pins the version history
    // and the non-manifest refusal.
    "c37n_insert_overwrite" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text || ' v2' AS chunk_text
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-ow").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      store.upsert(docs.select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"), lit(0).as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      docs.filter(col("doc_id") % 4 === 0)
        .select(lit(0).as("chunk_id"),
          concat(col("text"), lit(" v2")).as("chunk_text"),
          array(lit(0f)).as("embedding"), lit(0).as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url"))
        .createOrReplaceTempView("c37n_src")
      val cat = QueryDef.freshCatalog(s, "graft_ow", wh)
      s.sql(s"INSERT OVERWRITE $cat.chunks SELECT * FROM c37n_src")
      s.sql(s"SELECT document_url, chunk_text FROM $cat.chunks " +
        "ORDER BY document_url")
    },

    // C37p: ARBITRARY-SCHEMA CREATE TABLE on the manifest format — a
    // lineitem-shaped table (no document_url, no chunk columns)
    // created by DDL, filled by INSERT, mutated by UPDATE + row
    // DELETE, evolved by ADD COLUMN, appended post-evolution, and
    // time-traveled across the whole history. The oracle replays
    // every operation relationally, and the v0/v2 time-travel counts
    // ride along as columns — a misapplied op at ANY version breaks
    // the hash. (l_quantity is integer-valued in the harness data, so
    // the double sums are exact.)
    "c37p_ddl_schema_dml" -> QueryDef(
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |  FROM lineitem),
        |upd AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
        |              ELSE l_quantity END AS q,
        |         l_returnflag, CAST(NULL AS VARCHAR) AS note
        |  FROM base),
        |del AS (SELECT * FROM upd WHERE l_orderkey % 7 <> 0),
        |late AS (
        |  SELECT l_orderkey + 10000000 AS l_orderkey, l_linenumber,
        |         l_quantity AS q, l_returnflag, 'late' AS note
        |  FROM base WHERE l_orderkey % 100 = 0),
        |fin AS (SELECT * FROM del UNION ALL SELECT * FROM late)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(q) AS DOUBLE) AS qty,
        |       CAST(COUNT(note) AS BIGINT) AS n_note,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS v0_rows,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM del) AS v2_rows
        |FROM fin GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-ddl").toString
      val cat = QueryDef.freshCatalog(s, "graft_ddl", wh)
      t(s, dir, "lineitem").createOrReplaceTempView("c37p_src")
      s.sql(s"CREATE TABLE $cat.li (l_orderkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING) " +
        "TBLPROPERTIES ('format'='manifest')")
      s.sql(s"INSERT INTO $cat.li SELECT l_orderkey, l_linenumber, " +
        "l_quantity, l_returnflag FROM c37p_src")                  // v0
      s.sql(s"UPDATE $cat.li SET l_quantity = l_quantity + 100 " +
        "WHERE l_returnflag = 'R'")                                // v1
      s.sql(s"DELETE FROM $cat.li WHERE l_orderkey % 7 = 0")       // v2
      s.sql(s"ALTER TABLE $cat.li ADD COLUMN note STRING")         // v3
      s.sql(s"INSERT INTO $cat.li SELECT l_orderkey + 10000000, " +
        "l_linenumber, l_quantity, l_returnflag, 'late' " +
        "FROM c37p_src WHERE l_orderkey % 100 = 0")                // v4
      val v0 = s.sql(s"SELECT count(*) FROM $cat.li VERSION AS OF 0")
        .head().getLong(0)
      val v2 = s.sql(s"SELECT count(*) FROM $cat.li VERSION AS OF 2")
        .head().getLong(0)
      // pre-evolution history keeps its era's shape
      require(!s.sql(s"SELECT * FROM $cat.li VERSION AS OF 2")
        .columns.contains("note"), "v2 must not show the evolved column")
      s.sql(s"SELECT l_returnflag, count(*) AS n, " +
          s"CAST(sum(l_quantity) AS DOUBLE) AS qty, " +
          s"count(note) AS n_note FROM $cat.li GROUP BY l_returnflag")
        .withColumn("v0_rows", lit(v0)).withColumn("v2_rows", lit(v2))
        .orderBy("l_returnflag")
    },

    // C37q: PARTITIONED BY on the manifest format — identity
    // partition columns become stats-clustered write columns (every
    // write shuffles rows by them so each file covers one or few
    // values; the per-file min/max stats then prune partition
    // predicates to a strict file subset — Hive pruning as data
    // skipping, no directory-per-value tree). The oracle checks the
    // partition-predicate query's exact result; the strict file
    // subset and the non-manifest/non-identity refusals are pinned in
    // GraftCatalogSpec.
    "c37q_partitioned_by" -> QueryDef(
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-part").toString
      val cat = QueryDef.freshCatalog(s, "graft_part", wh)
      t(s, dir, "lineitem").createOrReplaceTempView("c37q_src")
      s.sql(s"CREATE TABLE $cat.li (l_orderkey BIGINT, " +
        "l_quantity DOUBLE, l_returnflag STRING) " +
        "PARTITIONED BY (l_returnflag) " +
        "TBLPROPERTIES ('format'='manifest')")
      s.sql(s"INSERT INTO $cat.li SELECT l_orderkey, l_quantity, " +
        "l_returnflag FROM c37q_src")
      s.sql(s"SELECT l_returnflag, count(*) AS n, " +
        s"CAST(sum(l_quantity) AS DOUBLE) AS qty FROM $cat.li " +
        "WHERE l_returnflag = 'R' GROUP BY l_returnflag " +
        "ORDER BY l_returnflag")
    },

    // C37o: RENAME COLUMN via column mapping (protocol v5) — the
    // rename is ONE metadata commit (stable physical names keep the
    // data files and their per-file stats valid), the table works
    // under the new name across UPDATE + SELECT, and time travel
    // shows each era under its own name. The oracle replays the
    // whole sequence relationally; v0 is read under the OLD name and
    // joined in, so a rename that touched data, lost history, or
    // leaked the wrong era's name breaks the hash. Stats-pruning
    // survival across the rename is pinned in GraftCatalogSpec.
    "c37o_rename_column" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CAST(CASE WHEN doc_id % 10 = 3 THEN doc_id % 10 + 100
        |                 ELSE doc_id % 10 END AS INTEGER) AS page,
        |       CAST(doc_id % 10 AS INTEGER) AS old_page
        |FROM documents ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-ren").toString
      val store = new graft.sink.ChunkStore(s, s"$wh/chunks")
      store.upsert(t(s, dir, "documents").select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 10).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url"))) // v0
      val cat = QueryDef.freshCatalog(s, "graft_ren", wh)
      s.sql(s"ALTER TABLE $cat.chunks RENAME COLUMN page_number TO page")
      s.sql(s"UPDATE $cat.chunks SET page = page + 100 WHERE page = 3")
      val cur = s.sql(s"SELECT document_url, page FROM $cat.chunks")
      require(!cur.columns.contains("page_number"),
        "head must present the new name only")
      val v0 = s.sql(s"SELECT document_url, page_number AS old_page " +
        s"FROM $cat.chunks VERSION AS OF 0")
      cur.join(v0, Seq("document_url")).orderBy("document_url")
    },

    // C37r: SHALLOW CLONE — `CALL clone(src, dst)` forks the commit
    // log (metadata-only; data files shared by absolute reference).
    // The gate clones a table, mutates ONLY the clone (UPDATE +
    // row-level DELETE), and reads source and clone joined on the
    // key — so a clone that leaked writes back to the source, lost
    // rows in the fork, or failed to carry the full history (the
    // pre-fork version count is replayed through the clone's own
    // time travel) breaks the hash. Vacuum-across-the-fork safety
    // and refusals are pinned in CloneSpec.
    "c37r_clone" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CAST(doc_id % 10 AS INTEGER) AS src_page,
        |       CAST(CASE WHEN doc_id % 10 = 3 THEN doc_id % 10 + 100
        |                 ELSE doc_id % 10 END AS INTEGER) AS clone_page,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
        |         AS clone_v0_rows
        |FROM documents WHERE doc_id % 10 <> 5
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-clone").toString
      val store = new graft.sink.ChunkStore(s, s"$wh/chunks")
      store.upsert(t(s, dir, "documents").select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 10).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url"))) // v0
      val cat = QueryDef.freshCatalog(s, "graft_clone", wh)
      s.sql(s"CALL $cat.clone('chunks', 'chunks2')")
      s.sql(s"UPDATE $cat.chunks2 SET page_number = page_number + 100 " +
        "WHERE page_number = 3")
      s.sql(s"DELETE FROM $cat.chunks2 WHERE page_number = 5")
      // the fork carried full history: clone-side time travel reads v0
      val cloneV0 = s.sql(
          s"SELECT count(*) FROM $cat.chunks2 VERSION AS OF 0")
        .head().getLong(0)
      val src = s.sql(s"SELECT document_url, page_number AS src_page " +
        s"FROM $cat.chunks")
      val cl = s.sql(s"SELECT document_url, page_number AS clone_page " +
        s"FROM $cat.chunks2")
      src.join(cl, Seq("document_url"))
        .withColumn("clone_v0_rows", lit(cloneV0))
        .orderBy("document_url")
    },

    // C37v: BRANCHES + WRITE-AUDIT-PUBLISH — `CALL create_branch`
    // forks the commit log (Iceberg branch / Delta WAP); branch
    // writes share the table's data namespace but stay INVISIBLE to
    // main; `SELECT … VERSION AS OF '<branch>'` is the SQL audit
    // view; `CALL fast_forward` lands the branch's net actions on
    // main as ONE atomic squash commit. The hash pins: main
    // unchanged pre-publish (`pre_publish_rows`), the audit view
    // seeing the branch state (`audit_rows`), and main's post-publish
    // rows equalling the branch's delete+append relationally.
    // Divergence refusal, net add/rm cancellation, vacuum-across-
    // branches, and streaming-to-branch are pinned in BranchSpec.
    "c37v_branch_wap" -> QueryDef(
      """SELECT document_url, page_number,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
        |         AS pre_publish_rows,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |          WHERE doc_id % 10 <> 7)
        |       + (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |            WHERE doc_id % 10 = 5) AS audit_rows
        |FROM (
        |  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |         CAST(doc_id % 10 AS INTEGER) AS page_number
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT 'doc://b/' || CAST(doc_id AS VARCHAR), 55
        |  FROM documents WHERE doc_id % 10 = 5
        |)
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-branch").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      store.append(t(s, dir, "documents").select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 10).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val cat = QueryDef.freshCatalog(s, "graft_wap", wh)
      s.sql(s"CALL $cat.create_branch('chunks', 'audit')")
      // branch writes: a delete and an append, via the branch handle
      val bstore = new graft.sink.ChunkStore(s, path,
        format = graft.sink.ManifestTableFormat.branchFactory("audit"))
      bstore.deleteWhere(col("page_number") === 7)
      bstore.append(t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 5).select(
          lit(0).as("chunk_id"), col("text").as("chunk_text"),
          array(lit(0f)).as("embedding"),
          lit(55).cast("int").as("page_number"),
          concat(lit("doc://b/"), col("doc_id")).as("document_url")))
      // pre-publish: main still serves the forked state…
      val prePublish = s.sql(s"SELECT count(*) FROM $cat.chunks")
        .head().getLong(0)
      // …while the SQL audit view sees the branch head
      val auditRows = s.sql(
          s"SELECT count(*) FROM $cat.chunks VERSION AS OF 'audit'")
        .head().getLong(0)
      s.sql(s"CALL $cat.fast_forward('chunks', 'audit')")
      s.sql(s"CALL $cat.drop_branch('chunks', 'audit')")
      s.sql(s"SELECT document_url, page_number FROM $cat.chunks")
        .withColumn("pre_publish_rows", lit(prePublish))
        .withColumn("audit_rows", lit(auditRows))
        .orderBy("document_url")
    },

    // C37s: MERGE-ON-READ row-level DELETE via protocol-v6 DELETION
    // VECTORS — with spark.graft.deletionVectors=true a SQL DELETE
    // commits one position-delete sidecar instead of rewriting files
    // (the Delta DV idea: at 100 TB, deleting a few rows from a 1 GB
    // file must not cost a 1 GB rewrite). Two successive DELETEs
    // exercise the position UNION; `files_unchanged` pins the
    // merge-on-read contract INSIDE the hash (1 ⇔ the live data-file
    // set is byte-identical before and after both deletes), and the
    // SELECT reads through the catalog's DV-aware V1-fallback scan.
    // The oracle replays both deletes relationally. Mechanics
    // (vacuum, restore, CDF, conflicts, rewrite_dvs) are pinned in
    // DeletionVectorSpec.
    "c37s_deletion_vectors" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(doc_id % 10 AS INTEGER) AS page_number,
        |       CAST(1 AS BIGINT) AS files_unchanged
        |FROM documents WHERE doc_id % 10 NOT IN (3, 4)
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-dvgate").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      store.append(t(s, dir, "documents").select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 10).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val mtf = new graft.sink.ManifestTableFormat(s, path, store.schema)
      val before = mtf.liveFiles.toSet
      val cat = QueryDef.freshCatalog(s, "graft_dv", wh)
      s.conf.set("spark.graft.deletionVectors", "true")
      try {
        s.sql(s"DELETE FROM $cat.chunks WHERE page_number = 3")
        s.sql(s"DELETE FROM $cat.chunks WHERE page_number = 4")
      } finally s.conf.unset("spark.graft.deletionVectors")
      val unchanged = if (mtf.liveFiles.toSet == before) 1L else 0L
      s.sql(s"SELECT document_url, chunk_text, page_number " +
          s"FROM $cat.chunks")
        .withColumn("files_unchanged", lit(unchanged))
        .orderBy("document_url")
    },

    // C37u: MERGE-ON-READ UPDATE via deletion vectors — under the
    // same conf a SQL UPDATE tombstones the matched rows' positions
    // in place and APPENDS the updated copies: write cost O(matched
    // rows), never a touched-file rewrite. `files_kept` pins the
    // contract inside the hash (1 ⇔ every pre-update data file is
    // still live afterwards); the read goes through the DV-aware
    // scan. The oracle replays the update relationally.
    "c37u_dv_update" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CASE WHEN doc_id % 10 = 6 THEN text || ' v2'
        |            ELSE text END AS chunk_text,
        |       CAST(CASE WHEN doc_id % 10 = 6 THEN 66
        |                 ELSE doc_id % 10 END AS INTEGER) AS page_number,
        |       CAST(1 AS BIGINT) AS files_kept
        |FROM documents
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-dvup").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      store.append(t(s, dir, "documents").select(
        lit(0).as("chunk_id"), col("text").as("chunk_text"),
        array(lit(0f)).as("embedding"),
        (col("doc_id") % 10).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      val mtf = new graft.sink.ManifestTableFormat(s, path, store.schema)
      val before = mtf.liveFiles.toSet
      val cat = QueryDef.freshCatalog(s, "graft_dvu", wh)
      s.conf.set("spark.graft.deletionVectors", "true")
      try s.sql(s"UPDATE $cat.chunks " +
        "SET chunk_text = chunk_text || ' v2', page_number = 66 " +
        "WHERE page_number = 6")
      finally s.conf.unset("spark.graft.deletionVectors")
      val kept = if (before.subsetOf(mtf.liveFiles.toSet)) 1L else 0L
      s.sql(s"SELECT document_url, chunk_text, page_number " +
          s"FROM $cat.chunks")
        .withColumn("files_kept", lit(kept))
        .orderBy("document_url")
    },

    // C37t: METADATA-ONLY DELETE — when per-file stats PROVE every
    // row of a file matches the predicate (fail-closed exact-probe
    // implication over the same canonical-string grid the skipping
    // stats use), the file rm's with NO data read or write (the Delta
    // metadata-delete fast lane; at 100 TB, `DELETE WHERE ts <
    // cutoff` on a time-clustered table is a pure log commit). Three
    // appends land disjoint page decades in disjoint file sets;
    // `no_new_files` pins the lane inside the hash (1 ⇔ the delete
    // added no data files — every surviving file predates it).
    "c37t_metadata_delete" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(30 + doc_id % 10 AS INTEGER) AS page_number,
        |       CAST(1 AS BIGINT) AS no_new_files
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-mdel").toString
      val path = s"$wh/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      val docs = t(s, dir, "documents")
      def decade(m: Int, base: Int) = docs
        .filter(col("doc_id") % 2 === m)
        .select(lit(0).as("chunk_id"), col("text").as("chunk_text"),
          array(lit(0f)).as("embedding"),
          (lit(base) + col("doc_id") % 10).cast("int").as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url"))
      store.append(decade(0, 10)) // pages 10-19: fully covered below
      store.append(decade(1, 30)) // pages 30-39: untouched
      val mtf = new graft.sink.ManifestTableFormat(s, path, store.schema)
      val before = mtf.liveFiles.toSet
      val cat = QueryDef.freshCatalog(s, "graft_mdel", wh)
      s.sql(s"DELETE FROM $cat.chunks WHERE page_number < 25")
      val after = mtf.liveFiles.toSet
      val noNew = if ((after -- before).isEmpty) 1L else 0L
      s.sql(s"SELECT document_url, chunk_text, page_number " +
          s"FROM $cat.chunks")
        .withColumn("no_new_files", lit(noNew))
        .orderBy("document_url")
    },

    // B12b: path-based `format("graft")` — the catalog-free handle to
    // a manifest table (Delta's format("delta") next to its catalog):
    // the write goes through the V1 relation seam (mode=append = A18
    // log commit), the read resolves the same snapshot-pinned,
    // stats-skipping table the catalog builds, and the range
    // predicate's result must hash-match the relational oracle.
    // GraftDataSourceSpec pins time travel, overwrite mode, the
    // pruned plan shape, and the non-manifest refusal.
    "b12b_path_source" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text,
        |       CAST(doc_id % 20 AS INTEGER) AS page_number
        |FROM documents WHERE doc_id % 20 BETWEEN 5 AND 9
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-pathsrc").toString
      val path = s"$wh/chunks"
      val docs = t(s, dir, "documents")
      docs.select(
          lit(0).as("chunk_id"), col("text").as("chunk_text"),
          array(lit(0f)).as("embedding"),
          (col("doc_id") % 20).cast("int").as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url"))
        .write.format("graft").mode("append").save(path)
      s.read.format("graft").load(path)
        .filter(col("page_number").between(5, 9))
        .select("document_url", "chunk_text", "page_number")
        .orderBy("document_url")
    },

    // B12c: LOG-ANSWERED AGGREGATES — an unfiltered count/min/max on
    // a manifest table plans as ONE LocalScan row from the log's
    // per-file stats (no data files, no parquet footers; O(log) at
    // any file count). `metadata_lane` pins the plan inside the hash:
    // 1 ⇔ the physical plan is a LocalTableScan, not a file scan.
    "b12c_metadata_agg" -> QueryDef(
      """SELECT COUNT(*) AS n,
        |       MIN(o_orderkey) AS lo_k, MAX(o_orderkey) AS hi_k,
        |       MIN(o_orderdate) AS lo_ts, MAX(o_orderdate) AS hi_ts,
        |       MIN(o_orderpriority) AS lo_p, MAX(o_orderpriority) AS hi_p,
        |       CAST(1 AS BIGINT) AS metadata_lane
        |FROM orders""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-mdagg").toString
      val cat = QueryDef.freshCatalog(s, "graft_mdagg", wh)
      s.sql(s"CREATE TABLE $cat.o (k BIGINT, ts TIMESTAMP, p STRING) " +
        "TBLPROPERTIES ('format'='manifest')")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderdate").as("ts"),
          col("o_orderpriority").as("p"))
        .createOrReplaceTempView("graft_mdagg_src")
      s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_mdagg_src")
      // string extrema ride the protocol-v7 exact-bounds marker
      // (short priorities never truncate); the lane bit pins that the
      // string MIN/MAX did NOT force a scan
      val q = s.sql(
        s"""SELECT COUNT(*) AS n,
           |       MIN(k) AS lo_k, MAX(k) AS hi_k,
           |       MIN(ts) AS lo_ts, MAX(ts) AS hi_ts,
           |       MIN(p) AS lo_p, MAX(p) AS hi_p FROM $cat.o"""
          .stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      val lane =
        if ((plan.contains("LocalTableScan") ||
            plan.contains("GraftLogStatsAggScan")) &&
          !plan.contains("FileScan")) 1L
        else 0L
      q.withColumn("metadata_lane", lit(lane))
    },

    // B12d: TopN FILE PRUNING — `ORDER BY key LIMIT k` on a
    // key-clustered manifest table plans only the files whose ranges
    // can reach the top-k (per-file lo/hi + row counts from the log).
    // Four range-disjoint commits; the top-100 smallest keys live in
    // the first range, so the scan must plan a STRICT file subset —
    // `topn_pruned` pins that inside the hash.
    "b12d_topn_limit" -> QueryDef(
      """SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS topn_pruned
        |FROM orders ORDER BY k LIMIT 100""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-topn").toString
      val cat = QueryDef.freshCatalog(s, "graft_topn", wh)
      s.sql(s"CREATE TABLE $cat.o (k BIGINT) " +
        "TBLPROPERTIES ('format'='manifest')")
      val orders = t(s, dir, "orders")
      val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      orders.select(col("o_orderkey").as("k"))
        .createOrReplaceTempView("graft_topn_src")
      (0 until 4).foreach { i =>
        val lo = if (i == 0) Long.MinValue else maxK * i / 4
        val hi = if (i == 3) Long.MaxValue else maxK * (i + 1) / 4
        s.sql(s"INSERT INTO $cat.o SELECT /*+ REPARTITION(1) */ k " +
          s"FROM graft_topn_src WHERE k > $lo AND k <= $hi")
      }
      def planned(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        plan.collectWithSubqueries {
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
            org.apache.spark.sql.graftbridge.Scans.fileScan(b.scan)
              .fileIndex.inputFiles.length
        }.sum
      }
      val all = planned(s.sql(s"SELECT k FROM $cat.o"))
      val q = s.sql(s"SELECT k FROM $cat.o ORDER BY k LIMIT 100")
      val top = planned(q)
      val pruned = if (all >= 4 && top < all) 1L else 0L
      q.withColumn("topn_pruned", lit(pruned))
    },

    // B12g: TopN/LIMIT FILE PRUNING ON A DV'D SNAPSHOT — b12d's shape
    // after a deletion-vector delete: the pair-pruned head read must
    // (a) exclude the DV'd rows (the vector applies under the pruned
    // read) and (b) still plan a strict file subset, using LIVE lower
    // bounds in the threshold arithmetic. `topn_pruned` pins the
    // subset inside the hash; the oracle replays the delete
    // relationally.
    "b12g_topn_dv" -> QueryDef(
      """SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS topn_pruned
        |FROM orders
        |WHERE o_orderkey > (SELECT CAST(MAX(o_orderkey) // 100 AS BIGINT)
        |                    FROM orders)
        |ORDER BY k LIMIT 100""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-topndv").toString
      val cat = QueryDef.freshCatalog(s, "graft_topndv", wh)
      s.sql(s"CREATE TABLE $cat.o (k BIGINT) " +
        "TBLPROPERTIES ('format'='manifest')")
      val orders = t(s, dir, "orders")
      val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      orders.select(col("o_orderkey").as("k"))
        .createOrReplaceTempView("graft_topndv_src")
      (0 until 4).foreach { i =>
        val lo = if (i == 0) Long.MinValue else maxK * i / 4
        val hi = if (i == 3) Long.MaxValue else maxK * (i + 1) / 4
        s.sql(s"INSERT INTO $cat.o SELECT /*+ REPARTITION(1) */ k " +
          s"FROM graft_topndv_src WHERE k > $lo AND k <= $hi")
      }
      // DV-delete the head 1% so the top-100 depends on the vector
      val cut = maxK / 100
      s.conf.set("spark.graft.deletionVectors", "true")
      try s.sql(s"DELETE FROM $cat.o WHERE k <= $cut")
      finally s.conf.unset("spark.graft.deletionVectors")
      def planned(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        new org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanHelper {
          def files(p: org.apache.spark.sql.execution.SparkPlan): Int =
            collectWithSubqueries(p) {
              case f: org.apache.spark.sql.execution
                  .FileSourceScanExec =>
                f.relation.location.inputFiles
                  .count(!_.contains("/dv-"))
            }.sum
        }.files(plan)
      }
      val all = planned(s.sql(s"SELECT k FROM $cat.o"))
      val q = s.sql(s"SELECT k FROM $cat.o ORDER BY k LIMIT 100")
      val top = planned(q)
      val pruned = if (all >= 4 && top > 0 && top < all) 1L else 0L
      q.withColumn("topn_pruned", lit(pruned))
    },

    // C37w: PER-COLUMN BLOOM FILTERS (the Delta bloom-filter-index
    // idea at FILE-skipping granularity) — `CALL set_bloom_columns`
    // makes every write record a per-file bloom over the declared
    // column; an equality probe on a HIGH-CARDINALITY UNCLUSTERED
    // column (here a multiplicative scramble of the key, so every
    // file's min/max spans the whole range and ordinary skipping is
    // useless) prunes to the file(s) whose bloom admits the value.
    // `bloom_pruned` pins inside the hash that the point query
    // planned a STRICT subset of the files while the full scan plans
    // them all; results hash-match DuckDB computing the same
    // scramble relationally.
    "c37w_column_bloom" -> QueryDef(
      """WITH lim AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |         CAST((o_orderkey * 2654435761) % 1000000007 AS BIGINT)
        |           AS sec
        |  FROM orders ORDER BY o_orderkey LIMIT 1000),
        |src AS (
        |  SELECT k, sec, ROW_NUMBER() OVER (ORDER BY k) AS rn FROM lim)
        |SELECT k, sec, CAST(1 AS BIGINT) AS bloom_pruned
        |FROM src
        |WHERE sec = (SELECT sec FROM src WHERE rn = 1000)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-cbloom").toString
      val cat = QueryDef.freshCatalog(s, "graft_cbloom", wh)
      s.sql(s"CREATE TABLE $cat.o (k BIGINT, sec BIGINT) " +
        "TBLPROPERTIES ('format'='manifest')")
      s.sql(s"CALL $cat.set_bloom_columns('o', 'sec')")
      // a FIXED 1000-row slice (SF-independent): 250 rows per file
      // keeps each bloom far from saturation at every scale factor.
      // Bottom-1000 by key via orderBy+limit (TakeOrdered — the
      // global-window-over-the-whole-table trap would single-thread
      // a sort of every row); the window then ranks only 1000 rows.
      t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_orderkey") * 2654435761L % 1000000007L).as("sec"))
        .orderBy(col("k")).limit(1000)
        .select(col("k"), col("sec"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("k"))).as("rn"))
        .createOrReplaceTempView("graft_cbloom_src")
      // four commits of contiguous key quarters: sec is a scramble of
      // k, so every file's sec min/max spans ~the whole domain —
      // range skipping cannot prune the point probe, only the bloom
      (0 until 4).foreach { i =>
        s.sql(s"INSERT INTO $cat.o SELECT /*+ REPARTITION(1) */ k, sec " +
          s"FROM graft_cbloom_src WHERE rn > ${i * 250} " +
          s"AND rn <= ${(i + 1) * 250}")
      }
      val probe = s.sql(
          "SELECT sec FROM graft_cbloom_src WHERE rn = 1000")
        .head().getLong(0)
      def planned(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        val scans = new org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanHelper {
          def scansOf(p: org.apache.spark.sql.execution.SparkPlan) =
            collectWithSubqueries(p) {
              case b: org.apache.spark.sql.execution.datasources.v2
                  .BatchScanExec => b
            }
        }.scansOf(df.queryExecution.executedPlan)
        org.apache.spark.sql.graftbridge.Scans.fileScan(scans.head.scan)
          .fileIndex.inputFiles.length
      }
      val all = planned(s.sql(s"SELECT k, sec FROM $cat.o"))
      val q = s.sql(s"SELECT k, sec FROM $cat.o WHERE sec = $probe")
      val hit = planned(q)
      val pruned = if (all == 4 && hit > 0 && hit < all) 1L else 0L
      q.withColumn("bloom_pruned", lit(pruned)).orderBy("k")
    },

    // B12h: ANALYZE + NDV statistics (the Iceberg Puffin / ANALYZE
    // TABLE idea) — `CALL analyze` records DataSketches HLL sketches
    // (lgK=12) per column in a version-stamped sidecar; `CALL ndv`
    // serves the estimates with staleness visible, and the scan's
    // DSv2 column statistics expose them as the CBO's distinct
    // counts (NdvSpec pins that path). The hash pins estimate
    // QUALITY: each `*_ok` flag is 1 only if the sketch estimate is
    // within 5% of the exact distinct count (lgK=12 ≈ 1.6% RSE);
    // `fresh` is 1 only if the sidecar is at the table's current
    // version.
    "b12h_ndv_analyze" -> QueryDef(
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_part,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ndv_supp,
        |       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS ndv_flag,
        |       CAST(1 AS BIGINT) AS part_ok,
        |       CAST(1 AS BIGINT) AS supp_ok,
        |       CAST(1 AS BIGINT) AS flag_ok,
        |       CAST(1 AS BIGINT) AS fresh
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-ndv").toString
      val cat = QueryDef.freshCatalog(s, "graft_ndv", wh)
      s.sql(s"CREATE TABLE $cat.li (pk BIGINT, sk BIGINT, rf STRING) " +
        "TBLPROPERTIES ('format'='manifest')")
      t(s, dir, "lineitem").select(
          col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          col("l_returnflag").as("rf"))
        .createOrReplaceTempView("graft_ndv_src")
      s.sql(s"INSERT INTO $cat.li SELECT * FROM graft_ndv_src")
      s.sql(s"CALL $cat.analyze('li', 'pk,sk,rf')")
      val est = s.sql(s"CALL $cat.ndv('li')").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val exact = s.sql("SELECT CAST(COUNT(DISTINCT pk) AS BIGINT), " +
        "CAST(COUNT(DISTINCT sk) AS BIGINT), " +
        s"CAST(COUNT(DISTINCT rf) AS BIGINT) FROM $cat.li").head()
      def ok(col: String, exactN: Long): Long = {
        val e = est(col)._1
        if (math.abs(e - exactN) <= 0.05 * exactN) 1L else 0L
      }
      val fresh =
        if (est.values.forall(v => v._2 == v._3)) 1L else 0L
      import s.implicits._
      Seq((exact.getLong(0), exact.getLong(1), exact.getLong(2),
        ok("pk", exact.getLong(0)), ok("sk", exact.getLong(1)),
        ok("rf", exact.getLong(2)), fresh))
        .toDF("ndv_part", "ndv_supp", "ndv_flag",
          "part_ok", "supp_ok", "flag_ok", "fresh")
    },

    // B12e: FILTERED metadata COUNT — `COUNT(*) WHERE k < cutoff` on
    // a key-clustered manifest table folds to a LocalRelation at
    // optimization: files whose stats prove every row matches are
    // log-counted, proven-none files contribute zero, and ONLY the
    // cutoff-straddling boundary file is read (one narrow planning
    // job). `count_lane` pins inside the hash that the plan is a
    // LocalRelation (no table scan) AND that the split log-answered
    // a strict majority (boundary < total files).
    "b12e_filtered_metadata_count" -> QueryDef(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(o_orderdate) AS BIGINT) AS nts,
        |       MIN(o_orderkey) AS lo_k, MAX(o_orderkey) AS hi_k,
        |       MAX(o_orderdate) AS hi_ts,
        |       CAST(1 AS BIGINT) AS count_lane
        |FROM orders
        |WHERE o_orderkey < (SELECT CAST(MAX(o_orderkey) // 3 AS BIGINT)
        |                    FROM orders)""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-fcount").toString
      val cat = QueryDef.freshCatalog(s, "graft_fcount", wh)
      s.sql(s"CREATE TABLE $cat.o (k BIGINT, ts TIMESTAMP) " +
        "TBLPROPERTIES ('format'='manifest')")
      val orders = t(s, dir, "orders")
      val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      orders.select(col("o_orderkey").as("k"),
          col("o_orderdate").as("ts"))
        .createOrReplaceTempView("graft_fcount_src")
      // four key-range commits: the cutoff (maxK/3) lands inside the
      // second, so exactly one file straddles it
      (0 until 4).foreach { i =>
        val lo = if (i == 0) Long.MinValue else maxK * i / 4
        val hi = if (i == 3) Long.MaxValue else maxK * (i + 1) / 4
        s.sql(s"INSERT INTO $cat.o SELECT /*+ REPARTITION(1) */ k, ts " +
          s"FROM graft_fcount_src WHERE k > $lo AND k <= $hi")
      }
      val cutoff = maxK / 3
      graft.sink.ManifestTableFormat.lastMetaCountSplit = null
      // counts AND extrema fold together: proven files contribute
      // recorded bounds, the boundary file scans for matching extrema
      val q = s.sql(s"SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(COUNT(ts) AS BIGINT) AS nts, " +
        s"MIN(k) AS lo_k, MAX(k) AS hi_k, MAX(ts) AS hi_ts " +
        s"FROM $cat.o WHERE k < $cutoff")
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      val split = graft.sink.ManifestTableFormat.lastMetaCountSplit
      val lane =
        if (plan.contains("LocalTableScan") &&
          !plan.contains("BatchScan") && !plan.contains("FileScan") &&
          split != null && split._2 < split._1 + split._2) 1L
        else 0L
      q.withColumn("count_lane", lit(lane))
    },

    // B12f: GROUP BY from stats — on a table whose every file is
    // SINGLE-VALUED on the grouped column (one commit per value),
    // `GROUP BY col` with COUNT/COUNT(c)/MIN/MAX folds to log
    // arithmetic: one LocalScan of G rows, zero data reads.
    // `groupby_lane` pins the scan-free plan inside the hash.
    "b12f_stats_group_by" -> QueryDef(
      """SELECT l_linenumber AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(l_quantity) AS BIGINT) AS nq,
        |       CAST(MIN(l_orderkey) AS BIGINT) AS lo,
        |       CAST(MAX(l_orderkey) AS BIGINT) AS hi,
        |       CAST(1 AS BIGINT) AS groupby_lane
        |FROM lineitem GROUP BY l_linenumber
        |ORDER BY g""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-gstats").toString
      val cat = QueryDef.freshCatalog(s, "graft_gstats", wh)
      s.sql(s"CREATE TABLE $cat.li (g INT, q DOUBLE, k BIGINT) " +
        "TBLPROPERTIES ('format'='manifest')")
      val li = t(s, dir, "lineitem")
      li.select(col("l_linenumber").as("g"), col("l_quantity").as("q"),
          col("l_orderkey").as("k"))
        .createOrReplaceTempView("graft_gstats_src")
      val values = li.select(col("l_linenumber")).distinct()
        .collect().map(_.getInt(0)).sorted
      // one single-valued commit per distinct group value
      values.foreach { v =>
        s.sql(s"INSERT INTO $cat.li SELECT /*+ REPARTITION(1) */ " +
          s"g, q, k FROM graft_gstats_src WHERE g = $v")
      }
      val q = s.sql(s"SELECT g, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(COUNT(q) AS BIGINT) AS nq, " +
        s"CAST(MIN(k) AS BIGINT) AS lo, CAST(MAX(k) AS BIGINT) AS hi " +
        s"FROM $cat.li GROUP BY g ORDER BY g")
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      val lane =
        if (!plan.contains("BatchScan") && !plan.contains("FileScan")) 1L
        else 0L
      q.withColumn("groupby_lane", lit(lane))
    }
  )
}
