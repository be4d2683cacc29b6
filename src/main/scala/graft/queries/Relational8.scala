package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The `DataFrameStatFunctions` exploration surface
  * and the remaining window-function completions.
  */
object Relational8 {

  // ---------------------------------------------------------------- q79
  /** Contingency table via `df.stat.crosstab` — the two-column frequency
    * matrix as one pass (internally a groupBy on the pair then a local
    * pivot; distinct-pair cardinality must be driver-small, which a
    * status×priority matrix is at any corpus size — 15 cells here whether
    * the table is 60 k or 100 TB rows). */
  private def q79(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).stat.crosstab("o_orderstatus", "o_orderpriority")

  private val q79Sql =
    """SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
      |  count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
      |  count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
      |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
      |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
      |  count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Window completions: nth_value over the running frame, lag with an
    * explicit default, multi-step lead. The unique o_orderkey tiebreak in
    * the ordering makes RANGE and ROWS frames coincide, so both engines
    * agree row-for-row. */
  private def q80(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
      lag(col("o_totalprice"), 1, -1.0).over(w).as("prev_price"),
      lead(col("o_totalprice"), 2).over(w).as("next2_price"))
  }

  private val q80Sql =
    """SELECT o_orderkey, o_custkey,
      |  nth_value(o_totalprice, 2) OVER w AS second_price,
      |  lag(o_totalprice, 1, -1.0) OVER w AS prev_price,
      |  lead(o_totalprice, 2) OVER w AS next2_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  // ---------------------------------------------------------------- q81
  /** XML scalar family (new in Spark 4 — the HL7v3/CDA path of q62 at
    * expression granularity): `to_xml(struct(...))` serializes per row,
    * `from_xml` parses back with an explicit schema, and `xpath_*` extracts
    * single fields. The oracle is the identity the round-trip must satisfy —
    * DuckDB never sees XML. */
  private def q81(s: SparkSession, d: String): DataFrame = {
    val xml = to_xml(struct(col("n_nationkey").as("key"), col("n_name").as("name")))
    Tables.nation(s, d)
      .withColumn("xml", xml)
      .select(
        col("n_nationkey"),
        expr("from_xml(xml, 'key INT, name STRING')").getField("name").as("rt_name"),
        xpath_int(col("xml"), lit("/ROW/key")).as("xp_key"),
        xpath_string(col("xml"), lit("/ROW/name")).as("xp_name"))
  }

  private val q81Sql =
    """SELECT n_nationkey, n_name AS rt_name,
      |       CAST(n_nationkey AS INT) AS xp_key, n_name AS xp_name
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Aggregate modifiers and boolean aggregates: the SQL FILTER clause
    * (per-aggregate predicates without self-joins — each FILTER rides the
    * same partial-agg pass), bool_and/bool_or, count_if, and mode (made
    * unambiguous by a constructed 40% majority class — both engines break
    * frequency ties arbitrarily). */
  private def q82(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "orders_fa" -> Tables.orders(s, d)) {
      s.sql("""SELECT o_orderstatus,
              |  count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
              |  round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS urgent_total,
              |  bool_and(o_totalprice > 0) AS all_positive,
              |  bool_or(o_totalprice > 400000) AS any_jumbo,
              |  count_if(o_orderkey % 2 = 0) AS n_even,
              |  mode(CASE WHEN o_orderkey % 10 < 4 THEN 'A' ELSE concat('B', o_orderkey % 10) END) AS common_bucket
              |FROM orders_fa GROUP BY 1""".stripMargin)
    }

  private val q82Sql =
    """SELECT o_orderstatus,
      |  count(*) FILTER (o_totalprice > 100000) AS n_big,
      |  round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2) AS urgent_total,
      |  bool_and(o_totalprice > 0) AS all_positive,
      |  bool_or(o_totalprice > 400000) AS any_jumbo,
      |  count(*) FILTER (o_orderkey % 2 = 0) AS n_even,
      |  mode(CASE WHEN o_orderkey % 10 < 4 THEN 'A' ELSE 'B' || CAST(o_orderkey % 10 AS VARCHAR) END) AS common_bucket
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Exact distinct via bitmaps — the scale substitute for count(DISTINCT):
    * keys are bucketed (`bitmap_bucket_number`) and each bucket aggregates
    * into a fixed 4 KB bitmap (`bitmap_construct_agg` of
    * `bitmap_bit_position`), so the shuffle carries one small binary per
    * (group, bucket) instead of every raw key, partial-merges via bitwise
    * OR, and the final sum of per-bucket popcounts is EXACT — unlike HLL
    * (q72) there is no error to budget; unlike count(DISTINCT) there is no
    * per-key row expansion. */
  private def q83(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "orders_bm" -> Tables.orders(s, d)) {
      s.sql("""SELECT o_orderstatus, sum(bucket_distinct) AS n_customers
              |FROM (SELECT o_orderstatus, bitmap_bucket_number(o_custkey) AS bkt,
              |             bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey))) AS bucket_distinct
              |      FROM orders_bm GROUP BY 1, 2)
              |GROUP BY 1""".stripMargin)
    }

  private val q83Sql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Recursive CTE (new in Spark 4) — the calendar-fill pattern: a dense
    * month spine generated by recursion, left-joined to sparse facts so
    * empty months surface as zero rows (time-series completeness at the
    * lake level; the recursion is driver-cheap — 24 rows — while the fact
    * side stays a single shuffled aggregate). Identical SQL runs on DuckDB. */
  private def q84(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "orders_rc" -> Tables.orders(s, d)) {
      s.sql("""WITH RECURSIVE months(m) AS (
              |  SELECT CAST('1995-01-01' AS DATE)
              |  UNION ALL
              |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
              |  WHERE m < CAST('1996-12-01' AS DATE))
              |SELECT m, count(o_orderkey) AS n_orders,
              |       CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0), 2) AS DOUBLE) AS month_total
              |FROM months LEFT JOIN orders_rc
              |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
              |GROUP BY m""".stripMargin)
    }

  private val q84Sql =
    """WITH RECURSIVE months(m) AS (
      |  SELECT CAST('1995-01-01' AS DATE)
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
      |  WHERE m < CAST('1996-12-01' AS DATE))
      |SELECT m, count(o_orderkey) AS n_orders,
      |       CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0), 2) AS DOUBLE) AS month_total
      |FROM months LEFT JOIN orders
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
      |GROUP BY m""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Typed per-group imperative logic — `groupByKey.flatMapGroups`, the
    * batch escape hatch when no built-in aggregate expresses the per-group
    * computation (here deliberately one that DOES have a declarative twin,
    * so the DuckDB window oracle can hash-check the typed path): top-2
    * customers per market segment by balance. flatMapGroups shuffles raw
    * rows (no partial aggregation) and streams each group through the
    * lambda with bounded memory — the right shape for custom per-entity
    * logic; for plain top-k, q12's window (with WindowGroupLimit) is the
    * preferred plan, which is exactly what the oracle runs. */
  private def q85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_name"), col("c_acctbal"))
      .as[(String, String, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (seg: String, rows: Iterator[(String, String, Double)]) =>
        // bounded: keep only the best 2 seen so far, never the whole group
        val top = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        rows.foreach { case (_, name, bal) =>
          top += ((name, bal))
          top.sortInPlaceBy { case (n, b) => (-b, n) }
          if (top.length > 2) top.remove(2)
        }
        top.iterator.map { case (name, bal) => (seg, name, bal) }
      }
      .toDF("c_mktsegment", "c_name", "c_acctbal")
  }

  private val q85Sql =
    """SELECT c_mktsegment, c_name, c_acctbal FROM (
      |  SELECT c_mktsegment, c_name, c_acctbal,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY c_acctbal DESC, c_name) AS rn
      |  FROM customer) WHERE rn <= 2""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q79_crosstab", q79, Some(q79Sql)),
    GraftQuery("q80_window_extra", q80, Some(q80Sql)),
    GraftQuery("q81_xml_scalars", q81, Some(q81Sql)),
    GraftQuery("q82_filter_aggs", q82, Some(q82Sql)),
    GraftQuery("q83_bitmap_distinct", q83, Some(q83Sql)),
    GraftQuery("q84_recursive_cte", q84, Some(q84Sql)),
    GraftQuery("q85_typed_groups", q85, Some(q85Sql)),
  )
}
