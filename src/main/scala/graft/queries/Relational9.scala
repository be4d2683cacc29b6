package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** SQL-surface completions — modern SQL sugar
  * (GROUP/ORDER BY ALL), exact inverse-distribution percentiles, the regexp
  * scalar family, width_bucket histograms, remaining string scalars,
  * parse_url/str_to_map extraction, and EXISTS/NOT EXISTS decorrelation.
  * Everything is a Spark built-in; oracles are DuckDB translations (DuckDB
  * lacks some function names — those oracles emulate the exact semantics
  * with arithmetic/substr, noted per query).
  */
object Relational9 {

  // ---------------------------------------------------------------- q91
  /** GROUP BY ALL + ORDER BY ALL (modern SQL sugar, Spark 4 + DuckDB both
    * support it natively — same text runs on both engines). Semantics:
    * group by every non-aggregate select item, order by the full select
    * list. The plan is identical to the explicit q02 grouping — sugar must
    * not change the physical aggregation. */
  private def q91(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "lineitem_gba" -> Tables.lineitem(s, d)) {
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       round(sum(l_quantity), 2) AS total_qty
          |FROM lineitem_gba GROUP BY ALL ORDER BY ALL""".stripMargin)
    }

  private val q91Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Exact inverse-distribution percentiles (SQL:2008 WITHIN GROUP):
    * percentile_cont interpolates, percentile_disc picks the first value at
    * or past the rank — plus Spark's exact `percentile` aggregate, which is
    * percentile_cont by another name (oracle: quantile_cont). Exact
    * percentiles are a full sort per group at scale — the approx_percentile
    * sketch (q26) is the 100 TB default; this is the exact-answer path. */
  private def q92(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "lineitem_pct" -> Tables.lineitem(s, d)) {
      s.sql(
        """SELECT l_returnflag,
          |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50,
          |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90,
          |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
          |  round(percentile(l_extendedprice, 0.5), 4) AS p50_price
          |FROM lineitem_pct GROUP BY l_returnflag""".stripMargin)
    }

  private val q92Sql =
    """SELECT l_returnflag,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Regexp scalar family beyond q16's extract/replace: regexp_count,
    * regexp_substr (NULL on miss), regexp_extract_all. DuckDB spells these
    * len(regexp_extract_all), nullif(regexp_extract, '') — the semantics
    * line up exactly for non-empty-match patterns. Pure map-side codegen'd
    * work — the scan (pruned to p_name) dominates at any scale. */
  private def q93(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_count(col("p_name"), lit("o")).as("n_o"),
      regexp_substr(col("p_name"), lit("[a-z]*ol[a-z]*")).as("first_ol"),
      array_join(regexp_extract_all(col("p_name"), lit("[a-z]{5,}"), lit(0)), ",")
        .as("long_words"))

  private val q93Sql =
    """SELECT p_partkey,
      |  len(regexp_extract_all(p_name, 'o')) AS n_o,
      |  nullif(regexp_extract(p_name, '[a-z]*ol[a-z]*'), '') AS first_ol,
      |  coalesce(array_to_string(regexp_extract_all(p_name, '[a-z]{5,}'), ','), '')
      |    AS long_words
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Equi-width histogram via width_bucket over a bigint measure (integer
    * input keeps the bucket-boundary float math exact on both engines; the
    * oracle emulates with floor arithmetic since DuckDB has no
    * width_bucket — and must `trunc` before its BIGINT cast, because
    * DuckDB's double→int cast rounds-to-nearest while Spark's truncates:
    * a price 0.5 below a bucket boundary would otherwise count into
    * different buckets per engine). The grouped count collapses map-side —
    * the shuffle carries ≤ n_buckets+2 rows per partition regardless of
    * table size. */
  private def q94(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(width_bucket(col("o_totalprice").cast("bigint"),
        lit(0), lit(600000), lit(8)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_orders"))

  private val q94Sql =
    """SELECT CASE WHEN v < 0 THEN 0
      |            WHEN v >= 600000 THEN 9
      |            ELSE CAST(floor(v / 75000.0) AS BIGINT) + 1 END AS bucket,
      |       count(*) AS n_orders
      |FROM (SELECT CAST(trunc(o_totalprice) AS BIGINT) AS v FROM orders)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q95
  /** String scalar completions: initcap, overlay, locate, left/right.
    * DuckDB has none of initcap/overlay/locate under those names — the
    * oracle emulates each with substr/strpos arithmetic (exact semantics
    * for these single-word/fixed-position uses). */
  private def q95(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      initcap(lower(col("c_mktsegment"))).as("seg_title"),
      overlay(col("c_name"), lit("XX"), lit(3), lit(2)).as("masked_name"),
      locate("1", col("c_name")).as("pos_1"),
      substring(col("c_name"), 1, 3).as("name_prefix"),
      expr("left(c_name, 5)").as("name_l5"),
      expr("right(c_name, 4)").as("name_r4"))

  private val q95Sql =
    """SELECT c_custkey,
      |  upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2)
      |    AS seg_title,
      |  substr(c_name, 1, 2) || 'XX' || substr(c_name, 5) AS masked_name,
      |  strpos(c_name, '1') AS pos_1,
      |  substr(c_name, 1, 3) AS name_prefix,
      |  left(c_name, 5) AS name_l5,
      |  right(c_name, 4) AS name_r4
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- q96
  /** URL + key:value-string extraction (web-corpus normalization ops):
    * parse_url picks HOST/PATH/QUERY-param, str_to_map parses a kv string
    * and element_at projects one key. The oracle rebuilds both with
    * regexp_extract/CAST — DuckDB has neither function. Map-side only. */
  private def q96(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .withColumn("url",
        concat(lit("https://ex.com/parts/"), col("p_partkey"),
          lit("?sz="), col("p_size"),
          lit("&type="), regexp_replace(col("p_type"), " ", "_")))
      .select(
        col("p_partkey"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("type")).as("type_q"),
        element_at(
          str_to_map(concat(lit("key:"), col("p_partkey"), lit(",size:"), col("p_size")),
            lit(","), lit(":")),
          "size").as("size_kv"))

  private val q96Sql =
    """SELECT p_partkey,
      |  'ex.com' AS host,
      |  '/parts/' || p_partkey AS path,
      |  replace(p_type, ' ', '_') AS type_q,
      |  CAST(p_size AS VARCHAR) AS size_kv
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- q97
  /** EXISTS / NOT EXISTS correlated subqueries in SQL form — the analyzer
    * decorrelates both into a left-semi and a left-anti join against the
    * same orders scan (q07/q08 proved the DataFrame spellings; this proves
    * the SQL path planner-level). Identical text runs on DuckDB. */
  private def q97(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "customer_ex" -> Tables.customer(s, d),
        "orders_ex" -> Tables.orders(s, d)) {
      s.sql(
        """SELECT c_custkey, c_name
          |FROM customer_ex c
          |WHERE EXISTS (SELECT 1 FROM orders_ex o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
          |  AND NOT EXISTS (SELECT 1 FROM orders_ex o
          |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          |""".stripMargin)
    }

  private val q97Sql =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Named-parameter SQL (`spark.sql(text, args)`, Spark 3.4+): the safe
    * templating surface — parameters are bound by the parser as literals,
    * never string-spliced (no injection, plan cache friendly). The oracle
    * is the same query with the literals inlined. */
  private def q101(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "lineitem_prm" -> Tables.lineitem(s, d)) {
      s.sql(
        """SELECT l_returnflag, count(*) AS n,
          |       round(sum(l_extendedprice), 2) AS revenue
          |FROM lineitem_prm
          |WHERE l_quantity >= :minq AND l_shipdate < CAST(:cutoff AS TIMESTAMP_NTZ)
          |GROUP BY l_returnflag""".stripMargin,
        Map("minq" -> 30, "cutoff" -> "1997-01-01"))
    }

  private val q101Sql =
    """SELECT l_returnflag, count(*) AS n,
      |       round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem
      |WHERE l_quantity >= 30 AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q102
  /** SQL PIVOT clause (the SQL spelling of q22's DataFrame pivot): status
    * columns materialized per priority. The oracle rebuilds the matrix
    * with FILTER aggregates — same plan Spark lowers PIVOT to (a groupBy
    * with one conditional aggregate per IN value; no extra shuffle vs the
    * plain aggregation). */
  private def q102(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "orders_pv" -> Tables.orders(s, d)) {
      s.sql(
        """SELECT o_orderpriority,
          |       round(coalesce(f, 0), 2) AS rev_f,
          |       round(coalesce(o, 0), 2) AS rev_o,
          |       round(coalesce(p, 0), 2) AS rev_p
          |FROM (SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders_pv)
          |PIVOT (sum(o_totalprice) FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
          |""".stripMargin)
    }

  private val q102Sql =
    """SELECT o_orderpriority,
      |  round(coalesce(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 0), 2) AS rev_f,
      |  round(coalesce(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 0), 2) AS rev_o,
      |  round(coalesce(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 0), 2) AS rev_p
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q103
  /** Higher-order predicate family over array columns: `exists`, `forall`,
    * and a filtered reduction — the lambda-expression surface q19/q57
    * didn't reach. All lambdas run codegen'd per row; the oracle spells
    * them with DuckDB list_filter arithmetic. */
  private def q103(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(
        col("vec_id"),
        exists(col("v"), x => x > 0.9).as("any_hot"),
        forall(col("v"), x => x > -0.9).as("none_cold"),
        size(filter(col("v"), x => x > lit(0.0))).as("n_pos"),
        round(aggregate(filter(col("v"), x => x > lit(0.0)),
          lit(0.0), (acc, x) => acc + x), 4).as("pos_sum"))

  private val q103Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT vec_id,
      |  len(list_filter(v, x -> x > 0.9)) > 0 AS any_hot,
      |  len(list_filter(v, x -> x <= -0.9)) = 0 AS none_cold,
      |  len(list_filter(v, x -> x > 0.0)) AS n_pos,
      |  round(list_sum(list_filter(v, x -> x > 0.0)), 4) AS pos_sum
      |FROM e""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q91_group_by_all", q91, Some(q91Sql)),
    GraftQuery("q92_percentile_exact", q92, Some(q92Sql)),
    GraftQuery("q93_regexp_family", q93, Some(q93Sql)),
    GraftQuery("q94_width_bucket", q94, Some(q94Sql)),
    GraftQuery("q95_string_scalars", q95, Some(q95Sql)),
    GraftQuery("q96_url_kv_extract", q96, Some(q96Sql)),
    GraftQuery("q97_exists_subquery", q97, Some(q97Sql)),
    GraftQuery("q101_parameterized_sql", q101, Some(q101Sql)),
    GraftQuery("q102_sql_pivot", q102, Some(q102Sql)),
    GraftQuery("q103_hof_predicates", q103, Some(q103Sql)))
}
