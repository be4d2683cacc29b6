package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
import graft.core.Tables

/** A widening of the declared surface (SURVEY §2B): grouping sets,
  * unpivot, the map higher-order family, string/date scalar completions,
  * bitwise scalars + aggregates, try_-safe functions, and the custom-UDAF
  * two-pass heavy-hitters operator built on `graft.functions.MisraGries`.
  */
object Relational6 {

  // ---------------------------------------------------------------- q63
  /** GROUPING SETS with grouping() flags — the general form of q11's rollup
    * and q23's cube (each set is one map-side partial aggregation; Spark
    * expands then aggregates, no extra shuffle per set). */
  private def q63(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "orders_gs" -> Tables.orders(s, d)) {
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
              |       CAST(grouping(o_orderpriority) AS INT) AS g_prio
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
              |                        (o_orderstatus), ())""".stripMargin)
    }

  private val q63Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_prio
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Map higher-order family over the schema-on-read attribute bag:
    * transform_keys/transform_values, map_zip_with, map_entries /
    * map_from_entries round-trip, map_concat, try_element_at. All map-side
    * codegen'd scalars — zero shuffles. */
  private def q64(s: SparkSession, d: String): DataFrame = {
    val m = from_json(col("props"), MapType(StringType, IntegerType))
    Tables.events(s, d).select(
      col("event_id"),
      size(m).as("n_keys"),
      try_element_at(transform_values(m, (_, v) => v * 2), lit("k")).as("k_doubled"),
      try_element_at(map_zip_with(m, m, (_, v1, v2) => v1 + v2), lit("k")).as("k_self_sum"),
      array_contains(map_keys(transform_keys(m, (k, _) => upper(k))), "K").as("has_upper_k"),
      size(map_from_entries(map_entries(m))).as("n_entries_rt"),
      size(map_concat(m, map(lit("extra"), lit(1)))).as("n_concat"))
  }

  private val q64Sql =
    """SELECT event_id,
      |  CAST(CASE WHEN props->>'$.k' IS NULL THEN 0 ELSE 1 END AS INT) AS n_keys,
      |  CAST(props->>'$.k' AS INT) * 2 AS k_doubled,
      |  CAST(props->>'$.k' AS INT) * 2 AS k_self_sum,
      |  props->>'$.k' IS NOT NULL AS has_upper_k,
      |  CAST(CASE WHEN props->>'$.k' IS NULL THEN 0 ELSE 1 END AS INT) AS n_entries_rt,
      |  CAST(CASE WHEN props->>'$.k' IS NULL THEN 1 ELSE 2 END AS INT) AS n_concat
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Two-pass heavy hitters: Misra-Gries sketch (custom typed Aggregator,
    * k=1024 ⇒ every key with frequency > n/1025 survives — a strict
    * superset of the n/1000 threshold below; k was 4000 originally, but the
    * immutable-map buffer makes sketch cost scale with k and the extra
    * margin bought nothing) finds candidates in one bounded-state global
    * aggregation; an ordinary groupBy restricted to the candidates recounts
    * them exactly. At 100 TB the first pass never materializes the full key
    * space (the buffer is a ≤2k-entry map merged associatively) and the
    * second pass groups only O(candidates) rows after a broadcast
    * semi-join — the output is exact, so the DuckDB HAVING oracle
    * hash-matches. */
  private def q65(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val cands = o
      .agg(graft.functions.MisraGries.candidates(col("o_custkey"), 1024).as("cands"))
      .select(explode(col("cands")).as("o_custkey"))
    o.join(broadcast(cands), "o_custkey")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("total"))))
      .filter(col("n_orders") > col("total") / lit(1000.0))
      .select("o_custkey", "n_orders")
  }

  private[graft] val q65Sql =
    """SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
      |HAVING count(*) > (SELECT count(*) FROM orders) / 1000.0""".stripMargin

  // ---------------------------------------------------------------- q16b
  /** String scalar completions: split_part, repeat, reverse, ascii, char,
    * instr, contains, concat_ws, rpad, ltrim/rtrim, format_string. */
  private def q16b(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      split_part(col("p_type"), lit(" "), lit(2)).as("type_word2"),
      repeat(substring(col("p_name"), 1, 2), 3).as("rep"),
      reverse(col("p_brand")).as("brand_rev"),
      ascii(col("p_name")).as("first_code"),
      expr("char(65 + p_partkey % 26)").as("letter"),
      instr(col("p_name"), "o").cast("long").as("o_pos"),
      col("p_name").contains("red").as("has_red"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      rpad(col("p_brand"), 12, "*").as("padded_r"),
      ltrim(rtrim(concat(lit("  "), col("p_type"), lit("  ")))).as("trimmed2"),
      format_string("%s/%03d", col("p_brand"), pmod(col("p_partkey"), lit(100))).as("fmt"))

  private val q16bSql =
    """SELECT p_partkey,
      |  split_part(p_type, ' ', 2) AS type_word2,
      |  repeat(substring(p_name, 1, 2), 3) AS rep,
      |  reverse(p_brand) AS brand_rev,
      |  CAST(ascii(p_name) AS INT) AS first_code,
      |  chr(CAST(65 + p_partkey % 26 AS INT)) AS letter,
      |  instr(p_name, 'o') AS o_pos,
      |  contains(p_name, 'red') AS has_red,
      |  concat_ws('-', p_brand, p_type) AS brand_type,
      |  rpad(p_brand, 12, '*') AS padded_r,
      |  ltrim(rtrim('  ' || p_type || '  ')) AS trimmed2,
      |  printf('%s/%03d', p_brand, p_partkey % 100) AS fmt
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- q17c
  /** Date scalar completions: add_months (end-of-month clamped on both
    * engines), last_day, ISO weekofyear, dayofyear, dayofweek (offset
    * aligned), make_date, epoch round-trip, date_sub, quarter truncation. */
  private def q17c(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      add_months(col("o_orderdate"), 3).as("plus_3m"),
      last_day(col("o_orderdate")).as("month_end"),
      weekofyear(col("o_orderdate")).as("iso_week"),
      dayofyear(col("o_orderdate")).as("doy"),
      dayofweek(col("o_orderdate")).as("dow"),
      make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_start"),
      timestamp_seconds(unix_timestamp(col("o_orderdate"))).as("epoch_rt"),
      date_sub(col("o_orderdate"), 15).as("minus_15d"),
      date_trunc("quarter", col("o_orderdate")).as("qtr_start"))

  private val q17cSql =
    """SELECT o_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3m,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
      |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
      |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
      |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS month_start,
      |  CAST(to_timestamp(epoch(o_orderdate)) AS TIMESTAMP) AS epoch_rt,
      |  CAST(CAST(o_orderdate AS DATE) - 15 AS DATE) AS minus_15d,
      |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Bitwise family: &, |, <<, >> scalars plus bit_and/bit_or/bit_xor
    * aggregates and bit_count — partial-aggregated like any algebraic agg. */
  private def q66(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        bit_and(col("o_orderkey")).as("band"),
        bit_or(col("o_orderkey")).as("bor"),
        bit_xor(col("o_orderkey")).as("bxor"),
        sum(bit_count(col("o_orderkey")).cast("long")).as("n_bits"),
        min(shiftleft(col("o_orderkey").bitwiseAND(lit(15)), 2)).as("min_shl"),
        max(shiftright(col("o_orderkey"), 3)).as("max_shr"))

  private val q66Sql =
    """SELECT o_orderstatus,
      |  bit_and(o_orderkey) AS band,
      |  bit_or(o_orderkey) AS bor,
      |  bit_xor(o_orderkey) AS bxor,
      |  CAST(sum(bit_count(o_orderkey)) AS BIGINT) AS n_bits,
      |  min((o_orderkey & 15) << 2) AS min_shl,
      |  max(o_orderkey >> 3) AS max_shr
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Unpivot (melt) — the inverse of q22's pivot: wide per-flag measure
    * columns to long (measure, total) rows. Narrow transformation: Spark
    * plans it as Expand, no shuffle beyond the feeding aggregation. */
  private def q67(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      // decimal sums: few-group giant-sum class (q02/q59 lesson)
      .agg(round(sum(col("l_quantity").cast("decimal(18,2)")), 2)
             .cast("double").as("qty"),
           round(sum(col("l_discount").cast("decimal(18,2)")), 2)
             .cast("double").as("disc"),
           round(sum(col("l_tax").cast("decimal(18,2)")), 2)
             .cast("double").as("tax"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("qty"), col("disc"), col("tax")),
               "measure", "total")

  private val q67Sql =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty,
      |         CAST(round(sum(CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS disc,
      |         CAST(round(sum(CAST(l_tax AS DECIMAL(18,2))), 2) AS DOUBLE) AS tax
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'qty' AS measure, qty AS total FROM agg
      |UNION ALL SELECT l_returnflag, 'disc', disc FROM agg
      |UNION ALL SELECT l_returnflag, 'tax', tax FROM agg""".stripMargin

  // ---------------------------------------------------------------- q68
  /** try_-safe scalar family (ANSI mode stays on; errors become nulls):
    * try_divide by a sometimes-zero denominator, try_cast of non-numeric,
    * try_to_timestamp of garbage, try_element_at out of bounds. */
  private def q68(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      round(try_divide(col("o_totalprice"), pmod(col("o_orderkey"), lit(3))), 4)
        .as("price_over_mod"),
      col("o_orderstatus").try_cast("int").as("status_as_int"),
      try_to_timestamp(lit("not a timestamp")).as("bad_ts"),
      try_element_at(split(col("o_orderpriority"), "-"), lit(5)).as("prio_part5"))

  private val q68Sql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |       ELSE round(o_totalprice / (o_orderkey % 3), 4) END AS price_over_mod,
      |  TRY_CAST(o_orderstatus AS INT) AS status_as_int,
      |  TRY_CAST('not a timestamp' AS TIMESTAMP) AS bad_ts,
      |  string_split(o_orderpriority, '-')[5] AS prio_part5
      |FROM orders""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q63_grouping_sets", q63, Some(q63Sql)),
    GraftQuery("q64_map_extra", q64, Some(q64Sql)),
    GraftQuery("q65_heavy_hitters", q65, Some(q65Sql)),
    GraftQuery("q16b_string_extra", q16b, Some(q16bSql)),
    GraftQuery("q17c_date_extra", q17c, Some(q17cSql)),
    GraftQuery("q66_bitwise", q66, Some(q66Sql)),
    GraftQuery("q67_unpivot", q67, Some(q67Sql)),
    GraftQuery("q68_try_funcs", q68, Some(q68Sql)),
  )
}
