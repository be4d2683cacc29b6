package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Second relational batch: the SURVEY.md §2B families not exercised by
  * q01–q20 — pivot, cube/grouping-sets, the full window-function set,
  * INTERSECT/EXCEPT ALL, statistical aggregates, ordered collect_list, CSV
  * source round-trip, from_json, hash/codec + math + conditional scalar
  * families, and correlated subqueries via the SQL surface.
  */
object Relational2 {

  // ---------------------------------------------------------------- q22
  /** Pivot: order-status counts per market segment as columns. Explicit
    * pivot values keep the plan single-pass (no distinct-scan first). */
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()

  private val q22Sql =
    """SELECT c_mktsegment,
      |  count(*) FILTER (o_orderstatus = 'F') AS "F",
      |  count(*) FILTER (o_orderstatus = 'O') AS "O",
      |  count(*) FILTER (o_orderstatus = 'P') AS "P"
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q23
  /** CUBE with grouping_id — all 4 aggregation levels in one pass. */
  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube("o_orderpriority", "o_orderstatus")
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"))

  private val q23Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |       CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid, count(*) AS n
      |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin

  // ---------------------------------------------------------------- q24
  /** The full ranking-window family over one deterministic total order.
    * Partitioned by customer (high cardinality): a window keyed on a
    * 5-value column like priority would funnel 1/5 of a 100 TB table into
    * each sort task. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        first_value(col("o_orderkey")).over(w).as("top_order"),
        last_value(col("o_orderkey")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("bottom_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"))
  }

  private val q24Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(rank() OVER w AS INT) AS rnk,
      |  CAST(dense_rank() OVER w AS INT) AS drnk,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cdist,
      |  first_value(o_orderkey) OVER w AS top_order,
      |  last_value(o_orderkey) OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_order,
      |  lead(o_orderkey, 1) OVER w AS next_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Multiset set-ops: INTERSECT ALL / EXCEPT ALL preserve multiplicity. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val a = li.filter(col("l_returnflag") === "R").select("l_orderkey", "l_linenumber")
    val b = li.filter(col("l_linestatus") === "F").select("l_orderkey", "l_linenumber")
    a.intersectAll(b).withColumn("tag", lit("both"))
      .unionByName(a.exceptAll(b).withColumn("tag", lit("r_only")))
      .groupBy("tag").agg(count(lit(1)).as("n"))
  }

  private val q25Sql =
    """SELECT 'both' AS tag, count(*) AS n FROM (
      |  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
      |  INTERSECT ALL
      |  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linestatus = 'F')
      |UNION ALL
      |SELECT 'r_only' AS tag, count(*) AS n FROM (
      |  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
      |  EXCEPT ALL
      |  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linestatus = 'F')""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Statistical aggregate family; exact interpolated median. */
  private def q26(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(min(col("l_discount")), 4).as("min_disc"),
        round(max(col("l_discount")), 4).as("max_disc"))

  private val q26Sql =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      |  round(min(l_discount), 4) AS min_disc,
      |  round(max(l_discount), 4) AS max_disc
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Ordered collect_list, serialized to a canonical string (engine-neutral
    * array representation). */
  private def q27(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_totalprice") > 450000)
      .groupBy("o_custkey")
      .agg(array_join(
        transform(sort_array(collect_list(col("o_orderkey"))), _.cast("string")),
        ",").as("big_orders"))

  private val q27Sql =
    """SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS big_orders
      |FROM orders WHERE o_totalprice > 450000 GROUP BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q28
  /** CSV source round-trip: write a slice as CSV, read it back with an
    * explicit schema, aggregate. Exercises the CSV reader/writer path
    * end-to-end; the oracle aggregates the same slice from parquet (the
    * round-trip must be lossless). */
  private def q28(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
    Tables.lineitem(s, d)
      .filter(col("l_quantity") <= 3)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read
      .schema("l_orderkey LONG, l_partkey LONG, l_quantity DOUBLE, l_extendedprice DOUBLE, l_returnflag STRING")
      .option("header", "true").csv(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           // decimal sums: few-group giant-sum class (q02/q59 lesson)
           round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
             .cast("double").as("sum_price"),
           round(sum(col("l_quantity").cast("decimal(18,2)")), 2)
             .cast("double").as("sum_qty"))
  }

  private val q28Sql =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
      |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_quantity <= 3 GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q29
  /** from_json with an explicit schema (the staged-document pattern:
    * schema-on-read over a JSON string column). */
  private def q29(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("j", from_json(col("props"), org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))))
      .groupBy("event_type")
      .agg(sum(col("j.k").cast("long")).as("sum_k"),
           count(col("j.k")).as("n_with_k"))

  private val q29Sql =
    """SELECT event_type, CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
      |       count(CAST(props->>'$.k' AS INT)) AS n_with_k
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Hash / codec scalar family (the reference's A2/A4 primitives). */
  private def q43(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      sha2(col("text"), 256).as("sha256_hex"),
      md5(col("text")).as("md5_hex"),
      base64(substring(col("text"), 1, 12).cast("binary")).as("b64_prefix"),
      length(unbase64(base64(col("text").cast("binary")))).as("roundtrip_len"))

  private val q43Sql =
    """SELECT doc_id, sha256(text) AS sha256_hex, md5(text) AS md5_hex,
      |  to_base64(encode(substring(text, 1, 12))) AS b64_prefix,
      |  CAST(octet_length(from_base64(to_base64(encode(text)))) AS INT) AS roundtrip_len
      |FROM documents""".stripMargin

  /** q43b — crc32, the last declared §2B hash scalar. Split from q43
    * because DuckDB (1.0) has no crc32 to state a SQL oracle with: checked
    * against a pinned sf0.01 golden (pure per-row map, deterministic), and
    * LlmSpec verifies Spark's crc32 against java.util.zip.CRC32. */
  private def q43b(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      crc32(col("text").cast("binary")).as("crc"))

  // ---------------------------------------------------------------- q44
  /** Math scalar family. */
  private def q44(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      round(abs(col("p_retailprice") - 1000.0), 4).as("abs_diff"),
      round(pow(col("p_size").cast("double"), 2.0), 4).as("size_sq"),
      round(log(col("p_retailprice")), 6).as("ln_price"),
      round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
      ceil(col("p_retailprice") / 100.0).cast("long").as("price_bucket"),
      floor(col("p_retailprice") / 100.0).cast("long").as("price_floor"),
      signum(col("p_retailprice") - 1000.0).cast("int").as("sign"))

  private val q44Sql =
    """SELECT p_partkey,
      |  round(abs(p_retailprice - 1000.0), 4) AS abs_diff,
      |  round(pow(CAST(p_size AS DOUBLE), 2.0), 4) AS size_sq,
      |  round(ln(p_retailprice), 6) AS ln_price,
      |  round(sqrt(p_retailprice), 6) AS sqrt_price,
      |  CAST(ceil(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
      |  CAST(floor(p_retailprice / 100.0) AS BIGINT) AS price_floor,
      |  CAST(sign(p_retailprice - 1000.0) AS INT) AS sign
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Conditional scalar family: when/otherwise, coalesce, nullif,
    * greatest/least, null-safe equality. */
  private def q45(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"),
        coalesce(col("o_orderstatus"), lit("NONE")).as("status"),
        nullif(col("o_orderstatus"), lit("F")).as("status_not_f"),
        round(greatest(col("o_totalprice"), col("c_acctbal")), 2).as("hi"),
        round(least(coalesce(col("o_totalprice"), lit(0.0)), col("c_acctbal")), 2).as("lo"),
        (col("o_orderstatus") <=> lit("O")).as("is_open"))

  private val q45Sql =
    """SELECT c_custkey,
      |  CASE WHEN o_totalprice > 300000 THEN 'big'
      |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket,
      |  coalesce(o_orderstatus, 'NONE') AS status,
      |  nullif(o_orderstatus, 'F') AS status_not_f,
      |  round(greatest(o_totalprice, c_acctbal), 2) AS hi,
      |  round(least(coalesce(o_totalprice, 0.0), c_acctbal), 2) AS lo,
      |  o_orderstatus IS NOT DISTINCT FROM 'O' AS is_open
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Correlated scalar subquery through the SQL surface (Catalyst rewrites
    * it into an aggregate + join). */
  private def q46(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "part_sq" -> Tables.part(s, d)) {
      s.sql(
        """SELECT p_partkey, p_type, round(p_retailprice, 2) AS price
          |FROM part_sq p
          |WHERE p_retailprice > (SELECT avg(p_retailprice) * 1.05 FROM part_sq
          |                       WHERE p_type = p.p_type)""".stripMargin)
    }

  private val q46Sql =
    """SELECT p_partkey, p_type, round(p_retailprice, 2) AS price
      |FROM part p
      |WHERE p_retailprice > (SELECT avg(p_retailprice) * 1.05 FROM part
      |                       WHERE p_type = p.p_type)""".stripMargin

  /** Sketch-based quantiles — the constant-memory 100 TB answer to q26's
    * exact median. Sketch values are engine-specific so DuckDB can't
    * recompute them: hash-checked against a pinned sf0.01 golden
    * (bit-stable across partition counts — see graft.core.Goldens);
    * RelationalSpec asserts each estimate within the declared 1% rank
    * accuracy against the exact percentile. */
  private def q26approx(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 100)")
          .as("qs"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_median"))
      // scalar columns only: the driver's rows-only check sorts the result in
      // pandas, and an array column is unhashable there
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("approx_p25"),
        element_at(col("qs"), 2).as("approx_p50"),
        element_at(col("qs"), 3).as("approx_p75"),
        col("exact_median"))

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q22_pivot", q22, Some(q22Sql)),
    GraftQuery("q26_approx_percentile", q26approx,
      Some(graft.core.Goldens.load("q26_approx_percentile"))),
    GraftQuery("q23_cube", q23, Some(q23Sql)),
    GraftQuery("q24_window_family", q24, Some(q24Sql)),
    GraftQuery("q25_multiset_ops", q25, Some(q25Sql)),
    GraftQuery("q26_stats_agg", q26, Some(q26Sql)),
    GraftQuery("q27_collect_list", q27, Some(q27Sql)),
    GraftQuery("q28_csv_roundtrip", q28, Some(q28Sql)),
    GraftQuery("q29_from_json", q29, Some(q29Sql)),
    GraftQuery("q43_hash_codec", q43, Some(q43Sql)),
    GraftQuery("q43b_crc32", q43b,
      Some(graft.core.Goldens.load("q43b_crc32"))),
    GraftQuery("q44_math_funcs", q44, Some(q44Sql)),
    GraftQuery("q45_conditional", q45, Some(q45Sql)),
    GraftQuery("q46_correlated_subquery", q46, Some(q46Sql)),
  )
}
