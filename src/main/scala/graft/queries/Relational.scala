package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** One named query with an optional DuckDB oracle.
  *
  * Contract (driver's correctness gate): the Spark result and the oracle SQL
  * run over the same parquet tables must agree on column names, schema, and
  * values after canonical ordering/rounding.
  *
  * NUMERIC-COMPARE CONTRACT (each of the four classes has broken a query):
  *  1. DTYPE: the driver's hash is dtype-sensitive. DuckDB `sum(<integer>)`
  *     returns HUGEINT → pandas float64, mismatching Spark's int64 on equal
  *     values — every integer-sum oracle column must be
  *     `CAST(sum(...) AS BIGINT)`. tools/localverify.py fails on dtype-kind
  *     differences so this class can't hide.
  *  2. ROUNDING SPELLING: Spark round() (BigDecimal HALF_UP on the shortest
  *     decimal repr) and DuckDB round() disagree on decimal-tie doubles
  *     (e.g. int/int ratios like 2469/20000). Where ties are plausible,
  *     spell rounding as floor(x*10000 + 0.5)/10000 on BOTH sides — both
  *     engines then compute the same IEEE ops on the same double.
  *  3. FLOAT AGGREGATES: rounded on BOTH sides (money → 2 decimals,
  *     ratios/averages → 4) so ulp-level summation noise can't flip values.
  *     Partition-order sensitivity is audited empirically: full Verify
  *     dumps at 2/4/8 CPUs are bit-identical across all 134 queries
  *     (tools/pin_goldens.py documents the procedure).
  *  4. GOLDENS: engine-specific values (sketches, hash constants, seeded
  *     draws) pin their sf0.01 output as a VALUES oracle with first-row
  *     CASTs so DuckDB reproduces the exact pandas dtypes (graft.core
  *     .Goldens; generated by tools/pin_goldens.py).
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** The declared relational operator surface (SURVEY.md §2B, Q1–Q20).
  *
  * Each query exercises one operator family and is written DataFrame-first so
  * Catalyst owns the physical strategy (pushdown, join selection, AQE). Scale
  * notes are attached per query where the local plan would differ on a
  * 1000-executor / 100 TB cluster.
  */
object Relational {

  // `events` CTE: truncate ns → µs exactly like our Spark-side reader
  // (Tables.table) so boundary comparisons agree. DuckDB CAST truncates.
  private val eventsCte =
    "WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

  // ---------------------------------------------------------------- q01
  /** Scan + filter + project. Filter and 5-column projection both reach the
    * parquet scan (PushedFilters / ReadSchema) — verified via explain. */
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")

  private val q01Sql =
    """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin

  // ---------------------------------------------------------------- q02
  /** TPC-H Q1 shape: hash aggregate with partial (map-side) + final phases.
    * At 100 TB the partial agg collapses 600M rows/partition to 6 groups
    * before the shuffle — the shuffle moves ~groups×partitions rows only.
    *
    * Money/quantity sums are associative DECIMAL(18,2) (the q04/q05/q11
    * technique): the float spelling drifted to CLOSE against the oracle
    * at sf10 (0.01 absolute on a ~6e10 sum — last-ulp fold-order class,
    * caught by the round-10 at-scale sweep). Averages divide the exact
    * decimal sum by the group count as ONE IEEE double division —
    * deterministic on both engines because the inputs are exact. */
  private def q02(s: SparkSession, d: String): DataFrame = {
    def decSum(c: String) = sum(col(c).cast(dec2))
    val cnt = count(lit(1))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(decSum("l_quantity"), 2).cast("double").as("sum_qty"),
        round(decSum("l_extendedprice"), 2).cast("double").as("sum_base_price"),
        round(sum(col("l_extendedprice").cast(dec2)
          * (lit(1.0).cast(dec2) - col("l_discount").cast(dec2))), 2)
          .cast("double").as("sum_disc_price"),
        round(decSum("l_quantity").cast("double") / cnt, 4).as("avg_qty"),
        round(decSum("l_extendedprice").cast("double") / cnt, 4).as("avg_price"),
        round(decSum("l_discount").cast("double") / cnt, 4).as("avg_disc"),
        cnt.as("count_order"))
  }

  private val q02Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                 * (1.00 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
      |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q03
  /** Equi inner join + aggregate. orders⋈customer shuffles on the join key;
    * at scale AQE picks broadcast if the filtered customer side fits. */
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      // few-group giant money sum (≈1e11/group at sf10): associative
      // DECIMAL — the float fold-order error (~√n·ulp(S) ≈ 0.1) crosses
      // the 0.005 round-2 boundary at 100× (the q02/q59 sf10 lesson)
      .agg(round(sum(col("o_totalprice").cast(dec2)), 2).cast("double").as("revenue"),
           count(lit(1)).as("n_orders"))

  private val q03Sql =
    """SELECT c_mktsegment,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Multi-join star (TPC-H Q5 shape). Join order: fact last, dims reduced
    * first; Catalyst + AQE broadcast the small dim chain.
    *
    * The revenue aggregate sums DECIMALS, not doubles (the q179
    * technique): prices/discounts are 2-dp values, so casting each input
    * to DECIMAL(18,2) makes every per-row product exact and the sum
    * associative — the aggregate is bit-identical under any partitioning
    * or merge order, which closed the last-ulp sf1 CLOSE drift a 1e11
    * float sum showed against the oracle (q04/q05/q11).
    * Final cast to double keeps the published dtype. */
  private val dec2 = "decimal(18,2)"

  /** Exact 2-dp revenue term: Σ price·(1−disc) as associative decimals. */
  private def revenueDec: Column =
    round(sum(col("l_extendedprice").cast(dec2)
      * (lit(1.0).cast(dec2) - col("l_discount").cast(dec2))), 2)
      .cast("double")

  private def q04(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(revenueDec.as("revenue"))
  }

  private val q04Sql =
    """SELECT n_name,
      |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                      * (1.00 - CAST(l_discount AS DECIMAL(18,2)))), 2)
      |            AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------- q05
  /** Same star with explicit broadcast hints on every dimension — the plan a
    * 100 TB run must have: one shuffle (the final groupBy), zero sort-merge
    * joins. region/nation/customer are O(SF·150k) rows and always fit. */
  private def q05(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(revenueDec.as("revenue"))
  }

  // ---------------------------------------------------------------- q06
  /** Left outer join + null-side handling: customers with zero orders keep a
    * 0 count (count over the null o_orderkey side). */
  private def q06(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
           round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spend"))

  private val q06Sql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |       round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Left-semi join (EXISTS): customers having ≥1 open order. Semi join
    * short-circuits on first match — no row multiplication, no payload cols
    * from the right side ever shuffled. */
  private def q07(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "O"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")

  private val q07Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Left-anti join (NOT EXISTS) — also the batch dedup primitive (ref A5:
    * reject payloads whose hash is already in the ledger). */
  private def q08(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")

  private val q08Sql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Range (theta) self-join: ordered event pairs within a 1-hour horizon.
    *
    * Scale design: a naive theta join is a nested-loop — O(n²) and broadcast-
    * bound. We bucketize time into 1h grains and equi-join on the grain (each
    * left row probes its own and the next bucket), then apply the exact range
    * predicate. The join becomes a shuffled hash join partitioned by hour —
    * linear in data size, no broadcast of the big side, skew bounded by
    * events-per-hour. The oracle states the same semantics declaratively. */
  private def q09(s: SparkSession, d: String): DataFrame = {
    // minimal projection: ids are not in the output, so only (ts, type)
    // flow through the exploded shuffle
    val e = Tables.events(s, d).select("ts", "event_type")
    val withBucket = e.withColumn("bucket", floor(unix_timestamp(col("ts")) / 3600))
    val a = withBucket
      .withColumn("probe", explode(array(col("bucket"), col("bucket") + 1)))
      // precompute the horizon bound once per left row — the join predicate
      // evaluates per PAIR (~events²/hours rows), so interval arithmetic
      // there would run millions of times instead of thousands
      .select(col("ts").as("a_ts"),
              (col("ts") + expr("INTERVAL 1 HOUR")).as("a_hi"),
              col("event_type").as("type_a"), col("probe"))
    val b = withBucket
      .select(col("ts").as("b_ts"), col("event_type").as("type_b"),
              col("bucket").as("probe"))
    a.join(b, "probe")
      .filter(col("b_ts") > col("a_ts") && col("b_ts") <= col("a_hi"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val q09Sql =
    s"""$eventsCte
      |SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
      |FROM ev a JOIN ev b
      |  ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |GROUP BY 1, 2""".stripMargin

  /** q09b — the SCALE-SURVIVABLE member of the time-band family:
    * q09's pair volume is semantically
    * quadratic — events²/hour pairs flow through the join no matter how
    * it is bucketed (measured 5423.5 s at sf10, 48% of the whole suite
    * wall), so the bounded form changes the GRANULARITY, not the plan:
    * ordered type-pair volume at 1-hour-bucket resolution, n_pairs(A→B) =
    * Σ_h cnt(h, A) · cnt(h+1, B). Direction is well-defined at bucket
    * grain (strictly-later bucket), and the pair product is computed on
    * the per-(hour, type) COUNT frame — one linear keyed aggregate, then
    * a self-join over hours × types rows (time-span-scaled, thousands,
    * never events²). This is the standard aggregate-then-multiply
    * rewrite for co-occurrence volume: exact for its stated bucketed
    * semantics, linear in data, and the registered answer to "what do
    * you run instead of q09 on 100 TB". q09 stays registered as the
    * measured anti-baseline. */
  private def q09b(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.events(s, d)
      .select(floor(unix_timestamp(col("ts")) / 3600).as("h"), col("event_type"))
      .groupBy("h", "event_type").agg(count(lit(1)).as("n"))
    val a = cnt.select(col("h"), col("event_type").as("type_a"), col("n").as("na"))
    val b = cnt.select((col("h") - 1).as("h"), col("event_type").as("type_b"),
      col("n").as("nb"))
    a.join(b, "h")
      .groupBy("type_a", "type_b")
      .agg(sum(col("na") * col("nb")).as("n_pairs"))
  }

  // private[graft]: the streaming twin (q09c, StreamingPipeline) runs the
  // same bounded hour-bucket semantics under the same oracle.
  private[graft] val q09bSql =
    s"""$eventsCte,
      |c AS (
      |  SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
      |         event_type, count(*) AS n
      |  FROM ev GROUP BY 1, 2)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |       CAST(sum(a.n * b.n) AS BIGINT) AS n_pairs
      |FROM c a JOIN c b ON b.h = a.h + 1
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Exact distinct aggregation. Spark expands count(distinct) into a
    * two-phase aggregate (partial distinct per partition, then final). */
  private def q10(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           count(lit(1)).as("n_rows"))

  private val q10Sql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** HLL sketch variant — constant memory per group at any scale (the 100 TB
    * answer to q10). Sketch estimates are engine-specific, so the oracle is
    * a pinned sf0.01 golden (HLL++ register merge is a max — commutative,
    * so the estimate is partition-order independent and reproducible); the
    * spec additionally asserts ±5% of exact (ApproxSpec). */
  private val q10approxGoldenSql =
    """SELECT * FROM (VALUES
      |  ('A', CAST(2013 AS BIGINT), CAST(20028 AS BIGINT)),
      |  ('N', CAST(2013 AS BIGINT), CAST(19926 AS BIGINT)),
      |  ('R', CAST(2013 AS BIGINT), CAST(20046 AS BIGINT)))
      |  AS t(l_returnflag, approx_parts, n_rows)""".stripMargin

  private def q10approx(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
           count(lit(1)).as("n_rows"))

  // ---------------------------------------------------------------- q11
  /** ROLLUP + grouping_id over order priority/status. The revenue sum runs
    * over DECIMAL(18,2) (see [[revenueDec]]'s rationale): the grand-total
    * rollup row sums the whole table, exactly the 1e11-scale float sum
    * whose association order drifted a last ulp at sf1. */
  private def q11(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(grouping_id().cast("long").as("gid"),
           count(lit(1)).as("n"),
           round(sum(col("o_totalprice").cast(dec2)), 2)
             .cast("double").as("revenue"))

  private val q11Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |       CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
      |       count(*) AS n,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |         AS revenue
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Window ranking: top-3 orders per customer. row_number (not rank) with a
    * total order (price desc, key asc) keeps the result deterministic. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  private val q12Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Analytic window with an explicit frame: running revenue per customer +
    * lag. Order includes the key as tiebreak — equal order dates would
    * otherwise make the running sum nondeterministic. */
  private def q13(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("running_spend",
        round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
              "running_spend", "prev_price")
  }

  private val q13Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
      |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    * per-partition heaps + a k-row driver merge, no global sort at any scale. */
  private def q14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private val q14Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Set operations over two order-status slices of the customer key space. */
  private def q15(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
    f.intersect(open).withColumn("tag", lit("both"))
      .unionByName(f.except(open).withColumn("tag", lit("only_f")))
      .select("tag", "o_custkey")
  }

  private val q15Sql =
    """SELECT 'both' AS tag, o_custkey FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |UNION ALL
      |SELECT 'only_f' AS tag, o_custkey FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin

  // ---------------------------------------------------------------- q16
  /** String function family: regexp_extract, split/element_at, case, length,
    * levenshtein. All codegen'd built-ins — no UDFs. */
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        element_at(split(col("p_name"), " "), 2).as("second_word"),
        upper(col("p_type")).as("type_upper"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).cast("int").as("brand_num"),
        levenshtein(col("p_brand"), lit("Brand#13")).as("lev_to_13"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("trimmed"),
        lpad(col("p_brand"), 10, "*").as("padded"),
        translate(col("p_type"), "AEO", "aeo").as("translated"),
        substring(col("p_name"), 2, 5).as("name_sub"))

  private val q16Sql =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  string_split(p_name, ' ')[2] AS second_word,
      |  upper(p_type) AS type_upper,
      |  CAST(length(p_name) AS INT) AS name_len,
      |  CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT) AS brand_num,
      |  CAST(levenshtein(p_brand, 'Brand#13') AS INT) AS lev_to_13,
      |  trim(' ' || p_name || ' ') AS trimmed,
      |  lpad(p_brand, 10, '*') AS padded,
      |  translate(p_type, 'AEO', 'aeo') AS translated,
      |  substring(p_name, 2, 5) AS name_sub
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Date/time family: month truncation, extraction, datediff. */
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           // decimal money sum: few-group giant-sum class (q02/q59 lesson)
           round(sum(col("o_totalprice").cast(dec2)), 2).cast("double").as("revenue"),
           countDistinct(col("o_custkey")).as("n_customers"))

  private val q17Sql =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |       count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
      |       count(DISTINCT o_custkey) AS n_customers
      |FROM orders GROUP BY 1""".stripMargin

  /** Date extraction/arithmetic family (per-row): year/month/day/quarter,
    * date_add, datediff, unix epoch. */
  private def q17b(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      quarter(col("o_orderdate")).as("qtr"),
      date_add(col("o_orderdate"), 30).as("due_date"),
      datediff(lit("1998-01-01").cast("date"), col("o_orderdate")).as("days_to_98"),
      unix_timestamp(col("o_orderdate")).as("epoch_s"))

  private val q17bSql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q18
  /** JSON extraction over events.props (a JSON string column). */
  private def q18(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           round(avg("k"), 4).as("avg_k"),
           max("k").as("max_k"),
           min("k").as("min_k"))

  private val q18Sql =
    """SELECT event_type, count(*) AS n,
      |  round(avg(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
      |  CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k,
      |  CAST(min(CAST(props->>'$.k' AS INT)) AS INT) AS min_k
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Array/higher-order functions over embeddings: L2 norm via
    * transform+aggregate, dims via size. Cast float→double BEFORE the fold so
    * accumulation matches the oracle's double arithmetic bit-for-bit. */
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(
        col("vec_id"),
        col("label"),
        size(col("embedding")).as("dim"),
        round(sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)), 4).as("l2_norm"),
        round(aggregate(col("v"), lit(0.0), (acc, x) => acc + x) / size(col("embedding")), 4).as("mean_val"))

  private val q19Sql =
    """SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
      |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) AS l2_norm,
      |  round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 4) AS mean_val
      |FROM embeddings""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Tumbling time window (batch twin of the streaming aggregation in
    * graft.streaming): 1-hour buckets of events. */
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
           round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("n"), col("sum_value"))

  // private[graft]: the streaming twin (q20b, StreamingPipeline) runs the
  // same aggregation through Structured Streaming under the SAME oracle
  private[graft] val q20Sql =
    s"""$eventsCte
      |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
      |       count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM ev GROUP BY 1""".stripMargin

  // ----------------------------------------------------------------

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q01_scan_filter", q01, Some(q01Sql)),
    GraftQuery("q02_agg_pricing", q02, Some(q02Sql)),
    GraftQuery("q03_join_agg", q03, Some(q03Sql)),
    GraftQuery("q04_star_join", q04, Some(q04Sql)),
    GraftQuery("q05_broadcast_star", q05, Some(q04Sql)), // same semantics, hinted plan
    GraftQuery("q06_left_outer", q06, Some(q06Sql)),
    GraftQuery("q07_semi_join", q07, Some(q07Sql)),
    GraftQuery("q08_anti_join", q08, Some(q08Sql)),
    GraftQuery("q09_range_join", q09, Some(q09Sql)),
    GraftQuery("q09b_range_join_bucketed", q09b, Some(q09bSql)),
    GraftQuery("q10_count_distinct", q10, Some(q10Sql)),
    GraftQuery("q10_approx_distinct", q10approx, Some(q10approxGoldenSql)),
    GraftQuery("q11_rollup", q11, Some(q11Sql)),
    GraftQuery("q12_window_rank", q12, Some(q12Sql)),
    GraftQuery("q13_window_running", q13, Some(q13Sql)),
    GraftQuery("q14_topk", q14, Some(q14Sql)),
    GraftQuery("q15_set_ops", q15, Some(q15Sql)),
    GraftQuery("q16_string_funcs", q16, Some(q16Sql)),
    GraftQuery("q17_date_funcs", q17, Some(q17Sql)),
    GraftQuery("q17b_date_extract", q17b, Some(q17bSql)),
    GraftQuery("q18_json_funcs", q18, Some(q18Sql)),
    GraftQuery("q19_array_funcs", q19, Some(q19Sql)),
    GraftQuery("q20_time_bucket", q20, Some(q20Sql)),
  )
}
