package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The scale-pattern operators (SURVEY §2B) a 100 TB pipeline leans on —
  * bloom-filter semi-join pre-filtering, mergeable HLL sketch aggregation
  * (datasketches), LATERAL correlated top-k, the full regression/
  * central-moment aggregate family, and the generator TVF family
  * (posexplode_outer / sequence / stack / inline).
  */
object Relational7 {

  // ---------------------------------------------------------------- q71
  /** Bloom-filter pre-filtered semi join. The 100 TB shape: instead of
    * shuffling the full probe side against the build-side key set, build a
    * compact bloom filter over the build keys (`df.stat.bloomFilter`, a
    * tree-aggregated merge — one pass, no shuffle), broadcast it (KBs–MBs
    * where the key set itself would be GBs), and pre-filter the probe side
    * map-side so only survivors reach the exact semi join that removes the
    * false positives. The result is EXACTLY the plain semi join — which is
    * why a DuckDB `IN` oracle can hash-check it. Spark's own runtime
    * row-level filtering (spark.sql.optimizer.runtime.bloomFilter.enabled)
    * injects the same shape automatically inside one query; doing it
    * explicitly is how you reuse one filter across many queries (e.g. a
    * nightly dedup-key filter applied to every incoming batch). The probe
    * is the native codegen'd [[graft.functions.BloomMightContain]] (round
    * 12 — it replaced a Scala UDF: the UDF boundary boxed every key and
    * split whole-stage codegen exactly where the 100 TB plan is hottest);
    * the measured shuffle-reduction lever pair on a fact-sized probe side
    * is q227/q227b (operators/SemiJoin.scala). */
  private def q71(s: SparkSession, d: String): DataFrame = {
    val big = Tables.orders(s, d)
      .filter(col("o_totalprice") > 150000)
      .select(col("o_custkey").cast("long").as("o_custkey"))
    val bits = graft.functions.BloomFilters
      .buildLongBloom(big, "o_custkey", 100000L, 0.03)
    Tables.customer(s, d)
      .filter(graft.functions.BloomFilters
        .bloom_might_contain(bits, col("c_custkey").cast("long")))
      .join(big.select(col("o_custkey").as("c_custkey")),
            Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
  }

  private val q71Sql =
    """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Mergeable distinct-count sketches (Apache DataSketches HLL, built into
    * Spark 4): per-group `hll_sketch_agg` materializes a reusable binary
    * sketch, `hll_union_agg` merges group sketches into the global count
    * WITHOUT rescanning the data — the pre-aggregation pattern that makes
    * 100 TB distinct-count dashboards cheap (sketches are partial-aggregated
    * map-side; register-wise max is commutative/associative, so the result
    * is independent of partitioning and merge order — which is what lets a
    * constant oracle pin the estimates). Exact counts ride along to show
    * the error envelope; the oracle computes those live in DuckDB. */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val sk = o.groupBy("o_orderstatus")
      .agg(hll_sketch_agg(col("o_custkey"), 12).as("sk"),
           countDistinct(col("o_custkey")).as("exact_customers"))
    val per = sk.select(col("o_orderstatus"),
      hll_sketch_estimate(col("sk")).as("approx_customers"),
      col("exact_customers"))
    val all = sk.agg(hll_union_agg(col("sk"), allowDifferentLgConfigK = false).as("sk"))
      .crossJoin(o.agg(countDistinct(col("o_custkey")).as("exact_customers")))
      .select(lit("ALL").as("o_orderstatus"),
              hll_sketch_estimate(col("sk")).as("approx_customers"),
              col("exact_customers"))
    per.unionByName(all)
  }

  /** Approx values pinned at sf0.01 (deterministic: see scaladoc); exact
    * values computed live. */
  private val q72Sql =
    """WITH exact AS (
      |  SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_customers
      |  FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT 'ALL', count(DISTINCT o_custkey) FROM orders),
      |approx(o_orderstatus, approx_customers) AS (VALUES
      |  ('F', CAST(1419 AS BIGINT)), ('O', CAST(1450 AS BIGINT)),
      |  ('P', CAST(1443 AS BIGINT)), ('ALL', CAST(1488 AS BIGINT)))
      |SELECT e.o_orderstatus, a.approx_customers, CAST(e.exact_customers AS BIGINT) AS exact_customers
      |FROM exact e JOIN approx a USING (o_orderstatus)""".stripMargin

  // ---------------------------------------------------------------- q73
  /** LATERAL correlated subquery — per-outer-row top-k without a window
    * over the whole fact table. Catalyst decorrelates the LATERAL into a
    * ranked window join (one shuffle on the correlation key), so the SQL
    * surface is per-row but the physical plan is the set-based shape that
    * scales; DuckDB runs the identical statement. */
  private def q73(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "nation_l" -> Tables.nation(s, d),
        "customer_l" -> Tables.customer(s, d)) {
      s.sql("""SELECT n.n_name, t.c_name, t.c_acctbal
              |FROM nation_l n,
              |LATERAL (SELECT c_name, c_acctbal FROM customer_l c
              |         WHERE c.c_nationkey = n.n_nationkey
              |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t""".stripMargin)
    }

  private val q73Sql =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_name, c_acctbal FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Regression + central-moment aggregate family: regr_slope/intercept/
    * r2/count/avgx/avgy (standard SQL definitions on both engines), exact
    * interpolated median, and population skewness / excess kurtosis. All
    * algebraic — Spark partial-aggregates them map-side like any sum; the
    * DuckDB oracle rebuilds skew/kurt from raw central moments (its
    * built-ins apply sample corrections, Spark's are population form). */
  /** Unrounded fit frame for BoundarySpec (the q190 float-boundary
    * lesson): the registered query rounds this frame's float aggregates. */
  private[graft] def q74Raw(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("slope"),
        regr_intercept(col("l_extendedprice"), col("l_quantity")).as("intercept"),
        regr_r2(col("l_extendedprice"), col("l_quantity")).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
        regr_avgx(col("l_extendedprice"), col("l_quantity")).as("avg_qty"),
        regr_avgy(col("l_extendedprice"), col("l_quantity")).as("avg_price"),
        median(col("l_discount")).as("med_disc"),
        skewness(col("l_quantity")).as("skew_qty"),
        kurtosis(col("l_quantity")).as("kurt_qty"))

  private def q74(s: SparkSession, d: String): DataFrame =
    q74Raw(s, d).select(
      col("l_returnflag"),
      round(col("slope"), 4).as("slope"),
      round(col("intercept"), 4).as("intercept"),
      round(col("r2"), 4).as("r2"),
      col("n"),
      round(col("avg_qty"), 4).as("avg_qty"),
      round(col("avg_price"), 4).as("avg_price"),
      round(col("med_disc"), 4).as("med_disc"),
      round(col("skew_qty"), 4).as("skew_qty"),
      round(col("kurt_qty"), 4).as("kurt_qty"))

  private val q74Sql =
    """WITH mu AS (SELECT l_returnflag, avg(l_quantity) AS m FROM lineitem GROUP BY 1),
      |cm AS (SELECT l.l_returnflag,
      |              avg(pow(l.l_quantity - mu.m, 2)) AS m2,
      |              avg(pow(l.l_quantity - mu.m, 3)) AS m3,
      |              avg(pow(l.l_quantity - mu.m, 4)) AS m4
      |       FROM lineitem l JOIN mu USING (l_returnflag) GROUP BY 1),
      |r AS (SELECT l_returnflag,
      |             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |             round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |             round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
      |             regr_count(l_extendedprice, l_quantity) AS n,
      |             round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_qty,
      |             round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price,
      |             round(median(l_discount), 4) AS med_disc
      |      FROM lineitem GROUP BY 1)
      |SELECT r.l_returnflag, r.slope, r.intercept, r.r2, CAST(r.n AS BIGINT) AS n,
      |       r.avg_qty, r.avg_price, r.med_disc,
      |       round(cm.m3 / pow(cm.m2, 1.5), 4) AS skew_qty,
      |       round(cm.m4 / pow(cm.m2, 2) - 3, 4) AS kurt_qty
      |FROM r JOIN cm USING (l_returnflag)""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Generator (table-valued function) family beyond plain explode:
    * `sequence` + `posexplode_outer` (ordinal-preserving fan-out),
    * `stack` (columns→rows reshaping without a shuffle), and `inline`
    * (array-of-struct flattening). All are Generate nodes — narrow,
    * pipelined, codegen'd; the unioned long format is the canonical
    * feature-table shape. */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
    val seqs = sup
      .select(lit("seq").as("kind"), col("s_suppkey"),
        posexplode_outer(sequence(lit(1), pmod(col("s_suppkey"), lit(3)) + lit(1))))
      .select(col("kind"), col("s_suppkey"),
        col("pos").cast("string").as("k"), col("col").cast("long").as("v"))
    val st = sup.selectExpr("'stack' AS kind", "s_suppkey",
      "stack(2, 'nationkey', CAST(s_nationkey AS BIGINT), " +
      "         'acct_floor', CAST(floor(s_acctbal) AS BIGINT)) AS (k, v)")
    val inl = sup.selectExpr("'inline' AS kind", "s_suppkey",
      "inline(array(named_struct('k', 'acct_cents', 'v', CAST(round(s_acctbal * 100) AS BIGINT)), " +
      "             named_struct('k', 'name_len',   'v', CAST(length(s_name) AS BIGINT))))")
    seqs.unionByName(st).unionByName(inl)
  }

  private val q75Sql =
    """SELECT 'seq' AS kind, s_suppkey, CAST(v - 1 AS VARCHAR) AS k, CAST(v AS BIGINT) AS v
      |FROM (SELECT s_suppkey, unnest(generate_series(1, s_suppkey % 3 + 1)) AS v FROM supplier)
      |UNION ALL
      |SELECT 'stack', s_suppkey, 'nationkey', CAST(s_nationkey AS BIGINT) FROM supplier
      |UNION ALL
      |SELECT 'stack', s_suppkey, 'acct_floor', CAST(floor(s_acctbal) AS BIGINT) FROM supplier
      |UNION ALL
      |SELECT 'inline', s_suppkey, 'acct_cents', CAST(round(s_acctbal * 100) AS BIGINT) FROM supplier
      |UNION ALL
      |SELECT 'inline', s_suppkey, 'name_len', CAST(length(s_name) AS BIGINT) FROM supplier""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Corpus-wide n-gram frequency via the engine's custom Catalyst
    * `Generator` ([[graft.functions.WordNgrams]]): each document streams
    * out its word trigrams row-at-a-time (no per-row array
    * materialization), then a partial-aggregated groupBy counts them —
    * the repeated-phrase / boilerplate detector of a training-data
    * pipeline. The DuckDB oracle rebuilds the same trigrams with list
    * comprehension + unnest. */
  private def q76(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(graft.functions.WordNgrams.word_ngrams(col("text"), 3).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)

  private val q76Sql =
    """WITH toks AS (SELECT string_split(text, ' ') t FROM documents),
      |ng AS (SELECT [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |               for i in range(1, len(t) - 1)] s FROM toks WHERE len(t) >= 3),
      |ex AS (SELECT unnest(s) AS ngram FROM ng)
      |SELECT ngram, count(*) AS n FROM ex GROUP BY 1 HAVING count(*) >= 3""".stripMargin

  // ---------------------------------------------------------------- q77
  /** VARIANT — Spark 4's schema-on-read type for semi-structured data:
    * `parse_json` once into a binary-encoded variant, then typed
    * `variant_get` path extraction WITHOUT re-parsing the JSON text per
    * field (the open-format successor to get_json_object; at scale the
    * parse cost is paid once per row, not once per extracted path, and
    * shredded variant columns get pushdown). try_variant_get returns null
    * on missing paths; schema_of_variant reports the per-row inferred
    * shape. */
  private def q77(s: SparkSession, d: String): DataFrame = {
    val v = parse_json(col("props"))
    Tables.events(s, d).select(
      col("event_id"),
      variant_get(v, "$.k", "int").as("k_int"),
      try_variant_get(v, "$.missing", "string").as("missing_str"),
      schema_of_variant(v).as("v_schema"),
      is_variant_null(v).as("v_is_null"))
  }

  private val q77Sql =
    """SELECT event_id, CAST(props->>'$.k' AS INT) AS k_int,
      |       CAST(NULL AS VARCHAR) AS missing_str,
      |       'OBJECT<k: BIGINT>' AS v_schema, false AS v_is_null
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Ordered string aggregation: `listagg ... WITHIN GROUP (ORDER BY ...)`
    * (SQL:2016, new in Spark 4) — deterministic because the within-group
    * sort fixes concatenation order regardless of partitioning. */
  private def q78(s: SparkSession, d: String): DataFrame =
    Tables.withTempViews(s, "nation_la" -> Tables.nation(s, d),
        "region_la" -> Tables.region(s, d)) {
      s.sql("""SELECT r_name, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
              |       count(*) AS n_nations
              |FROM nation_la JOIN region_la ON n_regionkey = r_regionkey
              |GROUP BY r_name""".stripMargin)
    }

  private val q78Sql =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Cross-source vocabulary overlap WITHOUT a join — per-source KMV
    * (bottom-k theta) sketches of the distinct word-bigram sets, then a
    * 5-row sketch self-join computing distinct-count and Jaccard estimates
    * from pure array expressions (`graft.functions.KmvSketch` doc has the
    * estimator math). The corpus is scanned once and shuffled once (the
    * partial-aggregated sketch merge, ≤ k longs per source per partition);
    * the S² pair stage touches S·k longs total. This is the at-scale
    * answer to "overlap matrix across N corpora" — the exact form is N²
    * distinct-joins over the full token stream.
    *
    * Oracle: pinned sf0.01 golden (sketch internals are xxhash64-specific;
    * DuckDB can't recompute them) + KmvSketchSpec asserts the estimator
    * error bound against exact distinct counts. */
  private def q162(s: SparkSession, d: String): DataFrame = {
    val k = 256
    val bi = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("source"), explode(
        expr("transform(sequence(0, size(t)-2), i -> concat_ws(' ', slice(t, i+1, 2)))")
      ).as("bigram"))
      // sign-bit flip: signed order of h == unsigned order of xxhash64
      .select(col("source"),
        xxhash64(col("bigram")).bitwiseXOR(lit(Long.MinValue)).as("h"))
    val sk = bi.groupBy("source")
      .agg(graft.functions.KmvSketch.sketch(col("h"), k).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("ska"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("skb"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("u", expr(s"slice(array_sort(array_union(ska, skb)), 1, $k)"))
      .withColumn("kth_u", element_at(col("u"), size(col("u"))))
      .withColumn("n_common",
        expr("size(filter(array_intersect(ska, skb), x -> x <= kth_u))"))
      .select(
        col("source_a"), col("source_b"),
        estDistinct(col("ska"), k).as("est_distinct_a"),
        estDistinct(col("skb"), k).as("est_distinct_b"),
        round(col("n_common").cast("double") / size(col("u")), 4).as("est_jaccard"))
  }

  /** (k-1)/u_k estimator as a column expression; exact when |sketch| < k.
    * 2⁻⁶⁴-normalization of a sign-flipped long: v/2⁶⁴ + 0.5. */
  private def estDistinct(sk: Column, k: Int): Column = {
    val kth = element_at(sk, size(sk))
    round(
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (kth.cast("double") / lit(1.8446744073709552e19) + 0.5)), 4)
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q162_kmv_overlap", q162,
      Some(graft.core.Goldens.load("q162_kmv_overlap"))),
    GraftQuery("q71_bloom_semi_join", q71, Some(q71Sql)),
    GraftQuery("q72_hll_sketch", q72, Some(q72Sql)),
    GraftQuery("q73_lateral_topk", q73, Some(q73Sql)),
    GraftQuery("q74_regr_stats", q74, Some(q74Sql)),
    GraftQuery("q75_generator_family", q75, Some(q75Sql)),
    GraftQuery("q76_ngram_tvf", q76, Some(q76Sql)),
    GraftQuery("q77_variant", q77, Some(q77Sql)),
    GraftQuery("q78_listagg", q78, Some(q78Sql)),
  )
}
