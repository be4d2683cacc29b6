package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Event-analytics operators over the `events` stream table: outlier
  * detection, funnel conversion, cohort retention, and transition
  * matrices — the standard product-analytics quartet. Each is one or two
  * shuffles on (user_id | event_type | cohort) keys; none holds more than
  * the aggregated result, so the shapes scale with key cardinality, not
  * event volume.
  */
object Relational11 {

  /** DuckDB-side CTE normalizing the ns timestamp — must match
    * `Tables.events`'s µs floor (see Relational.q20). */
  private val EvCte = "WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

  // ---------------------------------------------------------------- q108
  /** Z-score outlier detection: flag events whose value deviates > 2.5σ
    * from their event-type population. Two passes in plan, one scan in
    * practice (the per-type stats aggregate is tiny and AQE broadcasts it
    * back onto the stream); at 100 TB the stats side is O(types) and the
    * flagging pass is pure map work. Population stddev (stddev_pop) — the
    * sample/population distinction is exactly the kind of silent oracle
    * mismatch the suite exists to catch. */
  private def q108(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val stats = e.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_pop("value").as("sigma"))
    e.join(stats, "event_type")
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"), round(col("z"), 4).as("z"))
  }

  private val q108Sql =
    s"""$EvCte,
      |stats AS (
      |  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
      |  FROM ev GROUP BY 1)
      |SELECT event_id, event_type, round(value, 4) AS value,
      |       round((value - mu) / sigma, 4) AS z
      |FROM ev JOIN stats USING (event_type)
      |WHERE abs((value - mu) / sigma) > 2.5""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Funnel conversion: click → view → purchase, strictly ordered per
    * user (each step's first occurrence must follow the previous step's).
    * One grouped pass computes the first click, the first view AFTER that
    * click, and the first purchase AFTER that view as three conditional
    * min-aggregates over a window-free self-reference — spelled as a
    * 3-level aggregate chain because "first X after Y" needs Y before X
    * exists. Funnel counts come out as one row. */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("user_id", "event_type", "ts")
    val step1 = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val step2 = e.filter(col("event_type") === "view")
      .join(step1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val step3 = e.filter(col("event_type") === "purchase")
      .join(step2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    step1.select(lit(1).as("step"), lit("click").as("event_type"))
      .groupBy("step", "event_type").agg(count(lit(1)).as("n_users"))
      .unionAll(step2.select(lit(2).as("step"), lit("view").as("event_type"))
        .groupBy("step", "event_type").agg(count(lit(1)).as("n_users")))
      .unionAll(step3.select(lit(3).as("step"), lit("purchase").as("event_type"))
        .groupBy("step", "event_type").agg(count(lit(1)).as("n_users")))
  }

  private val q109Sql =
    s"""$EvCte,
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |       WHERE event_type = 'click' GROUP BY 1),
      |s2 AS (SELECT ev.user_id, min(ts) AS t2 FROM ev JOIN s1 USING (user_id)
      |       WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
      |s3 AS (SELECT ev.user_id, min(ts) AS t3 FROM ev JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
      |SELECT 1 AS step, 'click' AS event_type, count(*) AS n_users FROM s1
      |UNION ALL
      |SELECT 2, 'view', count(*) FROM s2
      |UNION ALL
      |SELECT 3, 'purchase', count(*) FROM s3""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Cohort retention: users grouped by first-activity week (the cohort),
    * tracked by week offset — what fraction of each cohort is still active
    * N weeks later. The cohort assignment is one min-aggregate; retention
    * is a distinct count per (cohort, offset). Distinct-per-cell is the
    * scale watch-item: at 100 TB swap count_distinct for an HLL sketch per
    * cell (q72's mergeable form) and keep the exact path for audits. */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    e.join(cohort, "user_id")
      .withColumn("offset_wk",
        datediff(col("wk"), col("cohort_wk")).cast("int") / 7)
      .groupBy("cohort_wk", "offset_wk")
      .agg(countDistinct("user_id").as("n_active"))
  }

  private val q110Sql =
    s"""$EvCte,
      |weekly AS (SELECT user_id, date_trunc('week', ts) AS wk FROM ev),
      |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM weekly GROUP BY 1)
      |SELECT cohort_wk, CAST(date_diff('day', cohort_wk, wk) AS INT) / 7 AS offset_wk,
      |       count(DISTINCT user_id) AS n_active
      |FROM weekly JOIN cohort USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q111
  /** Event-transition matrix (first-order Markov): per user, order events
    * by time and count (state → next state) pairs, then normalize per
    * source state. One lead() window per user + one aggregation — the
    * session-behavior model behind "what do users do after a click".
    * Ties on ts break by event_id, so the chain is a total order on both
    * engines. */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy("from_type")
    pairs.withColumn("p", round(col("n") / sum(col("n")).over(totals), 4))
  }

  private val q111Sql =
    s"""$EvCte,
      |chain AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |                                   ORDER BY ts ASC, event_id ASC) AS to_type
      |  FROM ev),
      |pairs AS (
      |  SELECT from_type, to_type, count(*) AS n FROM chain
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       round(n / sum(n) OVER (PARTITION BY from_type), 4) AS p
      |FROM pairs""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Fuzzy string matching — edit-distance pairs over the DISTINCT name
    * vocabulary, blocked on the head noun (last word). The blocking is the
    * scale story: levenshtein is O(|a|·|b|) per pair, so the join must
    * never be name × name — distinct-first shrinks the relation to the
    * vocabulary, the equi-join on the block key partitions it, and the
    * quadratic comparator runs only inside blocks (entity-resolution 101;
    * at 100 TB blocks come from cheaper keys: length buckets, first-char,
    * phonetic codes). */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select("p_name").distinct()
      .withColumn("noun", substring_index(col("p_name"), " ", -1))
    val a = names.select(col("p_name").as("a_name"), col("noun"))
    val b = names.select(col("p_name").as("b_name"), col("noun").as("noun_r"))
    a.join(b, col("noun") === col("noun_r") && col("a_name") < col("b_name"))
      .withColumn("lev", levenshtein(col("a_name"), col("b_name")))
      .filter(col("lev") <= 4)
      .select("a_name", "b_name", "lev")
  }

  private val q113Sql =
    """WITH names AS (
      |  SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS noun FROM part)
      |SELECT a.p_name AS a_name, b.p_name AS b_name,
      |       levenshtein(a.p_name, b.p_name) AS lev
      |FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 4""".stripMargin

  // ---------------------------------------------------------------- q116
  /** approx_top_k (Spark 4.1 sketch aggregate): frequent items + counts in
    * one pass with bounded state — the built-in answer to the Misra-Gries
    * shape hand-rolled in q65. On a 5-value column the default sketch
    * capacity is far above the cardinality, so the "approximate" counts
    * are exact and the exact DuckDB top-k oracles it; at real cardinality
    * the q65 two-pass recount pattern applies on top. */
  private def q116(s: SparkSession, d: String): DataFrame = {
    // sketch capacity 5 ≥ cardinality, so NO sketch-side truncation — the
    // top-3 cut happens below with an explicit (n desc, item) tiebreak;
    // letting the sketch cut at k=3 would leave boundary ties to its
    // unspecified internal ordering and the oracle could pick differently
    val w = Window.orderBy(col("n").desc, col("priority").asc)
    Tables.orders(s, d)
      .select(explode(expr("approx_top_k(o_orderpriority, 5)")).as("tk"))
      .select(col("tk.item").as("priority"), col("tk.count").as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
  }

  private val q116Sql =
    """SELECT o_orderpriority AS priority, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY n DESC, priority LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Data-quality audit — the constraint checks a lake runs before
    * publishing a table version: referential integrity (orphan facts,
    * anti join), primary-key uniqueness, null rate, and domain bounds,
    * emitted as one (check, violations) report. Each check is an
    * aggregate over one scan; the orphan check is the same left-anti
    * shape as the dedup primitive (A5/q08). A real deployment gates the
    * partition swap on `violations == 0` (the write-audit-publish
    * pattern); the operator is the audit half. */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val orphans = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("orphan_lineitems").as("check"), col("violations"))
    val dupPk = li.agg(
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
          .as("violations"))
      .select(lit("duplicate_lineitem_pk").as("check"), col("violations"))
    val nulls = li.agg(count_if(col("l_shipdate").isNull).as("violations"))
      .select(lit("null_shipdate").as("check"), col("violations"))
    val domain = li.agg(count_if(col("l_quantity") <= 0).as("violations"))
      .select(lit("nonpositive_quantity").as("check"), col("violations"))
    orphans.unionAll(dupPk).unionAll(nulls).unionAll(domain)
  }

  private val q121Sql =
    """SELECT 'orphan_lineitems' AS check, count(*) AS violations
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'duplicate_lineitem_pk',
      |       count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
      |UNION ALL
      |SELECT 'null_shipdate', count(*) FILTER (l_shipdate IS NULL) FROM lineitem
      |UNION ALL
      |SELECT 'nonpositive_quantity', count(*) FILTER (l_quantity <= 0) FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Winsorization — clamp a measure to its per-group [p01, p99] band, the
    * standard outlier-robust cleaning step before training on heavy-tailed
    * columns. Exact percentiles per group (tiny stats side, AQE broadcasts
    * it back over the stream), then a map-side clamp + profile. The band
    * edges are rounded to 4 decimals on BOTH engines BEFORE comparing, so
    * interpolation-order float drift can't flip a boundary row's
    * clipped/unclipped classification. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val stats = li.groupBy("l_returnflag").agg(
      round(expr("percentile(l_extendedprice, 0.01)"), 4).as("p01"),
      round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
    li.join(stats, "l_returnflag")
      .withColumn("clipped",
        least(greatest(col("l_extendedprice"), col("p01")), col("p99")))
      .groupBy("l_returnflag")
      .agg(
        round(avg("l_extendedprice"), 4).as("raw_mean"),
        round(avg("clipped"), 4).as("winsor_mean"),
        count_if(col("l_extendedprice") < col("p01")).as("n_low"),
        count_if(col("l_extendedprice") > col("p99")).as("n_high"))
  }

  private val q123Sql =
    """WITH stats AS (
      |  SELECT l_returnflag,
      |         round(quantile_cont(l_extendedprice, 0.01), 4) AS p01,
      |         round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag,
      |  round(avg(l_extendedprice), 4) AS raw_mean,
      |  round(avg(least(greatest(l_extendedprice, p01), p99)), 4) AS winsor_mean,
      |  count(*) FILTER (l_extendedprice < p01) AS n_low,
      |  count(*) FILTER (l_extendedprice > p99) AS n_high
      |FROM lineitem JOIN stats USING (l_returnflag)
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q161
  /** k-anonymity audit (k = 5) over the quasi-identifier triple
    * (mktsegment, nationkey, account-balance band): a released dataset is
    * k-anonymous when every quasi-identifier cell holds ≥ k rows. Reports,
    * per segment, the cell count, cells below k, rows in risky cells, and
    * the smallest cell — the table a privacy review reads before export.
    * Two cascading aggregates (cell grain → segment grain); the first
    * shuffle is keyed by the full quasi-identifier (high cardinality,
    * partial aggregation does the work map-side), the second is 5 keys.
    * Scales with cell cardinality, not row count. */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.customer(s, d)
      .groupBy(col("c_mktsegment"),
        col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("n"))
    cells.groupBy("c_mktsegment").agg(
      count(lit(1)).as("n_cells"),
      count_if(col("n") < 5).as("n_risky_cells"),
      sum(when(col("n") < 5, col("n")).otherwise(lit(0L))).as("n_risky_rows"),
      min("n").as("min_cell"))
  }

  private val q161Sql =
    """WITH cells AS (
      |  SELECT c_mktsegment, c_nationkey,
      |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |         count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, count(*) AS n_cells,
      |  CAST(count(*) FILTER (n < 5) AS BIGINT) AS n_risky_cells,
      |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
      |  min(n) AS min_cell
      |FROM cells GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Robust outlier detection via median/MAD (the Iglewicz–Hoaglin
    * modified z-score: 0.6745·(x − med)/MAD, flag |z| > 3.5) — the
    * resistant sibling of q108's mean/σ z-score: a single wild value
    * inflates σ and hides real outliers; the median and MAD don't move.
    * Exact medians are a per-group sort (q92's note applies — the 100 TB
    * variant swaps in approx_percentile); two cascaded aggregate+join
    * passes, each per-type result tiny and AQE-broadcast back onto the
    * stream. Same ulp-at-the-threshold tolerance as q108 (the flag
    * compares bit-identical double pipelines on both engines). */
  private def q164(s: SparkSession, d: String): DataFrame = {
    val med = Tables.withTempViews(s, "ev_mad" -> Tables.events(s, d)) {
      s.sql(
        """SELECT event_type,
          |  percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
          |FROM ev_mad GROUP BY event_type""".stripMargin)
    }
    val dev = Tables.events(s, d).join(med, "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val (devView, mad) = Tables.withTempViews(s, "ev_mad_dev" -> dev) {
      (s.table("ev_mad_dev"), s.sql(
        """SELECT event_type,
          |  percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
          |FROM ev_mad_dev GROUP BY event_type""".stripMargin))
    }
    devView.join(mad, "event_type")
      // mad = 0 (≥50% of a group identical) would give rz = ±Infinity in
      // Spark while DuckDB's x/0 is NULL — filter the degenerate groups
      // out identically on both sides (a zero-MAD group has no meaningful
      // robust z anyway; the standard fallback is the mean-AD estimator).
      .filter(col("mad") > 0)
      .withColumn("rz", (col("value") - col("med")) * 0.6745 / col("mad"))
      .filter(abs(col("rz")) > 3.5)
      .select(col("event_id"), col("event_type"),
        // z at 3dp, not the suite's usual 4: med comes from percentile_cont
        // interpolation, where Spark and DuckDB legitimately differ by an
        // ulp — at 10× data a 4dp round hit a half-boundary flip (one cell,
        // ±0.0001, sf1 scaleverify); 3dp puts the flip probability 10× down
        round(col("value"), 4).as("value"), round(col("rz"), 3).as("robust_z"))
  }

  private val q164Sql =
    s"""$EvCte,
      |med AS (
      |  SELECT event_type,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      |  FROM ev GROUP BY 1),
      |dev AS (
      |  SELECT event_id, event_type, value, med, abs(value - med) AS adev
      |  FROM ev JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT event_id, event_type, round(value, 4) AS value,
      |       round((value - med) * 0.6745 / mad, 3) AS robust_z
      |FROM dev JOIN mad USING (event_type)
      |WHERE mad > 0 AND abs((value - med) * 0.6745 / mad) > 3.5""".stripMargin

  // ---------------------------------------------------------------- q165
  /** Exponentially time-decayed engagement score per user: Σ value ·
    * 0.5^(age_days/7) (7-day half-life against a fixed as-of date) — the
    * standard recency-weighted aggregate behind "active user" scores and
    * decayed feature stores. Whole-day ages keep the decay factor a
    * deterministic function of the date (identical doubles on both
    * engines); one grouped pass, pure map-side decay arithmetic, shuffle
    * keyed by user — linear at any scale. round(3) absorbs sum-order ulp
    * drift across partitionings (the suite-wide double-sum convention). */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val asOf = lit("2024-02-01").cast("date")
    Tables.events(s, d)
      .withColumn("age_days", datediff(asOf, col("ts").cast("date")))
      .withColumn("decay", pow(lit(0.5), col("age_days").cast("double") / 7.0))
      .groupBy("user_id").agg(
        round(sum(col("value") * col("decay")), 3).as("decayed_score"),
        count(lit(1)).as("n_events"),
        min(col("age_days")).cast("long").as("freshest_days"))  // DuckDB date_diff is BIGINT
  }

  private val q165Sql =
    s"""$EvCte
      |SELECT user_id,
      |  round(sum(value * pow(0.5, date_diff('day', CAST(ts AS DATE),
      |                                       DATE '2024-02-01') / 7.0)), 3)
      |    AS decayed_score,
      |  count(*) AS n_events,
      |  min(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01'))
      |    AS freshest_days
      |FROM ev GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- q167
  /** Weighted PageRank over the nation-level trade graph (customer nation
    * → supplier nation, edge weight = revenue share) — the iterative
    * weighted-join sibling of q69's connected components: each round is
    * ranks ⋈ edges (shuffled on the source node) → per-destination sum,
    * the Pregel iteration as relational algebra. Ten damped rounds
    * (d = 0.85), fixed count so the oracle is a bounded recursive CTE.
    * The heavy, data-scale part is building the edge list (the q03-style
    * 4-table join over lineitem); the iteration then runs on the
    * node-cardinality frame — at 10⁹ nodes the same per-round plan holds,
    * with the rank frame hash-partitioned instead of driver-held. */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val raw = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(sum("rev").as("w"))
    // row-normalize outgoing weight per source node; tiny from here on
    val outW = raw.groupBy("src").agg(sum("w").as("out_w"))
    val edges = raw.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w")).as("p"))
      .localCheckpoint(true)
    // node set = ALL nations (a nation outside the trade graph still holds
    // teleport rank) — the 25-row dimension table, no distinct over edges
    val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
    val n = nodes.count().toDouble
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    // the loop builds ONE lazy 10-round plan: each round is a tiny join +
    // aggregate over the node-cardinality frame, so materializing per
    // round would pay 10 job-scheduling latencies for microseconds of
    // work (measured 6.2 s eager → 3.1 s lazy+broadcast at sf0.1; what
    // remains is the edge build plus Catalyst analysis of the nested
    // plan). At 10⁹ nodes the loop re-adds a checkpoint every few rounds
    // to cap plan depth — the per-round PLAN is unchanged.
    for (_ <- 1 to 10) {
      // broadcast the rank frame (node-cardinality) into the edge join —
      // on a big graph this is the one hint to drop (ranks co-partition
      // with edges on src instead); here it keeps each round shuffle-free
      // except the per-dst aggregate
      val contrib = broadcast(ranks).join(edges, col("node") === col("src"))
        .groupBy("dst").agg(sum(col("rank") * col("p")).as("in_rank"))
      ranks = nodes.join(broadcast(contrib), col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("in_rank"), lit(0.0)))
            .as("rank"))
    }
    ranks.select(col("node").cast("long").as("nationkey"),
      round(col("rank") * 1000, 4).as("rank_x1000"))
  }

  /** Ten unrolled iteration CTEs (r1..r10), generated by the same loop
    * count as the Spark side: a recursive CTE may reference its working
    * table only once, which cannot express "every node gets teleport +
    * damped in-contributions" when some node has no in-edges — the
    * unrolled form keeps the semantics bit-for-bit explicit. */
  private val q167Sql: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT x.node, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(
         |    (SELECT sum(p.rank * e.p) FROM r${i - 1} p
         |     JOIN edges e ON p.node = e.src WHERE e.dst = x.node), 0.0) AS rank
         |  FROM nodes x)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |         sum(l.l_extendedprice * (1 - l.l_discount)) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM raw),
      |nodes AS (SELECT n_nationkey AS node FROM nation),
      |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
      |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
      |$iters
      |SELECT CAST(node AS BIGINT) AS nationkey,
      |       round(rank * 1000, 4) AS rank_x1000
      |FROM r10""".stripMargin
  }

  // ---------------------------------------------------------------- q175
  /** Sliding-window aggregate (1-hour windows every 20 minutes): each
    * event lands in exactly 3 overlapping windows — q20's tumbling bucket
    * generalized, the shape behind rate monitors and rolling SLO panels.
    * Spark's `window(ts, len, slide)` explodes the 3 memberships
    * map-side, then one shuffle keyed by window start; at scale the
    * output cardinality is span/slide windows, not events. Oracle: the
    * window-start algebra spelled out — every event's 3 epoch-aligned
    * 20-minute buckets, identical to Spark's alignment. Also registered
    * through Structured Streaming as q175b (same oracle). */
  private[graft] def q175(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "20 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("n"), col("sum_value"))

  private[graft] val q175Sql =
    s"""$EvCte, offs AS (SELECT unnest([0, 1, 2]) AS k),
      |w AS (
      |  SELECT time_bucket(INTERVAL '20 minutes', ts)
      |           - k * INTERVAL '20 minutes' AS ws, value
      |  FROM ev, offs)
      |SELECT ws AS bucket_start, count(*) AS n,
      |       round(sum(value), 2) AS sum_value
      |FROM w GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q182
  /** Label-propagation community detection over the customer–supplier
    * co-purchase graph — the graph-clustering sibling of q167's PageRank
    * and q69's connected components (LPA finds DENSE groups, components
    * only find CONNECTED ones). Nodes are customers (2·custkey) and
    * suppliers (2·suppkey+1 — injective interleave, no id collision at
    * any scale); edges are distinct trading pairs weighted by lineitem
    * count (BIGINT — integer weights make every argmax exact on both
    * engines, the reason revenue weights were rejected). [[LpaRounds]]
    * full rounds of the BIPARTITE schedule: suppliers adopt the
    * plurality label of their customers, then customers of their
    * (updated) suppliers — the standard alternating update that cannot
    * oscillate on a bipartite graph, and fixed-count so the oracle is a
    * bounded unrolled-CTE chain (the q167 contract). Ties break to the
    * smallest label; a node with no edges keeps its own label.
    *
    * Scale shape: the data-scale work is the edge build (q03-class join,
    * one groupBy on (cust,supp)); each phase is then node-cardinality —
    * a broadcast of the label frame into the edge join, a keyed
    * aggregate, a keyed window. At 10⁹ nodes the label broadcast becomes
    * a co-partitioned join on src and the lazy chain re-checkpoints
    * every few phases to cap plan depth — per-phase PLAN unchanged
    * (q167's documented trade). */
  private val LpaRounds = 5

  /** LPA's weighted customer–supplier trading pairs (cust, supp, w). */
  private def lpaPairs(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp"))
      .agg(count(lit(1)).as("w"))
  }

  private[graft] def q182(s: SparkSession, d: String): DataFrame = {
    val pairs = lpaPairs(s, d)
    val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"), col("w"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst"), col("w")))
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    // checkpoint each round: unlike q167's 25-node chain, TEN nested
    // join+window+join phases drive Catalyst's analyzer into exponential
    // tree-walks (measured: >10 min of driver CPU in TreeNode.exists on
    // the fully-lazy plan vs seconds checkpointed) — this is the "re-add
    // a checkpoint every few rounds to cap plan depth" trade applied at
    // test scale, and the label frame is node-cardinality so the eager
    // materialization is cheap
    for (_ <- 1 to LpaRounds; side <- Seq(1, 0)) {
      labels = lpaPhase(labels, edges, side, copart = false)
      // per-round cadence measured best at sf0.1: 11.6 s vs 15.8 s
      // checkpointing every 2 rounds — each phase references `labels`
      // TWICE (contrib + the keep-label join), so an unmaterialized
      // chain doubles both the analyzer tree and subplan re-execution
      // per phase; 2^phases beats the saved job latency almost
      // immediately
      if (side == 0) labels = labels.localCheckpoint(true)
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("node").cast("long").as("node"),
        col("lbl").cast("long").as("community"), col("community_size"))
  }

  /** One LPA phase — shared by q182 (broadcast regime) and q182b
    * (co-partitioned regime), and exposed to Explain/PlanQualitySpec so
    * the ITERATED plan (not just the post-checkpoint tail) is what gets
    * dumped and swept. The plurality argmax
    * is a SECOND aggregate ending in max_by over struct(wsum, -lbl) — the
    * same exact-BIGINT "largest wsum, smallest lbl" pick the old
    * row_number window computed ((dst,lbl) is the group key, so no
    * duplicate struct can make it nondeterministic) — instead of a rank
    * window. The partial max_by folds map-side BEFORE the dst exchange,
    * so that exchange carries ~|dst| rows instead of |dst×lbl|, and the
    * per-phase Sort+WindowExec disappears (×10 phases). In the copart
    * regime `best` additionally leaves its final aggregate already
    * hash-partitioned on dst — exactly the distribution the keep-label
    * shuffle_hash join needs, so that join's best-side exchange vanishes
    * too (before: Exchange(dst,lbl) + Exchange(dst)+Sort+Window +
    * Exchange(dst) per phase; after: Exchange(dst,lbl) + Exchange(dst)). */
  private[graft] def lpaPhase(labels: DataFrame, edges: DataFrame,
                              side: Int, copart: Boolean): DataFrame = {
    val lab = if (copart) labels.hint("shuffle_hash") else broadcast(labels)
    val contrib = lab
      .join(edges, col("node") === col("src"))
      .filter(pmod(col("dst"), lit(2)) === side)
      .groupBy(col("dst"), col("lbl")).agg(sum("w").as("wsum"))
    val best0 = contrib.groupBy(col("dst"))
      .agg(max_by(col("lbl"), struct(col("wsum"), -col("lbl"))).as("new_lbl"))
    val best = if (copart) best0.hint("shuffle_hash") else broadcast(best0)
    labels.join(best, col("node") === col("dst"), "left")
      .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** Phase CTEs generated by the same (round, side) loop as the Spark
    * plan — unrolled, not recursive, for the q167 reason (per-phase
    * plurality + keep-when-isolated isn't single-reference expressible).
    * Each label CTE is MATERIALIZED: l(i) is referenced twice (by b(i+1)
    * and l(i+1)), and DuckDB's default inlining would re-evaluate the
    * whole chain 2^phases times — measured as a >9-minute hang at
    * sf0.01 vs sub-second materialized. */
  private[graft] val q182Sql: String = {
    val phases = (for (r <- 1 to LpaRounds; side <- Seq(1, 0)) yield {
      val i = (r - 1) * 2 + (if (side == 1) 1 else 2)
      s"""b$i AS (
         |  SELECT dst, lbl AS new_lbl FROM (
         |    SELECT dst, lbl, row_number() OVER (
         |      PARTITION BY dst ORDER BY wsum DESC, lbl ASC) AS rn
         |    FROM (SELECT e.dst, p.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
         |          FROM l${i - 1} p JOIN edges e ON p.node = e.src
         |          WHERE e.dst % 2 = $side GROUP BY 1, 2) z) t WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT x.node, COALESCE(b.new_lbl, x.lbl) AS lbl
         |  FROM l${i - 1} x LEFT JOIN b$i b ON x.node = b.dst)""".stripMargin
    }).mkString(",\n")
    val last = LpaRounds * 2
    s"""WITH pairs AS (
      |  SELECT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp,
      |         count(*) AS w
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT cust AS src, supp AS dst, CAST(w AS BIGINT) AS w FROM pairs
      |  UNION ALL
      |  SELECT supp AS src, cust AS dst, CAST(w AS BIGINT) AS w FROM pairs),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
      |$phases
      |SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community,
      |       community_size
      |FROM l$last JOIN (
      |  SELECT lbl, count(*) AS community_size FROM l$last GROUP BY 1
      |) s USING (lbl)""".stripMargin
  }

  // ---------------------------------------------------------------- q182b
  /** Label propagation, the at-scale plan — q182's scaladoc promises that
    * "at 10⁹ nodes the label broadcast becomes a co-partitioned join on
    * src"; this variant BUILDS that plan (the q203b/q169b precedent:
    * at-scale replacements get registered and measured, not documented).
    * q182 force-broadcasts the node-sized label frame into every one of
    * the 10 phase joins — at 10⁹ nodes that is an ~16 GB driver
    * collect+rebroadcast per phase, a guaranteed OOM. Here the EDGE table
    * is hash-partitioned on src once (repartition + persist — the q195
    * lesson: persist preserves the partitioning localCheckpoint erases)
    * and every phase joins labels⋈edges as a co-partitioned shuffle_hash
    * join: the edge frame never moves again (its scan reports
    * hash(src, 32), matching the join requirement), the only per-phase
    * exchange is the node-sized label frame, and the keep-label join
    * reuses the same alignment (labels hash(node) ⋈ best hash(dst), both
    * node-sized). Same semantics, same bipartite schedule, same exact
    * BIGINT argmax — verified under q182's own unrolled-CTE oracle.
    *
    * The broadcast form stays registered as q182: below the broadcast
    * threshold it wins (no label exchange at all) — the pair is the same
    * measured lever ladder as q169/q169b: pick by node-table size.
    *
    * The edge frame is written ONCE as a BUCKETED table (the q203b
    * machinery), not repartition+persist: a persisted frame's hash(src)
    * partitioning is NOT recognized through the AQE-wrapped
    * InMemoryRelation (an ENSURE_REQUIREMENTS Exchange re-shuffles the
    * cached edges), so every one of the
    * 10 phases would re-exchange the EDGE-SCALE frame. A bucketed scan
    * reports hash(src, 32) statically, so each phase's contrib join
    * consumes the edge side with zero exchange — at 100 TB the corpus-
    * scale frame moves exactly once (the bucket write), never per phase. */
  private[graft] def q182b(s: SparkSession, d: String): DataFrame = {
    val tbl = s"graft_q182b_edges_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val edges = q182bEdges(s, d, tbl)
      val nodes = edges.select(col("src").as("node")).distinct()
      var labels = nodes.select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to LpaRounds; side <- Seq(1, 0)) {
        labels = lpaPhase(labels, edges, side, copart = true)
        // same per-round checkpoint cadence as q182 (analyzer-depth cap);
        // the node-sized re-exchange it costs next phase is the designed
        // per-phase price of this plan
        if (side == 0) labels = labels.localCheckpoint(true)
      }
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
      labels.join(sizes, "lbl")
        .select(col("node").cast("long").as("node"),
          col("lbl").cast("long").as("community"), col("community_size"))
        .localCheckpoint(true)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** q182b's edge table: both directions of every trading pair in ONE pass
    * over the pair aggregate (q203b), written as the 32-bucket table `tbl`
    * on src. The caller drops `tbl`. */
  private def q182bEdges(s: SparkSession, d: String, tbl: String): DataFrame = {
    val pairs = lpaPairs(s, d)
    graft.operators.Bucketing.writeBucketed(
      pairs.select(explode(array(
          struct(col("cust").as("src"), col("supp").as("dst"), col("w")),
          struct(col("supp").as("src"), col("cust").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w")),
      tbl, "src", buckets = 32, sorted = false)
    s.table(tbl)
  }

  /** One-phase LAZY plans for Explain/PlanQualitySpec (the registered
    * queries checkpoint per round, so their final explain shows only the
    * post-checkpoint tail — these expose the plan each of the 10 phases
    * actually runs; the `Dedup.minhashNearDupPlan` precedent). Label
    * frame = the initial node labels, side = 1 (the supplier half-step). */
  private[graft] def q182PhasePlan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val pairs = lpaPairs(s, d)
    val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"), col("w"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst"), col("w")))
    val labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    (lpaPhase(labels, edges, 1, copart = false), Nil)
  }

  /** The returned release drops the phase's edge table, so call it once
    * the plan has been used. */
  private[graft] def q182bPhasePlan(s: SparkSession, d: String): (DataFrame, () => Unit) = {
    val tbl = s"graft_q182b_plan_edges_${java.util.UUID.randomUUID().toString.take(8)}"
    val release = () => { s.sql(s"DROP TABLE IF EXISTS $tbl"); () }
    try {
      val edges = q182bEdges(s, d, tbl)
      val labels = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      (lpaPhase(labels, edges, 1, copart = true), release)
    } catch { case e: Throwable => release(); throw e }
  }

  // ---------------------------------------------------------------- q185
  /** Degree-oriented triangle counting over the part co-purchase graph
    * (Suri & Vassilvitskii 2011's "curse of the last reducer" fix, the
    * MapReduce-era classic every distributed graph engine reimplements) —
    * the LOCAL-density sibling of q167 (global importance) and q182
    * (community structure). Nodes are parts; an undirected edge requires
    * co-occurrence in ≥ [[TriMinCo]] distinct orders (the support prune
    * that keeps the graph sparse — without it the sf0.01 graph is 116 k
    * edges at near-saturation density and wedge volume explodes). Output:
    * per-node triangle participation + local clustering coefficient for
    * every node in ≥ 1 triangle.
    *
    * The scale argument IS the orientation: each undirected edge is
    * directed from its (degree, id)-lexicographically smaller endpoint,
    * so every triangle u≺v≺w materializes exactly once as the wedge
    * (u→v, u→w) closed by the oriented edge v→w, and per-node wedge
    * fan-out is capped by ORIENTED out-degree ≤ O(√m) — Σ wedges is
    * O(m^{3/2}) worst-case instead of Σ deg² (a hub with degree 10⁶
    * produces zero wedges as a destination-heavy node; the naive
    * wedge-at-every-node plan dies on exactly that hub). Every stage is
    * an equi-join: per-order pairing on orderkey, degree attach on node
    * id, wedge build on src, closure on the (v,w) composite key. The
    * per-order pair fan-out is Σ items² — bounded by the basket-size
    * cap the q09 banding argument documents, and the support prune
    * collapses it before any quadratic stage. */
  private val TriMinCo = 2

  private def q185(s: SparkSession, d: String): DataFrame = {
    val io = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = io.join(io.select(col("o"), col("p").as("p2")), "o")
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("pa"), col("p2").as("pb"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= TriMinCo)
      .select("pa", "pb")
      // referenced by degree build + orientation + closure probe: one
      // eager materialization, three map-side reuses (the q184 lesson —
      // an unmaterialized pair join replays its lineage per reference)
      .localCheckpoint(true)
    val deg = e.select(col("pa").as("n")).union(e.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    // orient each edge small→large in (deg, id) lex order; keep the
    // destination's (deg, id) so the wedge join can compare ≺ without a
    // second degree attach
    val ed = e.join(deg.withColumnRenamed("n", "pa").withColumnRenamed("dg", "da"), "pa")
      .join(deg.withColumnRenamed("n", "pb").withColumnRenamed("dg", "db"), "pb")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb"))
    val oe = ed.select(
      when(aFirst, col("pa")).otherwise(col("pb")).as("src"),
      when(aFirst, col("pb")).otherwise(col("pa")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddg"))
    // wedges at u: out-neighbor pairs (v ≺ w); closure = oriented edge
    // v→w existing — a two-column equi-join, never an OR-of-directions
    val vBefore = col("ddg") < col("ddg2") ||
      (col("ddg") === col("ddg2") && col("dst") < col("dst2"))
    val wedges = oe.join(
        oe.select(col("src"), col("dst").as("dst2"), col("ddg").as("ddg2")), "src")
      .filter(col("dst") =!= col("dst2")).filter(vBefore)
    val tri = wedges.join(
        oe.select(col("src").as("w_src"), col("dst").as("w_dst")),
        col("dst") === col("w_src") && col("dst2") === col("w_dst"))
      .select(col("src").as("u"), col("dst").as("v"), col("dst2").as("w"))
    val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    perNode.join(deg, "n")
      .select(col("n").cast("long").as("partkey"), col("dg").as("degree"),
        col("tri").as("n_triangles"),
        round(col("tri") * 2.0 / (col("dg") * (col("dg") - 1)), 4).as("clust_coef"))
  }

  private val q185Sql =
    s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT a.p AS pa, b.p AS pb FROM io a JOIN io b
      |  ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= $TriMinCo),
      |deg AS (
      |  SELECT n, count(*) AS dg FROM (
      |    SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e) z GROUP BY 1),
      |oe AS (
      |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND pa < pb)
      |              THEN pa ELSE pb END AS src,
      |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND pa < pb)
      |              THEN pb ELSE pa END AS dst,
      |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND pa < pb)
      |              THEN db.dg ELSE da.dg END AS ddg
      |  FROM e JOIN deg da ON da.n = e.pa JOIN deg db ON db.n = e.pb),
      |tri AS (
      |  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
      |  FROM oe o1 JOIN oe o2 ON o1.src = o2.src AND o1.dst <> o2.dst
      |  JOIN oe o3 ON o3.src = o1.dst AND o3.dst = o2.dst
      |  WHERE o1.ddg < o2.ddg OR (o1.ddg = o2.ddg AND o1.dst < o2.dst)),
      |pn AS (
      |  SELECT n, count(*) AS tri FROM (
      |    SELECT u AS n FROM tri UNION ALL SELECT v FROM tri
      |    UNION ALL SELECT w FROM tri) z GROUP BY 1)
      |SELECT CAST(n AS BIGINT) AS partkey, dg AS degree, tri AS n_triangles,
      |       round(tri * 2.0 / (dg * (dg - 1)), 4) AS clust_coef
      |FROM pn JOIN deg USING (n)""".stripMargin

  // ---------------------------------------------------------------- q186
  /** Market-basket association rules (Agrawal & Srikant's Apriori,
    * VLDB 1994) over order line items: for every part pair co-occurring
    * in ≥ [[ArMinPair]] orders, both directed rules a→b with
    * support count, confidence = c_ab / c_a, and lift =
    * N · c_ab / (c_a · c_b), kept at confidence ≥ [[ArMinConf]]. The
    * q65/q178 frequency family applied to BASKETS instead of tokens —
    * and the one the reference's retail-ish star schema exists to ask.
    *
    * The Apriori downward-closure prune is the plan's scale lever and is
    * EXACT, not approximate: a pair in ≥ s orders forces both items into
    * ≥ s orders, so restricting the self-join to items that individually
    * clear the support floor drops no qualifying pair while collapsing
    * the quadratic per-order fan-out to frequent items only (on a
    * Zipf-tailed catalog that is the difference between Σ basket² over
    * the full catalog and over its frequent head). Shape: one distinct
    * scan → per-item counts (broadcast floor filter back) → per-order
    * frequent-item self-join → (pa, pb) count → rule algebra map-side
    * under broadcast item counts. No window, no driver state; the only
    * corpus-scale shuffles are the distinct and the two keyed counts. */
  private val ArMinPair = 3
  private val ArMinConf = 0.10

  private def q186(s: SparkSession, d: String): DataFrame = {
    val io = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .localCheckpoint(true)
    val nOrders = Tables.orders(s, d).select("o_orderkey").count()
    val items = io.groupBy("p").agg(count(lit(1)).as("ci"))
    val freq = items.filter(col("ci") >= ArMinPair)
    // downward closure: only frequent items can form a frequent pair
    val fio = io.join(broadcast(freq.select("p")), "p")
    val pairs = fio.join(fio.select(col("o"), col("p").as("p2")), "o")
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("pa"), col("p2").as("pb"))
      .agg(count(lit(1)).as("cab")).filter(col("cab") >= ArMinPair)
    val rules = pairs.select(col("pa").as("a"), col("pb").as("b"), col("cab"))
      .union(pairs.select(col("pb").as("a"), col("pa").as("b"), col("cab")))
    rules
      .join(broadcast(freq.select(col("p").as("a"), col("ci").as("ca"))), "a")
      .join(broadcast(freq.select(col("p").as("b"), col("ci").as("cb"))), "b")
      .withColumn("confidence", round(col("cab") / col("ca"), 4))
      .filter(col("confidence") >= ArMinConf)
      .select(col("a").cast("long").as("antecedent"),
        col("b").cast("long").as("consequent"),
        col("cab").as("pair_orders"), col("confidence"),
        round(lit(nOrders) * col("cab") / (col("ca") * col("cb")), 4).as("lift"))
  }

  private val q186Sql =
    s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT count(*) AS n_orders FROM orders),
      |items AS (SELECT p, count(*) AS ci FROM io GROUP BY 1),
      |freq AS (SELECT * FROM items WHERE ci >= $ArMinPair),
      |fio AS (SELECT io.* FROM io JOIN freq USING (p)),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS cab
      |  FROM fio a JOIN fio b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= $ArMinPair),
      |rules AS (
      |  SELECT pa AS a, pb AS b, cab FROM pairs
      |  UNION ALL SELECT pb AS a, pa AS b, cab FROM pairs)
      |SELECT CAST(a AS BIGINT) AS antecedent, CAST(b AS BIGINT) AS consequent,
      |       cab AS pair_orders, round(cab / ca.ci, 4) AS confidence,
      |       round(n.n_orders * cab / (ca.ci * cb.ci), 4) AS lift
      |FROM rules
      |JOIN freq ca ON ca.p = rules.a JOIN freq cb ON cb.p = rules.b
      |CROSS JOIN n
      |WHERE round(cab / ca.ci, 4) >= $ArMinConf""".stripMargin

  // ---------------------------------------------------------------- q191
  /** k-core decomposition (Seidman 1983; the distributed peeling form of
    * Montresor et al. 2013) of the customer–supplier trade graph: repeatedly
    * delete nodes of degree < [[KcK]] until the remainder stabilizes — the
    * surviving [[KcK]]-core is the "dense backbone" community detectors and
    * graph-sampling pipelines start from, and the third member of the graph
    * family (q167 global importance, q182 communities, q185 local density).
    * Edges require ≥ [[KcMinW]] co-orders (the q185 support prune — on the
    * unpruned graph the min degree is already ≥ k and peeling is vacuous).
    *
    * Peeling is the Pregel shape with NO per-node state carried between
    * rounds: each round is one degree count plus two node-keyed semi-joins
    * (src alive, dst alive), all equi-joins on node id. Rounds are a fixed
    * [[KcRounds]] (measured: this graph stabilizes in 3; a production run
    * loops until `alive` stops shrinking — one count per round). The alive
    * set is node-cardinality and broadcast like q182's label frame; at
    * 1000-executor scale it becomes a shuffle semi-join on the same key the
    * edge list is already partitioned by. Edge frame is checkpointed per
    * round (the q182 lesson: each round references it three times, and an
    * unmaterialized chain re-executes 3^rounds subplans). */
  private val KcMinW = 3
  private val KcK = 3
  private val KcRounds = 5

  private def q191(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= KcMinW)
    var e = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
      .localCheckpoint(true)
    for (_ <- 1 to KcRounds) {
      val alive = e.groupBy("src").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= KcK).select("src")
      e = e.join(broadcast(alive), "src")
        .join(broadcast(alive.withColumnRenamed("src", "dst")), "dst")
        .select("src", "dst")
        .localCheckpoint(true)
    }
    e.groupBy("src").agg(count(lit(1)).as("core_degree"))
      .select(col("src").cast("long").as("node"),
        when(pmod(col("src"), lit(2)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        when(pmod(col("src"), lit(2)) === 0, col("src") / 2)
          .otherwise((col("src") - 1) / 2).cast("long").as("entity_id"),
        col("core_degree"))
  }

  /** Unrolled peel rounds, every stage MATERIALIZED (each e(i) is
    * referenced by d(i+1) and twice by e(i+1) — the q182 inlining-blowup
    * reason). */
  private val q191Sql: String = {
    val rounds = (1 to KcRounds).map { i =>
      s"""a$i AS MATERIALIZED (
        |  SELECT src FROM (SELECT src, count(*) AS dg FROM e${i - 1} GROUP BY 1)
        |  WHERE dg >= $KcK),
        |e$i AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM e${i - 1} e
        |  JOIN a$i s ON e.src = s.src JOIN a$i t ON e.dst = t.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2 HAVING count(*) >= $KcMinW),
      |e0 AS MATERIALIZED (
      |  SELECT cust AS src, supp AS dst FROM pairs
      |  UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
      |$rounds
      |SELECT CAST(src AS BIGINT) AS node,
      |       CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
      |       CAST(CASE WHEN src % 2 = 0 THEN src / 2 ELSE (src - 1) / 2 END
      |            AS BIGINT) AS entity_id,
      |       core_degree
      |FROM (SELECT src, count(*) AS core_degree FROM e$KcRounds GROUP BY 1)""".stripMargin
  }

  // ---------------------------------------------------------------- q195
  /** Deterministic DeepWalk-style walk corpus (Perozzi et al., KDD 2014)
    * over the trade graph: [[DwWalks]] truncated walks of [[DwSteps]] hops
    * from every node, emitted as path strings — the input corpus a
    * skip-gram embedding trainer consumes, and the fourth graph-family
    * member (q167 importance / q182 communities / q185 density / q191
    * core). "Random" is a seeded integer hash of (current node, walk id,
    * step) — the q163 reproducibility requirement: the draw replays
    * bit-identically on both engines and any cluster size. The hash is
    * pre-reduced modular arithmetic ((cur mod p)·(A mod p) …) so no
    * product exceeds ~1e12 (a BIGINT product of two hashes would
    * overflow).
    *
    * Scale shape: the adjacency is ONE ROW PER NODE holding its sorted
    * neighbor array (stable indices via element_at — no per-node rank
    * window at all), pre-partitioned on node id and CACHED, so every hop
    * is an equi-join that exchanges ONLY the frontier (fixed at
    * nodes×walks — truncated walks never branch) against the never-moved
    * adjacency — the Pregel message pattern. Measured at sf5: the earlier
    * row-form adjacency re-shuffled per hop ran 325 s; this form is one
    * aggregate + 4 frontier exchanges (47.6 s). */
  private val DwWalks = 2
  private val DwSteps = 4
  private val DwP = 1000003L
  private val DwA = 2654435761L % DwP // 427799

  /** Lazy plan builder (also swept/explained): (final walks, intermediates).
    * The adjacency is one row per NODE holding its sorted neighbor array —
    * row_number indices collapse to element_at, and the per-hop join
    * input is node-cardinality, not edge-cardinality. */
  private[graft] def q195Plan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp")).distinct()
    val e = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    val nbArr = e.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbr"))
      .withColumn("deg", size(col("nbr")))
      // pre-partition on the hop join key and CACHE (persist keeps the
      // outputPartitioning, unlike localCheckpoint's RDD boundary): every
      // hop's join then shuffles ONLY the frontier — the adjacency is
      // never re-exchanged or re-sorted. This was the sf5 lesson: the
      // row-form adjacency re-shuffled per hop ran 325 s at 50×; the
      // cached array form is one build + 4 frontier exchanges. A
      // pathological hub's array is degree-sized — cap or fall back to
      // row form if a graph has 10⁷-degree nodes.
      .repartition(col("src"))
    (dwHops(nbArr), Seq(nbArr))
  }

  /** The hop chain over a given adjacency frame — shared by the lazy plan
    * (sweep/explain) and the cached registered form. */
  private def dwHops(adj: DataFrame): DataFrame = {
    var w = adj.select(col("src").as("node"))
      .select(col("node"), explode(array(lit(0), lit(1))).as("wk"))
      .select(col("node"), col("wk"), col("node").as("cur"),
        col("node").cast("string").as("path"))
    for (i <- 1 to DwSteps) {
      val h = (((col("cur") % DwP) * DwA + col("wk") * 131 + lit(i) * 97)
        % DwP) % col("deg")
      w = w.join(adj, col("src") === col("cur"))
        .withColumn("nxt", element_at(col("nbr"), (h + 1).cast("int")))
        .select(col("node"), col("wk"), col("nxt").as("cur"),
          concat(col("path"), lit("-"), col("nxt").cast("string")).as("path"))
    }
    w.select(col("node"), col("wk").as("walk"), col("path"))
  }

  private def q195(s: SparkSession, d: String): DataFrame = {
    val adj = q195Plan(s, d)._2.head.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the cache, run the hops against it, and return an
      // EAGER result so the cache can be released before returning (the
      // ANN family's cache-lifecycle pattern)
      adj.count()
      dwHops(adj).localCheckpoint(true)
    } finally adj.unpersist(false)
  }

  private val q195Sql: String = {
    val hops = (1 to DwSteps).map { i =>
      s"""w$i AS (
        |  SELECT w.node, w.wk, n.dst AS cur,
        |         w.path || '-' || CAST(n.dst AS VARCHAR) AS path
        |  FROM w${i - 1} w JOIN nb n ON n.src = w.cur
        |   AND n.idx = ((w.cur % $DwP) * $DwA + w.wk * 131 + $i * 97)
        |               % $DwP % n.deg)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |e AS (SELECT cust AS src, supp AS dst FROM pairs
      |      UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
      |nb AS MATERIALIZED (
      |  SELECT src, dst,
      |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
      |         count(*) OVER (PARTITION BY src) AS deg
      |  FROM e),
      |w0 AS (
      |  SELECT node, wk, node AS cur, CAST(node AS VARCHAR) AS path
      |  FROM (SELECT DISTINCT src AS node FROM e)
      |  CROSS JOIN (SELECT unnest([0, 1]) AS wk)),
      |$hops
      |SELECT node, wk AS walk, path FROM w$DwSteps""".stripMargin
  }

  // ---------------------------------------------------------------- q201
  /** HITS hubs & authorities (Kleinberg 1999) on the customer→supplier
    * order graph — the NATURALLY bipartite fixpoint: hubs are customers
    * whose orders concentrate on authoritative suppliers, authorities are
    * suppliers endorsed by strong hubs. The mutual-reinforcement sibling
    * of q167's PageRank (one random-walk score) — HITS is the one you want
    * on a two-role graph, where walking "through" a supplier to another
    * customer has no meaning. [[HitsRounds]] rounds of h = W·a, a = Wᵀ·h
    * with max-normalization each half-step; integer co-order weights.
    *
    * Shape per half-step: one keyed join edges⋈scores + one keyed
    * aggregate (the q167 shape); the normalizer is a single-row max
    * broadcast (q100 pattern). Score frames are node-cardinality and
    * checkpointed per round (q182 cadence). Output is the top-10 of each
    * role via TakeOrderedAndProject on the ROUNDED score + id tiebreak —
    * never a global rank window. */
  private val HitsRounds = 4
  private val HitsTopK = 10

  private def q201(s: SparkSession, d: String): DataFrame = {
    val e = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    var hub = e.select(col("cust")).distinct()
      .select(col("cust"), lit(1.0).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to HitsRounds) {
      // checkpoint the RAW score frame, not the normalized one:
      // normalizing under broadcast(max) references the raw subtree twice
      // (once inside the broadcast's agg, once in the main pass), so
      // checkpointing after the division was executing every half-step's
      // join+agg TWICE. Checkpointed raw, the max agg and the division
      // are node-sized replays over materialized blocks — same plan, same
      // fold order, same floats; half the join work per round.
      val araw = e.join(hub, "cust")
        .groupBy("supp").agg(sum(col("w") * col("h")).as("a"))
        .localCheckpoint(true)
      val amax = araw.agg(max("a").as("m"))
      auth = araw.crossJoin(broadcast(amax))
        .select(col("supp"), (col("a") / col("m")).as("a"))
      val hraw = e.join(auth, "supp")
        .groupBy("cust").agg(sum(col("w") * col("a")).as("h"))
        .localCheckpoint(true)
      val hmax = hraw.agg(max("h").as("m"))
      hub = hraw.crossJoin(broadcast(hmax))
        .select(col("cust"), (col("h") / col("m")).as("h"))
    }
    val topH = hub.orderBy(round(col("h"), 4).desc, col("cust")).limit(HitsTopK)
      .select(lit("hub").as("role"), col("cust").cast("long").as("node"),
        round(col("h"), 4).as("score"))
    val topA = auth.orderBy(round(col("a"), 4).desc, col("supp")).limit(HitsTopK)
      .select(lit("authority").as("role"), col("supp").cast("long").as("node"),
        round(col("a"), 4).as("score"))
    topH.unionAll(topA)
  }

  private val q201Sql: String = {
    val rounds = (1 to HitsRounds).map { i =>
      s"""ar$i AS MATERIALIZED (
        |  SELECT supp, sum(w * h) AS a FROM e JOIN h${i - 1} USING (cust)
        |  GROUP BY 1),
        |a$i AS MATERIALIZED (
        |  SELECT supp, a / (SELECT max(a) FROM ar$i) AS a FROM ar$i),
        |hr$i AS MATERIALIZED (
        |  SELECT cust, sum(w * a) AS h FROM e JOIN a$i USING (supp)
        |  GROUP BY 1),
        |h$i AS MATERIALIZED (
        |  SELECT cust, h / (SELECT max(h) FROM hr$i) AS h FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
      |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp, count(*) AS w
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |h0 AS (SELECT DISTINCT cust, 1.0 AS h FROM e),
      |$rounds
      |SELECT * FROM (
      |  SELECT 'hub' AS role, CAST(cust AS BIGINT) AS node,
      |         round(h, 4) AS score
      |  FROM h$HitsRounds ORDER BY round(h, 4) DESC, cust LIMIT $HitsTopK)
      |UNION ALL
      |SELECT * FROM (
      |  SELECT 'authority', CAST(supp AS BIGINT), round(a, 4)
      |  FROM a$HitsRounds ORDER BY round(a, 4) DESC, supp LIMIT $HitsTopK)""".stripMargin
  }

  // ---------------------------------------------------------------- q202
  /** Benford's-law first-digit audit (Newcomb 1881 / Benford 1938; the
    * forensic-accounting standard, Nigrini 1996) over order prices: the
    * leading significant digit of naturally-occurring multi-scale amounts
    * follows P(d) = log₁₀(1 + 1/d) — synthetic, fabricated, or truncated
    * data does not. The q121 DQ-audit family's distributional tripwire:
    * run it per source/feed and a feed whose MAD from Benford jumps is
    * worth a look BEFORE it trains anything. Output: per-digit observed
    * vs expected frequency plus the overall mean-absolute-deviation
    * (Nigrini's conformity statistic, same value on every row for a
    * single-frame result).
    *
    * Shape: the digit extraction is one codegen'd map expression
    * (floor(x/10^floor(log₁₀x)) — no string casts); the only shuffle is
    * the 9-key digit count; expectation and MAD are constant-size
    * cross-joined side tables (q100 pattern). */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val x = col("l_extendedprice")
    val digits = Tables.lineitem(s, d)
      .filter(x > 0)
      .select(floor(x / pow(lit(10.0), floor(log10(x)))).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("t"))
    val scored = digits.crossJoin(broadcast(tot))
      .withColumn("freq", round(col("n").cast("double") / col("t"), 4))
      .withColumn("benford_p",
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 4))
    val mad = scored
      .agg(round(avg(abs(col("freq") - col("benford_p"))), 4).as("mad"))
    scored.crossJoin(broadcast(mad))
      .select("digit", "n", "freq", "benford_p", "mad")
  }

  private val q202Sql: String =
    """WITH digits AS (
      |  SELECT CAST(floor(l_extendedprice
      |           / 10 ** floor(log10(l_extendedprice))) AS INT) AS digit,
      |         count(*) AS n
      |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM digits),
      |scored AS (
      |  SELECT digit, n, round(n * 1.0 / t, 4) AS freq,
      |         round(log10(1.0 + 1.0 / digit), 4) AS benford_p
      |  FROM digits CROSS JOIN tot),
      |mad AS (SELECT round(avg(abs(freq - benford_p)), 4) AS mad FROM scored)
      |SELECT digit, n, freq, benford_p, mad FROM scored CROSS JOIN mad""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the edge list — one number that says whether
    * hubs attach to hubs (r > 0, social-graph style) or hubs to leaves
    * (r < 0, web/biology style). The summary statistic OVER the graph
    * family: it predicts whether q191's k-core is deep or shallow and how
    * skewed q195's walk visit-distribution will be, and on a trade graph
    * a sudden assortativity shift means the buying structure changed.
    *
    * Shape: two keyed aggregates (distinct edge pairs, then per-node
    * degrees), two keyed joins to attach endpoint degrees, one `corr`
    * aggregate — every stage an equi-join on node id; no window, no
    * iteration, output is a single row. */
  private[graft] def q203(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp")).distinct()
    val e = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
    // join strategy stays AQE's choice: the degree table broadcasts up to
    // ~sf5 (no edge exchange at all — forcing shuffle_hash here measured
    // 2.5× WORSE at sf1), and falls back to SMJ at sf10 where the
    // node table outgrows the broadcast threshold (the edge-frame sorts
    // then dominate: 222–250 s at 100×/8 GiB, spill-bound — the at-scale
    // fix is bucketing both sides by node id, not a join-strategy hint)
    e.join(deg, "src")
      .withColumnRenamed("dg", "ds")
      .join(deg.withColumnRenamed("src", "dst").withColumnRenamed("dg", "dt"), "dst")
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
        round(avg("ds"), 4).as("avg_deg"),
        round(corr(col("ds").cast("double"), col("dt").cast("double")), 4)
          .as("assortativity"))
  }

  /** Unrounded assortativity frame for BoundarySpec: q203/q203b/q203c all
    * hash round(corr, 4) of this value (the corr spelling and the moment
    * spelling agree to last-ulp only if far from a boundary — the q190
    * class), so the gate asserts its distance once for the family. */
  private[graft] def q203Raw(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp")).distinct()
    val e = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
    e.join(deg, "src")
      .withColumnRenamed("dg", "ds")
      .join(deg.withColumnRenamed("src", "dst").withColumnRenamed("dg", "dt"), "dst")
      .agg(avg("ds").as("avg_deg"),
        corr(col("ds").cast("double"), col("dt").cast("double"))
          .as("assortativity"))
  }

  private[graft] val q203Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |e AS (SELECT cust AS src, supp AS dst FROM pairs
      |      UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
      |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1)
      |SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
      |       round(avg(ds.dg), 4) AS avg_deg,
      |       round(corr(CAST(ds.dg AS DOUBLE), CAST(dt.dg AS DOUBLE)), 4)
      |         AS assortativity
      |FROM e JOIN deg ds ON ds.src = e.src JOIN deg dt ON dt.src = e.dst""".stripMargin

  // ---------------------------------------------------------------- q203b
  /** Assortativity, the at-scale plan (clears q203's sf10 `weak`): q203's
    * naive shape joins the degree table onto the EDGE frame twice, and
    * once the node table outgrows the broadcast threshold (sf10) AQE
    * falls back to SMJ whose two edge-frame sorts dominate spill-bound
    * (222–250 s at 100×, 3.6× per 2× at the sf5→sf10 step). This variant
    * removes BOTH edge-frame sorts structurally:
    *
    *  1. **Moment decomposition.** Pearson corr of endpoint degrees over
    *     a symmetric edge list is a closed form of four exact integer
    *     moments: n = Σd(u) (directed edge count), S1 = Σd², S2 = Σd³
    *     (all from the degree table ALONE — each node u appears d(u)
    *     times as an endpoint), and the single cross moment
    *     P = Σ_(u,v)∈E d(u)d(v) = Σ_v d(v)·s(v) with s(v) = Σ_{u∈N(v)} d(u).
    *     corr = (n·P − S1²)/(n·S2 − S1²), avg_deg = S1/n. Only s(v)
    *     touches edges; the second degree join of q203 becomes a
    *     node-sized join against s.
    *  2. **Bucketed layout.** The edge list is written once bucketed by
    *     src ([[graft.operators.Bucketing]]) so the degree aggregation
    *     AND the one remaining edge-scale join (edges ⋈ degrees on src,
    *     shuffle_hash with the node-sized build side) run co-partitioned
    *     with ZERO exchange and ZERO sort on the edge frame; the s(v)
    *     aggregation that follows partial-aggregates map-side, so the
    *     only shuffle after the bucket write carries ≤node-sized rows.
    *
    * Every moment is summed as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    * — exact at any scale (the q211 overflow lesson) — and cast to
    * double only at the final closed form, so both engines evaluate the
    * identical IEEE expression: no corr() last-ulp drift at sf1/sf10.
    * Target sf5→sf10 step: ≤2× wall per 2× data. */
  private[graft] def q203b(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp")).distinct()
    val tbl = s"graft_q203b_edges_${java.util.UUID.randomUUID().toString.take(8)}"
    // both edge directions in ONE pass over the distinct pairs (a union of
    // two selects would recompute the pair-build join twice at write time)
    graft.operators.Bucketing.writeBucketed(
      pairs.select(explode(array(
          struct(col("cust").as("src"), col("supp").as("dst")),
          struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")),
      tbl, "src", buckets = 32)
    try q203bMoments(s, tbl).localCheckpoint(true)
    finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** The moment computation over an ALREADY-bucketed edge table —
    * factored out so PlanQualitySpec can pin the co-partitioned plan
    * shape (zero Sort anywhere; the one edge-scale join is a
    * ShuffledHashJoin with no Exchange under either child). */
  private[graft] def q203bMoments(s: SparkSession, tbl: String): DataFrame = {
    val dec = "decimal(38,0)"
    val eb = s.table(tbl)
    val deg = eb.groupBy("src").agg(count(lit(1)).as("dg"))
    val sNbr = eb.join(deg.hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("dg").cast(dec)).as("sd"))
    // shuffle_hash here too: sNbr is hash(node)-partitioned from its
    // groupBy and deg is bucket-partitioned on src — co-partitioned SHJ,
    // so the WHOLE moments plan is sort-free even when deg outgrows the
    // broadcast threshold (PlanQualitySpec pins this)
    val p = sNbr
      .join(deg.withColumnRenamed("src", "node").hint("shuffle_hash"), "node")
      .agg(sum(col("dg").cast(dec) * col("sd")).as("p"))
    val m = deg.agg(
      sum(col("dg").cast(dec)).as("n"),
      sum(col("dg").cast(dec) * col("dg")).as("s1"),
      sum(col("dg").cast(dec) * col("dg") * col("dg")).as("s2"))
    def dbl(c: String) = col(c).cast("double")
    m.crossJoin(p).select(
      (dbl("n") / 2).cast("long").as("n_edges"),
      round(dbl("s1") / dbl("n"), 4).as("avg_deg"),
      round((dbl("n") * dbl("p") - dbl("s1") * dbl("s1"))
        / (dbl("n") * dbl("s2") - dbl("s1") * dbl("s1")), 4)
        .as("assortativity"))
  }

  private val q203bSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |e AS (SELECT cust AS src, supp AS dst FROM pairs
      |      UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
      |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
      |snbr AS (
      |  SELECT e.dst AS node, sum(CAST(d.dg AS HUGEINT)) AS sd
      |  FROM e JOIN deg d ON d.src = e.src GROUP BY 1),
      |pp AS (
      |  SELECT sum(CAST(d.dg AS HUGEINT) * sd) AS p
      |  FROM snbr JOIN deg d ON d.src = snbr.node),
      |m AS (
      |  SELECT sum(CAST(dg AS HUGEINT)) AS n,
      |         sum(CAST(dg AS HUGEINT) * dg) AS s1,
      |         sum(CAST(dg AS HUGEINT) * dg * dg) AS s2
      |  FROM deg)
      |SELECT CAST(CAST(n AS DOUBLE) / 2 AS BIGINT) AS n_edges,
      |       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 4) AS avg_deg,
      |       round((CAST(n AS DOUBLE) * CAST(p AS DOUBLE)
      |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |             / (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 4)
      |         AS assortativity
      |FROM m CROSS JOIN pp""".stripMargin

  // ---------------------------------------------------------------- q207
  /** EWMA control chart (Roberts 1959; the SPC workhorse) over hourly
    * event rates: each (type, hour) cell is compared against the
    * exponentially-weighted mean of its [[EwmaLag]] PRIOR hours and
    * flagged when it escapes the ±3·√ewma Poisson-style control band —
    * the ingest-monitoring tripwire that catches a feed going quiet or a
    * scraper going runaway hours before q147's distributional drift can
    * see it. Complements q108 (global z-score — no time structure) and
    * q175 (sliding mean — uniform weights, no flag).
    *
    * Shape: ONE corpus-scale shuffle (the (type, hour) count); the EWMA
    * is then an exact-offset equi-join — each cell explodes its
    * [[EwmaLag]] lag offsets and joins on (type, hour−j·3600) — so the
    * fan-out is a CONSTANT 24×, never an hours² theta join, and the
    * frame it runs on is time-span-sized (hours × types), not
    * corpus-sized. Weights λ^(j−1) are closed-form per row; both engines
    * fold the identical weighted sums, rounded 4 dp.
    *
    * Hours with NO data in their 24-hour lookback — the first hour of
    * every series, and the restart hours of a feed that went quiet for
    * >24 h — are KEPT with null ewma / null out_of_control (left
    * join): an inner join silently dropped exactly the rows a
    * restart monitor most needs to see; null flags them as
    * "no baseline yet" rather than pretending they're in control. */
  private val EwmaLag = 24
  private val EwmaLambda = 0.7

  private def q207(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val lagged = hourly
      .select(col("event_type"), col("h").as("hp"), col("n").as("np"),
        explode(sequence(lit(1), lit(EwmaLag))).as("j"))
      .withColumn("h", col("hp") + expr("make_interval(0, 0, 0, 0, j, 0, 0)"))
    val ew = lagged.groupBy("event_type", "h")
      .agg((sum(pow(lit(EwmaLambda), col("j") - 1) * col("np"))
        / sum(pow(lit(EwmaLambda), col("j") - 1))).as("ewma"))
    hourly.join(ew, Seq("event_type", "h"), "left")
      .withColumn("dev", col("n") - col("ewma"))
      .select(col("event_type"), col("h").as("hour"), col("n"),
        round(col("ewma"), 4).as("ewma"),
        (abs(col("dev")) > lit(3.0) * sqrt(col("ewma"))).as("out_of_control"))
  }

  private val q207Sql: String =
    s"""$EvCte,
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      |  FROM ev GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, h + to_hours(j) AS h,
      |         $EwmaLambda ** (j - 1) * n AS wn, $EwmaLambda ** (j - 1) AS wt
      |  FROM hourly CROSS JOIN (SELECT unnest(range(1, ${EwmaLag + 1})) AS j)),
      |ew AS (
      |  SELECT event_type, h, sum(wn) / sum(wt) AS ewma
      |  FROM lagged GROUP BY 1, 2)
      |SELECT hourly.event_type, hourly.h AS hour, n, round(ewma, 4) AS ewma,
      |       abs(n - ewma) > 3.0 * sqrt(ewma) AS out_of_control
      |FROM hourly LEFT JOIN ew ON hourly.event_type = ew.event_type
      |                        AND hourly.h = ew.h""".stripMargin

  // ---------------------------------------------------------------- q209
  /** Weekly seasonality profile: the (day-of-week × hour) activity index
    * n(dow,h) / mean-cell-count — the load-shape table that separates
    * "traffic doubled" from "it's Monday 9am" before q207's control chart
    * alarms on it, and the de-seasonalization divisor a forecast
    * baseline starts from. One corpus-scale shuffle (the 168-key cell
    * count); the mean is a single-row broadcast over the cell frame.
    * Day-of-week is normalized to 0=Sunday on both engines (Spark
    * dayofweek() is 1-based, DuckDB's is 0-based). */
  private def q209(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .groupBy((dayofweek(col("ts")) - 1).as("dow"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val mean = cells.agg(avg("n").as("m"))
    cells.crossJoin(broadcast(mean))
      .select(col("dow"), col("hr"), col("n"),
        round(col("n") / col("m"), 4).as("seasonal_index"))
  }

  private val q209Sql: String =
    s"""$EvCte,
      |cells AS (
      |  SELECT CAST(dayofweek(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hr,
      |         count(*) AS n
      |  FROM ev GROUP BY 1, 2),
      |mean AS (SELECT avg(n) AS m FROM cells)
      |SELECT dow, hr, n, round(n / m, 4) AS seasonal_index
      |FROM cells CROSS JOIN mean""".stripMargin

  // ---------------------------------------------------------------- q210
  /** Cohort half-life fit: exponential-decay regression over each
    * cohort's retention curve — ln r(t) ~ slope·t by OLS, half-life =
    * −ln 2 / slope. Turns q110's retention TABLE into one comparable
    * number per cohort (the metric a growth team actually tracks), and
    * joins q189/q190/q208 in the model-fitting family: aggregate to a
    * small curve, fit with regr_*, never a driver loop. Cohorts whose
    * fitted slope isn't a decay (≥ 0, or a single-point curve) are
    * filtered identically on both engines. Shapes: cohort assignment is
    * one min-aggregate; the (cohort, offset) distinct count is the only
    * corpus-scale shuffle (q110's cell frame); the fit aggregates that
    * curve per cohort. */
  /** Unrounded fit frame for BoundarySpec (the q190 float-boundary
    * lesson): per-cohort decay_slope before round-4 and the <0 filter. */
  private[graft] def q210Raw(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val cellsRaw = e.join(cohort, "user_id")
      .withColumn("offset_wk",
        (datediff(col("wk"), col("cohort_wk")) / 7).cast("int"))
      .groupBy("cohort_wk", "offset_wk")
      .agg(countDistinct("user_id").as("n_active"))
    val base = cellsRaw.filter(col("offset_wk") === 0)
      .select(col("cohort_wk"), col("n_active").as("n0"))
    cellsRaw.join(base, "cohort_wk")
      .withColumn("lnr", log(col("n_active").cast("double") / col("n0")))
      .groupBy("cohort_wk")
      .agg(first("n0").as("n0"), count(lit(1)).as("n_weeks"),
        regr_slope(col("lnr"), col("offset_wk")).as("decay_slope"))
  }

  private def q210(s: SparkSession, d: String): DataFrame =
    q210Raw(s, d)
      .withColumn("decay_slope", round(col("decay_slope"), 4))
      .filter(col("decay_slope") < 0)
      .withColumn("half_life_wk",
        round(lit(-math.log(2.0)) / col("decay_slope"), 4))

  private val q210Sql: String =
    s"""$EvCte,
      |e AS (SELECT user_id, date_trunc('week', ts) AS wk FROM ev),
      |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
      |cells AS (
      |  SELECT cohort_wk, CAST(date_diff('day', cohort_wk, wk) / 7 AS INT)
      |           AS offset_wk,
      |         count(DISTINCT user_id) AS n_active
      |  FROM e JOIN cohort USING (user_id) GROUP BY 1, 2),
      |base AS (SELECT cohort_wk, n_active AS n0 FROM cells WHERE offset_wk = 0),
      |fit AS (
      |  SELECT cohort_wk, any_value(n0) AS n0, count(*) AS n_weeks,
      |         round(regr_slope(ln(n_active * 1.0 / n0), offset_wk), 4)
      |           AS decay_slope
      |  FROM cells JOIN base USING (cohort_wk)
      |  GROUP BY 1)
      |SELECT cohort_wk, n0, n_weeks, decay_slope,
      |       round(${-math.log(2.0)} / decay_slope, 4) AS half_life_wk
      |FROM fit WHERE decay_slope < 0""".stripMargin

  // ---------------------------------------------------------------- q211
  /** Join-key skew report — the PLANNING diagnostic behind every salting
    * decision (q150) and AQE skew-join threshold: for each candidate join
    * key, the frequency-distribution statistics that predict whether one
    * reducer will own the join. Deliberately SORT-FREE so the diagnostic
    * itself scales: Herfindahl index Σ(share²) and top-1 share need no
    * rank over the key space (a global frequency sort is exactly the
    * scale-killer this report exists to prevent); the p50/p99 frequency
    * quantiles fold with exact `percentile` over the key-count frame.
    * skew_ratio = p99/p50 ≳ 10 or top1_share ≫ 1/n_keys is the "salt
    * this key" tripwire.
    *
    * Shape per key: one keyed count (the only corpus-scale shuffle) and
    * one fold over the key-count frame; the three audited keys union into
    * a 3-row report. */
  private def q211(s: SparkSession, d: String): DataFrame = {
    def report(df: DataFrame, key: String, label: String): DataFrame = {
      val counts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      counts.agg(
        lit(label).as("join_key"),
        count(lit(1)).as("n_keys"),
        sum("c").as("n_rows"),
        // both HHI factors go through double BEFORE the product: a BIGINT
        // sum(c)*sum(c) silently overflows past ~3e9 rows (the same
        // overflow class the q204 AUC denominator guards against)
        round(sum(col("c").cast("double") * col("c"))
          / (sum(col("c")).cast("double") * sum("c")), 6).as("hhi"),
        round(max("c").cast("double") / sum("c"), 6).as("top1_share"),
        expr("percentile(c, 0.5)").as("p50"),
        expr("percentile(c, 0.99)").as("p99"),
        round(expr("percentile(c, 0.99)") / expr("percentile(c, 0.5)"), 4)
          .as("skew_ratio"))
    }
    report(Tables.orders(s, d), "o_custkey", "orders.o_custkey")
      .unionAll(report(Tables.lineitem(s, d), "l_partkey", "lineitem.l_partkey"))
      .unionAll(report(Tables.lineitem(s, d), "l_suppkey", "lineitem.l_suppkey"))
  }

  private val q211Sql: String = {
    def one(table: String, key: String) =
      s"""SELECT '$table.$key' AS join_key, count(*) AS n_keys,
        |       CAST(sum(c) AS BIGINT) AS n_rows,
        |       round(sum(CAST(c AS DOUBLE) * c)
        |             / (CAST(sum(c) AS DOUBLE) * sum(c)), 6) AS hhi,
        |       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top1_share,
        |       percentile_cont(0.5) WITHIN GROUP (ORDER BY c) AS p50,
        |       percentile_cont(0.99) WITHIN GROUP (ORDER BY c) AS p99,
        |       round(percentile_cont(0.99) WITHIN GROUP (ORDER BY c)
        |             / percentile_cont(0.5) WITHIN GROUP (ORDER BY c), 4)
        |         AS skew_ratio
        |FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1)""".stripMargin
    s"""${one("orders", "o_custkey")}
      |UNION ALL
      |${one("lineitem", "l_partkey")}
      |UNION ALL
      |${one("lineitem", "l_suppkey")}""".stripMargin
  }

  // ---------------------------------------------------------------- q215
  /** One-sided CUSUM change detection (Page 1954) on daily event rates:
    * S_t = max(0, S_{t−1} + (x_t − k)) with drift allowance k = mean +
    * [[CusumSlack]]·σ, alarm flag at S_t > [[CusumH]]·σ — the sequential
    * detector that catches a sustained small shift q207's per-point EWMA
    * band misses. The recursion LOOKS stream-only, but it has a closed
    * windowed form: S_t = C_t − min(0, min_{j≤t} C_j) over the cumulative
    * sum C of (x − k) — so it runs as two running-window passes over the
    * per-type DAILY frame (time-span-sized, windows keyed by event_type),
    * no recursion, no state machine. The reference-stat side table is one
    * aggregate (broadcast); output flags the alarm days. */
  private val CusumSlack = 0.5
  private val CusumH = 4.0

  private def q215(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(avg("n").as("mu"), stddev_pop("n").as("sigma"))
    val wcum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(stats), "event_type")
      .withColumn("c", sum(col("n") - (col("mu") + lit(CusumSlack) * col("sigma"))).over(wcum))
      // the prefix-min must include the empty prefix (C₀ = 0), else a
      // series that starts above the allowance never accumulates
      .withColumn("cusum",
        round(col("c") - least(lit(0.0), min("c").over(wcum)), 4))
      .select(col("event_type"), col("day"), col("n"), col("cusum"),
        round(lit(CusumH) * col("sigma"), 4).as("alarm_threshold"),
        (col("cusum") > lit(CusumH) * col("sigma")).as("alarm"))
  }

  private val q215Sql: String =
    s"""$EvCte,
      |daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      |  FROM ev GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sigma
      |  FROM daily GROUP BY 1),
      |cum AS (
      |  SELECT daily.event_type, day, n, sigma,
      |         sum(n - (mu + $CusumSlack * sigma)) OVER (
      |           PARTITION BY daily.event_type ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM daily JOIN stats USING (event_type)),
      |cs AS (
      |  SELECT event_type, day, n, sigma,
      |         round(c - least(0.0, min(c) OVER (
      |           PARTITION BY event_type ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) AS cusum
      |  FROM cum)
      |SELECT event_type, day, n, cusum,
      |       round($CusumH * sigma, 4) AS alarm_threshold,
      |       cusum > $CusumH * sigma AS alarm
      |FROM cs""".stripMargin

  // ---------------------------------------------------------------- q216
  /** Population Stability Index (the credit-scoring drift standard;
    * Karakoulas 2004 formalizes the folklore) of the event-payload
    * distribution, week over baseline week: PSI = Σ_b (p_b − q_b) ·
    * ln(p_b / q_b) over [[PsiBuckets]] value buckets of props→k, with
    * add-one smoothing so empty buckets stay finite on both engines.
    * PSI < 0.1 stable / 0.1–0.2 drifting / > 0.2 action — the
    * feature-level drift dial to q147's corpus-level divergence and
    * q215's rate-level CUSUM; this is the one model-monitoring teams
    * actually page on. JSON extraction is a codegen'd map
    * (get_json_object); the only corpus-scale shuffle is the
    * (week, bucket) count; everything after runs on the weeks×buckets
    * grid (time-span × constant). */
  private val PsiBuckets = 10

  private def q216(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("week", col("ts")).as("wk"),
        least(floor(get_json_object(col("props"), "$.k").cast("int")
            / (100 / PsiBuckets)), lit((PsiBuckets - 1).toLong))
          .cast("int").as("bucket"))
    val cells = ev.groupBy("wk", "bucket").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("wk").agg(sum("n").as("tw"))
    val grid = tot.crossJoin(broadcast(
        s.range(0, PsiBuckets).select(col("id").cast("int").as("bucket"))))
      .join(cells, Seq("wk", "bucket"), "left").na.fill(0L, Seq("n"))
      .withColumn("p", (col("n") + 1).cast("double") / (col("tw") + PsiBuckets))
    val base = grid.crossJoin(broadcast(tot.agg(min("wk").as("wk0"))))
      .filter(col("wk") === col("wk0"))
      .select(col("bucket"), col("p").as("q"))
    grid.join(broadcast(base), "bucket")
      .groupBy("wk")
      .agg(sum("n").cast("long").as("n_events"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"))
      .withColumn("drift_band",
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.2, "drifting").otherwise("action"))
  }

  private val q216Sql: String =
    s"""$EvCte,
      |e AS (
      |  SELECT date_trunc('week', ts) AS wk,
      |         CAST(least(floor(CAST(props->>'$$.k' AS INT)
      |                / ${100 / PsiBuckets}.0), ${PsiBuckets - 1}) AS INT)
      |           AS bucket
      |  FROM ev),
      |cells AS (SELECT wk, bucket, count(*) AS n FROM e GROUP BY 1, 2),
      |tot AS (SELECT wk, CAST(sum(n) AS BIGINT) AS tw FROM cells GROUP BY 1),
      |grid AS (
      |  SELECT tot.wk, g.bucket, tot.tw, COALESCE(cells.n, 0) AS n,
      |         (COALESCE(cells.n, 0) + 1) * 1.0 / (tot.tw + $PsiBuckets) AS p
      |  FROM tot
      |  CROSS JOIN (SELECT CAST(unnest(range($PsiBuckets)) AS INT) AS bucket) g
      |  LEFT JOIN cells ON cells.wk = tot.wk AND cells.bucket = g.bucket),
      |base AS (
      |  SELECT bucket, p AS q FROM grid
      |  WHERE wk = (SELECT min(wk) FROM tot)),
      |psi AS (
      |  SELECT wk, CAST(sum(n) AS BIGINT) AS n_events,
      |         round(sum((p - q) * ln(p / q)), 4) AS psi
      |  FROM grid JOIN base USING (bucket)
      |  GROUP BY 1)
      |SELECT wk, n_events, psi,
      |       CASE WHEN psi < 0.1 THEN 'stable'
      |            WHEN psi < 0.2 THEN 'drifting' ELSE 'action' END AS drift_band
      |FROM psi""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q108_zscore_outliers", q108, Some(q108Sql)),
    GraftQuery("q109_funnel", q109, Some(q109Sql)),
    GraftQuery("q110_cohort_retention", q110, Some(q110Sql)),
    GraftQuery("q111_event_transitions", q111, Some(q111Sql)),
    GraftQuery("q113_fuzzy_match", q113, Some(q113Sql)),
    GraftQuery("q116_approx_top_k", q116, Some(q116Sql)),
    GraftQuery("q121_dq_audit", q121, Some(q121Sql)),
    GraftQuery("q123_winsorize", q123, Some(q123Sql)),
    GraftQuery("q161_k_anonymity", q161, Some(q161Sql)),
    GraftQuery("q164_mad_outliers", q164, Some(q164Sql)),
    GraftQuery("q165_decay_score", q165, Some(q165Sql)),
    GraftQuery("q167_pagerank", q167, Some(q167Sql)),
    GraftQuery("q175_sliding_window", q175, Some(q175Sql)),
    GraftQuery("q182_label_prop", q182, Some(q182Sql)),
    GraftQuery("q182b_label_prop_copart", q182b, Some(q182Sql)),
    GraftQuery("q185_triangle_count", q185, Some(q185Sql)),
    GraftQuery("q186_basket_rules", q186, Some(q186Sql)),
    GraftQuery("q191_kcore", q191, Some(q191Sql)),
    GraftQuery("q195_deepwalk", q195, Some(q195Sql)),
    GraftQuery("q201_hits", q201, Some(q201Sql)),
    GraftQuery("q202_benford", q202, Some(q202Sql)),
    GraftQuery("q203_assortativity", q203, Some(q203Sql)),
    GraftQuery("q203b_assort_bucketed", q203b, Some(q203bSql)),
    GraftQuery("q207_ewma_chart", q207, Some(q207Sql)),
    GraftQuery("q209_seasonality", q209, Some(q209Sql)),
    GraftQuery("q210_churn_halflife", q210, Some(q210Sql)),
    GraftQuery("q211_skew_report", q211, Some(q211Sql)),
    GraftQuery("q215_cusum", q215, Some(q215Sql)),
    GraftQuery("q216_psi", q216, Some(q216Sql)))
}
