package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Preference/eval/privacy tier — the round-10 additions a training-data
  * platform grows once the corpus operators exist: pairwise-preference
  * aggregation and Bradley–Terry ranking (the RLHF data shape), classifier
  * calibration (reliability diagram + ECE), split-conformal coverage (the
  * distribution-free eval band), and a differentially-private count
  * release with per-user contribution bounding. Every corpus-scale pass
  * is a keyed aggregate; everything after runs on constant-size frames
  * (pairs = types², bins = 10, cells = types × weeks), so the shapes
  * scale with key cardinality, not event volume.
  */
object Relational12 {

  /** DuckDB-side CTE normalizing the ns timestamp — must match
    * `Tables.events`'s µs floor (see Relational.q20). */
  private val EvCte = "WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

  /** Tie-safe rounding (numeric-compare contract class 2, GraftQuery doc):
    * both engines compute the same IEEE ops on the same double. */
  private def floor4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0

  // ---------------------------------------------------------------- q217
  /** Pairwise preference construction — the comparison matrix RLHF-style
    * ranking starts from. A "judge" here is a user: for each user and each
    * unordered pair of event types, the type the user triggered more often
    * wins the comparison (equal counts = tie). Output per pair: wins each
    * way, ties, and the comparison count — all exact integers, so the
    * DuckDB oracle is a full hash gate.
    *
    * Scale shape: ONE corpus-scale shuffle (the (user, type) count, which
    * Spark partial-aggregates map-side), then the per-user type array is
    * collected (≤ |types| entries, a bounded constant) and pairs are
    * minted MAP-SIDE by a double explode — no self-join of the count
    * table on user_id, no second corpus shuffle. The pair frame is
    * |types|² rows regardless of event volume. */
  private def q217(s: SparkSession, d: String): DataFrame =
    prefPairsFromCounts(
      Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c")))

  /** Pair minting from a final (user_id, event_type, c) count frame —
    * shared with the streaming twin (q217c), which maintains the SAME
    * count frame through the state store and hands its drained final
    * counts here. */
  private[graft] def prefPairsFromCounts(counts: DataFrame): DataFrame = {
    val perUser = counts.groupBy("user_id")
      .agg(collect_list(struct(col("event_type").as("t"), col("c").as("c"))).as("ts"))
    perUser
      .select(col("user_id"), explode(col("ts")).as("x"), col("ts"))
      .select(col("user_id"), col("x"), explode(col("ts")).as("y"))
      .filter(col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("item_a"), col("y.t").as("item_b"))
      .agg(
        sum(when(col("x.c") > col("y.c"), 1L).otherwise(0L)).as("wins_a"),
        sum(when(col("y.c") > col("x.c"), 1L).otherwise(0L)).as("wins_b"),
        sum(when(col("x.c") === col("y.c"), 1L).otherwise(0L)).as("ties"),
        count(lit(1)).as("n_users"))
  }

  private[graft] val q217Sql: String =
    s"""$EvCte,
      |c AS (SELECT user_id, event_type, count(*) AS c FROM ev GROUP BY 1, 2)
      |SELECT a.event_type AS item_a, b.event_type AS item_b,
      |  CAST(sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
      |  CAST(sum(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS BIGINT) AS wins_b,
      |  CAST(sum(CASE WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT) AS ties,
      |  count(*) AS n_users
      |FROM c a JOIN c b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q217b
  /** Bradley–Terry ratings over q217's comparison matrix via the MM
    * algorithm (Bradley & Terry 1952; Hunter 2004, Ann. Stat. 32(1)):
    * p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j), geometric-mean-normalized
    * each sweep, ties credited half a win to each side. 50 fixed sweeps
    * (the sf0.01 matrix converges to 6 decimals by sweep 20).
    *
    * Driver-side BY DESIGN, not as a scale compromise (the q190b
    * precedent): the distributed work is q217's single corpus shuffle;
    * the pair matrix it leaves is |types|² rows — collecting it is O(1)
    * bounded, and the MM fold runs in ascending item order, a fixed
    * summation order no partition layout can perturb. A distributed
    * fixpoint over a constant-size frame would only REINTRODUCE
    * layout-dependent float fold order. Ratings are engine floats →
    * golden-pinned after the 2/4/8-CPU bit-stability check
    * (tools/pin_goldens.py), the repo's established mechanism; the
    * integer comparison matrix keeps its live DuckDB oracle in q217. */
  private val BtSweeps = 50

  private def q217b(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = q217(s, d)
      .select("item_a", "item_b", "wins_a", "wins_b", "ties")
      .as[(String, String, Long, Long, Long)]
      .collect()                        // |types|² rows by construction
      .sortBy(p => (p._1, p._2))
    val items = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val idx = items.zipWithIndex.toMap
    val k = items.length
    val wins = Array.fill(k)(0.0)
    val nCmp = Array.fill(k, k)(0.0)
    pairs.foreach { case (a, b, wa, wb, t) =>
      val (i, j) = (idx(a), idx(b))
      wins(i) += wa + 0.5 * t
      wins(j) += wb + 0.5 * t
      nCmp(i)(j) += wa + wb + t
      nCmp(j)(i) += wa + wb + t
    }
    var p = Array.fill(k)(1.0)
    for (_ <- 1 to BtSweeps) {
      val next = Array.tabulate(k) { i =>
        var denom = 0.0
        var j = 0
        while (j < k) {                 // fixed ascending-j fold order
          if (j != i && nCmp(i)(j) > 0) denom += nCmp(i)(j) / (p(i) + p(j))
          j += 1
        }
        if (denom > 0) math.max(wins(i) / denom, 1e-12) else 1e-12
      }
      val logGm = next.foldLeft(0.0)((acc, x) => acc + math.log(x)) / k
      p = next.map(_ / math.exp(logGm))
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val rankOf = items.indices.sortBy(i => (-p(i), items(i))).zipWithIndex
      .map { case (i, r) => i -> (r + 1L) }.toMap
    items.indices.map { i =>
      val total = nCmp(i).sum
      (items(i), r4(wins(i)), total.toLong, r4(p(i)), rankOf(i))
    }.toDF("item", "wins", "n_comparisons", "rating", "rank")
  }

  // ---------------------------------------------------------------- q218
  /** Reliability diagram + Expected Calibration Error (Naeini et al. 2015;
    * Guo et al. 2017) for a document-quality classifier: a deterministic
    * logistic score over (type/token ratio, top-token share) binned into
    * 10 confidence buckets, against the exact integer rule label
    * (top_tf·5 < n_tokens ∧ 5·n_unique ≥ 2·n_tokens). The monitoring dial
    * a quality-filter pipeline (q134/q179) pages on when the filter's
    * scores drift away from its realized precision.
    *
    * Exactness discipline (a float rounded on a boundary flips its hash
    * on one last ulp): the per-doc score is floor-spelled to an INTEGER
    * milli-score s10k once, and every bin statistic is then derived from exact BIGINT
    * sums — in particular n_b·|acc_b − conf_b| = |10⁴·L_b − S_b| / 10⁴
    * exactly, so the ECE numerator Σ_b |10⁴·L_b − S_b| is an exact
    * integer and the only float ops are single final divisions both
    * engines perform identically. No multi-term float accumulation
    * anywhere → no cross-engine fold-order exposure.
    *
    * Scale: one (doc, word) count shuffle feeds per-doc features
    * (map-side partial agg), then one 10-row keyed aggregate; the ECE
    * attach is a 1×1 broadcast cross join onto ≤10 rows. */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val feat = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_unique"),
        max("tf").as("top_tf"))
    val z = lit(6.0) * (col("n_unique").cast("double") / col("n_tokens") - 0.5) -
      lit(12.0) * (col("top_tf").cast("double") / col("n_tokens") - 0.1)
    val scored = feat
      .withColumn("s10k",
        floor(lit(1.0) / (lit(1.0) + exp(-z)) * 10000 + 0.5).cast("long"))
      .withColumn("label",
        when(col("top_tf") * 5 < col("n_tokens") &&
          col("n_unique") * 5 >= col("n_tokens") * 2, 1L).otherwise(0L))
    val binned = scored
      .groupBy(least(floor(col("s10k") / 1000), lit(9L)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum("s10k").as("sum_s10k"),
        sum("label").as("sum_label"),
        abs(lit(10000L) * sum("label") - sum("s10k")).as("abs_gap10k"))
    val tot = binned.agg(sum("n").as("nn"), sum("abs_gap10k").as("gap"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        floor4(col("sum_s10k") / (lit(10000.0) * col("n"))).as("conf"),
        floor4(col("sum_label").cast("double") / col("n")).as("acc"),
        floor4(col("abs_gap10k") / (lit(10000.0) * col("n"))).as("bin_gap"),
        floor4(col("gap") / (lit(10000.0) * col("nn"))).as("ece"))
  }

  private val q218Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
      |), feat AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |         count(*) AS n_unique, max(tf) AS top_tf
      |  FROM tf GROUP BY doc_id
      |), scored AS (
      |  SELECT doc_id,
      |    CAST(floor(1.0 / (1.0 + exp(-(6.0 * (CAST(n_unique AS DOUBLE) / n_tokens - 0.5)
      |        - 12.0 * (CAST(top_tf AS DOUBLE) / n_tokens - 0.1)))) * 10000 + 0.5)
      |      AS BIGINT) AS s10k,
      |    CASE WHEN top_tf * 5 < n_tokens AND n_unique * 5 >= n_tokens * 2
      |         THEN 1 ELSE 0 END AS label
      |  FROM feat
      |), binned AS (
      |  SELECT CAST(least(s10k // 1000, 9) AS INT) AS bin,
      |         count(*) AS n, CAST(sum(s10k) AS BIGINT) AS sum_s10k,
      |         CAST(sum(label) AS BIGINT) AS sum_label,
      |         CAST(abs(10000 * sum(label) - sum(s10k)) AS BIGINT) AS abs_gap10k
      |  FROM scored GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(abs_gap10k) AS BIGINT) AS gap
      |  FROM binned)
      |SELECT bin, n,
      |  floor(sum_s10k / (10000.0 * n) * 10000 + 0.5) / 10000.0 AS conf,
      |  floor(sum_label * 1.0 / n * 10000 + 0.5) / 10000.0 AS acc,
      |  floor(abs_gap10k / (10000.0 * n) * 10000 + 0.5) / 10000.0 AS bin_gap,
      |  floor(gap / (10000.0 * nn) * 10000 + 0.5) / 10000.0 AS ece
      |FROM binned CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------- q219
  /** Split-conformal prediction coverage (Vovk et al. 2005; Angelopoulos &
    * Bates 2023 §1): an md5-replayable 50/50 calibration/test split per
    * event, a per-type point predictor fit on the calibration half, the
    * conformal quantile q̂ = the ⌈(n+1)·0.9⌉-th smallest absolute residual
    * (an ORDER STATISTIC, not an interpolated percentile — the finite-
    * sample guarantee needs exactly this), and the realized test coverage,
    * which the theorem pins to ≥ 0.90 regardless of the value
    * distribution. The distribution-free eval band q204's AUC and q207's
    * σ-bands can't give.
    *
    * Exactness: values quantize to integer cents once (v100); the
    * predictor is the exact ratio Σv100/n of two BIGINTs, so every
    * residual is |int − int/int| — a single-expression double both
    * engines compute bit-identically, and the q̂ pick and coverage counts
    * compare those identical doubles (ties broken by event_id). Output
    * ratios floor-spelled.
    *
    * Scale: two keyed aggregates + one broadcast of the per-type model;
    * the q̂ order statistic uses a per-type sort window — honest for exact
    * conformal; at 100 TB the calibration half is subsampled or the
    * quantile swaps to approx_percentile with a documented (ε-inflated)
    * miscoverage bound, but the EXACT spelling is what an oracle can
    * gate. */
  // α = 0.1; the rank spells ceil((1−α)(n+1)) as the exact-integer
  // (9(n+1)+9) div 10 in BOTH engines — no float α appears in the plan.

  private def q219(s: SparkSession, d: String): DataFrame = {
    val quantized = Tables.events(s, d).select(
      col("event_id"), col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("v100"),
      substring(md5(concat_ws("|", lit("conf"), col("event_id"))), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7").as("is_calib"))
    val model = quantized.filter(col("is_calib"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_calib"), sum("v100").as("sum_v100"))
    val resid = quantized.join(broadcast(model), "event_type")
      .withColumn("r",
        abs(col("v100") - col("sum_v100").cast("double") / col("n_calib")))
    val qhat = resid.filter(col("is_calib"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("r"), col("event_id"))).cast("long"))
      // exact-integer ceil of (1−α)(n+1) = (9(n+1)+9) div 10 — the float
      // spelling ceil((n+1)*0.9) overshoots by one at exact multiples
      // (10*0.9 = 9.000…002 in IEEE) and can silently drop the type.
      .filter(col("rn") === expr("CAST(((n_calib + 1) * 9 + 9) DIV 10 AS BIGINT)"))
      .select(col("event_type"), col("n_calib"), col("r").as("qh"))
    resid.filter(!col("is_calib")).drop("n_calib")
      .join(broadcast(qhat), "event_type")
      .groupBy(col("event_type"), col("n_calib"), col("qh"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("qh"), 1L).otherwise(0L)).as("covered"))
      .select(col("event_type"), col("n_calib"), col("n_test"),
        floor4(col("qh") / 100.0).as("qhat"), col("covered"),
        floor4(col("covered").cast("double") / col("n_test")).as("coverage"),
        floor4(col("qh") * 2 / 100.0).as("mean_width"))
  }

  private val q219Sql: String =
    s"""$EvCte,
      |q AS (
      |  SELECT event_id, event_type,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100,
      |         substring(md5('conf|' || event_id), 1, 1)
      |           IN ('0','1','2','3','4','5','6','7') AS is_calib
      |  FROM ev),
      |model AS (
      |  SELECT event_type, count(*) AS n_calib,
      |         CAST(sum(v100) AS BIGINT) AS sum_v100
      |  FROM q WHERE is_calib GROUP BY 1),
      |resid AS (
      |  SELECT q.event_type, q.event_id, q.is_calib, m.n_calib,
      |         abs(q.v100 - CAST(m.sum_v100 AS DOUBLE) / m.n_calib) AS r
      |  FROM q JOIN model m USING (event_type)),
      |ranked AS (
      |  SELECT event_type, n_calib, r,
      |         row_number() OVER (PARTITION BY event_type ORDER BY r, event_id) AS rn
      |  FROM resid WHERE is_calib),
      |qhat AS (
      |  SELECT event_type, n_calib, r AS qh
      |  FROM ranked WHERE rn = ((n_calib + 1) * 9 + 9) // 10),
      |test AS (
      |  SELECT r.event_type, count(*) AS n_test,
      |         CAST(sum(CASE WHEN r.r <= q2.qh THEN 1 ELSE 0 END) AS BIGINT) AS covered
      |  FROM resid r JOIN qhat q2 USING (event_type)
      |  WHERE NOT r.is_calib GROUP BY 1)
      |SELECT t.event_type, q2.n_calib, t.n_test,
      |       floor(q2.qh / 100.0 * 10000 + 0.5) / 10000.0 AS qhat,
      |       t.covered,
      |       floor(t.covered * 1.0 / t.n_test * 10000 + 0.5) / 10000.0 AS coverage,
      |       floor(q2.qh * 2 / 100.0 * 10000 + 0.5) / 10000.0 AS mean_width
      |FROM test t JOIN qhat q2 USING (event_type)""".stripMargin

  // ---------------------------------------------------------------- q220
  /** Differentially-private weekly event-count release (Dwork et al. 2006
    * Laplace mechanism), with the step releases actually require and toy
    * DP demos skip: PER-USER CONTRIBUTION BOUNDING. Each user's count in
    * a (type, week) cell is clamped at [[DpCap]] BEFORE summation, so one
    * user changes any release by ≤ DpCap and Laplace(DpCap/ε) noise gives
    * user-level ε-DP per cell. Companion to q161's k-anonymity and q99's
    * redaction on the privacy shelf.
    *
    * TWO noise modes, registered separately so the name never claims a
    * guarantee the draw voids:
    *  - q220_dp_counts_replay — md5-class REPLAYABLE draw (the q60/q163
    *    testability precedent): uniform u from a product of two
    *    affine-in-(week, type) modular forms — a single affine form strides u by a constant per week and the
    *    noise sequence lattices — inverted through the Laplace CDF.
    *    Deterministic ⇒ oracle-gateable, and therefore NOT private
    *    against an adversary who has the code (they subtract the noise
    *    exactly). It is the mechanism-shape test harness, not a release.
    *  - q220b_dp_counts_secure — the PRODUCTION path: the same clamp →
    *    sum → Laplace(C/ε) pipeline with u drawn from
    *    `java.security.SecureRandom` (nondeterministic UDF; driver gate
    *    is rows-only by design, PrefEvalSpec gates the draw's
    *    distribution and run-to-run freshness instead). n_raw/n_capped
    *    stay exact BIGINTs (audit columns; a real release publishes only
    *    n_noisy — and drops the audit columns).
    *
    * Scale: two keyed aggregates — (type, week, user) clamp then
    * (type, week) sum, both map-side-combining; the noise attach is pure
    * map work on the types × weeks release frame. */
  private val DpCap = 5L
  private val DpEps = 1.0

  /** Laplace(b) from a thread-local CSPRNG — the production draw.
    * Inverse-CDF over SecureRandom.nextDouble; marked nondeterministic
    * so Catalyst never collapses, reorders past barriers, or re-executes
    * it under the assumption of purity. */
  private lazy val secureLaplace = udf { (b: Double) =>
    val u = SecureNoise.rng.get().nextDouble() - 0.5
    -b * math.signum(u) * math.log(1.0 - 2.0 * math.abs(u))
  }.asNondeterministic()

  private def q220(s: SparkSession, d: String, secure: Boolean = false): DataFrame = {
    val P = 1000003L
    val capped = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("wk"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type", "wk")
      .agg(sum("c").as("n_raw"), sum(least(col("c"), lit(DpCap))).as("n_capped"))
    val w = floor(unix_timestamp(col("wk")) / 604800).cast("long")
    val a = ascii(substring(col("event_type"), 1, 1)).cast("long")
    val u = ((((w * 131 + a) % P) * ((w * 9176 + a * 31 + 7) % P)) % P + lit(0.5)) / P.toDouble
    val lap =
      if (secure) secureLaplace(lit(DpCap.toDouble / DpEps))
      else lit(-DpCap.toDouble / DpEps) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    capped
      // lap_raw in its OWN projection: a nondeterministic expression is
      // never inlined by CollapseProject, so noise and n_noisy are
      // guaranteed to see the SAME draw (two inline references to the
      // secure UDF would draw twice and the audit column would lie)
      .withColumn("lap_raw", lap)
      .withColumn("noise", floor4(col("lap_raw")))
      .withColumn("n_noisy", floor4(col("n_capped") + col("lap_raw")))
      .select("event_type", "wk", "n_raw", "n_capped", "noise", "n_noisy")
  }

  private val q220Sql: String =
    s"""$EvCte,
      |cell AS (
      |  SELECT event_type, date_trunc('week', ts) AS wk, user_id, count(*) AS c
      |  FROM ev GROUP BY 1, 2, 3),
      |capped AS (
      |  SELECT event_type, wk,
      |         CAST(sum(c) AS BIGINT) AS n_raw,
      |         CAST(sum(least(c, $DpCap)) AS BIGINT) AS n_capped
      |  FROM cell GROUP BY 1, 2),
      |keyed AS (
      |  SELECT event_type, wk, n_raw, n_capped,
      |         CAST(floor(CAST(epoch(wk) AS BIGINT) / 604800.0) AS BIGINT) AS w,
      |         CAST(ascii(substring(event_type, 1, 1)) AS BIGINT) AS a
      |  FROM capped),
      |noised AS (
      |  SELECT event_type, wk, n_raw, n_capped,
      |         ((((w * 131 + a) % 1000003) * ((w * 9176 + a * 31 + 7) % 1000003))
      |            % 1000003 + 0.5) / 1000003.0 AS u
      |  FROM keyed)
      |SELECT event_type, wk, n_raw, n_capped,
      |  floor(-(${DpCap}.0 / $DpEps) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
      |        * 10000 + 0.5) / 10000.0 AS noise,
      |  floor((n_capped - (${DpCap}.0 / $DpEps) * sign(u - 0.5)
      |         * ln(1.0 - 2.0 * abs(u - 0.5))) * 10000 + 0.5) / 10000.0 AS n_noisy
      |FROM noised""".stripMargin

  // ---------------------------------------------------------------- q221
  /** l-diversity audit (Machanavajjhala et al. 2007) — the attack
    * k-anonymity (q161) misses: a group can be k-large yet expose its
    * sensitive attribute if every member SHARES it (homogeneity). Per
    * quasi-identifier group (nation × market segment): size, distinct
    * sensitive values (account-balance band), and entropy l-diversity
    * exp(H) — the effective number of sensitive values an attacker must
    * distinguish — flagged against [[LDiv]]. The sensitive band is
    * derived through exact integer cents (floor once), so distinct counts
    * are engine-exact; entropy uses exact count ratios with the q89
    * word-entropy rounding discipline.
    *
    * Scale: one keyed aggregate to the (QI, band) cell frame, one more to
    * the QI frame — cells ≤ |QI| × |bands|, both map-side combining. */
  private val LDiv = 3

  private def q221(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(floor(col("c_acctbal") * 100 + 0.5) / 200000).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("cnt"))
    val p = col("cnt").cast("double") /
      sum("cnt").over(Window.partitionBy("c_nationkey", "c_mktsegment"))
    cells.withColumn("term", -p * log(p))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("cnt").as("n"), count(lit(1)).as("l_distinct"),
        sum("term").as("h"))
      // the flag compares the ROUNDED entropy: a uniform l-cell group
      // computes exp(H) = l - (a few ulps) (ln/exp round-trip), so a
      // raw-value >= l test flips on float noise — and the rounded value
      // is the one both engines share bit-identically
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"), col("l_distinct"),
        floor4(exp(col("h"))).as("entropy_l"),
        (col("l_distinct") >= LDiv && floor4(exp(col("h"))) >= LDiv).as("l_diverse"))
  }

  private val q221Sql: String =
    s"""WITH cells AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(floor(floor(c_acctbal * 100 + 0.5) / 200000) AS BIGINT) AS bal_band,
      |         count(*) AS cnt
      |  FROM customer GROUP BY 1, 2, 3),
      |terms AS (
      |  SELECT c_nationkey, c_mktsegment, cnt,
      |         -(cnt * 1.0 / sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment))
      |           * ln(cnt * 1.0 / sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment))
      |           AS term
      |  FROM cells),
      |g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(sum(cnt) AS BIGINT) AS n,
      |         count(*) AS l_distinct,
      |         sum(term) AS h
      |  FROM terms GROUP BY 1, 2)
      |SELECT c_nationkey, c_mktsegment, n, l_distinct,
      |       floor(exp(h) * 10000 + 0.5) / 10000.0 AS entropy_l,
      |       (l_distinct >= $LDiv
      |        AND floor(exp(h) * 10000 + 0.5) / 10000.0 >= $LDiv) AS l_diverse
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q222
  /** Sequential probability ratio test (Wald 1945) on daily conversion —
    * the always-valid sequential monitor an experimentation platform runs
    * instead of a fixed-horizon z-test (peeking at q207's EWMA chart
    * inflates false positives; the SPRT's error bounds hold at EVERY
    * look). Per event type: a "conversion" is value > [[SprtCut]]; the
    * cumulative log-likelihood ratio of H1: p=[[SprtP1]] vs H0:
    * p=[[SprtP0]] is LLR_t = k_t·ln(p1/p0) + (n_t−k_t)·ln((1−p1)/(1−p0)),
    * compared to the Wald bounds ±ln((1−β)/α) at α=β=0.05; the verdict
    * LOCKS at the first crossing (a sequential test stops — later
    * re-crossings are not evidence).
    *
    * Exactness: k_t and n_t are exact cumulative BIGINTs (prefix-sum
    * windows over the per-day frame — the q215 time-span-sized-frame
    * argument), the conversion predicate compares exact cents, and the
    * LLR is exact-int × identical-literal logs — a single-expression
    * double both engines compute bit-identically, floor-spelled on
    * output.
    *
    * Scale: one corpus-scale keyed aggregate to the (type, day) frame;
    * everything after is windows over time-span-sized data. */
  private val SprtCut = 100.0
  private val SprtP0 = 0.10
  private val SprtP1 = 0.15
  private val SprtAlpha = 0.05

  private def q222(s: SparkSession, d: String): DataFrame = {
    val upper = math.log((1 - SprtAlpha) / SprtAlpha)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(floor(col("value") * 100 + 0.5) > (SprtCut * 100).toLong, 1L)
          .otherwise(0L)).as("k"))
    val wcum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("n_cum", sum("n").over(wcum))
      .withColumn("k_cum", sum("k").over(wcum))
      .withColumn("llr",
        col("k_cum") * math.log(SprtP1 / SprtP0) +
          (col("n_cum") - col("k_cum")) * math.log((1 - SprtP1) / (1 - SprtP0)))
      .withColumn("crossed",
        when(col("llr") >= upper, 1).when(col("llr") <= -upper, -1).otherwise(0))
    val decision = cum.filter(col("crossed") =!= 0)
      .groupBy("event_type")
      .agg(min("day").as("dec_day"))
      .join(cum.select(col("event_type"), col("day").as("dec_day"),
        col("crossed").as("dec_dir")), Seq("event_type", "dec_day"))
    cum.join(broadcast(decision), Seq("event_type"), "left")
      .select(col("event_type"), col("day"), col("n_cum"), col("k_cum"),
        floor4(col("llr")).as("llr"),
        when(col("dec_day").isNull || col("day") < col("dec_day"), "continue")
          .when(col("dec_dir") === 1, "accept_h1").otherwise("accept_h0")
          .as("verdict"))
  }

  private val q222Sql: String = {
    val upper = math.log((1 - SprtAlpha) / SprtAlpha)
    s"""$EvCte,
      |daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n,
      |         sum(CASE WHEN floor(value * 100 + 0.5) > ${(SprtCut * 100).toLong}
      |                  THEN 1 ELSE 0 END) AS k
      |  FROM ev GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, day,
      |         CAST(sum(n) OVER w AS BIGINT) AS n_cum,
      |         CAST(sum(k) OVER w AS BIGINT) AS k_cum
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |scored AS (
      |  SELECT event_type, day, n_cum, k_cum,
      |         k_cum * ln($SprtP1 / $SprtP0)
      |           + (n_cum - k_cum) * ln((1 - $SprtP1) / (1 - $SprtP0)) AS llr
      |  FROM cum),
      |flagged AS (
      |  SELECT *, CASE WHEN llr >= $upper THEN 1
      |                 WHEN llr <= -$upper THEN -1 ELSE 0 END AS crossed
      |  FROM scored),
      |decision AS (
      |  SELECT f.event_type, d.dec_day, f.crossed AS dec_dir
      |  FROM (SELECT event_type, min(day) AS dec_day FROM flagged
      |        WHERE crossed <> 0 GROUP BY 1) d
      |  JOIN flagged f ON f.event_type = d.event_type AND f.day = d.dec_day)
      |SELECT f.event_type, f.day, f.n_cum, f.k_cum,
      |       floor(f.llr * 10000 + 0.5) / 10000.0 AS llr,
      |       CASE WHEN d.dec_day IS NULL OR f.day < d.dec_day THEN 'continue'
      |            WHEN d.dec_dir = 1 THEN 'accept_h1' ELSE 'accept_h0' END AS verdict
      |FROM flagged f LEFT JOIN decision d ON f.event_type = d.event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q223
  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013, WSDM) —
    * the pre-experiment-covariate adjustment every experimentation
    * platform applies before reading an A/B metric: per user, pre-period
    * value X and post-period value Y (integer cents), md5-replayable
    * 50/50 assignment, pooled θ = cov(X,Y)/var(X), adjusted metric
    * Y_c = Y − θ(X − mean_X). The POOLED adjusted mean equals the raw
    * mean exactly (Σ(X − mean_X) = 0 over all users); per arm the
    * adjustment shifts the mean by −θ·(arm mean_X − pooled mean_X) —
    * exactly the pre-exposure imbalance CUPED removes from the
    * treatment-effect estimate.
    *
    * Exactness discipline (the q203b moment pattern): all five pooled and
    * per-arm moments (ΣX, ΣY, ΣXY, ΣX², ΣY²) are exact integers
    * (DECIMAL(38,0) / HUGEINT — cent products reach ~1e21 at 100×, past
    * BIGINT), θ and mean_X are single divisions of exact ints, and the
    * adjusted second moment expands CLOSED-FORM as
    * ΣY² + θ²ΣX² + n(θm)² − 2θΣXY + 2θmΣY − 2θ²mΣX — single-expression
    * doubles over exact ints, so NO row-order float accumulation exists
    * anywhere (a naive Σ(y−θx+θm)² over rows would be fold-order
    * sensitive). The synthetic corpus draws value i.i.d., so ρ ≈ 0.07 and
    * the honest reduction is ~0.5% — the machinery, not the magnitude, is
    * what the oracle gates.
    *
    * Scale: one (user) keyed aggregate, one 2-row arm aggregate, 1-row θ
    * broadcast. */
  // ANSI literal so the cutoff parses in the SESSION timezone (UTC) — a
  // lit(java.sql.Timestamp) would be converted via the JVM default zone
  // and shift the pre/post split on any non-UTC host, diverging from the
  // DuckDB oracle's naive TIMESTAMP literal.
  private def cupedSplit = expr("TIMESTAMP '2024-01-15 00:00:00'")

  private def q223(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < cupedSplit,
          floor(col("value") * 100 + 0.5)).otherwise(0L)).cast(dec).as("x"),
        sum(when(col("ts") >= cupedSplit,
          floor(col("value") * 100 + 0.5)).otherwise(0L)).cast(dec).as("y"))
      .withColumn("arm",
        when(substring(md5(concat_ws("|", lit("ab"), col("user_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "treat").otherwise("control"))
    val g = users.agg(
      count(lit(1)).cast(dec).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).cast(dec).as("sxy"),
      sum(col("x") * col("x")).cast(dec).as("sxx"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")).as("theta"),
        (col("sx").cast("double") / col("n").cast("double")).as("mx"))
    users.groupBy("arm")
      .agg(
        count(lit(1)).as("n"),
        sum("x").cast(dec).as("ax"), sum("y").cast(dec).as("ay"),
        sum(col("x") * col("y")).cast(dec).as("axy"),
        sum(col("x") * col("x")).cast(dec).as("axx"),
        sum(col("y") * col("y")).cast(dec).as("ayy"))
      .crossJoin(broadcast(g))
      .withColumn("sy2c",
        col("ayy").cast("double") + col("theta") * col("theta") * col("axx").cast("double")
          + col("n") * col("theta") * col("mx") * (col("theta") * col("mx"))
          - lit(2.0) * col("theta") * col("axy").cast("double")
          + lit(2.0) * col("theta") * col("mx") * col("ay").cast("double")
          - lit(2.0) * col("theta") * col("theta") * col("mx") * col("ax").cast("double"))
      .withColumn("my", col("ay").cast("double") / col("n"))
      // per-arm Σ(x − mean_x) ≠ 0 (only the POOLED sum vanishes), so the
      // adjusted mean and the centering of the adjusted variance both use
      // the closed form Σy_c = Σy − θ(Σx − n·mean_x) — still exact-int ×
      // scalar, no row-order float fold
      .withColumn("myc",
        (col("ay").cast("double") - col("theta") *
          (col("ax").cast("double") - col("n") * col("mx"))) / col("n"))
      .withColumn("var_y",
        col("ayy").cast("double") / col("n") - col("my") * col("my"))
      .withColumn("var_yc", col("sy2c") / col("n") - col("myc") * col("myc"))
      .select(col("arm"), col("n"),
        floor4(col("my") / 100.0).as("mean_y"),
        floor4(col("myc") / 100.0).as("mean_y_cuped"),
        floor4(col("theta")).as("theta"),
        floor4(sqrt(col("var_y")) / 100.0).as("sd_y"),
        floor4(sqrt(col("var_yc")) / 100.0).as("sd_y_cuped"),
        floor4(lit(1.0) - col("var_yc") / col("var_y")).as("var_reduction"))
  }

  private val q223Sql: String =
    s"""$EvCte,
      |u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
      |                  THEN floor(value * 100 + 0.5) ELSE 0 END) AS HUGEINT) AS x,
      |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
      |                  THEN floor(value * 100 + 0.5) ELSE 0 END) AS HUGEINT) AS y,
      |    CASE WHEN substring(md5('ab|' || user_id), 1, 1)
      |              IN ('0','1','2','3','4','5','6','7')
      |         THEN 'treat' ELSE 'control' END AS arm
      |  FROM ev GROUP BY user_id),
      |g AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM u),
      |t AS (
      |  SELECT CAST(n * sxy - sx * sy AS DOUBLE)
      |           / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
      |         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
      |  FROM g),
      |a AS (
      |  SELECT arm, count(*) AS n,
      |         sum(x) AS ax, sum(y) AS ay,
      |         sum(x * y) AS axy, sum(x * x) AS axx, sum(y * y) AS ayy
      |  FROM u GROUP BY arm),
      |m AS (
      |  SELECT arm, n, theta, mx,
      |         CAST(ay AS DOUBLE) / n AS my,
      |         (CAST(ay AS DOUBLE) - theta * (CAST(ax AS DOUBLE) - n * mx)) / n AS myc,
      |         CAST(ayy AS DOUBLE) / n
      |           - (CAST(ay AS DOUBLE) / n) * (CAST(ay AS DOUBLE) / n) AS var_y,
      |         (CAST(ayy AS DOUBLE) + theta * theta * CAST(axx AS DOUBLE)
      |            + n * theta * mx * (theta * mx)
      |            - 2.0 * theta * CAST(axy AS DOUBLE)
      |            + 2.0 * theta * mx * CAST(ay AS DOUBLE)
      |            - 2.0 * theta * theta * mx * CAST(ax AS DOUBLE)) / n
      |           - ((CAST(ay AS DOUBLE) - theta * (CAST(ax AS DOUBLE) - n * mx)) / n)
      |             * ((CAST(ay AS DOUBLE) - theta * (CAST(ax AS DOUBLE) - n * mx)) / n)
      |           AS var_yc
      |  FROM a CROSS JOIN t)
      |SELECT arm, n,
      |  floor(my / 100.0 * 10000 + 0.5) / 10000.0 AS mean_y,
      |  floor(myc / 100.0 * 10000 + 0.5) / 10000.0 AS mean_y_cuped,
      |  floor(theta * 10000 + 0.5) / 10000.0 AS theta,
      |  floor(sqrt(var_y) / 100.0 * 10000 + 0.5) / 10000.0 AS sd_y,
      |  floor(sqrt(var_yc) / 100.0 * 10000 + 0.5) / 10000.0 AS sd_y_cuped,
      |  floor((1.0 - var_yc / var_y) * 10000 + 0.5) / 10000.0 AS var_reduction
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q224
  /** Sample-ratio-mismatch check (Fabijan et al. 2019's top experiment
    * diagnostic): does the realized treat/control split match the
    * intended 50/50? χ² = Σ(obs − exp)²/exp over the two arms, flagged
    * against the df=1 α=0.05 critical value 3.8415 — comparing the
    * STATISTIC to the critical value needs no special-function p-value,
    * so the whole check stays exact-int-derived. Sliced per first-touch
    * event type (first event per user by (ts, event_id) — deterministic
    * tie-break), which is where real SRM bugs hide (a redirect dropping
    * one arm's users for one entry surface), plus the overall row.
    *
    * Scale: the first-touch slice is one row_number window keyed by user
    * (corpus-scale but keyed), then counts on the user frame. */
  private def q224(s: SparkSession, d: String): DataFrame = {
    val firstTouch = Tables.events(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("slice"))
      .withColumn("treat",
        when(substring(md5(concat_ws("|", lit("ab"), col("user_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L).otherwise(0L))
    val sliced = firstTouch.groupBy("slice")
      .agg(count(lit(1)).as("n"), sum("treat").as("n_treat"))
    val overall = firstTouch.groupBy(lit("ALL").as("slice"))
      .agg(count(lit(1)).as("n"), sum("treat").as("n_treat"))
    sliced.unionAll(overall)
      .withColumn("exp", col("n").cast("double") / 2)
      .withColumn("chi2",
        (col("n_treat") - col("exp")) * (col("n_treat") - col("exp")) / col("exp") +
          ((col("n") - col("n_treat")) - col("exp")) *
            ((col("n") - col("n_treat")) - col("exp")) / col("exp"))
      .select(col("slice"), col("n"), col("n_treat"),
        (col("n") - col("n_treat")).as("n_control"),
        floor4(col("chi2")).as("chi2"),
        (col("chi2") > 3.8415).as("srm_flag"))
  }

  private val q224Sql: String =
    s"""$EvCte,
      |ft AS (
      |  SELECT user_id, event_type AS slice,
      |         CASE WHEN substring(md5('ab|' || user_id), 1, 1)
      |                   IN ('0','1','2','3','4','5','6','7')
      |              THEN 1 ELSE 0 END AS treat
      |  FROM (SELECT user_id, event_type, ts, event_id,
      |               row_number() OVER (PARTITION BY user_id
      |                                  ORDER BY ts, event_id) AS rn
      |        FROM ev)
      |  WHERE rn = 1),
      |s AS (
      |  SELECT slice, count(*) AS n, CAST(sum(treat) AS BIGINT) AS n_treat
      |  FROM ft GROUP BY slice
      |  UNION ALL
      |  SELECT 'ALL' AS slice, count(*) AS n, CAST(sum(treat) AS BIGINT) AS n_treat
      |  FROM ft
      |  -- empty-corpus agreement: Spark's groupBy(lit('ALL')) emits zero
      |  -- rows on empty input; without this guard the ungrouped branch
      |  -- emits an n=0 row and divides by zero in chi2
      |  HAVING count(*) > 0),
      |c AS (
      |  SELECT slice, n, n_treat,
      |         (n_treat - n / 2.0) * (n_treat - n / 2.0) / (n / 2.0)
      |           + ((n - n_treat) - n / 2.0) * ((n - n_treat) - n / 2.0) / (n / 2.0)
      |           AS chi2
      |  FROM s)
      |SELECT slice, n, n_treat, CAST(n - n_treat AS BIGINT) AS n_control,
      |       floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
      |       chi2 > 3.8415 AS srm_flag
      |FROM c""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q217_pref_pairs", q217, Some(q217Sql)),
    GraftQuery("q217b_bradley_terry", q217b,
      Some(graft.core.Goldens.load("q217b_bradley_terry"))),
    GraftQuery("q218_calibration_ece", q218, Some(q218Sql)),
    GraftQuery("q219_conformal", q219, Some(q219Sql)),
    GraftQuery("q220_dp_counts_replay",
      (s: SparkSession, d: String) => q220(s, d), Some(q220Sql)),
    // production draw: nondeterministic by construction, so no value
    // oracle CAN exist — the driver records the rows-only check and
    // PrefEvalSpec gates the draw's distribution + freshness
    GraftQuery("q220b_dp_counts_secure",
      (s: SparkSession, d: String) => q220(s, d, secure = true), None),
    GraftQuery("q221_l_diversity", q221, Some(q221Sql)),
    GraftQuery("q222_sprt", q222, Some(q222Sql)),
    GraftQuery("q223_cuped", q223, Some(q223Sql)),
    GraftQuery("q224_srm", q224, Some(q224Sql)))
}

/** Per-executor-thread CSPRNG for q220b's production Laplace draw.
  * SecureRandom is internally synchronized — a shared instance would
  * serialize all 32 task threads on the lock; thread-local instances
  * draw independently (each seeded from the platform entropy source). */
object SecureNoise {
  val rng: ThreadLocal[java.security.SecureRandom] =
    ThreadLocal.withInitial(() => new java.security.SecureRandom())
}
