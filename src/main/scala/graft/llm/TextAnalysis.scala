package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.GraftQuery

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, language ID, fingerprinting. Everything
  * is built-in expressions (codegen'd, no UDFs) so the whole stage stays
  * inside WholeStageCodegen — at 100 TB these run as pure map-side work,
  * zero shuffles until the final aggregate.
  */
object TextAnalysis {

  private def toks(c: Column): Column = split(c, " ")

  // ---------------------------------------------------------------- stats
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        round(avg(size(toks(col("text")))), 4).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))

  val textStatsSql: String =
    """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
      |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------- tokens
  /** Whitespace + regex ("BPE-ish" letter-run) token counts per document. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_text"),
        size(toks(col("text"))).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("alpha_tokens"),
        size(array_distinct(toks(col("text")))).as("distinct_tokens"))

  val tokenCountSql: String =
    """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,
      |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS alpha_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS distinct_tokens
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- quality
  private val stopwords = Seq("the", "a", "of", "and", "is")

  /** Deterministic quality score: length saturation, stopword ratio, mean
    * word length — the standard cheap pre-filters before expensive dedup. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast("double")
    val stopHits = size(filter(t, w => w.isInCollection(stopwords))).cast("double")
    val meanWordLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
    val stopRatio = stopHits / nTok
    Tables.documents(s, d).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(meanWordLen, 4).as("mean_word_len"),
      // floor-truncate, not round: both engines compute bit-identical doubles
      // here, and floor of the same bits can't straddle a half-way boundary
      // the way round() can (Spark BigDecimal HALF_UP vs DuckDB's *1e4+0.5)
      (floor((
        least(lit(1.0), nTok / 50.0) * 0.4 +
        (lit(1.0) - stopRatio) * 0.3 +
        least(lit(1.0), meanWordLen / 8.0) * 0.3) * 10000) / 10000).as("quality"))
  }

  val qualityScoreSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' '))::DOUBLE AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the', 'a', 'of', 'and', 'is')))::DOUBLE AS stop_hits,
      |    length(replace(text, ' ', ''))::DOUBLE AS n_letters
      |  FROM documents)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |  round(stop_hits / n_tokens, 4) AS stopword_ratio,
      |  round(n_letters / n_tokens, 4) AS mean_word_len,
      |  floor((least(1.0, n_tokens / 50.0) * 0.4 +
      |         (1.0 - stop_hits / n_tokens) * 0.3 +
      |         least(1.0, (n_letters / n_tokens) / 8.0) * 0.3) * 10000) / 10000 AS quality
      |FROM q""".stripMargin

  // ---------------------------------------------------------------- lang id
  /** Marker-token language ID (n-gram heuristic): count stopword hits per
    * candidate language, argmax with a fixed priority order, 'und' when no
    * marker fires. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "在"))

  def langId(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val hitCols = markers.map { case (lang, ws) =>
      lang -> size(filter(t, w => w.isInCollection(ws)))
    }
    val maxHits = greatest(hitCols.map(_._2): _*)
    val pred = hitCols.foldRight(lit("und")) { case ((lang, hits), elseCol) =>
      when(maxHits > 0 && hits === maxHits, lang).otherwise(elseCol)
    }
    // foldRight gives en > es > fr > de > zh priority on ties
    Tables.documents(s, d).select(col("doc_id"), pred.as("pred_lang"))
  }

  val langIdSql: String = {
    val hit = markers.map { case (lang, ws) =>
      s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map("'" + _ + "'").mkString(", ")}))) AS ${lang}_hits"
    }.mkString(",\n    ")
    val caseChain = markers.map { case (lang, _) =>
      s"WHEN ${lang}_hits = mx THEN '$lang'"
    }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, $hit FROM documents),
       |m AS (SELECT *, greatest(en_hits, es_hits, fr_hits, de_hits, zh_hits) AS mx FROM h)
       |SELECT doc_id, CASE WHEN mx = 0 THEN 'und' $caseChain END AS pred_lang FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- fingerprint
  /** Canonical content fingerprint: normalize (lowercase, strip non-alnum,
    * collapse whitespace) then hash — the exact-dedup key that survives
    * formatting noise. */
  private def normalized(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(normalized(col("text"))).as("fingerprint"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
      |FROM documents""".stripMargin

  /** Rolling-hash fingerprint via the custom codegen'd Catalyst expression
    * (graft.functions.RollingHash). Hash constants are engine-specific so
    * DuckDB can't recompute them: hash-checked against a pinned sf0.01
    * golden (pure per-row map, partition-independent — see
    * graft.core.Goldens); RollingHashSpec verifies interpreted == codegen
    * == reference impl. */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      graft.functions.RollingHash.rolling_hash(normalized(col("text"))).as("rolling_fp"))

  // ---------------------------------------------------------------- pii
  /** PII masking cascade — the redaction pass a training corpus runs before
    * anything else sees the text. Synthesizes a contact-like string from
    * customer fields (the lake's tables carry no real PII), then masks in
    * precedence order: phone-shaped `ddd-dddd` → [PHONE] first, remaining
    * digit runs → [NUM] — and reports per-row redaction counts for the
    * audit trail. Order matters (the phone pattern must fire before the
    * generic digit pass consumes it); both engines apply global
    * replacement. Pure map-side codegen'd regex work. */
  def piiRedact(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .withColumn("raw",
        concat(col("c_name"), lit(" acct "), col("c_acctbal").cast("string"),
          lit(" phone 555-"), lpad(pmod(col("c_custkey"), lit(10000)), 4, "0")))
      .select(
        col("c_custkey"),
        regexp_count(col("raw"), lit("\\d{3}-\\d{4}")).as("n_phone"),
        regexp_count(regexp_replace(col("raw"), "\\d{3}-\\d{4}", "[PHONE]"),
          lit("\\d+")).as("n_num"),
        regexp_replace(
          regexp_replace(col("raw"), "\\d{3}-\\d{4}", "[PHONE]"),
          "\\d+", "[NUM]").as("masked"))

  val piiRedactSql: String =
    """WITH raw AS (
      |  SELECT c_custkey,
      |         c_name || ' acct ' || CAST(c_acctbal AS VARCHAR) || ' phone 555-' ||
      |           lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM customer)
      |SELECT c_custkey,
      |  len(regexp_extract_all(raw, '\d{3}-\d{4}')) AS n_phone,
      |  len(regexp_extract_all(regexp_replace(raw, '\d{3}-\d{4}', '[PHONE]', 'g'), '\d+'))
      |    AS n_num,
      |  regexp_replace(regexp_replace(raw, '\d{3}-\d{4}', '[PHONE]', 'g'),
      |                 '\d+', '[NUM]', 'g') AS masked
      |FROM raw""".stripMargin

  // ---------------------------------------------------------------- vocab
  /** Vocabulary construction with Zipf coverage — the tokenizer-training
    * prep: global word counts, frequency rank, and the running coverage
    * fraction (what % of all tokens the top-r words explain). The cumsum
    * window is a single partition by design: it runs over the VOCABULARY
    * (already aggregated, ≤ |vocab| rows), not the corpus — the classic
    * "aggregate first, then window the small result" shape that keeps a
    * 100 TB corpus out of the window sort. Top-20 emitted. */
  def vocab(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // token stream shared with Retrieval (one tokenizer contract for the
    // llm package — a forked copy could drift from the oracles silently)
    val counts = Retrieval.tokenStream(s, d)
      .groupBy("word").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    // top-20 FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    // heaps, 20-row merge) — ranking the full vocabulary through an
    // unpartitioned window would funnel every distinct word through one
    // task, and web-corpus vocabulary is unbounded (same scale trap the
    // token-packing rewrite removed). Rank/coverage windows then run over
    // exactly 20 rows; the top-20 running prefix only depends on the
    // top-20, so the result is identical.
    val top = counts.orderBy(col("n").desc, col("word")).limit(20)
    val w = Window.orderBy(col("n").desc, col("word"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("coverage",
        round(sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / col("total"), 4))
      .select("rank", "word", "n", "coverage")
  }

  val vocabSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |counts AS (
      |  SELECT word, count(*) AS n FROM toks WHERE word <> '' GROUP BY 1),
      |t AS (SELECT sum(n) AS total FROM counts)
      |SELECT rank, word, n, coverage FROM (
      |  SELECT word, n,
      |         row_number() OVER (ORDER BY n DESC, word) AS rank,
      |         round(sum(n) OVER (ORDER BY n DESC, word
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |               / t.total, 4) AS coverage
      |  FROM counts CROSS JOIN t)
      |WHERE rank <= 20""".stripMargin

  // ---------------------------------------------------------------- oov rate
  /** Per-language out-of-vocabulary rate against a frozen top-K vocabulary —
    * the tokenizer-fairness measurement for a multilingual corpus: train the
    * vocab on the whole corpus (top `OovVocab` words, the q100 construction),
    * then report per language what fraction of token OCCURRENCES fall
    * outside it. Languages with high OOV rates get fragmented into long
    * byte-fallback sequences by the real tokenizer — this is the number that
    * decides per-language vocab budget before a 100 TB tokenization run.
    *
    * Plan shape: one corpus-wide (lang, word) partial-agg count — the only
    * corpus-sized shuffle; the global vocab is a second aggregation of that
    * (vocab×langs)-row frame plus a bounded top-K (TakeOrderedAndProject),
    * broadcast back as the membership marker. Everything after the first
    * groupBy is vocabulary-sized. */
  private val OovVocab = 15

  def oovRate(s: SparkSession, d: String): DataFrame = {
    val byLang = Tables.documents(s, d)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
    val top = byLang.groupBy("word").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("word")).limit(OovVocab)
      .select(col("word"), lit(1L).as("in_vocab"))
    byLang.join(broadcast(top), Seq("word"), "left")
      .groupBy("lang")
      .agg(sum("c").as("n_tok"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L)).as("n_oov"))
      // floor-spelled rounding — see wordEntropy (Retrieval.scala)
      .withColumn("oov_frac",
        floor(col("n_oov").cast("double") / col("n_tok") * 10000 + 0.5) / 10000.0)
      .select("lang", "n_tok", "n_oov", "oov_frac")
  }

  val oovRateSql: String =
    s"""WITH toks AS (
      |  SELECT lang, unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |by_lang AS (
      |  SELECT lang, word, count(*) AS c FROM toks WHERE word <> '' GROUP BY 1, 2),
      |vocab AS (
      |  SELECT word FROM (SELECT word, sum(c) AS n FROM by_lang GROUP BY 1)
      |  ORDER BY n DESC, word LIMIT $OovVocab)
      |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tok,
      |       CAST(sum(CASE WHEN v.word IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
      |       floor(sum(CASE WHEN v.word IS NULL THEN c ELSE 0 END)::DOUBLE / sum(c)
      |             * 10000 + 0.5) / 10000.0 AS oov_frac
      |FROM by_lang b LEFT JOIN vocab v ON b.word = v.word
      |GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------- gopher rules
  /** Rule-based quality filtering audit (the Gopher/MassiveText rule family,
    * Rae et al. 2021 §A1.1, adapted to the corpus): per-source counts of
    * documents failing each structural rule and the count passing all five.
    *
    * Rules: token count in [30, 1000]; mean word length in [3, 10];
    * distinct-token ratio ≥ 0.2 (repetition guard); top-token share ≤ 0.2
    * (single-word domination guard); ≥ 2 stopword hits. All but the
    * top-token share are pure map-side expressions; the share needs one
    * (doc_id, word) count → per-doc max, a shuffle keyed by doc_id whose
    * width is the corpus token stream — the same shape as q100 vocab, linear
    * at scale. Rule thresholds compare bit-identical double divisions of
    * integer counts on both engines, so no rounding is needed at the
    * boundary. */
  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      size(t).cast("double").as("n_tok"),
      size(array_distinct(t)).cast("double").as("n_distinct"),
      length(regexp_replace(col("text"), " ", "")).cast("double").as("n_letters"),
      size(filter(t, w => w.isInCollection(stopwords))).as("stop_hits"))
    val top = Tables.documents(s, d)
      .select(col("doc_id"), explode(t).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").cast("double").as("top_c"))
    base.join(top, "doc_id")
      .withColumn("fail_len", !col("n_tok").between(30.0, 1000.0))
      .withColumn("fail_wl", !(col("n_letters") / col("n_tok")).between(3.0, 10.0))
      .withColumn("fail_rep", col("n_distinct") / col("n_tok") < 0.2)
      .withColumn("fail_top", col("top_c") / col("n_tok") > 0.2)
      .withColumn("fail_stop", col("stop_hits") < 2)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        count_if(col("fail_len")).as("n_fail_len"),
        count_if(col("fail_wl")).as("n_fail_wl"),
        count_if(col("fail_rep")).as("n_fail_rep"),
        count_if(col("fail_top")).as("n_fail_top"),
        count_if(col("fail_stop")).as("n_fail_stop"),
        count_if(!(col("fail_len") || col("fail_wl") || col("fail_rep") ||
                   col("fail_top") || col("fail_stop"))).as("n_pass"))
  }

  val gopherRulesSql: String =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' '))::DOUBLE AS n_tok,
      |    len(list_distinct(string_split(text, ' ')))::DOUBLE AS n_distinct,
      |    length(replace(text, ' ', ''))::DOUBLE AS n_letters,
      |    len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the', 'a', 'of', 'and', 'is'))) AS stop_hits
      |  FROM documents),
      |tw AS (
      |  SELECT doc_id, max(c)::DOUBLE AS top_c FROM (
      |    SELECT doc_id, w, count(*) AS c FROM (
      |      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |    GROUP BY 1, 2) GROUP BY 1),
      |f AS (
      |  SELECT source,
      |    NOT (n_tok BETWEEN 30.0 AND 1000.0) AS fail_len,
      |    NOT (n_letters / n_tok BETWEEN 3.0 AND 10.0) AS fail_wl,
      |    n_distinct / n_tok < 0.2 AS fail_rep,
      |    top_c / n_tok > 0.2 AS fail_top,
      |    stop_hits < 2 AS fail_stop
      |  FROM b JOIN tw USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      |  CAST(count(*) FILTER (fail_len) AS BIGINT) AS n_fail_len,
      |  CAST(count(*) FILTER (fail_wl) AS BIGINT) AS n_fail_wl,
      |  CAST(count(*) FILTER (fail_rep) AS BIGINT) AS n_fail_rep,
      |  CAST(count(*) FILTER (fail_top) AS BIGINT) AS n_fail_top,
      |  CAST(count(*) FILTER (fail_stop) AS BIGINT) AS n_fail_stop,
      |  CAST(count(*) FILTER (NOT (fail_len OR fail_wl OR fail_rep OR fail_top
      |                             OR fail_stop)) AS BIGINT) AS n_pass
      |FROM f GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- vocab coverage
  /** Vocabulary coverage curve: what share of the corpus token stream do
    * the top-K words cover, for K ∈ {10, 20, 40, 80} — the curve that
    * sizes a tokenizer vocabulary (or an OOV budget, q140's fixed-K
    * complement). Scale shape: the corpus-sized work is one word count
    * (the q100 shuffle); everything after runs on the TOP-max(K) rows via
    * TakeOrderedAndProject — the global rank/cumulative windows are
    * post-limit (≤ 80 rows, q100's whitelisted pattern), and the grand
    * total is a single-row broadcast. Never a global window over the full
    * vocabulary. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val ks = Seq(10, 20, 40, 80)
    val words = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = words.agg(sum("c").as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    words.orderBy(col("c").desc, col("w")).limit(ks.max)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("c").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("rk").isin(ks.map(_.toLong): _*))
      .crossJoin(broadcast(tot))
      .select(col("rk").as("k"),
        round(col("cum").cast("double") / col("total"), 4).as("coverage"))
  }

  val vocabCoverageSql: String =
    """WITH wc AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1),
      |tot AS (SELECT sum(c) AS total FROM wc),
      |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 80),
      |ranked AS (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk,
      |         sum(c) OVER (ORDER BY c DESC, w
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM top)
      |SELECT rk AS k, round(cum::DOUBLE / total, 4) AS coverage
      |FROM ranked, tot WHERE rk IN (10, 20, 40, 80)""".stripMargin

  // ---------------------------------------------------------------- zipf
  /** Zipf's-law slope fit over the corpus frequency spectrum: rank the
    * vocabulary by frequency, fit ln(freq) ~ slope·ln(rank) + b by OLS over
    * ranks [[ZipfSkipHead]]+1..[[ZipfFitRanks]], report slope / intercept /
    * R². Natural text sits near slope −1 (Zipf 1949); a corpus whose slope
    * drifts toward 0 is template/boilerplate-heavy and one that steepens
    * past −1.3 is vocabulary-collapsed — the cheap corpus-health dial next
    * to q147's divergence and q89's entropy, and the direct measurement of
    * the df-skew regime the q177/q159 levers exist for.
    *
    * Scale shape is the q100 lesson verbatim: the top-R spectrum comes from
    * orderBy+limit (TakeOrderedAndProject: per-partition heaps, R-row
    * merge), NEVER a full-vocabulary window — web-corpus vocabulary is
    * unbounded, R is a constant. The rank window then runs over exactly R
    * rows and the OLS is one regr_* aggregate over them. Head ranks are
    * excluded from the fit (the flat head is where Zipf notoriously bends);
    * the tiebreak (freq desc, word asc) makes rank assignment — and so the
    * fit — engine-identical. */
  private val ZipfFitRanks = 500
  private val ZipfSkipHead = 10

  /** Unrounded fit frame — split out so BoundarySpec can assert the raw
    * aggregates sit far from their round-4 boundaries at the gate's sf
    * (the q190 float-boundary lesson, applied to the whole fit class). */
  private[graft] def zipfSlopeRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Retrieval.tokenStream(s, d)
      .groupBy("word").agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("word")).limit(ZipfFitRanks)
    val w = Window.orderBy(col("c").desc, col("word"))
    top.withColumn("rank", row_number().over(w))
      .filter(col("rank") > ZipfSkipHead)
      .agg(
        count(lit(1)).as("n_fit"),
        regr_slope(log(col("c")), log(col("rank"))).as("zipf_slope"),
        regr_intercept(log(col("c")), log(col("rank"))).as("ln_c1"),
        regr_r2(log(col("c")), log(col("rank"))).as("r2"))
  }

  def zipfSlope(s: SparkSession, d: String): DataFrame =
    zipfSlopeRaw(s, d).select(
      col("n_fit"),
      round(col("zipf_slope"), 4).as("zipf_slope"),
      round(col("ln_c1"), 4).as("ln_c1"),
      round(col("r2"), 4).as("r2"))

  val zipfSlopeSql: String =
    s"""WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |counts AS (
      |  SELECT word, count(*) AS c FROM toks WHERE word <> '' GROUP BY 1),
      |top AS (SELECT word, c FROM counts ORDER BY c DESC, word LIMIT $ZipfFitRanks),
      |ranked AS (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rank FROM top)
      |SELECT count(*) AS n_fit,
      |       round(regr_slope(ln(c), ln(rank)), 4) AS zipf_slope,
      |       round(regr_intercept(ln(c), ln(rank)), 4) AS ln_c1,
      |       round(regr_r2(ln(c), ln(rank)), 4) AS r2
      |FROM ranked WHERE rank > $ZipfSkipHead""".stripMargin

  // ---------------------------------------------------------------- heaps
  /** Heaps'-law vocabulary growth curve: walk the corpus in doc_id order,
    * record cumulative distinct-word count V against cumulative token count
    * N at [[HeapsBuckets]] checkpoints, and fit ln V ~ β·ln N + ln K — the
    * V = K·N^β law (Heaps 1978) that prices a tokenizer's vocab budget
    * before a 100 TB run: β near 0.5 is natural text, β near 1 means the
    * corpus never stops minting new types (ids, hashes — a red flag the
    * q160 rules can't see because it only exists ACROSS documents).
    *
    * "Cumulative distinct" is made distributed by the first-occurrence
    * trick: a word contributes to V exactly at its min(doc_id), so the
    * curve needs only (a) per-bucket token counts and (b) per-bucket
    * first-occurrence counts — two keyed aggregates, no global dedup state.
    * Checkpoints are fixed-width doc_id ranges (width from max(doc_id),
    * broadcast); the running sums then run over ≤ [[HeapsBuckets]]+1 rows —
    * the q173 bounded-window precedent, whitelisted on that argument. */
  private val HeapsBuckets = 50

  def heapsLaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val widthDf = Tables.documents(s, d)
      .agg(greatest(lit(1L),
        ceil((max(col("doc_id")) + 1).cast("double") / HeapsBuckets).cast("long"))
        .as("width"))
    val tokens = Retrieval.tokenStream(s, d)
    val tokPerBucket = tokens.crossJoin(broadcast(widthDf))
      .groupBy(floor(col("doc_id") / col("width")).as("bucket"))
      .agg(count(lit(1)).as("toks"))
    val newPerBucket = tokens.groupBy("word").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(widthDf))
      .groupBy(floor(col("first_doc") / col("width")).as("bucket"))
      .agg(count(lit(1)).as("new_words"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokPerBucket
      .join(newPerBucket, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("toks", "new_words"))
      .withColumn("cum_toks", sum("toks").over(w))
      .withColumn("cum_vocab", sum("new_words").over(w))
      .select("bucket", "cum_toks", "cum_vocab")
  }

  val heapsLawSql: String =
    s"""WITH width AS (
      |  SELECT greatest(1, CAST(ceil((max(doc_id) + 1) / $HeapsBuckets.0) AS BIGINT))
      |         AS width FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |tok AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      |tpb AS (
      |  SELECT CAST(floor(doc_id / width) AS BIGINT) AS bucket, count(*) AS toks
      |  FROM tok CROSS JOIN width GROUP BY 1),
      |npb AS (
      |  SELECT CAST(floor(first_doc / width) AS BIGINT) AS bucket,
      |         count(*) AS new_words
      |  FROM (SELECT word, min(doc_id) AS first_doc FROM tok GROUP BY 1)
      |  CROSS JOIN width GROUP BY 1)
      |SELECT COALESCE(tpb.bucket, npb.bucket) AS bucket,
      |       CAST(sum(COALESCE(toks, 0)) OVER (ORDER BY COALESCE(tpb.bucket, npb.bucket)
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks,
      |       CAST(sum(COALESCE(new_words, 0)) OVER (ORDER BY COALESCE(tpb.bucket, npb.bucket)
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      |FROM tpb FULL OUTER JOIN npb ON tpb.bucket = npb.bucket""".stripMargin

  /** q190b — the Heaps fit itself, hash-gated separately from the curve.
    *
    * Why the fit is its own query: cross-joined onto all 50 curve rows,
    * `round(regr_slope(ln V, ln N), 4)` sits at sf0.01 on a degenerate
    * exact-zero point (the synthetic vocabulary saturates in bucket 0, so
    * β rounds to 0.0) — a float regression ON a rounding boundary, where
    * any cross-engine / cross-version last-ulp difference flips the whole
    * frame's hash, even when local DuckDB layouts match bit-for-bit. So:
    * the curve (exact integers, engine-
    * independent) keeps the DuckDB oracle above; the fit moves HERE and is
    * pinned as a bit-stability-checked golden (`pin_goldens.py`, the
    * repo's established mechanism for engine-float values — the oracle is
    * a VALUES literal compared against Spark's own output, no second
    * engine recomputing floats).
    *
    * Determinism inside Spark: the curve is ≤ [[HeapsBuckets]]+1 rows of
    * exact integers (bit-stable by construction), and the OLS folds over
    * them on the driver in ascending-bucket order — a fixed summation
    * order no partition layout can perturb. Driver-side is the honest
    * shape here, not a scale compromise: the curve is O(1)-bounded by
    * construction (the q173 bounded-frame precedent), and a distributed
    * regr_slope over ≤51 rows would REINTRODUCE layout-dependent fold
    * order for zero scale benefit. Fit points need cum_vocab growth to be
    * meaningful, so n_growth (buckets still minting vocabulary) is
    * reported alongside — at sf0.01 the vocabulary saturates immediately
    * (n_growth=1, β=0), which the golden records honestly. */
  def heapsFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val curve = heapsLaw(s, d)
      .select("bucket", "cum_toks", "cum_vocab")
      .as[(Long, Long, Long)]
      .collect()                        // ≤ HeapsBuckets+1 rows by construction
      .sortBy(_._1)
    val pts = curve.map { case (_, n, v) => (math.log(n.toDouble), math.log(v.toDouble)) }
    val nFit = pts.length.toLong
    val (sx, sy) = pts.foldLeft((0.0, 0.0)) { case ((ax, ay), (x, y)) => (ax + x, ay + y) }
    val (mx, my) = (sx / nFit, sy / nFit)
    val (sxx, sxy) = pts.foldLeft((0.0, 0.0)) { case ((axx, axy), (x, y)) =>
      (axx + (x - mx) * (x - mx), axy + (x - mx) * (y - my))
    }
    val beta = sxy / sxx
    val k = math.exp(my - beta * mx)
    // buckets that minted new vocabulary (cum_vocab strictly grew)
    val nGrowth =
      curve.indices.count(i => i == 0 || curve(i)._3 > curve(i - 1)._3).toLong
    // + 0.0 normalizes a −0.0 round result (β is exactly 0 at sf0.01)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    Seq((nFit, nGrowth, r4(beta), r4(k)))
      .toDF("n_fit", "n_growth", "beta", "k")
  }

  // ---------------------------------------------------------------- nb
  /** Multinomial naive-Bayes language classifier, trained and applied in
    * one plan (McCallum & Nigam 1998's event model — what fastText's
    * linear classifier reduces to with count features): per-language word
    * likelihoods with add-one smoothing, log-prior from class frequencies,
    * and argmax posterior over the [[NbScoreDocs]]-doc scoring slice with
    * the true label joined back for an accuracy audit. The TRAINED
    * counterpart of q33's fixed-stopword heuristic and q179's logit (whose
    * labels come from a rule; here the label IS the supervision) — the
    * shape a fastText-quality language-ID filter takes before a 100 TB
    * tokenization run.
    *
    * Closed-form training = two keyed aggregates: the (lang, word) count
    * table (the model — vocabulary×languages rows, the only corpus-scale
    * state) and per-language totals. Scoring joins the scored slice's
    * (doc, word, tf) against the model on (lang, word) after crossing with
    * the LANGUAGE-cardinality side table (constant ~O(100) rows,
    * broadcast); unseen words keep the smoothing floor via the left join's
    * ln(0+1)=0 path, so no dense vocab×langs completion is ever built. The
    * argmax is a per-doc window over |langs| rows ranked on the ROUNDED
    * score (the q86 tie lesson) + lang tiebreak. */
  private val NbScoreDocs = 50

  /** Shared NB train+score builder for q192/q212.
    *
    * The demanded shuffle-chain audit, with its measured dead end: the
    * corpus was tokenized (scan + lower + split + explode) three times —
    * model, vocab count, scoring counts. The "obvious" fusion (one shared
    * (doc_id, lang, w, tf) aggregate feeding all three) was built and
    * MEASURED SLOWER (isolated sf0.1 q212 1.40 → 1.84+ s, cpu +35%):
    * the old branches each partial-aggregate map-side so their exchanges
    * carry vocab-sized partials, while the shared frame forces a NEW
    * corpus-scale (doc,lang,w) shuffle that did not exist before — q212's
    * 33 Exchange nodes were mostly small by construction, and fusing
    * different-keyed aggregations means shuffling the undigested frame.
    * What stays from the audit (exact same integers, no new exchange):
    *  - the vocab count derives from the MODEL (countDistinct(w) over
    *    cwl ≡ over the token stream — cwl holds every distinct (lang,w))
    *    so its corpus explode disappears and its subtree reuses cwl's
    *    exchange: 3 corpus tokenize passes → 2 (model + scoring, which
    *    genuinely need different keys).
    *  - q212 leaves its |docs|-row pred frame lazy, relying on
    *    exchange/stage reuse across its three per-class aggregates (see
    *    [[nbEval]]), and broadcasts the |langs|-row metric joins (the
    *    dump's only SMJs). */
  private[graft] def nbScoredPlan(s: SparkSession, d: String, scoreSliceOnly: Boolean)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val cwl = tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
    val tl = cwl.groupBy("lang").agg(sum("c").as("tl"))
    val v = cwl.agg(countDistinct("w").as("v"))
    val pri = docs.groupBy("lang").agg(count(lit(1)).as("nd"))
    val ndoc = docs.agg(count(lit(1)).as("n"))
    val langs = tl.join(pri, "lang").crossJoin(broadcast(ndoc))
      .select(col("lang"), col("tl"),
        log(col("nd").cast("double") / col("n")).as("logprior"))
    val tokScore = if (scoreSliceOnly) tok.filter(col("doc_id") < NbScoreDocs) else tok
    val dw = tokScore.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val scored = dw.crossJoin(broadcast(langs))
      .join(cwl, Seq("lang", "w"), "left")
      .crossJoin(broadcast(v))
      .groupBy("doc_id", "lang")
      .agg((sum(col("tf") * (log(coalesce(col("c"), lit(0L)) + 1)
            - log(col("tl") + col("v"))))
          + first("logprior")).as("score"))
    (scored, docs)
  }

  def naiveBayes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (scored, docs) = nbScoredPlan(s, d, scoreSliceOnly = true)
    val wn = Window.partitionBy("doc_id")
      .orderBy(round(col("score"), 4).desc, col("lang"))
    scored.withColumn("rn", row_number().over(wn)).filter(col("rn") === 1)
      .join(docs.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .select(col("doc_id"), col("lang").as("pred_lang"), col("true_lang"),
        round(col("score"), 4).as("score"),
        when(col("lang") === col("true_lang"), 1).otherwise(0).as("correct"))
  }

  val naiveBayesSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |t AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
      |cwl AS (SELECT lang, w, count(*) AS c FROM t GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM cwl GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM t),
      |pri AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      |ndoc AS (SELECT count(*) AS n FROM documents),
      |langs AS (
      |  SELECT tl.lang, tl.tl, ln(pri.nd * 1.0 / ndoc.n) AS logprior
      |  FROM tl JOIN pri ON pri.lang = tl.lang CROSS JOIN ndoc),
      |dw AS (
      |  SELECT doc_id, w, count(*) AS tf FROM t
      |  WHERE doc_id < $NbScoreDocs GROUP BY 1, 2),
      |sc AS (
      |  SELECT dw.doc_id, langs.lang,
      |         sum(dw.tf * (ln(COALESCE(cwl.c, 0) + 1) - ln(langs.tl + v.v)))
      |           + any_value(langs.logprior) AS score
      |  FROM dw CROSS JOIN langs CROSS JOIN v
      |  LEFT JOIN cwl ON cwl.lang = langs.lang AND cwl.w = dw.w
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, lang, round(score, 4) AS score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY round(score, 4) DESC, lang) AS rn
      |  FROM sc)
      |SELECT p.doc_id, p.lang AS pred_lang, d.lang AS true_lang, p.score,
      |       CASE WHEN p.lang = d.lang THEN 1 ELSE 0 END AS correct
      |FROM pred p JOIN documents d USING (doc_id) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- chi2
  /** χ²-statistic keyword selection per source (the classic feature-
    * selection ranking, Yang & Pedersen 1997): for every (word, source)
    * pair build the 2×2 document-presence contingency table and rank each
    * source's words by χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) — the
    * discriminative-vocabulary extractor that feeds q179's classifier
    * features and labels what q147's drift monitor flags (not just THAT
    * sources diverge, but WHICH words carry it).
    *
    * All four cell counts are integers from two keyed aggregates — the
    * (word, source) presence count (the only corpus-scale shuffle) and its
    * word marginal — so the statistic is engine-exact; only the final χ²
    * is floating (one expression, rounded 4 dp). The per-source rank
    * window is keyed by source and runs post-df-floor ([[Chi2MinDf]]
    * culls the long tail — the oovRate boundedness argument); doc counts
    * per source are a language-cardinality side table, broadcast. */
  private val Chi2MinDf = 5
  private val Chi2TopK = 5

  def chi2Keywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val pres = docs
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("w"))
      .filter(col("w") =!= "")
    val ws = pres.groupBy("w", "source").agg(count(lit(1)).as("a"))
    val wtot = ws.groupBy("w").agg(sum("a").as("n1"))
      .filter(col("n1") >= Chi2MinDf)
    val stot = docs.groupBy("source").agg(count(lit(1)).as("ns"))
    val ndoc = docs.agg(count(lit(1)).as("n"))
    val cells = ws.join(wtot, "w").join(broadcast(stot), "source")
      .crossJoin(broadcast(ndoc))
      .withColumn("b", col("ns") - col("a"))
      .withColumn("c", col("n1") - col("a"))
      .withColumn("dd", col("n") - col("a") - col("b") - col("c"))
    // all products in DOUBLE: the 4-way marginal product reaches N⁴ and
    // a·d reaches N², both past BIGINT at corpus scale; both engines
    // compose the identical left-associated expression
    val chi = cells.withColumn("chi2",
      round(col("n").cast("double")
        * pow(col("a").cast("double") * col("dd").cast("double")
          - col("b").cast("double") * col("c").cast("double"), 2)
        / ((col("a") + col("b")).cast("double")
          * (col("c") + col("dd")).cast("double")
          * (col("a") + col("c")).cast("double")
          * (col("b") + col("dd")).cast("double")), 4))
    val wn = Window.partitionBy("source")
      .orderBy(col("chi2").desc, col("w"))
    chi.withColumn("rk", row_number().over(wn)).filter(col("rk") <= Chi2TopK)
      .select(col("source"), col("rk"), col("w").as("word"),
        col("a").as("df_in_source"), col("chi2"))
  }

  val chi2KeywordsSql: String =
    s"""WITH pres AS (
      |  SELECT DISTINCT doc_id, source, w FROM (
      |    SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents)
      |  WHERE w <> ''),
      |ws AS (SELECT w, source, count(*) AS a FROM pres GROUP BY 1, 2),
      |wtot AS (SELECT w, CAST(sum(a) AS BIGINT) AS n1 FROM ws GROUP BY 1
      |         HAVING sum(a) >= $Chi2MinDf),
      |stot AS (SELECT source, count(*) AS ns FROM documents GROUP BY 1),
      |ndoc AS (SELECT count(*) AS n FROM documents),
      |cells AS (
      |  SELECT ws.w, ws.source, ws.a, stot.ns - ws.a AS b, n1 - ws.a AS c,
      |         n - ws.a - (stot.ns - ws.a) - (n1 - ws.a) AS dd, n
      |  FROM ws JOIN wtot USING (w) JOIN stot USING (source) CROSS JOIN ndoc),
      |chi AS (
      |  SELECT source, w, a,
      |         round(CAST(n AS DOUBLE)
      |           * (CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
      |              - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) ** 2
      |           / (CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)
      |              * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE)), 4) AS chi2
      |  FROM cells)
      |SELECT source, rk, w AS word, df_in_source, chi2 FROM (
      |  SELECT source, w, a AS df_in_source, chi2,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY chi2 DESC, w) AS rk
      |  FROM chi)
      |WHERE rk <= $Chi2TopK""".stripMargin

  // ---------------------------------------------------------------- q206
  /** Pairwise vocabulary Jaccard between sources — the corpus-level
    * overlap matrix that decides dedup ORDER (dedup the high-overlap
    * source pairs against each other first; a disjoint pair can run
    * embarrassingly parallel) and flags mirror feeds before q36 ever
    * pays for document-level MinHash. The source-granular sibling of
    * q169's doc containment and q147's distributional drift — this one
    * is SET overlap, exact.
    *
    * Shape: one (source, word) distinct aggregate (the only corpus-scale
    * shuffle), then a word-keyed self-join whose per-word fan-out is
    * C(sources_containing_word, 2) ≤ C(|sources|, 2) — bounded by the
    * SQUARE OF SOURCE CARDINALITY (~O(100²) in any real lake), never by
    * vocabulary or corpus size; sizes are a |sources|-row broadcast. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val sizes = sw.groupBy("source").agg(count(lit(1)).as("nv"))
    val inter = sw.join(sw.withColumnRenamed("source", "source_b"), "w")
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("nv", "na")), "source_a")
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("nv", "nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("inter"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
  }

  val sourceOverlapSql: String =
    """WITH sw AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents)
      |  WHERE w <> ''),
      |sizes AS (SELECT source, count(*) AS nv FROM sw GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
      |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, sa.nv AS na, sb.nv AS nb, inter,
      |       round(inter * 1.0 / (sa.nv + sb.nv - inter), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.source = source_a
      |JOIN sizes sb ON sb.source = source_b""".stripMargin

  // ---------------------------------------------------------------- hill
  /** Hill tail-index estimator (Hill 1975) over document lengths:
    * α̂ = 1 / mean(ln(x_(i)/x_(k))) over the top-[[HillK]] order
    * statistics — the standard heavy-tail exponent. Where q189 fits the
    * FREQUENCY spectrum's slope, this fits the LENGTH tail: α ≲ 2 means
    * documents with unbounded variance dominate token mass, which is what
    * decides whether q88's chunker and q115's packer see a benign or an
    * adversarial length distribution at 100 TB.
    *
    * Shape: the top-k order statistics come from orderBy+limit
    * (TakeOrderedAndProject, the q100 lesson — never a global rank
    * window); the estimator is one aggregate over those k rows. x_(k) is
    * the k-th largest = the min of the retained set, folded in the same
    * aggregate. Tiebreak on doc_id makes the retained SET engine-
    * identical even when lengths tie at the cut. The mean uses the
    * standard k−1 terms (Hill's i = 1..k−1): the rank-k cut row's
    * ln(x_(k)/x_(k)) is exactly 0, so summing over all k rows and
    * dividing by k−1 IS the k−1-term mean — dividing by k instead
    * would bias α̂ upward by k/(k−1). */
  private val HillK = 200

  def hillTailIndex(s: SparkSession, d: String): DataFrame = {
    val top = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("double").as("x"))
      .orderBy(col("x").desc, col("doc_id")).limit(HillK)
      .localCheckpoint(true) // referenced twice: the cut value + the fold
    val cut = top.agg(min("x").as("xkv"))
    top.crossJoin(broadcast(cut)).agg(
      count(lit(1)).as("k"),
      min("x").cast("long").as("xk"),
      round((count(lit(1)) - 1).cast("double")
        / sum(log(col("x") / col("xkv"))), 4).as("hill_alpha"))
  }

  val hillTailIndexSql: String =
    s"""WITH top AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents
      |  ORDER BY x DESC, doc_id LIMIT $HillK)
      |SELECT count(*) AS k, CAST(min(x) AS BIGINT) AS xk,
      |       round((count(*) - 1) * 1.0
      |             / sum(ln(x / (SELECT min(x) FROM top))), 4) AS hill_alpha
      |FROM top""".stripMargin

  // ---------------------------------------------------------------- nbeval
  /** Per-class precision/recall/F1 of the q192 naive-Bayes language
    * classifier over the WHOLE corpus — the confusion-matrix evaluation
    * that belongs next to any trained filter before it gates data (q204
    * answers "does the score rank right" for binary signals; this is the
    * multi-class report card). Same train plan as q192 (two keyed
    * aggregates into the (lang, word) model), scoring extended from the
    * 50-doc slice to every document: the scoring join stays
    * (doc-words × |langs|) keyed rows and the argmax window stays
    * |langs|-bounded per doc, so full-corpus evaluation costs one more
    * pass over the same shuffle keys, not a new plan. Output: one row per
    * true class with support, TP/FP/FN and rounded P/R/F1.
    *
    * Note the self-evaluation caveat every data-curation team hits:
    * train = eval corpus here, so these are RESUBSTITUTION numbers — the
    * honest protocol splits by q135's leakage-safe split first; the plan
    * is identical either way (one more filter on the scoring side). */
  /** q212 stays LAZY and pred stays unmaterialized: the
    * three per-class aggregates' copies of pred canonicalize identically,
    * so everything below scored's final (doc_id, lang) exchange — the
    * corpus-scale scoring join and aggregates — executes ONCE via
    * exchange/stage reuse; each consumer only replays the |docs|·|langs|-
    * row window + broadcast truth join above it. A persisted pred was
    * built and measured SLOWER (isolated sf0.1 1.40 → 1.8–2.2 s): the
    * cache materialization costs more than the three cheap replays at
    * every scale the reused exchange already covers. */
  def nbEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (scored, docs) = nbScoredPlan(s, d, scoreSliceOnly = false)
    val wn = Window.partitionBy("doc_id")
      .orderBy(round(col("score"), 4).desc, col("lang"))
    val pred = scored.withColumn("rn", row_number().over(wn))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred"))
      .join(docs.select(col("doc_id"), col("lang").as("truth")), "doc_id")
    val tp = pred.filter(col("pred") === col("truth"))
      .groupBy(col("truth").as("lang")).agg(count(lit(1)).as("tp"))
    val sup = pred.groupBy(col("truth").as("lang")).agg(count(lit(1)).as("support"))
    val pp = pred.groupBy(col("pred").as("lang")).agg(count(lit(1)).as("n_pred"))
    // broadcast: per-class frames are |langs| rows (~O(100) at any scale);
    // unhinted, the post-cache size estimates made the planner emit two
    // SortMergeJoins here, the only SMJs in q212's plan
    sup.join(broadcast(tp), Seq("lang"), "left")
      .join(broadcast(pp), Seq("lang"), "left")
      .na.fill(0L, Seq("tp", "n_pred"))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("support") - col("tp"))
      .withColumn("precision",
        when(col("n_pred") > 0, round(col("tp").cast("double") / col("n_pred"), 4)))
      .withColumn("recall", round(col("tp").cast("double") / col("support"), 4))
      .withColumn("f1",
        when(col("tp") > 0, round(lit(2.0) * col("tp")
          / (col("n_pred") + col("support")), 4)))
      .select("lang", "support", "tp", "fp", "fn", "precision", "recall", "f1")
  }

  val nbEvalSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |t AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
      |cwl AS (SELECT lang, w, count(*) AS c FROM t GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM cwl GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM t),
      |pri AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      |ndoc AS (SELECT count(*) AS n FROM documents),
      |langs AS (
      |  SELECT tl.lang, tl.tl, ln(pri.nd * 1.0 / ndoc.n) AS logprior
      |  FROM tl JOIN pri ON pri.lang = tl.lang CROSS JOIN ndoc),
      |dw AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY 1, 2),
      |sc AS (
      |  SELECT dw.doc_id, langs.lang,
      |         sum(dw.tf * (ln(COALESCE(cwl.c, 0) + 1) - ln(langs.tl + v.v)))
      |           + any_value(langs.logprior) AS score
      |  FROM dw CROSS JOIN langs CROSS JOIN v
      |  LEFT JOIN cwl ON cwl.lang = langs.lang AND cwl.w = dw.w
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT p.doc_id, p.lang AS pred, d.lang AS truth FROM (
      |    SELECT doc_id, lang,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY round(score, 4) DESC, lang) AS rn
      |    FROM sc) p
      |  JOIN documents d USING (doc_id) WHERE rn = 1),
      |tp AS (SELECT truth AS lang, count(*) AS tp FROM pred
      |       WHERE pred = truth GROUP BY 1),
      |sup AS (SELECT truth AS lang, count(*) AS support FROM pred GROUP BY 1),
      |pp AS (SELECT pred AS lang, count(*) AS n_pred FROM pred GROUP BY 1)
      |SELECT sup.lang, support, COALESCE(tp, 0) AS tp,
      |       COALESCE(n_pred, 0) - COALESCE(tp, 0) AS fp,
      |       support - COALESCE(tp, 0) AS fn,
      |       CASE WHEN COALESCE(n_pred, 0) > 0
      |            THEN round(COALESCE(tp, 0) * 1.0 / n_pred, 4) END AS precision,
      |       round(COALESCE(tp, 0) * 1.0 / support, 4) AS recall,
      |       CASE WHEN COALESCE(tp, 0) > 0
      |            THEN round(2.0 * tp / (COALESCE(n_pred, 0) + support), 4)
      |       END AS f1
      |FROM sup LEFT JOIN tp USING (lang) LEFT JOIN pp USING (lang)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q30_text_stats", textStats _, Some(textStatsSql)),
    GraftQuery("q31_token_count", tokenCount _, Some(tokenCountSql)),
    GraftQuery("q32_quality_score", qualityScore _, Some(qualityScoreSql)),
    GraftQuery("q33_lang_id", langId _, Some(langIdSql)),
    GraftQuery("q34_fingerprint", fingerprint _, Some(fingerprintSql)),
    GraftQuery("q34b_rolling_fingerprint", rollingFingerprint _,
      Some(graft.core.Goldens.load("q34b_rolling_fingerprint"))),
    GraftQuery("q99_pii_redact", piiRedact _, Some(piiRedactSql)),
    GraftQuery("q100_vocab", vocab _, Some(vocabSql)),
    GraftQuery("q140_oov_rate", oovRate _, Some(oovRateSql)),
    GraftQuery("q160_gopher_rules", gopherRules _, Some(gopherRulesSql)),
    GraftQuery("q173_vocab_coverage", vocabCoverage _, Some(vocabCoverageSql)),
    GraftQuery("q189_zipf_slope", zipfSlope _, Some(zipfSlopeSql)),
    GraftQuery("q190_heaps_law", heapsLaw _, Some(heapsLawSql)),
    GraftQuery("q190b_heaps_fit", heapsFit _,
      Some(graft.core.Goldens.load("q190b_heaps_fit"))),
    GraftQuery("q192_naive_bayes", naiveBayes _, Some(naiveBayesSql)),
    GraftQuery("q198_chi2_keywords", chi2Keywords _, Some(chi2KeywordsSql)),
    GraftQuery("q206_source_overlap", sourceOverlap _, Some(sourceOverlapSql)),
    GraftQuery("q208_hill_tail", hillTailIndex _, Some(hillTailIndexSql)),
    GraftQuery("q212_nb_eval", nbEval _, Some(nbEvalSql)))
}
