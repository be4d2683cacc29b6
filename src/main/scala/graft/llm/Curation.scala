package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Dispatch
import graft.queries.GraftQuery

/** Corpus-construction operators that sit BETWEEN filtering and training:
  * deterministic epoch shuffling into shards, padding-efficiency length
  * bucketing, fixed-weight model-based quality scoring, and a
  * duplicate-aware (leakage-safe) train/heldout split. The reference lake
  * has no training surface at all — these extend the engine the way
  * `Dedup`/`Retrieval` do (charter north-star ops), and every query is
  * DuckDB-oracle-checked end to end: each draw/assignment is a pure
  * function of row keys (md5 hex compare or exact integer arithmetic — the
  * q59/q126/q129 determinism contract), never a seeded RNG whose sequence
  * depends on partition order.
  */
object Curation {

  // ---------------------------------------------------------------- q132
  /** Deterministic epoch shuffle — materialize "epoch 7" of a training run
    * as (doc_id, shard, pos): every document is dealt to one of `Shards`
    * shards by a multiplicative hash salted with the epoch, and ordered
    * within its shard by an epoch-salted md5 — a different, reproducible
    * permutation per epoch, identical on any cluster/engine (no RNG). This
    * is the operator a 100 TB run uses to write epoch manifests: the
    * training job then streams shard files in pos order.
    *
    * Plan shape: the shard/order keys are map-side hashes; the only wide op
    * is ONE window partitioned by shard (hash-partitioned shuffle — never a
    * global window; PlanQualitySpec gates it). `Shards` bounds the write
    * parallelism, so at 100 TB it is O(executors), not 16 — and with
    * per-shard output files the row_number itself disappears into the sort
    * order of the written file (the pos column exists here because the
    * oracle checks the permutation, not because the pipeline needs it
    * materialized). */
  private val Shards = 16
  private val Epoch = 7

  def epochShard(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("u"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        // Knuth multiplicative hash over doc_id⊕epoch: exact 64-bit integer
        // arithmetic both engines agree on bit-for-bit (q129 contract)
        pmod(col("doc_id") * lit(2654435761L) + lit(Epoch * 40503L),
          lit(4294967296L)).as("shard_u"),
        md5(concat_ws("|", lit(s"ep$Epoch"), col("doc_id"))).as("u"))
      .withColumn("shard", pmod(col("shard_u"), lit(Shards)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos").cast("int").as("pos"))
  }

  val epochShardSql: String =
    s"""WITH keyed AS (
      |  SELECT doc_id,
      |         CAST(((doc_id * 2654435761 + ${Epoch * 40503}) % 4294967296)
      |              % $Shards AS INT) AS shard,
      |         md5('ep$Epoch|' || doc_id) AS u
      |  FROM documents)
      |SELECT doc_id, shard,
      |       CAST(row_number() OVER (PARTITION BY shard ORDER BY u, doc_id)
      |            AS INT) AS pos
      |FROM keyed""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Sequence-length bucketing — the padding-efficiency profile: group
    * documents into power-of-two token-length tiers and report how many
    * pad tokens a fixed-shape batch of each tier wastes (padded = n_docs ×
    * tier cap; waste = 1 − real/padded). This is the measurement that
    * justifies length-grouped batching over naive fixed-length padding in
    * a training pipeline. The tier CASE is closed-form on both engines (no
    * float log2 at power-of-two boundaries). Pure map + one tiny partial
    * aggregation — no joins, no windows, embarrassingly scalable. */
  def lengthBuckets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("bucket_cap",
        when(col("n_tok") <= 16, 16L).when(col("n_tok") <= 32, 32L)
          .when(col("n_tok") <= 64, 64L).when(col("n_tok") <= 128, 128L)
          .when(col("n_tok") <= 256, 256L).when(col("n_tok") <= 512, 512L)
          .otherwise(1024L))
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      .withColumn("padded_tok", col("n_docs") * col("bucket_cap"))
      // floor-spelled rounding — see wordEntropy (Retrieval.scala)
      .withColumn("waste_frac",
        floor((lit(1.0) - col("sum_tok").cast("double") / col("padded_tok"))
          * 10000 + 0.5) / 10000.0)
      .select("bucket_cap", "n_docs", "sum_tok", "padded_tok", "waste_frac")

  val lengthBucketsSql: String =
    """WITH counts AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
      |tiers AS (
      |  SELECT n_tok,
      |         CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
      |              WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
      |              WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
      |              ELSE 1024 END AS bucket_cap
      |  FROM counts)
      |SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
      |       CAST(count(*) * bucket_cap AS BIGINT) AS padded_tok,
      |       floor((1.0 - CAST(sum(n_tok) AS DOUBLE) / (count(*) * bucket_cap))
      |             * 10000 + 0.5) / 10000.0 AS waste_frac
      |FROM tiers GROUP BY bucket_cap""".stripMargin

  // ---------------------------------------------------------------- q134
  /** Fixed-weight logistic quality classifier — the fastText-style
    * model-based filter every production corpus applies after the
    * heuristic gates (q32/q90 are the feature extractors; this is the
    * inference pass). Weights are frozen constants (a real pipeline loads
    * them from a trained artifact; scoring math is identical), features
    * fold out of the (doc, word, tf) relation in one grouped pass:
    * z = b + w₁·unique_frac + w₂·ln(n_tok) + w₃·top_frac,
    * score = σ(z), keep = score ≥ 0.5. Distributed inference is therefore
    * one partial-aggregated groupBy + a map — no model server, no UDF,
    * stays in WholeStageCodegen. */
  def qualityLogit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_unique"),
        max("tf").as("top_tf"))
      .withColumn("z",
        lit(-1.2) + lit(3.0) * (col("n_unique").cast("double") / col("n_tokens"))
          + lit(0.8) * log(col("n_tokens").cast("double"))
          - lit(2.5) * (col("top_tf").cast("double") / col("n_tokens")))
      // floor-spelled rounding — see wordEntropy (Retrieval.scala)
      .withColumn("score",
        floor(lit(1.0) / (lit(1.0) + exp(-col("z"))) * 10000 + 0.5) / 10000.0)
      .withColumn("keep", col("score") >= 0.5)
      .select("doc_id", "n_tokens", "score", "keep")

  val qualityLogitSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
      |), feat AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |         count(*) AS n_unique, max(tf) AS top_tf
      |  FROM tf GROUP BY doc_id
      |), scored AS (
      |  SELECT doc_id, n_tokens,
      |         -1.2 + 3.0 * (CAST(n_unique AS DOUBLE) / n_tokens)
      |             + 0.8 * ln(CAST(n_tokens AS DOUBLE))
      |             - 2.5 * (CAST(top_tf AS DOUBLE) / n_tokens) AS z
      |  FROM feat)
      |SELECT doc_id, n_tokens,
      |       floor(1.0 / (1.0 + exp(-z)) * 10000 + 0.5) / 10000.0 AS score,
      |       floor(1.0 / (1.0 + exp(-z)) * 10000 + 0.5) / 10000.0 >= 0.5 AS keep
      |FROM scored""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Duplicate-aware (leakage-safe) train/heldout split — the fix for the
    * classic evaluation bug: hash-splitting DOCUMENTS (q59) puts two copies
    * of the same text on both sides of the split. Here the split unit is
    * the exact-duplicate GROUP (sha256 of text): every member follows its
    * group representative's draw, so a duplicated document can never leak
    * across the boundary. Near-dup-safe splitting is the same operator fed
    * with q69's connected components as the group key — the composition is
    * exercised in CurationSpec; this query keeps the oracle self-contained
    * with the exact-hash grouping.
    *
    * Plan shape: one hash-partitioned groupBy(content hash) (map-side
    * partial agg collapses copies early), a map-side md5 draw on the
    * O(groups) relation, one tiny groupBy(split). No window, no join back
    * to the corpus for the profile (members inherit the group draw through
    * the group row itself when materializing assignments). */
  def leakageSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("g"))
      .groupBy("g")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n_members"))
      .withColumn("split",
        when(substring(md5(concat_ws("|", lit("split"), col("rep"))), 1, 1)
          .isin("0", "1", "2", "3"), "heldout").otherwise("train"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_groups"), sum("n_members").as("n_docs"),
        sum(when(col("n_members") > 1, col("n_members") - 1).otherwise(0L))
          .as("n_extra_dups"))

  val leakageSplitSql: String =
    """WITH grp AS (
      |  SELECT sha256(text) AS g, min(doc_id) AS rep, count(*) AS n_members
      |  FROM documents GROUP BY 1),
      |drawn AS (
      |  SELECT CASE WHEN substring(md5('split|' || rep), 1, 1) IN ('0','1','2','3')
      |              THEN 'heldout' ELSE 'train' END AS split,
      |         n_members
      |  FROM grp)
      |SELECT split, count(*) AS n_groups,
      |       CAST(sum(n_members) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN n_members > 1 THEN n_members - 1 ELSE 0 END)
      |            AS BIGINT) AS n_extra_dups
      |FROM drawn GROUP BY split""".stripMargin

  // ---------------------------------------------------------------- q136
  /** N-gram novelty profile — the corpus-diversity metric: for each
    * document, the fraction of its distinct word trigrams that occur
    * NOWHERE else in the corpus (df = 1). Low novelty identifies
    * template/boilerplate-heavy documents that repetition-aware sampling
    * should down-weight even when no single pair crosses a dedup threshold;
    * the corpus-level mean is the diversity number on a data card.
    *
    * Plan shape: ONE wide shuffle over the corpus-token-sized stream.
    * Because shingles are per-doc DISTINCT (shingledN dedups within each
    * document), df == 1 implies exactly one owning document — so
    * `min(doc_id)` ridden on the same df aggregation recovers the owner for
    * free, and novelty counts come straight off the shingle aggregation: no
    * join of the exploded stream back to dfreq (the old shape re-shuffled
    * the same corpus-sized stream twice). Everything after the shingle
    * groupBy is proportional to the number of unique-once shingles, then to
    * the document count. Nothing is ever broadcast at corpus scale and no
    * pair join exists — cost is O(corpus shingles), not O(docs²). Shares
    * `Dedup.shingledN` so the trigram contract can't drift from the dedup
    * family's. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingledN(Tables.documents(s, d), 3)
    // per-doc frame is document-count-sized — cheap to join at the end
    val perDoc = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    // explode_outer: plain explode's inferred non-null constraint re-runs
    // the whole shingling expression in a pushed filter (see contamination)
    val ex = sh.select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
    val novel = ex.groupBy("shingle")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      // floor-spelled rounding — see wordEntropy (Retrieval.scala)
      .withColumn("novelty_frac",
        floor(col("n_novel").cast("double") / col("n_sh") * 10000 + 0.5) / 10000.0)
      .select("doc_id", "n_sh", "n_novel", "novelty_frac")
  }

  val ngramNoveltySql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) AS s FROM toks),
      |ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
      |dfreq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1)
      |SELECT ex.doc_id, CAST(min(ex.n_sh) AS BIGINT) AS n_sh,
      |       CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       floor(CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / min(ex.n_sh) * 10000 + 0.5) / 10000.0 AS novelty_frac
      |FROM ex JOIN dfreq USING (shingle)
      |GROUP BY ex.doc_id""".stripMargin

  // ---------------------------------------------------------------- q137
  /** Data card — the per-(source, language) corpus report every released
    * dataset ships: document and token counts, mean length, and the
    * exact-duplicate rate, with ROLLUP subtotals per source and a corpus
    * grand total. One scan, one grouped aggregation (ROLLUP expands in the
    * aggregation, not as extra scans); the duplicate rate rides the same
    * pass as a count(DISTINCT sha256). The grouping indicators disambiguate
    * subtotal rows from a literal NULL group, so the card is
    * machine-consumable. */
  def dataCard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        sha2(col("text"), 256).as("g"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        // floor-spelled rounding — see wordEntropy (Retrieval.scala)
        (floor(avg(col("n_chars")) * 10000 + 0.5) / 10000.0).as("avg_chars"),
        countDistinct(col("g")).as("n_distinct"),
        (floor((lit(1.0) - countDistinct(col("g")).cast("double") / count(lit(1)))
          * 10000 + 0.5) / 10000.0).as("dup_frac"),
        grouping(col("source")).cast("int").as("g_source"),
        grouping(col("lang")).cast("int").as("g_lang"))

  val dataCardSql: String =
    """WITH base AS (
      |  SELECT source, lang, n_chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |         sha256(text) AS g
      |  FROM documents)
      |SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |       floor(avg(n_chars) * 10000 + 0.5) / 10000.0 AS avg_chars,
      |       count(DISTINCT g) AS n_distinct,
      |       floor((1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*))
      |             * 10000 + 0.5) / 10000.0 AS dup_frac,
      |       CAST(GROUPING(source) AS INT) AS g_source,
      |       CAST(GROUPING(lang) AS INT) AS g_lang
      |FROM base GROUP BY ROLLUP (source, lang)""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Span-corruption statistics (the T5 denoising-objective prep): mask
    * ~15% of each document's token positions with a deterministic per-
    * position draw, count the contiguous masked runs (each run becomes one
    * sentinel), and report the resulting encoder/decoder sequence lengths —
    * input = kept tokens + one sentinel per span, target = masked tokens +
    * one sentinel per span + EOS. These lengths are what sizes the packing
    * (q115/q144) of a denoising pretraining mix.
    *
    * Determinism contract (q126/q131 class): the mask is a pure function of
    * (doc_id, position) — first 4 md5 hex chars compared against "2666"
    * (0x2666/0x10000 = 14.99%) — so both engines mask identical positions
    * with no RNG, no partition-order dependence. A run boundary needs
    * mask(p-1), which is RECOMPUTED from the hash rather than carried by a
    * lag() window: two md5 calls per position buys a fully map-side plan —
    * positions explode from sequence(), flags are per-row expressions, and
    * the only shuffle is the final per-doc partial-agg sum. No window, no
    * join, no sort at any scale. */
  private val MaskHex = "2666"

  def spanCorruption(s: SparkSession, d: String): DataFrame = {
    def masked(p: org.apache.spark.sql.Column) =
      substring(md5(concat_ws("|", lit("sc"), col("doc_id"), p)), 1, 4) < MaskHex
    Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0), col("n_tokens") - 1)).as("p"))
      .withColumn("m", masked(col("p")))
      .withColumn("st", col("m") && (col("p") === 0 || !masked(col("p") - 1)))
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("st"), 1L).otherwise(0L)).as("n_spans"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
        (col("n_tokens") - col("n_masked") + col("n_spans")).as("input_len"),
        (col("n_masked") + col("n_spans") + 1).as("target_len"))
  }

  val spanCorruptionSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, n_tokens, unnest(range(0, n_tokens)) AS p FROM toks),
      |flags AS (
      |  SELECT doc_id, n_tokens,
      |         substring(md5('sc|' || doc_id || '|' || p), 1, 4) < '$MaskHex' AS m,
      |         (substring(md5('sc|' || doc_id || '|' || p), 1, 4) < '$MaskHex'
      |          AND (p = 0 OR NOT
      |            substring(md5('sc|' || doc_id || '|' || (p - 1)), 1, 4) < '$MaskHex'))
      |           AS st
      |  FROM pos)
      |SELECT doc_id, max(n_tokens) AS n_tokens,
      |       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |       CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
      |       max(n_tokens) - CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
      |         + CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS input_len,
      |       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
      |         + CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) + 1 AS target_len
      |FROM flags GROUP BY doc_id""".stripMargin

  /** Per-document split assignment for an arbitrary (doc_id, group) frame —
    * the reusable core of q135: every member inherits its group
    * representative's deterministic draw. Fed with q69's connected
    * components this becomes the near-dup-safe split (CurationSpec). */
  def groupSplit(members: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val reps = members.groupBy(groupCol)
      .agg(min(col(idCol)).as("rep"))
      .withColumn("split",
        when(substring(md5(concat_ws("|", lit("split"), col("rep"))), 1, 1)
          .isin("0", "1", "2", "3"), "heldout").otherwise("train"))
    members.join(reps, groupCol).select(col(idCol), col(groupCol), col("split"))
  }

  // ---------------------------------------------------------------- q147
  /** Per-source corpus drift: KL(source ‖ corpus) over the word
    * distribution — the monitoring metric a pipeline watches to catch a
    * source whose content shifted between crawls (and the mixture-weighting
    * input next to the q137 data card). Everything folds out of ONE
    * (source, word, count) aggregation of the corpus: the corpus-wide
    * distribution is re-aggregated from that relation (never a second text
    * scan), and both side tables — per-word corpus counts and per-source
    * totals — are broadcast back onto it, so the only corpus-sized shuffle
    * is the initial partial-aggregated (source, word) groupBy. Every word
    * in a source occurs in the corpus by construction, so q > 0 and the KL
    * terms are total. Rounding uses the q89 floor-spelling contract. */
  def corpusDrift(s: SparkSession, d: String): DataFrame = {
    // the explicit isNotNull matches what join-key inference pushes into
    // the probe branch's scan — without it the corpus/grand branches get a
    // DIFFERENT canonical scan subtree and AQE exchange reuse breaks (the
    // corpus would be tokenized twice; PlanQualitySpec gates one scan)
    val sw = Tables.documents(s, d)
      .filter(col("source").isNotNull)
      .select(col("source"),
        explode(filter(split(lower(col("text")), " "), w => length(w) > 0)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val corpus = sw.groupBy("word").agg(sum("c").as("cw"))
    val totals = sw.groupBy("source").agg(sum("c").as("n_src"))
    val grand = corpus.agg(sum("cw").as("n_all"))
    sw.join(broadcast(corpus), "word")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand))
      .groupBy("source")
      .agg(max("n_src").as("n_tokens"),
           count(lit(1)).as("n_unique_words"),
           (floor(sum((col("c") / col("n_src"))
               * log((col("c") / col("n_src")) / (col("cw") / col("n_all"))))
             * 10000 + 0.5) / 10000.0).as("kl"))
      .select("source", "n_tokens", "n_unique_words", "kl")
  }

  private val corpusDriftSql =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), sw AS (
      |  SELECT source, word, count(*) AS c FROM toks WHERE word <> '' GROUP BY 1, 2
      |), corpus AS (SELECT word, sum(c) AS cw FROM sw GROUP BY 1),
      |tot AS (SELECT source, sum(c) AS n_src FROM sw GROUP BY 1),
      |grand AS (SELECT sum(cw) AS n_all FROM corpus)
      |SELECT sw.source, CAST(max(tot.n_src) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_unique_words,
      |       floor(sum((sw.c / tot.n_src)
      |                 * ln((sw.c / tot.n_src) / (corpus.cw / grand.n_all)))
      |             * 10000 + 0.5) / 10000.0 AS kl
      |FROM sw
      |JOIN corpus USING (word) JOIN tot USING (source) CROSS JOIN grand
      |GROUP BY sw.source""".stripMargin

  // ---------------------------------------------------------------- q149
  /** The END-TO-END curation composition — quality gate → near-dup dedup →
    * leakage-safe split → mixture rebalance → token packing, as ONE
    * operator. q134/q114/q135/q129/q115 are its stages; this is the
    * pipeline a corpus owner actually runs, and the funnel it returns
    * (stage, n_docs, n_tokens) is the accounting a data card cites.
    * Conservation invariants (CurationSpec): quality ≤ ingest; dedup ≤
    * quality; train + heldout == dedup exactly; rebalanced ≤ train; packed
    * tokens == rebalanced tokens exactly (packing may not lose a token).
    *
    * Stage semantics, each inherited verbatim from its standalone query so
    * the oracles stay one source of truth:
    *  1. quality — q134's frozen logistic, keep iff score ≥ 0.5;
    *  2. dedup — q114: exact-trigram-Jaccard pairs (t = 0.4) on the
    *     SURVIVORS of stage 1, connected components, keep the longest
    *     member per group (doc_id tiebreak). Running dedup after the
    *     quality gate is the standard order (why pay the pair join for
    *     docs the gate drops?);
    *  3. split — q135's md5 group draw. After the group collapse every
    *     surviving doc is its own duplicate-group representative, so the
    *     group-level draw REDUCES to the per-doc draw — the composition
    *     is leakage-safe by construction, not by a second grouping pass;
    *  4. rebalance — q129's exact-integer language equalization, computed
    *     on the TRAIN side only (heldout is never resampled);
    *  5. pack — q115's two-pass shard-prefix packing of the rebalanced
    *     train set (no window, no global funnel).
    *
    * Plan shape: qual/train/reb are localCheckpoint'ed because each feeds
    * 2–3 downstream stages (shingling + rep join + funnel; without
    * materialization the whole upstream pipeline replays per consumer —
    * same rationale as q114's pair checkpoint). Funnel rows are six tiny
    * aggregates unioned — each a partial-agg count over an
    * already-materialized frame. */
  /** `candidates` picks the pair-generation strategy for stage 2:
    * "exact" (default, the oracle shape — full inverted-index Jaccard
    * join) or "minhash" — banded-LSH candidates + exact confirm at the
    * same 0.4 threshold, the form a 100 TB run uses (pair work ∝ LSH
    * collisions instead of Σ df²). minhashNearDupOf widens to 32×2 banding
    * below t=0.5, so candidate recall is ≥ 0.996 at the J=0.4 margin
    * itself — the exact-funnel equivalence no longer leans on the corpus
    * being bimodal; CurationSpec pins it. */
  def curate(s: SparkSession, d: String,
             candidates: String = "exact"): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // 1. quality gate
    val qual = base
      .join(qualityLogit(s, d).filter(col("keep")).select("doc_id"), "doc_id")
      .localCheckpoint(true)
    // 2. near-dup dedup on the survivors; "auto" (q149c) applies the skew
    // rule to the posting skew of the already-checkpointed survivor frame:
    // the counting join's pair work is Σdf² while minhash stays flat
    val strategy = candidates match {
      case "auto" =>
        val sh = Dedup.shingledN(qual.select("doc_id", "text"), 3)
        if (Dispatch.skewed(Dispatch.rhoFromEx(Dedup.postings(sh)))) "minhash"
        else "exact"
      case fixed  => fixed
    }
    val rawPairs = strategy match {
      case "minhash" => Dedup.minhashNearDupOf(qual.select("doc_id", "text"), 0.4)
      case "exact"   => Dedup.ngramJaccardOf(qual.select("doc_id", "text"))
      case other     => throw new IllegalArgumentException(
        s"unknown candidates strategy '$other' (expected exact|minhash|auto)")
    }
    val pairs = rawPairs.select("a_id", "b_id").localCheckpoint(true)
    val groups = Dedup.dedupGroupsFromPairs(pairs)
    val reps = groups.join(qual.select("doc_id", "n_chars"), "doc_id")
      .groupBy("group_id")
      .agg(max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("doc_id"))
    // a grouped doc survives iff it is its group's representative.
    // shuffle_hash pins: both anti-join build sides are dup-rate-bounded
    // (grouped docs / non-representatives only, never the corpus), but the
    // checkpointed frames' default size estimates make the planner fall
    // back to SMJ — paying a sort of the corpus-scale `qual` frame. BuildRight left-anti SHJ is bounded and
    // sort-free; PlanQualitySpec's SMJ whitelist keeps it pinned.
    val nonReps = groups.join(reps.select("doc_id").hint("shuffle_hash"),
      Seq("doc_id"), "left_anti")
    val dedup = qual.join(nonReps.select("doc_id").hint("shuffle_hash"),
      Seq("doc_id"), "left_anti")
    // 3. leakage-safe split (md5 draw; docs are their own group reps here)
    val splitDf = dedup.withColumn("split",
      when(substring(md5(concat_ws("|", lit("split"), col("doc_id"))), 1, 1)
        .isin("0", "1", "2", "3"), "heldout").otherwise("train"))
    val train = splitDf.filter(col("split") === "train")
      .select("doc_id", "lang", "n_tok").localCheckpoint(true)
    // 4. mixture rebalance (q129 exact-integer acceptance) on train
    val perLang = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val totals = train.agg(count(lit(1)).as("t_total"),
      countDistinct(col("lang")).as("k_langs"))
    val reb = train
      .join(broadcast(perLang), "lang")
      .crossJoin(broadcast(totals))
      .withColumn("u", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
      .filter(col("u") * col("k_langs") * col("n_docs") <
        col("t_total") * lit(4294967296L))
      .select("doc_id", "n_tok").localCheckpoint(true)
    // 5. token packing of the rebalanced train set
    val packed = Retrieval.packAssignmentsOf(s,
        reb.withColumn("payload", lit("")))
      .groupBy("batch_raw").agg(sum("n_tok").as("n_tok"))
    def row(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
             coalesce(sum("n_tok"), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    row("00_ingest", base)
      .unionAll(row("01_quality", qual))
      .unionAll(row("02_dedup", dedup))
      .unionAll(splitDf.groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .select(concat(lit("03_"), col("split")).as("stage"),
          col("n_docs"), col("n_tokens")))
      .unionAll(row("04_rebalanced", reb))
      // for the packed row n_docs counts BATCHES (the packing output unit)
      .unionAll(row("05_packed", packed))
  }

  /** Composed oracle: each stage's fragment is the standalone query's
    * oracle with `documents` rebased onto the previous stage's CTE. */
  val curateSql: String =
    """WITH RECURSIVE base AS (
      |  SELECT doc_id, text, lang, n_chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |-- stage 1: q134 quality gate
      |toksq AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |          FROM documents),
      |tfq AS (SELECT doc_id, word, count(*) AS tf FROM toksq
      |        WHERE word <> '' GROUP BY 1, 2),
      |feat AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |                count(*) AS n_unique, max(tf) AS top_tf
      |         FROM tfq GROUP BY doc_id),
      |qkeep AS (SELECT doc_id FROM (
      |    SELECT doc_id,
      |           -1.2 + 3.0 * (CAST(n_unique AS DOUBLE) / n_tokens)
      |               + 0.8 * ln(CAST(n_tokens AS DOUBLE))
      |               - 2.5 * (CAST(top_tf AS DOUBLE) / n_tokens) AS z
      |    FROM feat)
      |  WHERE floor(1.0 / (1.0 + exp(-z)) * 10000 + 0.5) / 10000.0 >= 0.5),
      |qual AS (SELECT b.* FROM base b JOIN qkeep USING (doc_id)),
      |-- stage 2: q114 near-dup pipeline on the survivors
      |tokss AS (SELECT doc_id, string_split(text, ' ') t FROM qual
      |          WHERE len(string_split(text, ' ')) >= 3),
      |shq AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                      for i in range(1, len(t) - 1)]) s
      |        FROM tokss),
      |exq AS (SELECT doc_id, unnest(s) shingle FROM shq),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM exq a JOIN exq b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT a_id, b_id FROM (
      |    SELECT i.a_id, i.b_id,
      |           round(i.n::DOUBLE / (len(sa.s) + len(sb.s) - i.n), 4) AS jaccard
      |    FROM inter i
      |    JOIN shq sa ON i.a_id = sa.doc_id
      |    JOIN shq sb ON i.b_id = sb.doc_id)
      |  WHERE jaccard >= 0.4),
      |edges AS (SELECT a_id u, b_id v FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |walk(node, label) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.node = e.u),
      |grp AS (SELECT node AS doc_id, min(label) AS group_id FROM walk GROUP BY node),
      |reps AS (SELECT doc_id FROM (
      |    SELECT g.doc_id,
      |           row_number() OVER (PARTITION BY g.group_id
      |                              ORDER BY q.n_chars DESC, g.doc_id ASC) AS rk
      |    FROM grp g JOIN qual q USING (doc_id))
      |  WHERE rk = 1),
      |dedup AS (SELECT * FROM qual
      |          WHERE doc_id NOT IN (SELECT doc_id FROM grp)
      |             OR doc_id IN (SELECT doc_id FROM reps)),
      |-- stage 3: q135 md5 split draw
      |spl AS (SELECT *,
      |               CASE WHEN substring(md5('split|' || doc_id), 1, 1)
      |                         IN ('0','1','2','3')
      |                    THEN 'heldout' ELSE 'train' END AS split
      |        FROM dedup),
      |train AS (SELECT doc_id, lang, n_tok FROM spl WHERE split = 'train'),
      |-- stage 4: q129 exact-integer rebalance on train
      |pl AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY lang),
      |tt AS (SELECT count(*) AS t_total, count(DISTINCT lang) AS k_langs FROM train),
      |reb AS (SELECT t.doc_id, t.n_tok
      |        FROM train t JOIN pl USING (lang) CROSS JOIN tt
      |        WHERE ((t.doc_id * 2654435761) % 4294967296) * tt.k_langs * pl.n_docs
      |              < tt.t_total * 4294967296),
      |-- stage 5: q115 packing of the rebalanced set
      |pk AS (SELECT CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |               - n_tok) / 512) AS BIGINT) AS batch, n_tok
      |       FROM reb),
      |pkb AS (SELECT batch, CAST(sum(n_tok) AS BIGINT) AS n_tok FROM pk GROUP BY batch)
      |SELECT '00_ingest' AS stage, count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM base
      |UNION ALL SELECT '01_quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM qual
      |UNION ALL SELECT '02_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM dedup
      |UNION ALL SELECT '03_' || split, count(*), CAST(sum(n_tok) AS BIGINT)
      |          FROM spl GROUP BY split
      |UNION ALL SELECT '04_rebalanced', count(*), CAST(sum(n_tok) AS BIGINT) FROM reb
      |UNION ALL SELECT '05_packed', count(*), CAST(sum(n_tok) AS BIGINT) FROM pkb""".stripMargin

  // ---------------------------------------------------------------- weighted sample
  /** Weighted sampling without replacement, k = 5 per source, weight =
    * n_chars (longer documents proportionally likelier) — the
    * Efraimidis–Spirakis A-ES scheme: each row draws key = u^(1/w) for
    * uniform u and the k largest keys win. One pass, no per-group state
    * beyond the top-k window; at scale the rank window is partitioned by
    * source (blanket-sweep safe) and the standard upgrade for huge groups
    * is a per-partition top-k before the shuffle (what TakeOrderedAndProject
    * does globally).
    *
    * Determinism (and the DuckDB oracle) comes from replacing the RNG with
    * a Knuth-multiplicative pseudo-uniform of doc_id over a prime modulus —
    * exact integer arithmetic on both engines, so both compute bit-identical
    * u and the same sample. pow() may differ in the last ulp across libm
    * implementations, but keys of distinct (u, w) pairs are separated by
    * ~1e-3 ≫ 1 ulp, and doc_id breaks exact ties, so the selected rank
    * order is stable; the key itself is not emitted. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    // (a·b) mod p = ((a mod p)·(b mod p)) mod p — pre-reducing both factors
    // keeps the product ≤ (p−1)² ≈ 1e12, overflow-safe for ANY doc_id
    // (the raw product overflows BIGINT at doc_id ≈ 3.5e9, which ANSI Spark
    // and DuckDB both reject), while computing the identical u.
    val u = ((((col("doc_id") % 1000003L) * lit(2654435761L % 1000003L))
              % 1000003L + 1L).cast("double") / 1000004.0)
    val key = pow(u, lit(1.0) / col("n_chars"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"), key.as("k"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("k").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= 5)
      .select("source", "doc_id", "n_chars", "rn")
  }

  val weightedSampleSql: String =
    """WITH keyed AS (
      |  SELECT source, doc_id, n_chars,
      |    pow(((((doc_id % 1000003) * (2654435761 % 1000003)) % 1000003) + 1)::DOUBLE / 1000004.0,
      |        1.0 / n_chars) AS k
      |  FROM documents),
      |ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
      |  FROM keyed)
      |SELECT source, doc_id, n_chars, rn FROM ranked WHERE rn <= 5""".stripMargin

  // ---------------------------------------------------------------- padding waste
  /** Length-grouped batching profile: how much padding does sorting by
    * length save? Sequence batches pad every member to the batch max, so
    * per-source we form batches of 32 twice — docs in length order
    * (the LengthGroupedSampler every training stack ships) and in arrival
    * (doc_id) order — and compare the padded-slack totals. Waste of a
    * batch = Σ(batch_max_chars − n_chars). Two rank windows partitioned by
    * source (sweep-safe) + two (source, batch) aggregates; all-integer
    * arithmetic until the final ratio, so the oracle compare is exact.
    * At scale the sort is the shuffle the training data loader pays
    * anyway to shard; the profile itself is linear. */
  def paddingWaste(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("source", "doc_id", "n_chars")
    def wasteBy(ord: Seq[Column], out: String): DataFrame =
      docs
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(ord: _*)))
        .withColumn("batch", ((col("rn") - 1) / lit(32)).cast("long"))
        .groupBy("source", "batch")
        .agg((max("n_chars") * count(lit(1)) - sum("n_chars")).as("w"))
        .groupBy("source")
        .agg(sum("w").as(out), count(lit(1)).as(s"${out}_batches"))
    wasteBy(Seq(col("n_chars"), col("doc_id")), "sorted_waste")
      .join(wasteBy(Seq(col("doc_id")), "arrival_waste"), "source")
      .select(col("source"), col("sorted_waste"), col("arrival_waste"),
        col("sorted_waste_batches").as("n_batches"),
        round(lit(1.0) - col("sorted_waste").cast("double") /
          col("arrival_waste"), 4).as("savings"))
  }

  val paddingWasteSql: String =
    """WITH s AS (
      |  SELECT source, sum(w) AS sorted_waste, count(*) AS n_batches FROM (
      |    SELECT source, batch, max(n_chars) * count(*) - sum(n_chars) AS w FROM (
      |      SELECT source, n_chars,
      |        (row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
      |         - 1) // 32 AS batch
      |      FROM documents) GROUP BY 1, 2) GROUP BY 1),
      |a AS (
      |  SELECT source, sum(w) AS arrival_waste FROM (
      |    SELECT source, batch, max(n_chars) * count(*) - sum(n_chars) AS w FROM (
      |      SELECT source, n_chars,
      |        (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 32
      |          AS batch
      |      FROM documents) GROUP BY 1, 2) GROUP BY 1)
      |SELECT source, CAST(sorted_waste AS BIGINT) AS sorted_waste,
      |       CAST(arrival_waste AS BIGINT) AS arrival_waste,
      |       n_batches,
      |       round(1.0 - sorted_waste::DOUBLE / arrival_waste, 4) AS savings
      |FROM s JOIN a USING (source)""".stripMargin

  // ---------------------------------------------------------------- neyman
  /** Neyman-allocation stratified sampling: a fixed budget of n = 100
    * documents split across sources ∝ N_h·S_h (stratum size × stddev of
    * n_chars — optimal allocation for estimating the corpus mean under a
    * fixed budget, Neyman 1934), integerized by largest-remainder so the
    * allocations sum to exactly n, then drawn deterministically per
    * stratum with the q163 pseudo-uniform key. Output is the per-stratum
    * design + realized sample stats — what a data-audit sampling plan
    * looks like. Two stratum-grain aggregates and two rank windows
    * (one over the 20-row stratum table, one partitioned by source);
    * nothing data-scale beyond the stats pass. */
  def neymanSample(s: SparkSession, d: String): DataFrame = {
    val budget = 100
    val docs = Tables.documents(s, d)
    // localCheckpoint: `stats` is referenced by alloc, totW AND the
    // deficit subquery — unmaterialized, the corpus-scale stats aggregate
    // re-runs once per reference (19+ Exchange nodes in the plan dump,
    // three of them identical corpus passes).
    // The frame is stratum-cardinality (~20 rows), so eager
    // materialization is free and the corpus is scanned once for stats.
    val stats = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"), stddev_pop("n_chars").as("sd"))
      .localCheckpoint(true)
    val totW = stats.agg(sum(col("n_docs") * col("sd")).as("tot_w"))
    val alloc = stats.crossJoin(broadcast(totW))
      .withColumn("a", lit(budget) * col("n_docs") * col("sd") / col("tot_w"))
      .withColumn("fl", floor(col("a")).cast("long"))
      .withColumn("rem", col("a") - col("fl"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .crossJoin(broadcast(
        stats.crossJoin(broadcast(totW))
          .agg((lit(budget) - sum(floor(lit(budget) * col("n_docs") * col("sd")
            / col("tot_w")))).cast("long").as("deficit"))))
      .withColumn("alloc", col("fl") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), round(col("sd"), 4).as("sd"), col("alloc"))
    // overflow-safe pre-reduced form; identical value — see weightedSample
    val u = ((((col("doc_id") % 1000003L) * lit(2654435761L % 1000003L))
              % 1000003L + 1L).cast("double") / 1000004.0)
    val sampled = docs.select(col("source"), col("doc_id"), col("n_chars"), u.as("k"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("k").desc, col("doc_id"))).cast("long"))
      .join(alloc.select("source", "alloc"), "source")
      .filter(col("rn") <= col("alloc"))
      .groupBy("source").agg(
        count(lit(1)).as("n_sampled"),
        round(avg("n_chars"), 2).as("sample_mean_chars"))
    // broadcast: both frames are stratum-cardinality (~20 rows); unhinted
    // the planner emitted the dump's one SMJ here
    alloc.join(broadcast(sampled), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("sd"), col("alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        col("sample_mean_chars"))
  }

  val neymanSampleSql: String =
    """WITH stats AS (
      |  SELECT source, count(*) AS n_docs, stddev_pop(n_chars) AS sd
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT sum(n_docs * sd) AS tot_w FROM stats),
      |alloc0 AS (
      |  SELECT source, n_docs, sd,
      |    100 * n_docs * sd / tot_w AS a,
      |    CAST(floor(100 * n_docs * sd / tot_w) AS BIGINT) AS fl
      |  FROM stats, tot),
      |deficit AS (SELECT 100 - CAST(sum(fl) AS BIGINT) AS deficit FROM alloc0),
      |alloc AS (
      |  SELECT source, n_docs, round(sd, 4) AS sd,
      |    fl + CASE WHEN row_number() OVER (ORDER BY a - fl DESC, source)
      |                   <= (SELECT deficit FROM deficit)
      |              THEN 1 ELSE 0 END AS alloc
      |  FROM alloc0),
      |keyed AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |      ((((doc_id % 1000003) * (2654435761 % 1000003)) % 1000003) + 1)::DOUBLE / 1000004.0 DESC,
      |      doc_id) AS rn
      |  FROM documents),
      |sampled AS (
      |  SELECT k.source, count(*) AS n_sampled,
      |         round(avg(n_chars), 2) AS sample_mean_chars
      |  FROM keyed k JOIN alloc a ON k.source = a.source AND k.rn <= a.alloc
      |  GROUP BY 1)
      |SELECT source, n_docs, sd, CAST(alloc AS BIGINT) AS alloc,
      |       CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
      |       sample_mean_chars
      |FROM alloc LEFT JOIN sampled USING (source)""".stripMargin

  // ---------------------------------------------------------------- q179
  /** Distributed logistic-regression trainer for the quality classifier —
    * closes q134's loop: q134 scores with FROZEN weights ("a real pipeline
    * loads them from a trained artifact"); this operator IS the trainer
    * that produces such an artifact. Full-batch gradient descent on
    * q134's own feature relation (bias, unique_frac, ln(n_tokens)/10,
    * top_frac), labels distilled from a metadata gate the features don't
    * see directly (n_chars ≥ [[TrainLabelChars]] — the FineWeb/DCLM
    * pattern: label by a cheap external signal, learn a lexical scorer
    * that applies where the signal is absent). Emits one row per
    * iteration (loss, accuracy, weights) — the artifact plus its training
    * curve.
    *
    * Scale shape: the feature pass is q134's one partial-aggregated
    * groupBy, cached once; each of the [[TrainIters]] rounds is a single
    * map + full aggregation over the cached features (weights enter the
    * plan as literals — no model server, no UDF), and the per-round
    * driver state is FOUR doubles (the k-means-centroid class, bounded by
    * model size, never by data).
    *
    * Bit-stable BY CONSTRUCTION, not by luck: per-row gradient and loss
    * contributions are rounded to DECIMAL(28,12) and summed as decimals —
    * decimal addition is associative, so the aggregate is identical under
    * any partitioning/merge order (unlike float sums, the reason the
    * k-means goldens needed an empirical 2/8-CPU check). Every weight is
    * therefore an exact function of the corpus, and the sf0.01 run pins
    * as a golden VALUES oracle. */
  private val TrainLabelChars = 250
  private val TrainIters = 10
  private val TrainLr = 5.0

  def qualityTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feat = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "n_chars", "word").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id", "n_chars")
      .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_unique"),
        max("tf").as("top_tf"))
      .select(
        (col("n_chars") >= TrainLabelChars).cast("double").as("y"),
        lit(1.0).as("x0"),
        (col("n_unique").cast("double") / col("n_tokens")).as("x1"),
        (log(col("n_tokens").cast("double")) / 10.0).as("x2"),
        (col("top_tf").cast("double") / col("n_tokens")).as("x3"))
      .cache()
    try {
      val n = feat.count().toDouble
      var w = Array(0.0, 0.0, 0.0, 0.0)
      val dec = "decimal(28,12)"
      val out = (1 to TrainIters).map { it =>
        val z = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val row = feat.select(
          sum(((p - col("y")) * col("x0")).cast(dec)).as("g0"),
          sum(((p - col("y")) * col("x1")).cast(dec)).as("g1"),
          sum(((p - col("y")) * col("x2")).cast(dec)).as("g2"),
          sum(((p - col("y")) * col("x3")).cast(dec)).as("g3"),
          sum((-(col("y") * log(greatest(p, lit(1e-12))) +
            (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(1e-12)))))
            .cast(dec)).as("loss"),
          sum(when((p >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
            .as("n_correct")).head()
        val loss = row.getDecimal(4).doubleValue() / n
        val acc = row.getLong(5)
        // loss/accuracy are measured under the weights the round STARTED
        // with (the training-curve convention); the emitted weights are the
        // post-step artifact, so the last row IS the trained model q134
        // would load
        w = Array.tabulate(4)(j =>
          w(j) - TrainLr * row.getDecimal(j).doubleValue() / n)
        (it, acc, math.floor(loss * 1e6 + 0.5) / 1e6,
          math.floor(w(0) * 1e6 + 0.5) / 1e6, math.floor(w(1) * 1e6 + 0.5) / 1e6,
          math.floor(w(2) * 1e6 + 0.5) / 1e6, math.floor(w(3) * 1e6 + 0.5) / 1e6)
      }
      out.toDF("iter", "n_correct", "loss", "w_bias", "w_uniq", "w_lntok", "w_top")
    } finally feat.unpersist(false)
  }

  // ---------------------------------------------------------------- q181
  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling") — the hashed-n-gram
    * importance-weighting step real pretraining pipelines run between raw
    * crawl and training: fit two bag-of-hashed-features multinomials (a
    * TARGET corpus defining the distribution you want more of, and the RAW
    * candidate pool), score every candidate by its average per-token
    * log-likelihood ratio, and keep the top [[DsirTopK]]. Here the target
    * is the long-document slice (n_chars ≥ [[DsirTargetChars]] — the same
    * cheap-external-signal pattern as q179's labels) and the operator
    * surfaces the SHORT documents that lexically look like long ones.
    *
    * Scale shape: ONE tokenize pass feeds a (doc, bucket) count table
    * (map-side combine; ≤ [[DsirBuckets]] rows per doc); both multinomials
    * and their totals aggregate that table (the q178 model-table algebra —
    * the corpus is never re-scanned); the fitted model is a 256-row
    * broadcast joined back map-side; the final cut is orderBy+limit =
    * TakeOrderedAndProject. Two shuffles total ((doc,bucket) counts, then
    * per-doc score), both with partial aggregation.
    *
    * Cross-engine determinism: the feature hash is the md5-hex-prefix
    * idiom (q59 contract) so bucket ids are strings both engines compute
    * identically; each model ratio is built from EXACT integer products
    * ((ct+1)·(Tr+B)) / ((cr+1)·(Tt+B)) — both below 2⁵³ up to ~sf10-scale
    * token counts (≈7e7 tokens ⇒ products ≈5e15; a 100 TB corpus rescales
    * the counts per shard before the ratio, same as weightedSample's
    * discussion) — so the IEEE quotient and hence ln's INPUT is identical;
    * the top-k cut orders by the 4-dp-ROUNDED score with doc_id tiebreak,
    * so last-ulp ln/sum-order drift (≈1e-15 relative) cannot flip
    * membership unless a true score sits within it of a rounding-grid
    * edge — the q86/q87 precedent, verified by the gate at sf0.01 and by
    * scaleverify at sf1. */
  private val DsirTargetChars = 350
  private val DsirBuckets = 256
  private val DsirTopK = 200

  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val docB = Tables.documents(s, d)
      .select(col("doc_id"), (col("n_chars") >= DsirTargetChars).as("is_tgt"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("b", substring(md5(col("word")), 1, 2))
      .groupBy("doc_id", "is_tgt", "b").agg(count(lit(1)).as("c"))
    val tgt = docB.filter(col("is_tgt")).groupBy("b").agg(sum("c").as("ct"))
    val raw = docB.filter(!col("is_tgt")).groupBy("b").agg(sum("c").as("cr"))
    val tT = tgt.agg(sum("ct").as("tt"))
    val tR = raw.agg(sum("cr").as("tr"))
    // candidate docs only ever touch raw-side buckets, so LEFT join from
    // raw; a bucket the target never hit keeps Laplace mass ct+1 = 1
    val model = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tT)).crossJoin(broadcast(tR))
      .select(col("b"), log(
        ((coalesce(col("ct"), lit(0L)) + 1L) * (col("tr") + DsirBuckets))
          .cast("double")
          / ((col("cr") + 1L) * (col("tt") + DsirBuckets)).cast("double"))
        .as("lr"))
    docB.filter(!col("is_tgt"))
      .join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        round(sum(col("c").cast("double") * col("lr")) / sum("c"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(DsirTopK)
  }

  val dsirSelectSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, n_chars >= $DsirTargetChars AS is_tgt,
      |         unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |docb AS (
      |  SELECT doc_id, is_tgt, substring(md5(word), 1, 2) AS b, count(*) AS c
      |  FROM toks WHERE word <> '' GROUP BY 1, 2, 3),
      |tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM docb WHERE is_tgt GROUP BY 1),
      |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM docb WHERE NOT is_tgt GROUP BY 1),
      |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM tgt),
      |tr AS (SELECT CAST(sum(cr) AS BIGINT) AS tr FROM raw),
      |model AS (
      |  SELECT raw.b, ln(
      |    CAST((COALESCE(tgt.ct, 0) + 1) * (tr.tr + $DsirBuckets) AS DOUBLE)
      |    / CAST((raw.cr + 1) * (tt.tt + $DsirBuckets) AS DOUBLE)) AS lr
      |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tt CROSS JOIN tr)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       round(sum(CAST(c AS DOUBLE) * lr) / sum(c), 4) AS score
      |FROM docb JOIN model USING (b)
      |WHERE NOT is_tgt
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC
      |LIMIT $DsirTopK""".stripMargin

  // ---------------------------------------------------------------- q183
  /** UniMax mixture allocation (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual Pretraining")
    * — the budget-allocation step between per-language counting (q129's
    * uniform-share rebalance) and epoch sharding (q132): give every
    * language up to [[UniEpochCap]] epochs of its own characters, never
    * more, and split the remaining character budget EVENLY among the
    * languages too large to cap — exactly the published greedy, which is
    * the water-filling solution alloc_l = min(capacity_l, θ) with θ chosen
    * so Σ alloc = B. Closed form, not a sequential loop: sort languages by
    * capacity ascending; the capped set is a PREFIX (proof in scaladoc
    * below), found by the exact-integer test capacity·(k−i+1) ≤ B−prefix
    * and made explicitly monotone with a running min; θ is then one
    * integer division. Budget B = ⌊3T/2⌋ of total chars T (chosen so the
    * corpus's minority languages cap and `en` down-samples — the UniMax
    * regime — at every sf, since GenData replicas preserve lang shares).
    *
    * Prefix proof: ascending capacities, r_i = (B−C_{i−1})/(k−i+1) the
    * water level were languages i..k all uncapped. If c_i > r_i then
    * r_{i+1} = (r_i(k−i+1) − c_i)/(k−i) < r_i ≤ c_i ≤ c_{i+1} — once the
    * test fails it fails forever, so min-so-far(flag) is exact, not a
    * heuristic.
    *
    * Scale shape: ONE per-language aggregate (partial, k rows out of the
    * scan); everything after is a k-row model table — the unpartitioned
    * windows and single-row cross joins the blanket sweep whitelists as
    * language-cardinality state (the q178/q100 class). Cross-engine
    * exactness: every comparison and division is BIGINT (`div`/`//` floor
    * division — positive operands, identical results); no float is ever
    * computed, so there is no boundary to disagree on. capacity·k ≈
    * 2·chars·k stays far below 2⁶³ even at 100 TB (≈8e14 for k=10). */
  private val UniEpochCap = 2

  def unimaxAlloc(s: SparkSession, d: String): DataFrame = {
    val cap = Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .withColumn("capacity", col("chars") * UniEpochCap)
    val tot = cap.agg(sum("chars").as("t_chars"), count(lit(1)).as("k_langs"))
    // ROWS frame explicitly: (capacity, lang) is a total order so RANGE
    // and ROWS coincide, but the default RANGE frame includes peers and
    // the oracle spells ROWS — keep the two plans textually aligned
    val w = Window.orderBy(col("capacity"), col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cap.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(3 * t_chars) div 2"))
      .withColumn("i", row_number().over(
        Window.orderBy(col("capacity"), col("lang"))).cast("long"))
      .withColumn("cprefix", sum("capacity").over(w))
      .withColumn("flag",
        when(col("capacity") * (col("k_langs") - col("i") + 1) <=
          col("budget") - (col("cprefix") - col("capacity")), 1L).otherwise(0L))
      .withColumn("capped", min("flag").over(w) === 1L)
    val ms = ranked.agg(
      sum(when(col("capped"), col("capacity")).otherwise(0L)).as("c_capped"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("m"))
    ranked.crossJoin(broadcast(ms))
      .withColumn("alloc_chars", when(col("capped"), col("capacity"))
        .otherwise(expr("(budget - c_capped) div (k_langs - m)")))
      .select(col("lang"), col("n_docs"), col("chars"), col("capacity"),
        col("alloc_chars"),
        expr("(alloc_chars * 10000) div chars").as("epochs_bp"))
  }

  val unimaxAllocSql: String =
    s"""WITH cap AS (
      |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
      |         CAST(sum(n_chars) AS BIGINT) * $UniEpochCap AS capacity
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(chars) AS BIGINT) AS t_chars,
      |               count(*) AS k_langs FROM cap),
      |rk AS (
      |  SELECT cap.*, (3 * t.t_chars) // 2 AS budget, t.k_langs,
      |         CAST(row_number() OVER (ORDER BY capacity, lang) AS BIGINT) AS i,
      |         CAST(sum(capacity) OVER (ORDER BY capacity, lang
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cprefix
      |  FROM cap CROSS JOIN tot t),
      |fl AS (
      |  SELECT *, CASE WHEN capacity * (k_langs - i + 1)
      |                      <= budget - (cprefix - capacity)
      |                 THEN 1 ELSE 0 END AS flag
      |  FROM rk),
      |cp AS (
      |  SELECT *, min(flag) OVER (ORDER BY capacity, lang
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
      |  FROM fl),
      |ms AS (SELECT CAST(sum(CASE WHEN capped THEN capacity ELSE 0 END) AS BIGINT)
      |                AS c_capped,
      |              CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS m
      |       FROM cp)
      |SELECT lang, n_docs, chars, capacity,
      |       CASE WHEN capped THEN capacity
      |            ELSE (budget - c_capped) // (k_langs - m) END AS alloc_chars,
      |       (CASE WHEN capped THEN capacity
      |             ELSE (budget - c_capped) // (k_langs - m) END * 10000) // chars
      |         AS epochs_bp
      |FROM cp CROSS JOIN ms""".stripMargin

  // ---------------------------------------------------------------- q197
  /** Quantile normalization of per-document quality scores ACROSS sources
    * (the microarray-era calibration trick, Bolstad et al. 2003, applied
    * to corpus curation): a raw quality signal is not comparable between
    * a web crawl and a curated wiki — each source's distribution sits on
    * its own scale, so a single global threshold over- or under-prunes
    * per source. The fix: replace every doc's score with the POOLED
    * distribution's value at the doc's within-source rank. After it, all
    * sources share the corpus-wide score distribution and one threshold
    * means the same thing everywhere — the calibration step in front of
    * q134's logit gate and q131's source caps.
    *
    * Shape: within-source percent_rank (window keyed by source, totally
    * ordered via the doc_id tiebreak so ranks — not just scores — are
    * engine-identical); the pooled scale is ONE exact-percentile
    * aggregate producing a [[QnGrid]]+1-point grid (constant-size,
    * broadcast back); each doc maps to its nearest grid point. No global
    * window anywhere — the grid aggregate is the only corpus-wide
    * reduction, and it's an O(grid) side table. */
  private val QnGrid = 20

  def quantileNorm(s: SparkSession, d: String): DataFrame = {
    val ps = (0 to QnGrid).map(i => i.toDouble / QnGrid)
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        round(col("n_chars").cast("double")
          / size(split(col("text"), " ")), 4).as("score"))
    val grid = scored
      .agg(expr(s"percentile(score, array(${ps.mkString(",")}))").as("qs"))
      .select(posexplode(col("qs"))).toDF("b", "gval")
    val wn = Window.partitionBy("source").orderBy(col("score"), col("doc_id"))
    scored
      .withColumn("b",
        round(percent_rank().over(wn) * QnGrid).cast("int"))
      .join(broadcast(grid), "b")
      .select(col("doc_id"), col("source"), col("score"), col("b"),
        round(col("gval"), 4).as("norm_score"))
  }

  val quantileNormSql: String = {
    val ps = (0 to QnGrid).map(i => i.toDouble / QnGrid)
    val gridSelects = ps.zipWithIndex.map { case (p, i) =>
      s"SELECT $i AS b, percentile_cont($p) WITHIN GROUP (ORDER BY score) AS gval FROM scored"
    }.mkString("\n  UNION ALL ")
    s"""WITH scored AS (
      |  SELECT doc_id, source,
      |         round(n_chars * 1.0 / len(string_split(text, ' ')), 4) AS score
      |  FROM documents),
      |grid AS (
      |  $gridSelects),
      |ranked AS (
      |  SELECT doc_id, source, score,
      |         CAST(round(percent_rank() OVER (PARTITION BY source
      |                ORDER BY score, doc_id) * $QnGrid, 0) AS INT) AS b
      |  FROM scored)
      |SELECT r.doc_id, r.source, r.score, r.b,
      |       round(g.gval, 4) AS norm_score
      |FROM ranked r JOIN grid g ON g.b = r.b""".stripMargin
  }

  // ---------------------------------------------------------------- q200
  /** Binned two-sample Kolmogorov–Smirnov distance between every pair of
    * sources' quality-score distributions: D = max over bins of
    * |CDF_a − CDF_b| — the distribution-shift detector that says WHETHER
    * two sources need q197's calibration at all (and the pairwise
    * companion to q147's corpus-level drift divergence). Exact KS needs a
    * global sort of the pooled samples — a scale-killer by construction —
    * so this is the production form: [[KsBins]] equal-width bins between
    * the global score min/max, where binned D under-estimates true D by
    * at most the per-bin CDF mass (the standard streaming-KS trade;
    * tighten by raising [[KsBins]], never by sorting).
    *
    * Shape: one map-side score pass → (source, bin) counts (the only
    * corpus-scale shuffle) → dense source×bin grid (constant:
    * sources × [[KsBins]] rows) → per-source running CDF over a window
    * KEYED by source with ≤ [[KsBins]] rows per partition → pair join on
    * bin. Bounds are a broadcast single-row side table; a degenerate
    * corpus (max = min) yields the empty result on both engines. */
  private val KsBins = 100

  def ksDistance(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("source"),
        round(col("n_chars").cast("double")
          / size(split(col("text"), " ")), 4).as("score"))
    val bounds = scored.agg(min("score").as("lo"), max("score").as("hi"))
    val binned = scored.crossJoin(broadcast(bounds))
      .filter(col("hi") > col("lo"))
      .withColumn("bin", least(
        floor((col("score") - col("lo")) / (col("hi") - col("lo")) * KsBins),
        lit(KsBins - 1L)).cast("int"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val totals = binned.groupBy("source").agg(sum("c").as("tot"))
    val grid = totals.select("source", "tot")
      .crossJoin(broadcast(
        s.range(0, KsBins).select(col("id").cast("int").as("bin"))))
      .join(binned, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val wc = Window.partitionBy("source").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = grid.withColumn("cdf", sum("c").over(wc).cast("double") / col("tot"))
      .select("source", "bin", "cdf", "tot")
    cdf.withColumnRenamed("source", "source_a")
      .withColumnRenamed("cdf", "cdf_a").withColumnRenamed("tot", "n_a")
      .join(cdf.withColumnRenamed("source", "source_b")
        .withColumnRenamed("cdf", "cdf_b").withColumnRenamed("tot", "n_b"), "bin")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(first("n_a").as("n_a"), first("n_b").as("n_b"),
        round(max(abs(col("cdf_a") - col("cdf_b"))), 4).as("ks_d"))
  }

  val ksDistanceSql: String =
    s"""WITH scored AS (
      |  SELECT source,
      |         round(n_chars * 1.0 / len(string_split(text, ' ')), 4) AS score
      |  FROM documents),
      |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM scored),
      |binned AS (
      |  SELECT source,
      |         CAST(least(floor((score - lo) / (hi - lo) * $KsBins),
      |                    ${KsBins - 1}) AS INT) AS bin,
      |         count(*) AS c
      |  FROM scored CROSS JOIN bounds WHERE hi > lo GROUP BY 1, 2),
      |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
      |           FROM binned GROUP BY 1),
      |grid AS (
      |  SELECT t.source, t.tot, g.bin, COALESCE(b.c, 0) AS c
      |  FROM totals t
      |  CROSS JOIN (SELECT CAST(unnest(range($KsBins)) AS INT) AS bin) g
      |  LEFT JOIN binned b ON b.source = t.source AND b.bin = g.bin),
      |cdf AS (
      |  SELECT source, bin, tot,
      |         CAST(sum(c) OVER (PARTITION BY source ORDER BY bin
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS DOUBLE) / tot AS cdf
      |  FROM grid)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       any_value(a.tot) AS n_a, any_value(b.tot) AS n_b,
      |       round(max(abs(a.cdf - b.cdf)), 4) AS ks_d
      |FROM cdf a JOIN cdf b ON a.bin = b.bin AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Binned ROC-AUC (the Mann–Whitney U identity: AUC = P(score⁺ >
    * score⁻) + ½P(=)) of a cheap quality signal predicting template
    * duplication — the EVALUATION meta-operator for the scoring family:
    * q134/q179 produce scores, this says whether a score actually ranks
    * dups below non-dups before anyone sets a threshold on it. Labels are
    * the q199 prefix-duplicate rater; scores the q197/q200 length signal.
    *
    * Exact AUC needs a global rank over the pooled scores — the same
    * scale-killer exact KS has — so this is the binned form on the q200
    * grid: per-bin positive/negative counts, then AUC = Σ_b n⁺(b) ·
    * (N⁻(<b) + ½n⁻(b)) / (P·N) — exact for the binned scores, with
    * within-bin ties taking the ½ credit (the standard trade; tighten
    * with [[KsBins]]). One corpus-scale shuffle (the bin counts); the
    * running N⁻ prefix runs over ≤ [[KsBins]] rows (q190's bounded-window
    * argument); output is one row. */
  def binnedAuc(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.documents(s, d).select(col("doc_id"),
      round(col("n_chars").cast("double")
        / size(split(col("text"), " ")), 4).as("score"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("p"))
    val pg = pre.groupBy("p").agg(count(lit(1)).as("ca"))
    val lab = pre.join(pg, "p")
      .select(col("score"), when(col("ca") > 1, 1L).otherwise(0L).as("y"))
    val bounds = lab.agg(min("score").as("lo"), max("score").as("hi"))
    val bins = lab.crossJoin(broadcast(bounds))
      .filter(col("hi") > col("lo"))
      .withColumn("bin", least(
        floor((col("score") - col("lo")) / (col("hi") - col("lo")) * KsBins),
        lit(KsBins - 1L)).cast("int"))
      .groupBy("bin")
      .agg(sum(col("y")).as("np"), sum(lit(1) - col("y")).as("nn"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum_nn", sum("nn").over(w) - col("nn"))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        round(sum(col("np").cast("double")
            * (col("cum_nn") + lit(0.5) * col("nn")))
          .cast("double") / (sum("np") * sum("nn")), 4).as("auc"))
  }

  val binnedAucSql: String =
    s"""WITH pre AS (
      |  SELECT doc_id,
      |         round(n_chars * 1.0 / len(string_split(text, ' ')), 4) AS score,
      |         array_to_string(string_split(text, ' ')[1:4], ' ') AS p
      |  FROM documents),
      |pg AS (SELECT p, count(*) AS ca FROM pre GROUP BY 1),
      |lab AS (
      |  SELECT score, CASE WHEN ca > 1 THEN 1 ELSE 0 END AS y
      |  FROM pre JOIN pg USING (p)),
      |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM lab),
      |bins AS (
      |  SELECT CAST(least(floor((score - lo) / (hi - lo) * $KsBins),
      |                    ${KsBins - 1}) AS INT) AS bin,
      |         CAST(sum(y) AS BIGINT) AS np,
      |         CAST(sum(1 - y) AS BIGINT) AS nn
      |  FROM lab CROSS JOIN bounds WHERE hi > lo GROUP BY 1),
      |cum AS (
      |  SELECT bin, np, nn,
      |         CAST(sum(nn) OVER (ORDER BY bin
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) - nn AS cum_nn
      |  FROM bins)
      |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
      |       round(CAST(sum(CAST(np AS DOUBLE) * (cum_nn + 0.5 * nn)) AS DOUBLE)
      |             / (sum(np) * sum(nn)), 4) AS auc
      |FROM cum""".stripMargin

  // ---------------------------------------------------------------- q205
  /** Poisson-bootstrap confidence intervals (Chamandy et al., Google 2012
    * — "Estimating uncertainty for massive data streams") for the mean
    * quality score per source: classical bootstrap resamples n rows WITH
    * replacement B times — a shuffle of B corpus copies — while the
    * Poisson bootstrap gives each row an independent Poisson(1) weight
    * per replicate, turning resampling into ONE map-side weight expression
    * (the multinomial→Poisson approximation every at-scale uncertainty
    * system uses). Replicate weights are the inverse-CDF of a seeded
    * uniform hash (the q163 determinism contract: draws replay
    * bit-identically on both engines), truncated at 4 (P(W>4) < 0.4%,
    * absorbed into the 4-bucket — documented bias far below the CI
    * width). Output: per-source point mean and the 2.5%/97.5% bootstrap
    * percentiles over [[BootReps]] replicate means.
    *
    * Shape: docs × [[BootReps]] exploded replicate stream collapses
    * map-side into (source, rep) partial sums — the only corpus-scale
    * shuffle carries B rows per (source × partition); the percentile
    * fold runs over the B-row replicate table per source. Overflow-safe
    * pre-reduced modular hash. The draw
    * `u = (h₁ · h₂) % P` is the PRODUCT of two affine-in-(doc,b) forms
    * with distinct multipliers: any single affine spelling
    * — including `((h + b·131) % P) · A % P`, which expands to
    * `doc·A² + b·(131·A)` mod P — shifts every doc's u by the SAME
    * stride per replicate, so the B replicate means were a one-parameter
    * global-shift family (adjacent-replicate weight correlation ≈ 0.66,
    * replicate 24 ≈ replicate 0); and a plain b-dependent multiplier
    * `doc · M_b % P` is still a lattice whose replicate pairs correlate
    * up to 0.88 over a contiguous doc range. The cross term
    * `doc·b·(A₁·1009 + A₂·131)` in the product makes the per-replicate
    * displacement genuinely doc-dependent, and unlike a square-mod-P mix
    * the support is not confined to quadratic residues (which biased the
    * weight buckets ~2%). Measured over 100k contiguous ids × B=32:
    * all-pairs max |ρ| = 0.011 (the null-noise floor) and the weight
    * distribution matches truncated Poisson(1) to 4 decimals. Each
    * factor is < P ≈ 1e6, so the product stays < ~1e12 — BIGINT-safe on
    * both engines. */
  private val BootReps = 32
  private val BootP = 1000003L
  private val BootA = 2654435761L % BootP // Knuth multiplicative
  private val BootA2 = 48271L             // MINSTD — distinct second multiplier

  def poissonBootstrap(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        round(col("n_chars").cast("double")
          / size(split(col("text"), " ")), 4).as("score"))
    val w = when(col("u") < 0.367879, 0)
      .when(col("u") < 0.735759, 1)
      .when(col("u") < 0.919699, 2)
      .when(col("u") < 0.981012, 3)
      .otherwise(4)
    val means = scored
      .select(col("doc_id"), col("source"), col("score"),
        explode(sequence(lit(0), lit(BootReps - 1))).as("b"))
      .withColumn("u",
        (((col("doc_id") % BootP * BootA + col("b") * 131 + 17) % BootP)
          * ((col("doc_id") % BootP * BootA2 + col("b") * 1009 + 3) % BootP)
          % BootP).cast("double") / BootP)
      .withColumn("w", w)
      .groupBy("source", "b")
      .agg((sum(col("w") * col("score")) / sum("w")).as("m"))
    val pt = scored.groupBy("source").agg(round(avg("score"), 4).as("mean_score"))
    means.groupBy("source")
      .agg(round(expr("percentile(m, 0.025)"), 4).as("ci_lo"),
        round(expr("percentile(m, 0.975)"), 4).as("ci_hi"),
        count(lit(1)).as("n_reps"))
      .join(pt, "source")
      .select("source", "mean_score", "ci_lo", "ci_hi", "n_reps")
  }

  val poissonBootstrapSql: String =
    s"""WITH scored AS (
      |  SELECT doc_id, source,
      |         round(n_chars * 1.0 / len(string_split(text, ' ')), 4) AS score
      |  FROM documents),
      |reps AS (
      |  SELECT source, score,
      |         (((doc_id % $BootP * $BootA + b * 131 + 17) % $BootP)
      |          * ((doc_id % $BootP * $BootA2 + b * 1009 + 3) % $BootP))
      |           % $BootP * 1.0 / $BootP AS u,
      |         b
      |  FROM scored CROSS JOIN (SELECT unnest(range($BootReps)) AS b)),
      |weighted AS (
      |  SELECT source, b, score,
      |         CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
      |              WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
      |              ELSE 4 END AS w
      |  FROM reps),
      |means AS (
      |  SELECT source, b, sum(w * score) / sum(w) AS m
      |  FROM weighted GROUP BY 1, 2),
      |pt AS (SELECT source, round(avg(score), 4) AS mean_score
      |       FROM scored GROUP BY 1)
      |SELECT source, mean_score,
      |       round(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 4) AS ci_lo,
      |       round(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 4) AS ci_hi,
      |       count(*) AS n_reps
      |FROM means JOIN pt USING (source)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q228
  /** Token-BALANCED shard export — the complement of q132's hash-random
    * shards. Hash dealing equalizes document COUNTS, but with Zipf-ish
    * document lengths the per-shard token sums spread several percent —
    * and a training job's step time follows its heaviest shard, so token
    * skew is straggler time on every epoch. The classic fix (greedy LPT
    * bin packing) is inherently sequential; the distributed-friendly
    * deterministic variant is SNAKE (boustrophedon) dealing over the
    * global length order: sort docs by token count descending, deal
    * rank r to shard r%N on even passes and N-1-r%N on odd passes, so
    * each pass hands every shard exactly one doc and alternating
    * direction cancels the within-pass monotone bias. Balance bound:
    * pass p's docs differ by at most len(first of pass p) − len(first of
    * pass p+1), telescoping to ≤ max_len spread overall — an ABSOLUTE
    * bound, scale-constant while mean shard load grows ∝ corpus
    * (measured: 17 tokens = 2.0% of mean at sf0.01 → 15 tokens = 0.18%
    * at sf0.1; relative skew vanishes at scale).
    *
    * Scale shape: the global rank comes from [[graft.operators.Layout
    * .stableRowIds]] (range-repartition + per-partition prefix sums —
    * two passes, NO single-task window; the q132 scaladoc's trap), then
    * one hash-shuffle groupBy over N=32 shard keys. The oracle restates
    * the rank as a window row_number — DuckDB can afford the global sort
    * at oracle scale; the engine plan is the one that survives 100 TB. */
  private val PackShards = 32

  def shardPack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      // stableRowIds sorts ascending; negate for the descending length
      // order LPT-style packing wants (doc_id tiebreak ⇒ total order)
      .withColumn("neg_tok", -col("n_tok"))
    val ranked = graft.operators.Layout
      .stableRowIds(docs, PackShards, "neg_tok", "doc_id")
    val pos = col("row_id") % PackShards
    ranked
      // pass parity without division (Spark `/` on longs is DOUBLE
      // division): (r / N) % 2 == 0  ⟺  r % 2N < N — exact integer
      // arithmetic, spelled identically in the oracle
      .withColumn("shard",
        when(col("row_id") % (2 * PackShards) < PackShards, pos)
          .otherwise(lit(PackShards - 1) - pos).cast("int"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tok").as("sum_tokens"),
           max("n_tok").as("max_doc_tokens"))
  }

  private val shardPackSql =
    s"""WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |ranked AS (
      |  SELECT n_tok,
      |         row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS r
      |  FROM toks)
      |SELECT CAST(CASE WHEN r % ${2 * PackShards} < $PackShards THEN r % $PackShards
      |            ELSE $PackShards - 1 - r % $PackShards END AS INT) AS shard,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |       CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
      |FROM ranked
      |GROUP BY 1""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q228_shard_pack", shardPack _, Some(shardPackSql)),
    GraftQuery("q163_weighted_sample", weightedSample _, Some(weightedSampleSql)),
    GraftQuery("q172_neyman_sample", neymanSample _, Some(neymanSampleSql)),
    GraftQuery("q166_padding_waste", paddingWaste _, Some(paddingWasteSql)),
    GraftQuery("q132_epoch_shard", epochShard _, Some(epochShardSql)),
    GraftQuery("q133_length_buckets", lengthBuckets _, Some(lengthBucketsSql)),
    GraftQuery("q134_quality_logit", qualityLogit _, Some(qualityLogitSql)),
    GraftQuery("q135_leakage_split", leakageSplit _, Some(leakageSplitSql)),
    GraftQuery("q136_ngram_novelty", ngramNovelty _, Some(ngramNoveltySql)),
    GraftQuery("q137_data_card", dataCard _, Some(dataCardSql)),
    GraftQuery("q142_span_corruption", spanCorruption _, Some(spanCorruptionSql)),
    GraftQuery("q147_corpus_drift", corpusDrift _, Some(corpusDriftSql)),
    GraftQuery("q149_curate", (s: SparkSession, d: String) => curate(s, d), Some(curateSql)),
    // the at-scale strategy, gated against the SAME oracle: LSH recall ≈ 1
    // at J ≥ 0.4 under 16×2 banding makes the funnels provably identical
    // (CurationSpec pins it); a hash mismatch here means the minhash path
    // dropped or invented a duplicate group
    GraftQuery("q149b_curate_minhash",
      (s: SparkSession, d: String) => curate(s, d, candidates = "minhash"),
      Some(curateSql)),
    GraftQuery("q179_quality_train", qualityTrain _,
      Some(graft.core.Goldens.load("q179_quality_train"))),
    GraftQuery("q181_dsir_select", dsirSelect _, Some(dsirSelectSql)),
    GraftQuery("q183_unimax_alloc", unimaxAlloc _, Some(unimaxAllocSql)),
    GraftQuery("q197_quantile_norm", quantileNorm _, Some(quantileNormSql)),
    GraftQuery("q200_ks_distance", ksDistance _, Some(ksDistanceSql)),
    GraftQuery("q204_binned_auc", binnedAuc _, Some(binnedAucSql)),
    GraftQuery("q205_poisson_bootstrap", poissonBootstrap _, Some(poissonBootstrapSql)))
}
