package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.GraftQuery

/** Retrieval-style corpus operators for a training-data pipeline over
  * `documents`: TF-IDF term weighting, BM25 ranked search, sliding-window
  * chunking, token entropy, and repetition-based quality gating (the Gopher
  * rules shape). The reference lake has no text-analytics surface at all —
  * these extend the engine the way `TextAnalysis`/`Dedup` do (charter
  * north-star ops), and every query is DuckDB-oracle-checked.
  *
  * Scale shape: tokenization is a pure map (stays in WholeStageCodegen); the
  * only wide ops are the (doc_id, word) and (word) aggregations, both
  * hash-partial-aggregated map-side first. Document-frequency and corpus
  * totals are O(vocabulary)/O(1) — joined without forced broadcast so AQE
  * can pick broadcast at bench scale while a 100 TB vocabulary (misspellings,
  * code, URLs make natural-text vocab unbounded) still gets a shuffle join.
  */
object Retrieval {

  /** Shared tokenizer — must stay textually in lockstep with the DuckDB
    * oracle's `string_split(lower(text), ' ')`. */
  private def toks(c: Column): Column = split(lower(c), " ")

  /** (doc_id, word) exploded token stream, empty tokens dropped — the one
    * word-token contract for the llm package (TextAnalysis.vocab shares
    * it; forked copies could drift from the oracles independently). */
  private[llm] def tokenStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .filter(col("word") =!= "")

  /** Per-(doc, word) term frequencies — the base relation for everything
    * below. Partial aggregation collapses the explosion map-side, so the
    * shuffle carries one row per distinct (doc, word), not per token. */
  private def termFreq(s: SparkSession, d: String): DataFrame =
    tokenStream(s, d).groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  // ---------------------------------------------------------------- q86
  /** TF-IDF: weight = tf × ln(N / df); top-3 terms per document for a fixed
    * doc slice. Ranking runs on the ROUNDED weight (+ word tiebreak) so both
    * engines order identically even when distinct (tf, df) pairs produce
    * near-equal products. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val tf = termFreq(s, d)
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.filter(col("doc_id") < 25)
      .join(dfreq, "word")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "word", "tfidf")
  }

  val tfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
      |), df AS (
      |  SELECT word, count(*) AS df FROM tf GROUP BY 1
      |), n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, rk, word, tfidf FROM (
      |  SELECT tf.doc_id, tf.word,
      |         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf,
      |         row_number() OVER (
      |           PARTITION BY tf.doc_id
      |           ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) DESC,
      |                    tf.word) AS rk
      |  FROM tf JOIN df USING (word) CROSS JOIN n
      |  WHERE tf.doc_id < 25
      |) WHERE rk <= 3""".stripMargin

  // ---------------------------------------------------------------- q87
  /** BM25 ranked search (k1 = 1.2, b = 0.75) for a fixed 3-term query.
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)); per-term score uses the
    * standard length normalization against the corpus mean document length.
    * The term filter lands BEFORE the tf aggregation (Catalyst pushes it
    * through the groupBy — PlanQualitySpec pins this), so the posting side
    * shuffles only query-term rows. The length-normalization side (`lens`)
    * is still a full per-document count — one row per doc through the
    * shuffle; at scale that's a precomputed stored column, not a per-query
    * aggregation. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "vector", "merge")
    val tf = termFreq(s, d).filter(col("word").isin(terms: _*))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val lens = tokenStream(s, d).groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val scored = tf
      .join(dfreq, "word")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val byDoc = scored.groupBy("doc_id")
      .agg(round(sum("term_score"), 4).as("bm25"), count(lit(1)).as("n_terms_hit"))
    byDoc.orderBy(col("bm25").desc, col("doc_id")).limit(10)
  }

  val bm25Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks
      |  WHERE word IN ('spark', 'vector', 'merge') GROUP BY 1, 2
      |), df AS (
      |  SELECT word, count(*) AS df FROM tf GROUP BY 1
      |), lens AS (
      |  SELECT doc_id, count(*) AS dl FROM toks WHERE word <> '' GROUP BY 1
      |), stats AS (
      |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
      |)
      |SELECT doc_id, round(sum(term_score), 4) AS bm25, count(*) AS n_terms_hit
      |FROM (
      |  SELECT tf.doc_id,
      |         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
      |           (tf.tf * 2.2) /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl)) AS term_score
      |  FROM tf JOIN df USING (word) JOIN lens USING (doc_id) CROSS JOIN stats
      |)
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Sliding-window chunking — 30-token chunks, stride 20 (10-token
    * overlap), the standard context-window prep for embedding/training.
    * Pure per-row array work (`sequence` + `slice`), zero shuffles: at
    * 100 TB this is exactly the map-only chunker you want, and the chunk
    * id is derivable (doc_id, chunk_start) so downstream dedup/joins need
    * no global counter. */
  def chunk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    docs
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(20))).as("chunk_start"))
      .select(col("doc_id"), col("chunk_start"),
        slice(col("toks"), col("chunk_start") + 1, lit(30)).as("chunk"))
      .select(col("doc_id"), col("chunk_start"),
        size(col("chunk")).as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  val chunkSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 40
      |), st AS (
      |  SELECT doc_id, toks,
      |         unnest(generate_series(0, len(toks) - 1, 20)) AS chunk_start
      |  FROM docs
      |)
      |SELECT doc_id, chunk_start, len(chunk) AS n_tokens,
      |       array_to_string(chunk, ' ') AS chunk_text
      |FROM (
      |  SELECT doc_id, chunk_start,
      |         list_slice(toks, chunk_start + 1, chunk_start + 30) AS chunk
      |  FROM st
      |)""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Shannon entropy of the per-document token distribution (nats) — the
    * cheap perplexity proxy for quality filtering (low entropy = repetitive
    * boilerplate, high = natural text). One aggregation over the term-freq
    * relation; entropy is an algebraic fold of (tf ln tf, tf). */
  def wordEntropy(s: SparkSession, d: String): DataFrame =
    termFreq(s, d)
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        // floor(x*1e4+0.5) spelling, not round(): Spark's round() is
        // BigDecimal HALF_UP on the shortest decimal repr while DuckDB
        // rounds the scaled double — they disagree on decimal-tie values.
        // Both engines compute this spelling on identical doubles.
        (floor((log(sum("tf")) - sum(col("tf") * log(col("tf"))) / sum("tf"))
          * 10000 + 0.5) / 10000.0).as("entropy"))
      .select("doc_id", "n_tokens", "entropy")

  // CAST(sum AS BIGINT): DuckDB sum(BIGINT) is HUGEINT, which pandas
  // renders as float64 — the driver's dtype-sensitive hash then mismatches
  // Spark's int64 even when every value is equal. Every integer-sum oracle
  // column must carry the cast.
  val wordEntropySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |       floor((ln(sum(tf)) - sum(tf * ln(tf)) / sum(tf)) * 10000 + 0.5) / 10000.0
      |         AS entropy
      |FROM tf GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Repetition-based quality gate (the Gopher-rules shape): unique-token
    * ratio, top-token dominance, tf-weighted mean token length, and the
    * resulting keep/drop verdict. Everything folds out of the (doc, word, tf)
    * relation in one grouped pass — no second scan of the text. */
  def repetitionQuality(s: SparkSession, d: String): DataFrame =
    termFreq(s, d)
      .groupBy("doc_id")
      .agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("n_unique"),
        // floor-spelled rounding (see wordEntropy): int/int ratios land on
        // exact decimal ties (e.g. 2469/20000 = 0.12345) where Spark round()
        // and DuckDB round() split; floor(x*1e4+0.5) agrees bit-for-bit.
        (floor(count(lit(1)).cast("double") / sum("tf") * 10000 + 0.5) / 10000.0)
          .as("unique_frac"),
        (floor(max("tf").cast("double") / sum("tf") * 10000 + 0.5) / 10000.0)
          .as("top_frac"),
        (floor(sum(col("tf") * length(col("word"))).cast("double") / sum("tf")
          * 10000 + 0.5) / 10000.0).as("mean_tok_len"))
      .withColumn("keep",
        (col("unique_frac") >= 0.3) && (col("top_frac") <= 0.2) &&
          col("n_tokens").between(10, 1000))
      .select("doc_id", "n_tokens", "n_unique", "unique_frac", "top_frac",
        "mean_tok_len", "keep")

  val repetitionQualitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, count(*) AS n_unique,
      |       floor(CAST(count(*) AS DOUBLE) / sum(tf) * 10000 + 0.5) / 10000.0 AS unique_frac,
      |       floor(CAST(max(tf) AS DOUBLE) / sum(tf) * 10000 + 0.5) / 10000.0 AS top_frac,
      |       floor(CAST(sum(tf * len(word)) AS DOUBLE) / sum(tf) * 10000 + 0.5) / 10000.0 AS mean_tok_len,
      |       (floor(CAST(count(*) AS DOUBLE) / sum(tf) * 10000 + 0.5) / 10000.0 >= 0.3
      |        AND floor(CAST(max(tf) AS DOUBLE) / sum(tf) * 10000 + 0.5) / 10000.0 <= 0.2
      |        AND sum(tf) BETWEEN 10 AND 1000) AS keep
      |FROM tf GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Bigram language-model scoring — the model-based quality filter: train
    * bigram statistics on the corpus itself (C(w1w2) and its left-marginal
    * C(w1·)), then score each document by mean log P(w2|w1) and report
    * perplexity. Self-scoring means no OOV smoothing is needed (every
    * scored bigram was counted). The bigram stream comes from the custom
    * `word_ngrams` Catalyst generator (n=2) — the TVF is the tokenizer, so
    * train and score tokenize identically by construction. Three
    * aggregations + two joins on the bigram/word keys; the model tables
    * are O(vocabulary²-observed), joined without forced broadcast (AQE
    * broadcasts them at bench scale; a web-corpus bigram table outgrows
    * any driver). */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.WordNgrams.word_ngrams(lower(col("text")), 2).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c12 = bg.groupBy("bigram").agg(count(lit(1)).as("c12"))
    // left marginal from the c12 table, NOT a second pass over the corpus:
    // C(w1·) = Σ_w2 C(w1 w2), so this aggregates the O(observed-bigrams)
    // model table instead of re-tokenizing and re-shuffling every document
    val c1 = c12.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .groupBy("w1").agg(sum("c12").as("c1"))
    bg.filter(col("doc_id") < 50)
      .join(c12, "bigram")
      .join(c1, "w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c12").cast("double") / col("c1"))), 4).as("avg_logp"),
        round(exp(-avg(log(col("c12").cast("double") / col("c1")))), 4).as("ppl"))
  }

  val bigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
      |  FROM toks WHERE len(t) >= 2),
      |bg1 AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
      |c12 AS (SELECT bigram, count(*) AS c12 FROM bg1 GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg1 GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(avg(ln(CAST(c12.c12 AS DOUBLE) / c1.c1)), 4) AS avg_logp,
      |       round(exp(-avg(ln(CAST(c12.c12 AS DOUBLE) / c1.c1))), 4) AS ppl
      |FROM bg1 JOIN c12 USING (bigram) JOIN c1 USING (w1)
      |WHERE doc_id < 50
      |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q112
  /** Benchmark-contamination check — the decontamination pass: find
    * training documents sharing word trigrams with a held-out eval set
    * (docs 0-4 stand in for the benchmark). Eval shingles are DISTINCT'd
    * then inverted-index joined against the training side — the same
    * scalable shape as q55, except one side is tiny and stays tiny at any
    * corpus scale (the benchmark is fixed), so the planner broadcasts it:
    * the match itself is map-side and the only shuffle is the per-doc
    * aggregation of the (rare) matched rows. Reports per-doc
    * contaminated-shingle counts and the contamination fraction. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingledN(Tables.documents(s, d), 3)
    // explode_outer for the same reason as ngramJaccard: plain explode's
    // inferred non-null constraint is pushed below the projection and
    // re-computes the whole shingling expression per row (measured 4.5 s
    // vs 1 s at sf0.1); the equi-join drops a null shingle anyway
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode_outer(col("sh")).as("shingle"))
    val evalSh = ex.filter(col("doc_id") < 5)
      .select(col("shingle")).distinct()
    ex.filter(col("doc_id") >= 5)
      .join(broadcast(evalSh), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"), first(col("n_sh")).as("n_sh"))
      .withColumn("frac", round(col("n_contaminated") / col("n_sh"), 4))
      .filter(col("frac") >= 0.05)
      .select("doc_id", "n_contaminated", "n_sh", "frac")
  }

  val contaminationSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) AS s FROM toks),
      |ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
      |eval_sh AS (SELECT DISTINCT shingle FROM ex WHERE doc_id < 5)
      |SELECT doc_id, n_contaminated, n_sh, frac FROM (
      |  SELECT ex.doc_id, count(*) AS n_contaminated, min(ex.n_sh) AS n_sh,
      |         round(count(*) / CAST(min(ex.n_sh) AS DOUBLE), 4) AS frac
      |  FROM ex JOIN eval_sh USING (shingle)
      |  WHERE ex.doc_id >= 5
      |  GROUP BY ex.doc_id)
      |WHERE frac >= 0.05""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Hybrid retrieval via reciprocal-rank fusion (RRF, k=60): fuse the
    * BM25 text ranking (q87) with the exact cosine kNN ranking (q39,
    * doc_id ≡ vec_id on this corpus) — the standard fusion rule for
    * keyword + vector search, score = Σ 1/(k + rank_i), absent-from-a-list
    * contributes 0. Both source rankings are bounded (top-10 / top-5), so
    * the fusion is a join of two tiny frames regardless of corpus size —
    * all the heavy lifting happened in the rankers. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("bm25").desc, col("doc_id").asc)
    val text = bm25(s, d)
      .withColumn("t_rank", row_number().over(w))
      .select(col("doc_id").as("id"), col("t_rank"))
    val vec = Similarity.knnBrute(s, d)
      .select(col("neighbor_id").as("id"), col("rank").as("v_rank"))
    text.join(vec, Seq("id"), "full_outer")
      .withColumn("rrf", round(
        when(col("t_rank").isNotNull, lit(1.0) / (lit(60) + col("t_rank"))).otherwise(0.0) +
        when(col("v_rank").isNotNull, lit(1.0) / (lit(60) + col("v_rank"))).otherwise(0.0),
        6))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(10)
      .select("id", "t_rank", "v_rank", "rrf")
  }

  // MIRROR WARNING: the bm/toks/tf/df/lens/stats CTEs below are q87's
  // oracle inlined, and e/q/scored mirror q39's — SQL can't nest WITH
  // inside a CTE, so composition-by-string would need fragile surgery.
  // Any change to bm25Sql or knnBruteSql must be mirrored here (the gate
  // catches drift: q122 would stop hash-matching).
  val hybridRrfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks
      |  WHERE word IN ('spark', 'vector', 'merge') GROUP BY 1, 2
      |), df AS (
      |  SELECT word, count(*) AS df FROM tf GROUP BY 1
      |), lens AS (
      |  SELECT doc_id, count(*) AS dl FROM toks WHERE word <> '' GROUP BY 1
      |), stats AS (
      |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
      |), bm AS (
      |  SELECT doc_id, round(sum(term_score), 4) AS bm25
      |  FROM (
      |    SELECT tf.doc_id,
      |           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
      |             (tf.tf * 2.2) /
      |             (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl)) AS term_score
      |    FROM tf JOIN df USING (word) JOIN lens USING (doc_id) CROSS JOIN stats
      |  ) GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
      |), trank AS (
      |  SELECT doc_id AS id,
      |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS t_rank
      |  FROM bm
      |), e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |q AS (SELECT v FROM e WHERE vec_id = 0),
      |scored AS (
      |  SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 4) AS cosine
      |  FROM e, q WHERE e.vec_id != 0),
      |vrank AS (
      |  SELECT vec_id AS id, CAST(rank AS INT) AS v_rank
      |  FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
      |        FROM scored)
      |  WHERE rank <= 5)
      |SELECT id, t_rank, v_rank,
      |       round(coalesce(1.0 / (60 + t_rank), 0) +
      |             coalesce(1.0 / (60 + v_rank), 0), 6) AS rrf
      |FROM trank FULL OUTER JOIN vrank USING (id)
      |ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin

  /** Extract the span [from, to] of `src`, failing if the anchors moved. */
  private def mirrored(src: String, from: String, to: String): String = {
    val a = src.indexOf(from)
    val b = src.indexOf(to, math.max(a, 0))
    require(a >= 0 && b >= a, s"mirror anchor moved: [$from .. $to]")
    src.substring(a, b + to.length)
  }
  // Drift guards for the MIRROR WARNING above: the fused oracle must embed
  // q87's CTE chain and q39's scored pipeline VERBATIM. Editing bm25Sql or
  // knnBruteSql without resyncing hybridRrfSql now fails at class init
  // (same pattern as dedupPipelineSql's rewrite anchor) instead of
  // surfacing as a baffling q122 hash mismatch at gate time.
  require(hybridRrfSql.contains(mirrored(bm25Sql, "toks AS (", "FROM lens\n)")),
    "hybridRrfSql no longer embeds q87's CTE chain — resync the mirror")
  require(hybridRrfSql.contains(
    mirrored(Similarity.knnBruteSql, "e AS (", "vec_id != 0)")),
    "hybridRrfSql no longer embeds q39's scored CTE — resync the mirror")

  // ---------------------------------------------------------------- q115
  /** Token-budget batch packing — assign documents (in doc_id order) to
    * training batches of ~512 tokens: batch_id = ⌊exclusive-prefix-sum of
    * token counts / 512⌋. The standard streaming-packing approximation
    * (a batch may overflow by at most one document; no bin-packing search),
    * stable under re-runs and appends of higher doc_ids.
    *
    * Scale shape: the naive spelling is a cumsum over an UNPARTITIONED
    * window — a single-task funnel over every document. Instead the prefix
    * sum runs as the two-pass offset scheme of `Layout.stableRowIds`:
    * range-repartition by doc_id into disjoint shards, one tiny job sums
    * tokens per shard (one row per shard to the driver), then a map-side
    * pass adds each shard's broadcast exclusive offset to its local running
    * sum. No global funnel, no WindowExec (PlanQualitySpec gates this);
    * both passes reuse the same shuffle output. Same contract as
    * stableRowIds: doc_id is the total order (unique per row). The dense
    * renumber of the (much smaller) one-row-per-batch frame reuses
    * stableRowIds itself. */
  /** Shared two-pass shard-prefix batch assignment: (doc_id, n_tok,
    * batch_raw, payload). `payload` rides the range shuffle untouched —
    * lit("") for the stats-only q115 (zero-width), the document text for
    * the q144 assembly. */
  private def packAssignments(s: SparkSession, d: String,
      payload: org.apache.spark.sql.Column): DataFrame =
    packAssignmentsOf(s, Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        payload.cast("string").as("payload")))

  /** Frame variant: the same two-pass shard-prefix scheme over any
    * (doc_id, n_tok, payload) frame — compositions (Curation.curate) pack
    * a curated subset, not the raw table. */
  private[llm] def packAssignmentsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val shards = s.sparkContext.defaultParallelism
    val sorted = docs
      .select(col("doc_id").cast("long").as("_1"),
        col("n_tok").cast("long").as("_2"),
        col("payload").cast("string").as("_3"))
      .as[(Long, Long, String)]
      .repartitionByRange(shards, col("_1"))
      .sortWithinPartitions("_1")
    val rdd = sorted.rdd // referenced by both jobs -> shuffle files reused
    // pass 1: per-shard token totals (`shards` rows to the driver)
    val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
      var t = 0L; it.foreach(t += _._2); Iterator((pid, t))
    }.collect()
    val offs = new Array[Long](shards)
    var acc = 0L
    totals.sortBy(_._1).foreach { case (pid, t) => offs(pid) = acc; acc += t }
    // pass 2: map-side running prefix seeded with the shard offset;
    // batch = exclusive-prefix / 512, computed in exact Long arithmetic
    val bc = s.sparkContext.broadcast(offs)
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var running = bc.value(pid)
      it.map { case (id, n, pl) => val p = running; running += n; (id, n, p / 512, pl) }
    }.toDF("doc_id", "n_tok", "batch_raw", "payload")
  }

  def tokenPacking(s: SparkSession, d: String): DataFrame = {
    val shards = s.sparkContext.defaultParallelism
    val grouped = packAssignments(s, d, lit(""))
      .groupBy("batch_raw")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("batch_tokens"))
    // raw ⌊prefix/512⌋ ids skip numbers when one document spans multiple
    // budgets (a 2000-token doc jumps the counter by 3) — renumber densely
    // so batch_id is always 0..n_batches-1, again without a global window
    graft.operators.Layout.stableRowIds(grouped, shards, "batch_raw")
      .select(col("row_id").as("batch_id"), col("n_docs"), col("batch_tokens"))
  }

  val tokenPackingSql: String =
    """WITH counts AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, n_tok,
      |         CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                     - n_tok) / 512) AS BIGINT) AS batch_id
      |  FROM counts),
      |agged AS (
      |  SELECT batch_id, count(*) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS batch_tokens
      |  FROM packed GROUP BY batch_id)
      |SELECT CAST(row_number() OVER (ORDER BY batch_id) - 1 AS BIGINT) AS batch_id,
      |       n_docs, batch_tokens
      |FROM agged""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Packed-example assembly — q115's batch assignment materialized into
    * actual training examples: the documents of each batch concatenated in
    * doc_id order with an ` <eos> ` separator. Emits the packed length and
    * its md5 (not the megabyte string itself) so the oracle hash-checks the
    * exact assembled bytes while the compare surface stays row-sized.
    *
    * Scale shape: the text payload rides the SAME two shuffles the
    * assignment needs anyway (the doc_id range partition, then the
    * batch_raw groupBy) — no extra join to glue text back on. Within-batch
    * order comes from array_sort(collect_list(struct(doc_id, text))): a
    * batch is ≤ budget tokens + one overflow document by construction, so
    * the per-group sort is bounded by the packing budget, never by the
    * corpus. At 100 TB the packed column streams straight to the epoch
    * shard writer (q132) — the md5 column here exists for the oracle. */
  def packAssembly(s: SparkSession, d: String): DataFrame = {
    val shards = s.sparkContext.defaultParallelism
    val grouped = packAssignments(s, d, col("text"))
      .groupBy("batch_raw")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("batch_tokens"),
        concat_ws(" <eos> ",
          transform(array_sort(collect_list(struct(col("doc_id"), col("payload")))),
            x => x.getField("payload"))).as("packed"))
    graft.operators.Layout.stableRowIds(grouped, shards, "batch_raw")
      .select(col("row_id").as("batch_id"), col("n_docs"), col("batch_tokens"),
        length(col("packed")).cast("long").as("packed_len"),
        md5(col("packed")).as("packed_md5"))
  }

  val packAssemblySql: String =
    """WITH counts AS (
      |  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, text, n_tok,
      |         CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                     - n_tok) / 512) AS BIGINT) AS batch_id
      |  FROM counts),
      |agged AS (
      |  SELECT batch_id, count(*) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS batch_tokens,
      |         string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed
      |  FROM packed GROUP BY batch_id)
      |SELECT CAST(row_number() OVER (ORDER BY batch_id) - 1 AS BIGINT) AS batch_id,
      |       n_docs, batch_tokens, CAST(len(packed) AS BIGINT) AS packed_len,
      |       md5(packed) AS packed_md5
      |FROM agged""".stripMargin

  // ---------------------------------------------------------------- q138
  /** Perplexity-tercile corpus bucketing — the CCNet recipe: score every
    * document with the corpus-trained bigram LM (q107's model, unfiltered),
    * cut the score distribution at the 33rd/67th percentiles, and label
    * each document head/middle/tail. Training pipelines then keep the head,
    * downsample the middle, and drop (or separately mine) the tail.
    *
    * Scale shape: unlike q107 (which scores a 50-doc slice and can afford
    * the per-instance join), scoring EVERY document forces the single-pass
    * form: the bigram explode runs once below the (bigram, doc_id) partial
    * aggregation, whose map-side-combined exchange is shared by both
    * consumers (ReuseExchange — the instance counts and, derived from them,
    * the corpus model c12/c1). Like the q124 rewrite this scans the span
    * stream once, but here the partial agg stays BELOW the shared exchange
    * so raw bigram strings never ride the shuffle. Scoring is then a vocabulary-
    * sized model join against the REDUCED (bigram, doc_id, n) frame with a
    * tf-weighted mean — Σ n·logp / Σ n over distinct bigrams, identical to
    * the per-instance avg because logp is constant within a (doc, bigram)
    * group — never a re-explode. The percentile aggregation sees one row
    * per document (two scalar cutpoints to the driver; at 100 TB it becomes
    * approx_percentile with pinned accuracy — same plan, bounded state) and
    * the bucket CASE is map-side against broadcast cutpoints. Cutpoints and
    * scores are floor-spell rounded (see wordEntropy) BEFORE the boundary
    * compare, so both engines bucket identical doubles. */
  def pplBuckets(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.WordNgrams.word_ngrams(lower(col("text")), 2).as("bigram"))
    val perDoc = bg.groupBy("bigram", "doc_id").agg(count(lit(1)).as("n"))
    val c12 = perDoc.groupBy("bigram").agg(sum("n").as("c12"))
    val c1 = c12.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .groupBy("w1").agg(sum("c12").as("c1"))
    val model = c12.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(c1, "w1")
      .select(col("bigram"), log(col("c12").cast("double") / col("c1")).as("logp"))
    // shuffle_hash with model as build side: both frames descend from the
    // same Generate whose size estimate is tiny, so the static planner
    // broadcasts whichever side it meets first — it picked the CORPUS-sized
    // perDoc over the vocabulary-sized model (observed; the jaccardCounting
    // join / q124 size-lie class). Partitioning both by bigram holds at any
    // scale and keeps the tiny model as the hash build.
    val ppl = perDoc
      .join(model.hint("shuffle_hash"), "bigram")
      .groupBy("doc_id")
      .agg((floor(exp(-(sum(col("n") * col("logp")) / sum(col("n"))))
        * 10000 + 0.5) / 10000.0).as("ppl"))
    val cuts = ppl.agg(
      (floor(expr("percentile(ppl, 0.33)") * 10000 + 0.5) / 10000.0).as("c33"),
      (floor(expr("percentile(ppl, 0.67)") * 10000 + 0.5) / 10000.0).as("c67"))
    ppl.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("ppl") <= col("c33"), "head")
          .when(col("ppl") <= col("c67"), "middle")
          .otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("ppl").as("min_ppl"), max("ppl").as("max_ppl"))
      .select("bucket", "n_docs", "min_ppl", "max_ppl")
  }

  // the toks/bg CTEs mirror q107's tokenizer verbatim (drift guard below);
  // the model/scoring CTEs are the weighted single-pass form — per-doc
  // instance counts first, then Σ n·logp / Σ n (see pplBuckets scaladoc)
  val pplBucketsSql: String =
    s"""WITH ${mirrored(bigramLmSql, "toks AS (", "FROM toks WHERE len(t) >= 2)")},
      |pd AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
      |c12 AS (SELECT bigram, CAST(sum(n) AS BIGINT) AS c12 FROM pd GROUP BY 1),
      |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1
      |       FROM c12 GROUP BY 1),
      |model AS (
      |  SELECT bigram, ln(CAST(c12.c12 AS DOUBLE) / c1.c1) AS logp
      |  FROM c12 JOIN c1 ON string_split(c12.bigram, ' ')[1] = c1.w1),
      |ppl AS (
      |  SELECT doc_id,
      |         floor(exp(-(sum(n * logp) / sum(n))) * 10000 + 0.5)
      |           / 10000.0 AS ppl
      |  FROM pd JOIN model USING (bigram)
      |  GROUP BY doc_id),
      |cuts AS (
      |  SELECT floor(quantile_cont(ppl, 0.33) * 10000 + 0.5) / 10000.0 AS c33,
      |         floor(quantile_cont(ppl, 0.67) * 10000 + 0.5) / 10000.0 AS c67
      |  FROM ppl)
      |SELECT CASE WHEN ppl <= c33 THEN 'head'
      |            WHEN ppl <= c67 THEN 'middle' ELSE 'tail' END AS bucket,
      |       count(*) AS n_docs, min(ppl) AS min_ppl, max(ppl) AS max_ppl
      |FROM ppl, cuts GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q178
  /** PMI collocation mining — the corpus-analysis pass that surfaces fixed
    * phrases ("et al", "new york") a tokenizer trainer or stop-phrase
    * filter wants: PMI(w1,w2) = ln(C(w1w2)·N / (C(w1·)·C(·w2))), reported
    * for bigrams with count ≥ [[PmiMinCount]], top [[PmiTopK]] by PMI.
    *
    * Model-table algebra, q107's shape: one corpus scan into the bigram
    * count table, then BOTH marginals and the grand total aggregate the
    * O(observed-bigrams) model table — the corpus is never re-tokenized or
    * re-shuffled. The global top-k is an orderBy+limit, which Spark plans
    * as TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows), never a global sort or unpartitioned window.
    *
    * Cross-engine determinism: the k-boundary is cut on the RAW ratio
    * c12·N/(c1·c2), not its log. Each product is an exact integer below
    * 2^53 (c12·N ≤ N² ≈ 7e14 at sf10; a 100 TB corpus rescales to avoid
    * the integer ceiling the scaladoc of weightedSample discusses), so the
    * IEEE quotient is identical on both engines and the (ratio, bigram)
    * order total — ln() differing in the last ulp across libms can shift
    * the ROUNDED pmi by 1e-4 in principle but can never change WHICH rows
    * the limit keeps. */
  private val PmiMinCount = 5
  private val PmiTopK = 100

  def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(graft.functions.WordNgrams.word_ngrams(lower(col("text")), 2).as("bigram"))
    val c12 = bg.groupBy("bigram").agg(count(lit(1)).as("c12"))
    // marginals BEFORE the min-count filter: a rare bigram of frequent
    // words must keep its full denominators or PMI inflates
    val c1 = c12.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .groupBy("w1").agg(sum("c12").as("c1"))
    val c2 = c12.withColumn("w2", substring_index(col("bigram"), " ", -1))
      .groupBy("w2").agg(sum("c12").as("c2"))
    val n = c12.agg(sum("c12").cast("double").as("nn"))
    c12.filter(col("c12") >= PmiMinCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .withColumn("ratio",
        (col("c12").cast("double") * col("nn"))
          / (col("c1").cast("double") * col("c2").cast("double")))
      .orderBy(col("ratio").desc, col("bigram").asc)
      .limit(PmiTopK)
      .select(col("bigram"), col("c12").as("n_pair"),
        (floor(log(col("ratio")) * 10000 + 0.5) / 10000.0).as("pmi"))
  }

  val pmiCollocationsSql: String =
    s"""WITH ${mirrored(bigramLmSql, "toks AS (", "FROM toks WHERE len(t) >= 2)")},
      |c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY 1),
      |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1
      |       FROM c12 GROUP BY 1),
      |c2 AS (SELECT string_split(bigram, ' ')[-1] AS w2, CAST(sum(c12) AS BIGINT) AS c2
      |       FROM c12 GROUP BY 1),
      |n AS (SELECT CAST(sum(c12) AS DOUBLE) AS nn FROM c12),
      |scored AS (
      |  SELECT bigram, c12.c12,
      |         (CAST(c12.c12 AS DOUBLE) * nn)
      |           / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE)) AS ratio
      |  FROM c12
      |  JOIN c1 ON string_split(c12.bigram, ' ')[1] = c1.w1
      |  JOIN c2 ON string_split(c12.bigram, ' ')[-1] = c2.w2
      |  CROSS JOIN n
      |  WHERE c12.c12 >= $PmiMinCount)
      |SELECT bigram, c12 AS n_pair,
      |       floor(ln(ratio) * 10000 + 0.5) / 10000.0 AS pmi
      |FROM scored
      |ORDER BY ratio DESC, bigram ASC
      |LIMIT $PmiTopK""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Kneser–Ney-smoothed bigram LM scoring — the production upgrade of
    * q107's MLE model (the smoothing KenLM applies before a perplexity
    * filter): P(w2|w1) = (C(w1w2) − D)/C(w1·) + D·N₁₊(w1·)/C(w1·) ·
    * N₁₊(·w2)/B with absolute discount D = [[KnDiscount]], continuation
    * probability over B = distinct bigram types. Self-scoring (every
    * scored bigram was counted) so the discounted term never goes
    * negative and no unigram backoff path is needed — what KN changes
    * vs q107 is the MASS REDISTRIBUTION: frequent-but-predictable
    * continuations score lower than their raw counts suggest.
    *
    * Same model-table algebra as q107/q178: one corpus scan into c12,
    * then C(w1·), N₁₊(w1·), N₁₊(·w2) and B all aggregate the model table.
    * Cross-engine determinism: both engines compose the probability with
    * the identical association ((c12−D)/c1 + ((D·n1l)·(n1r/B))/c1); the
    * per-doc avg-of-logs rounds to 4 dp (the q107 precedent, verified at
    * sf0.01 and sf1). */
  private val KnDiscount = 0.75

  def knBigramLm(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.WordNgrams.word_ngrams(lower(col("text")), 2).as("bigram"))
    val c12 = bg.groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val left = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1l"))
    val right = c12.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val types = c12.agg(count(lit(1)).cast("double").as("bb"))
    val model = c12
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(types))
      .select(col("bigram"),
        ((col("c12").cast("double") - lit(KnDiscount)) / col("c1")
          + (lit(KnDiscount) * col("n1l").cast("double")
            * (col("n1r").cast("double") / col("bb"))) / col("c1")).as("p"))
    bg.filter(col("doc_id") < 50)
      // shuffle_hash for the q138 size-lie reason: both frames descend from
      // the same Generate, and the static planner would broadcast the
      // corpus-sized side
      .join(model.hint("shuffle_hash"), "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("p"))), 4).as("avg_logp"),
        round(exp(-avg(log(col("p")))), 4).as("ppl"))
  }

  val knBigramLmSql: String =
    s"""WITH ${mirrored(bigramLmSql, "toks AS (", "FROM toks WHERE len(t) >= 2)")},
      |c12 AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1,
      |               string_split(bigram, ' ')[-1] AS w2, count(*) AS c12
      |        FROM bg GROUP BY 1, 2, 3),
      |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1l
      |      FROM c12 GROUP BY 1),
      |r AS (SELECT w2, count(*) AS n1r FROM c12 GROUP BY 1),
      |types AS (SELECT CAST(count(*) AS DOUBLE) AS bb FROM c12),
      |model AS (
      |  SELECT bigram,
      |    (CAST(c12.c12 AS DOUBLE) - $KnDiscount) / c1
      |      + ($KnDiscount * CAST(n1l AS DOUBLE)
      |         * (CAST(n1r AS DOUBLE) / bb)) / c1 AS p
      |  FROM c12 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN types)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(avg(ln(p)), 4) AS avg_logp,
      |       round(exp(-avg(ln(p))), 4) AS ppl
      |FROM bg JOIN model USING (bigram)
      |WHERE doc_id < 50
      |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q194
  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 — the
    * word-graph mode): per document, build the adjacent-word co-occurrence
    * graph, run [[TrRounds]] damped PageRank iterations over it, emit the
    * top-3 keywords — the unsupervised keyword tagger that needs no model
    * table, sitting between q86's corpus-statistical TF-IDF and q167's
    * global PageRank (same fixpoint, but thousands of INDEPENDENT per-doc
    * graphs instead of one global one).
    *
    * That independence decides the plan shape: a per-document fixpoint
    * re-expressed as [[TrRounds]] rounds of DISTRIBUTED joins pays R
    * global stage barriers (plus per-round broadcast/checkpoint jobs) for
    * work that never crosses a document boundary — measured 7.0 s of pure
    * fixed overhead at every sf on the join formulation. The right 100 TB
    * plan is ONE shuffle: groupByKey(doc_id) → per-doc local iterations
    * inside `flatMapGroups` (contrast q167, where the graph itself is
    * distributed and the rounds genuinely are global). Per-group state is
    * one document's token list — bounded by max doc length, the same
    * contract as the q51 session groups and the q88 chunker's input.
    * Ranking is on the ROUNDED score + word tiebreak (q86 tie lesson);
    * the scored slice is [[TrDocs]] docs to keep the gate's output
    * stable — production drops the filter, the plan is unchanged. */
  private val TrDocs = 20
  private val TrRounds = 4
  private val TrDamp = 0.85

  /** Per-doc local fixpoint, exposed for the spec: positions → adjacency
    * graph → [[TrRounds]] damped iterations → top-3 (rounded-score desc,
    * word asc). Rounding is BigDecimal HALF_UP — Spark's `round` — so the
    * kernel ranks exactly as the SQL oracle does. */
  private[graft] def textrankDoc(toks: Seq[(Int, String)]): Seq[(Int, String, Double)] = {
    val byPos = toks.toMap
    val adj = toks.iterator.flatMap { case (p, w1) =>
      byPos.get(p + 1) match {
        case Some(w2) if w2 != w1 => Iterator((w1, w2), (w2, w1))
        case _                    => Iterator.empty
      }
    }.toSet
    if (adj.isEmpty) return Nil
    val outdeg = adj.groupBy(_._1).view.mapValues(_.size).toMap
    val n = outdeg.size
    var pr = outdeg.map { case (w, _) => w -> 1.0 / n }
    for (_ <- 1 to TrRounds) {
      val contrib = new scala.collection.mutable.HashMap[String, Double]()
      // deterministic accumulation order (sorted edges) — the oracle's
      // float sums associate differently, hence the 4-dp rank rounding
      adj.toSeq.sorted.foreach { case (w1, w2) =>
        contrib(w2) = contrib.getOrElse(w2, 0.0) + pr(w1) / outdeg(w1)
      }
      pr = pr.map { case (w, _) =>
        w -> ((1.0 - TrDamp) / n + TrDamp * contrib.getOrElse(w, 0.0))
      }
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    pr.toSeq.map { case (w, p) => (w, r4(p)) }
      .sortBy { case (w, p) => (-p, w) }
      .take(3).zipWithIndex
      .map { case ((w, p), i) => (i + 1, w, p) }
  }

  def textrankKeywords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).filter(col("doc_id") < TrDocs)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " "))).toDF("doc_id", "pos", "w")
      .filter(col("w") =!= "")
      .as[(Long, Int, String)]
      .groupByKey(_._1)
      .flatMapGroups { (doc, rows) =>
        textrankDoc(rows.map(r => (r._2, r._3)).toSeq)
          .map { case (rk, w, p) => (doc, rk, w, p) }
      }
      .toDF("doc_id", "rk", "word", "score")
  }

  /** Unrolled damped-PageRank rounds; every stage MATERIALIZED (each
    * pr(i) feeds c(i+1); DuckDB default inlining re-derives the chain —
    * the q182 blowup). */
  val textrankKeywordsSql: String = {
    val rounds = (1 to TrRounds).map { i =>
      s"""c$i AS MATERIALIZED (
        |  SELECT e.doc_id, e.w2 AS w, sum(p.pr / d.outdeg) AS contrib
        |  FROM edges e JOIN pr${i - 1} p ON p.doc_id = e.doc_id AND p.w = e.w1
        |  JOIN deg d ON d.doc_id = e.doc_id AND d.w = e.w1
        |  GROUP BY 1, 2),
        |pr$i AS MATERIALIZED (
        |  SELECT p0.doc_id, p0.w,
        |         (1 - $TrDamp) / nn.n + $TrDamp * COALESCE(c.contrib, 0) AS pr
        |  FROM pr0 p0 JOIN nn ON p0.doc_id = nn.doc_id
        |  LEFT JOIN c$i c ON c.doc_id = p0.doc_id AND c.w = p0.w)""".stripMargin
    }.mkString(",\n")
    s"""WITH tp AS (
      |  SELECT doc_id, w, pos FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
      |           generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |    FROM documents WHERE doc_id < $TrDocs) t
      |  WHERE t.w <> ''),
      |adj AS (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM tp a JOIN tp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  WHERE a.w <> b.w),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, w1, w2 FROM (
      |    SELECT doc_id, w1, w2 FROM adj
      |    UNION ALL SELECT doc_id, w2, w1 FROM adj)),
      |deg AS MATERIALIZED (
      |  SELECT doc_id, w1 AS w, count(*) AS outdeg FROM edges GROUP BY 1, 2),
      |nn AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM deg GROUP BY 1),
      |pr0 AS MATERIALIZED (
      |  SELECT deg.doc_id, deg.w, 1.0 / nn.n AS pr
      |  FROM deg JOIN nn ON deg.doc_id = nn.doc_id),
      |$rounds
      |SELECT doc_id, rk, w AS word, pr AS score FROM (
      |  SELECT doc_id, w, round(pr, 4) AS pr,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY round(pr, 4) DESC, w) AS rk
      |  FROM pr$TrRounds)
      |WHERE rk <= 3""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q86_tfidf", tfidf, Some(tfidfSql)),
    GraftQuery("q87_bm25", bm25, Some(bm25Sql)),
    GraftQuery("q88_chunk", chunk, Some(chunkSql)),
    GraftQuery("q89_word_entropy", wordEntropy, Some(wordEntropySql)),
    GraftQuery("q90_repetition_quality", repetitionQuality, Some(repetitionQualitySql)),
    GraftQuery("q107_bigram_lm", bigramLm, Some(bigramLmSql)),
    GraftQuery("q112_contamination", contamination, Some(contaminationSql)),
    GraftQuery("q115_token_packing", tokenPacking, Some(tokenPackingSql)),
    GraftQuery("q122_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    GraftQuery("q138_ppl_buckets", pplBuckets, Some(pplBucketsSql)),
    GraftQuery("q144_pack_assembly", packAssembly, Some(packAssemblySql)),
    GraftQuery("q178_pmi_collocations", pmiCollocations, Some(pmiCollocationsSql)),
    GraftQuery("q180_kn_bigram_lm", knBigramLm, Some(knBigramLmSql)),
    GraftQuery("q194_textrank", textrankKeywords, Some(textrankKeywordsSql)))
}
