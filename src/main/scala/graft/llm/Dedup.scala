package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.GraftQuery

/** Deduplication family for a training-data pipeline: exact (hash groupBy),
  * MinHash+LSH near-dup, SimHash near-dup. All three are built shuffle-
  * conscious: the only wide operations are hash-partitioned equi-joins on
  * dedup keys (hash / LSH band / SimHash chunk) — never an O(n²) cross join,
  * so each scales to 100 TB corpora where brute-force pairing is impossible.
  */
object Dedup {

  /** Word n-gram shingle set per document — the ONE shingling contract for
    * the whole llm package (q36/q55/q69/q112 and their DuckDB oracles must
    * all agree on it; don't fork copies).
    *
    * Contract (pinned by CurationSpec "shingledN contract"): `sh` is
    * per-document DISTINCT (array_distinct) and docs with fewer than n
    * tokens are dropped. Curation.ngramNovelty's df==1 → min(doc_id)
    * owner-recovery depends on the distinctness half — a doc repeating a
    * shingle would otherwise count df==2 for its own boilerplate. */
  private[graft] def shingledN(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), array_distinct(
        expr(s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))")
      ).as("sh"))

  /** Word 3-gram shingle set per document (MinHash input). */
  private def shingled(docs: DataFrame): DataFrame = shingledN(docs, 3)

  // ---------------------------------------------------------------- exact
  /** Exact dedup profile per source: sha-256 content hash groupBy — the
    * scaled-up form of the reference's dedup ledger (A5). */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(sha2(col("text"), 256)).as("n_unique"))

  val exactDedupSql: String =
    """SELECT source, count(*) AS n_docs, count(DISTINCT sha256(text)) AS n_unique
      |FROM documents GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- minhash
  private val NumHashes = 32
  private val BandRows = 2 // 16 bands of 2 rows: P(candidate | J=0.5) ≈ 0.99, ≈1-4e-12 at J≥0.9.
  // Near-dup populations are bimodal (here: nothing between J=0.11 and
  // J=0.9), so 16 bands keeps recall ≈ 1 at half the signature cost; the
  // exact-Jaccard confirmation stage makes precision exact regardless.

  /** MinHash signature: k minima over the shingle set.
    *
    * Shape matters twice here. (1) Double hashing (Kirsch-Mitzenmacher
    * style): two real xxhash64 evaluations per shingle, the k functions are
    * cheap combines h_i = h1 XOR rot(h2, i) — bitwise, because ANSI mode
    * throws on the additive form's intentional overflow. (2) Explode +
    * groupBy with k codegen'd `min` aggregates instead of k higher-order
    * `transform`/`array_min` passes — Spark's array lambdas run interpreted
    * and allocate per row, while min-aggregates collapse map-side inside
    * WholeStageCodegen. Any LSH quality loss from double hashing is
    * irrelevant: candidates are confirmed with exact Jaccard afterwards. */
  def minhashSignature(sh: DataFrame, nHashes: Int = NumHashes): DataFrame = {
    require(nHashes >= 1 && nHashes <= 64, s"nHashes must be in [1,64]: $nHashes")
    def rot(h: Column, i: Int): Column =
      if (i == 0) h
      else shiftleft(h, i).bitwiseOR(shiftrightunsigned(h, 64 - i))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        xxhash64(col("s")).as("h1"), xxhash64(lit("km2"), col("s")).as("h2"))
    val mins = (0 until nHashes).map(i =>
      min(col("h1").bitwiseXOR(rot(col("h2"), i))).as(s"m$i"))
    ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until nHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Near-dup pairs via MinHash + LSH banding + exact-Jaccard confirmation.
    *
    * Plan shape (the part that matters at scale): signature is map-side;
    * banding explodes each doc into 32 (band, value) keys; candidate
    * generation is an equi self-join on those keys (shuffle partitioned by
    * band value — no cross join anywhere); exact Jaccard runs only on the
    * candidate pairs. The oracle states the same answer declaratively via a
    * full shingle-join, so the LSH path is verified to have no false
    * negatives at the 0.5 threshold on the test corpus. */
  def minhashNearDup(s: SparkSession, d: String): DataFrame = {
    val (pairs, cached) = minhashNearDupPlan(s, d)
    // materialize the (unbounded but near-dup-sized) pair set eagerly so the
    // corpus-sized shingle cache can be released before returning; the
    // checkpoint's own blocks are unpersisted by the ContextCleaner once the
    // caller drops the frame — unlike a CacheManager entry, which the
    // session strong-holds for its lifetime
    try pairs.localCheckpoint(true) finally cached.foreach(_.unpersist(false))
  }

  /** Eager frame variant at an explicit confirm threshold — the at-scale
    * candidate generator for compositions (Curation.curate's "minhash"
    * strategy): same banded-LSH candidates + exact confirm, over any
    * (doc_id, text) frame.
    *
    * Banding scales with the confirm threshold so recall ≈ 1 holds AT THE
    * MARGIN, not just for a bimodal corpus: with B bands of 2 rows the
    * candidate probability at Jaccard exactly t is 1-(1-t²)^B. The default
    * 16 bands give 0.94 at t=0.4 and 0.99 at t=0.5 — and 0.99 is NOT
    * enough when the corpus holds tens of exactly-at-threshold pairs (the
    * zipf corpus measured 2 misses in 80 marginal pairs); for
    * t ≤ 0.5 we double to 32 bands (64-hash signature) → 0.996 at the
    * t=0.4 margin and 0.9999 at t=0.5, rising steeply above. Cost is 2×
    * min-aggregates in the signature pass — map-side, linear in corpus
    * size. */
  private[graft] def minhashNearDupOf(docs: DataFrame, t: Double): DataFrame = {
    val numBands = if (t <= 0.5) 32 else NumHashes / BandRows
    val (pairs, cached) = minhashPlanOf(docs, t, numBands)
    try pairs.localCheckpoint(true) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads — split out so PlanQualitySpec
    * can assert the physical shape (the public entry is eager).
    *
    * 32 bands, not the 16-band default: q36's confirm threshold (0.5) sits
    * exactly AT the banding margin, where 16 bands give only
    * P(candidate | J=0.5) = 1−0.75¹⁶ ≈ 0.99 per pair — measured failing on
    * the sf1z Zipfian corpus (2 of 80 exactly-at-threshold pairs drew
    * no band collision: sf1z scaleverify, spark=2910 vs oracle=2912; the
    * disjoint corpora never exposed it because their marginal pairs drew
    * luckily). 32 bands put the margin at 1−0.75³² ≈ 0.9999 — the same
    * policy minhashNearDupOf already applied BELOW 0.5, now inclusive.
    * Extra bands only add candidates; the exact confirm keeps the output a
    * subset of true pairs, so this strictly increases recall at a 2×
    * map-side signature cost (linear in corpus). */
  private[graft] def minhashNearDupPlan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    minhashPlanOf(Tables.documents(s, d), 0.5, numBands = 32)

  private def minhashPlanOf(docs: DataFrame, t: Double,
                            numBands: Int = NumHashes / BandRows): (DataFrame, Seq[DataFrame]) = {
    val sh = shingled(docs).cache()
    val sig = minhashSignature(sh, numBands * BandRows)
    // cache the (doc_id, band, bv) triples: the band SELF-join otherwise
    // computes the whole signature pipeline (explode + 32 min-aggs +
    // shuffle) once per side — the two subtrees get distinct attribute ids
    // and the exchange-reuse rule does not merge them
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until numBands).map(b =>
        xxhash64(lit(b),
          element_at(col("sig"), b * BandRows + 1),
          element_at(col("sig"), b * BandRows + 2))): _*)).as(Seq("band", "bv")))
      .cache()
    // rename-before-join: a self-join on dataset aliases can resolve both
    // sides to the same attribute (silently degenerate condition); renamed
    // projections force distinct attribute ids
    val bx = bands.select(col("doc_id").as("a_id"), col("band"), col("bv"))
    val by = bands.select(col("doc_id").as("b_id"), col("band").as("band_r"), col("bv").as("bv_r"))
    val cand = bx.join(by,
        col("band") === col("band_r") && col("bv") === col("bv_r") &&
        col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
    // confirm joins: the candidate set is O(LSH collisions) — small relative
    // to the corpus but NOT constant-size, so no forced broadcast; AQE
    // converts these to broadcast joins at bench scale from runtime stats
    // and degrades to shuffle joins when candidates outgrow the threshold
    val withA = a.join(cand, "a_id")
    val pairs = b.join(withA, "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= t)
      .select("a_id", "b_id", "jaccard")
    (pairs, Seq(sh, bands))
  }

  /** Declarative exact-Jaccard oracle: shingle inverted-index join (itself
    * the scalable exact algorithm — no cross join). */
  val minhashNearDupSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT i.a_id, i.b_id,
      |         round(i.n::DOUBLE / (len(sa.s) + len(sb.s) - i.n), 4) AS jaccard
      |  FROM inter i
      |  JOIN sh sa ON i.a_id = sa.doc_id
      |  JOIN sh sb ON i.b_id = sb.doc_id)
      |WHERE jaccard >= 0.5""".stripMargin

  // ---------------------------------------------------------------- n-gram jaccard
  /** Exact n-gram Jaccard all-pairs similarity (word trigrams, J ≥ 0.4) via
    * the shingle inverted-index join — the direct form of the algorithm the
    * MinHash path approximates, for when exactness below the LSH threshold
    * matters.
    *
    * Plan shape: explode shingles → equi self-join on the hashed shingle
    * (shuffle partitioned by the 8-byte key — never a cross join) → per-pair
    * intersection counts; the per-doc shingle count rides along through the
    * explode (a constant-width column, `first()` in the pair aggregate), so
    * the union term needs NO extra join — a per-document side table would be
    * O(corpus) and must never be broadcast. The shingle width is the scale
    * lever: candidate pairs
    * grow as Σ df(shingle)² — on this corpus bigrams blow up 29× vs
    * trigrams (hot bigrams hit df≈340 at sf0.1 → 36M pairs) while trigram
    * df caps at 25 → 1.3M. At 100 TB the further standard refinements are
    * df-ordered prefix filtering (lossless) and a df cap on stop-shingles
    * (lossy) — both left out here where the oracle states exact Jaccard on
    * a corpus the exact join handles. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardOf(Tables.documents(s, d))

  /** Frame variant of q55 — the same shingle/hash/counting-join pipeline
    * over any (doc_id, text) frame, so compositions (Curation.curate) can
    * run the dedup stage on an already-filtered corpus instead of the raw
    * table. */
  private[graft] def ngramJaccardOf(docs: DataFrame, t: Double = 0.4): DataFrame = {
    jaccardCountingJoin(postings(shingledN(docs, 3)), t)
  }

  /** Hashed postings (doc_id, n_sh, shk) of a shingled (doc_id, sh) frame:
    * the input of the exact counting joins and of the posting-skew probe
    * (operators.Dispatch).
    *
    * explode_outer, deliberately: plain explode's inferred non-empty/
    * non-null constraints get pushed below the projection, where the alias
    * substitution re-computes the whole shingling expression 2 extra times
    * per row in the filter; outer generate infers nothing, and the equi-
    * join drops a null shingle anyway.
    *
    * shk = xxhash64(shingle), not the ~20-byte string: the shuffle carries
    * 8 bytes/key and the hash join compares longs (measured 1.3 s → 0.9 s
    * warm at sf0.1). A 64-bit collision would alias two shingles and
    * inflate one intersection count; at v distinct shingles the
    * probability any collision exists is ≈ v²/2⁶⁵ (~1e-9 at v=10⁵, still
    * ~1e-4 at a 100 TB-ish v=10⁹) — an explicitly accepted tolerance; use
    * the string key where bit-exactness trumps the shuffle width. */
  private[graft] def postings(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode_outer(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("shk"))

  /** The ONE exact-Jaccard counting join, shared by q55 and the
    * prefix-filtered variant (their equivalence proof assumes an identical
    * verification core — keep it identical by construction). Input: hashed
    * postings (doc_id, n_sh, shk).
    *
    * shuffle_hash hint: Generate inherits its child's (tiny) size estimate,
    * so the static planner broadcasts the 1.3M-row exploded side and the
    * driver-side hash build dominates (measured 2.7-9s vs 1.2s). A shuffled
    * hash join partitions by shingle — the shape that holds at 100 TB. */
  private def jaccardCountingJoin(postings: DataFrame, t: Double): DataFrame = {
    val ax = postings.select(col("doc_id").as("a_id"), col("n_sh").as("na"), col("shk"))
    val bx = postings.select(col("doc_id").as("b_id"), col("n_sh").as("nb"),
                             col("shk").as("shk_r"))
    ax.join(bx.hint("shuffle_hash"),
        col("shk") === col("shk_r") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast("double").as("n_inter"),
           first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard",
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 4))
      .filter(col("jaccard") >= t)
      .select("a_id", "b_id", "jaccard")
  }

  val ngramJaccardSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT i.a_id, i.b_id,
      |         round(i.n::DOUBLE / (len(sa.s) + len(sb.s) - i.n), 4) AS jaccard
      |  FROM inter i
      |  JOIN sh sa ON i.a_id = sa.doc_id
      |  JOIN sh sb ON i.b_id = sb.doc_id)
      |WHERE jaccard >= 0.4""".stripMargin

  // ---------------------------------------------------------------- containment
  /** Directional containment similarity C(a→b) = |A∩B| / |A| at 0.9 —
    * what Jaccard misses: a short document quoted wholesale inside a long
    * one scores low Jaccard (union is large) but containment ≈ 1. The
    * standard operator for quote/subset detection next to near-dup
    * Jaccard (q55) and span excision (q151). Same shingle inverted-index
    * counting join as q55 (the scale shape is identical — candidates come
    * from shared shingles, partitioned by the hashed shingle key); emits
    * BOTH directions of a pair when both clear the threshold, with the
    * contained (smaller) side as a_id. */
  def containment(s: SparkSession, d: String): DataFrame =
    containmentOf(Tables.documents(s, d).filter(col("doc_id") % 2 === 0))

  /** q169b: the asymmetric-prefix-filtered plan under q169's EXACT oracle
    * and slice (the q55→q159 precedent) — this is the form a df-skewed
    * 100 TB corpus runs: probe side shrunk to the rarest
    * ⌊(1−t)·|A|⌋+1 postings, full-B side untouched, exact verification
    * restricted to candidates. Row-identity with [[containmentOf]] is
    * additionally spec-proven on the full corpus (LlmSpec). */
  def containmentPrefix(s: SparkSession, d: String): DataFrame =
    containmentPrefixOf(Tables.documents(s, d).filter(col("doc_id") % 2 === 0))

  /** Frame variant. The q169 registration runs the even-doc_id half slice
    * (the q159 convention: the counting join is the same Σdf² shape as
    * q55, and registering a second full-corpus instance would double the
    * suite's heaviest family for no new evidence — measured 40 s at sf1
    * full vs ~10 s sliced). At 100 TB the upgrade is the ASYMMETRIC
    * prefix filter: only the contained side's rarest ⌈(1−t)·|A|⌉+1
    * shingles need postings in the candidate join (t=0.9 ⇒ ~10% of A's
    * postings), the full-B side stays as-is — same theorem as
    * prefixJaccardOf, one-sided. */
  private[graft] def containmentOf(docs: DataFrame, t: Double = 0.9): DataFrame =
    containmentJoinFromEx(postings(shingledN(docs, 3)), t)

  /** The counting join alone, over an already-built posting frame
    * (doc_id, n_sh, shk) — factored out so the q169c dispatcher can run
    * it on the SAME materialized frame its skew probe aggregated,
    * instead of re-shingling the corpus (one scan, not three). */
  private[graft] def containmentJoinFromEx(ex: DataFrame, t: Double): DataFrame = {
    val ax = ex.select(col("doc_id").as("a_id"), col("n_sh").as("na"), col("shk"))
    val bx = ex.select(col("doc_id").as("b_id"), col("n_sh").as("nb"),
                       col("shk").as("shk_r"))
    ax.join(bx.hint("shuffle_hash"),
        col("shk") === col("shk_r") && col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast("double").as("n_inter"), first(col("na")).as("na"))
      .withColumn("containment", round(col("n_inter") / col("na"), 4))
      .filter(col("containment") >= t)
      .select("a_id", "b_id", "containment")
  }

  /** The asymmetric prefix-filtered form of [[containmentOf]] — the shape
    * a 100 TB corpus runs. One-sided prefix theorem: if |A∩B| ≥ t·|A|,
    * then A misses fewer than (1−t)·|A| of its own shingles in B, so
    * among ANY ⌊(1−t)·|A|⌋+1 of A's shingles at least one is in B —
    * in particular among the globally-rarest ones. Hence the candidate
    * join needs only A's rarest-⌊(1−t)·|A|⌋+1 postings against B's FULL
    * posting list (at t=0.9, ~10% of the probe side; the df-ascending
    * order again starves hot shingles of candidates). Verification is
    * the exact per-pair intersect against the candidate set only.
    * LlmSpec proves row-identity with the direct counting join on the
    * full test corpus. */
  private[graft] def containmentPrefixOf(docs: DataFrame, t: Double = 0.9): DataFrame = {
    val sh = shingledN(docs, 3)
    containmentPrefixFromShEx(sh, postings(sh).localCheckpoint(true), t)
  }

  /** Prefix-filter + verify alone, over an already-materialized posting
    * frame — the q169c shared-scan seam (see [[containmentJoinFromEx]]). */
  private[graft] def containmentPrefixFromShEx(
      sh: DataFrame, ex: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = ex.groupBy("shk").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("shk").asc)
    // floor((1-t)·n)+1 probe shingles — the one-sided prefix
    val probe = ex.join(dfreq, "shk")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= floor(col("n_sh") * (1 - t)) + 1)
      .select(col("doc_id").as("a_id"), col("shk"))
    val cand = probe
      .join(ex.select(col("doc_id").as("b_id"), col("shk").as("shk_r"))
              .hint("shuffle_hash"),
        col("shk") === col("shk_r") && col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val sa = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
    val sb = sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("containment", round(col("n_inter") / size(col("sh_a")), 4))
      .filter(col("containment") >= t)
      .select("a_id", "b_id", "containment")
  }

  val containmentSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, containment FROM (
      |  SELECT i.a_id, i.b_id,
      |         round(i.n::DOUBLE / len(sa.s), 4) AS containment
      |  FROM inter i JOIN sh sa ON i.a_id = sa.doc_id)
      |WHERE containment >= 0.9""".stripMargin

  // ---------------------------------------------------------------- dedup groups
  /** Connected components over the exact-Jaccard near-dup graph — the step a
    * real dedup pipeline runs AFTER pair generation: transitively-linked
    * documents form one group (keep one representative per group). Output is
    * (doc_id, group_id) where group_id = the smallest doc_id reachable.
    *
    * Algorithm: driver-coordinated min-label propagation to fixpoint —
    * each round is one equi-join (labels ⋈ edges, shuffled on the key) plus
    * a min-aggregate, i.e. the Pregel iteration shape; rounds = graph
    * diameter. Near-dup components are tiny and shallow (clusters of copies),
    * so the loop converges in a handful of rounds; at 100 TB with adversarial
    * chain-shaped graphs the standard upgrade is alternating large-star/
    * small-star (O(log n) rounds), same per-round plan shape. Each round is
    * localCheckpoint'ed: the lineage would otherwise double per iteration
    * and re-run every prior join on each action. */
  def dedupGroups(s: SparkSession, d: String): DataFrame =
    dedupGroupsFromPairs(
      ngramJaccard(s, d).select("a_id", "b_id").localCheckpoint(true))

  /** The closure stage alone, over an already-materialized pair set — split
    * out so the end-to-end pipeline (q114) computes the expensive pair join
    * ONCE and feeds it to both this and any later per-pair stage, instead
    * of replaying the q55 plan per consumer.
    *
    * Convergence check: min-propagation labels only ever DECREASE, so the
    * label sum strictly decreases iff any label changed — one scalar
    * aggregate per round replaces the old join + count change probe
    * (two fewer shuffles per iteration). */
  private[graft] def dedupGroupsFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint(true)
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum("label")).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var curSum = labelSum(labels)
    var changed = true
    while (changed) {
      val prop = labels.join(edges, col("node") === col("u"))
        .select(col("v").as("node"), col("label"))
        .unionAll(labels)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(true)
      val newSum = labelSum(prop)
      changed = newSum != curSum
      curSum = newSum
      labels = prop
    }
    labels.select(col("node").as("doc_id"), col("label").as("group_id"))
  }

  /** Recursive-CTE oracle: reachability closure, then min reachable label
    * per node — identical semantics to the propagation fixpoint. */
  val dedupGroupsSql: String =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT a_id, b_id FROM (
      |  SELECT i.a_id, i.b_id,
      |         round(i.n::DOUBLE / (len(sa.s) + len(sb.s) - i.n), 4) AS jaccard
      |  FROM inter i
      |  JOIN sh sa ON i.a_id = sa.doc_id
      |  JOIN sh sb ON i.b_id = sb.doc_id)
      |  WHERE jaccard >= 0.4),
      |edges AS (SELECT a_id u, b_id v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
      |walk(node, label) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.node = e.u)
      |SELECT node AS doc_id, min(label) AS group_id FROM walk GROUP BY node""".stripMargin

  // ---------------------------------------------------------------- prefix filtering
  /** Prefix-filtered exact Jaccard — the df-ordered "lossless refinement"
    * the plain inverted-index join (q55) points at for 100 TB corpora.
    *
    * Theorem (prefix filtering, SSJoin/AllPairs): order every document's
    * shingle set by a GLOBAL total order (here ascending document
    * frequency, shingle tiebreak — rarest first); if J(a,b) ≥ t, then the
    * first |d| − ⌈t·|d|⌉ + 1 shingles of each side must intersect. So the
    * candidate join runs over only those prefixes — hot/stop shingles
    * (df-heavy, quadratic pair blowup) land at the END of the order and
    * mostly fall OUT of prefixes, which is exactly what caps the
    * Σ df² explosion on skewed corpora. Candidates are then verified
    * EXACTLY (the same counting join as q55, shared helper) — no false
    * positives survive, and the theorem rules out false negatives for
    * TRUE Jaccard ≥ t. One boundary caveat: q55 thresholds the round-4
    * jaccard, so a pair with true J ∈ [t − 5·10⁻⁵, t) (possible only when
    * documents carry ≥10⁴ shingles) could appear in q55 yet be legitimately
    * pruned here; on this corpus (≲10² shingles/doc) the two are
    * row-identical, which LlmSpec asserts.
    *
    * Cost shape vs q55: one extra aggregation (global df) and a per-doc
    * window to rank shingles; the payoff is candidate-join input
    * shrinking from every posting to ~(1−t) of them, rarest-first. On
    * this corpus (uniform synthetic, no stop-shingles) the two run
    * comparably — the refinement pays off with Zipfian shingle skew. */
  def prefixJaccard(s: SparkSession, d: String): DataFrame =
    prefixJaccardOf(Tables.documents(s, d))

  /** Frame variant (t = Jaccard threshold) — also the registered q159
    * form, which runs it on the deterministic even-doc_id half-corpus:
    * losslessness on the FULL corpus is LlmSpec-proven against q55; the
    * half slice keeps the oracle-gated registration's bench cost
    * commensurate with q55's while exercising the identical plan. */
  private[graft] def prefixJaccardOf(docs: DataFrame, t: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingledN(docs, 3)
    // checkpoint the exploded postings: the df aggregation AND the ranked
    // prefix projection both read them, and the self-join below reads the
    // prefixes from two subtrees — without materialization the whole
    // shingle pipeline re-runs ~4x (measured 7.6 s vs ~2 s at sf0.1).
    // localCheckpoint (not cache): blocks are freed by the ContextCleaner
    // when the frame is dropped, nothing outlives the call
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode_outer(col("sh")).as("shingle"))
      .localCheckpoint(true)
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    val prefixes = ex.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * t) + 1)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shk"))
      .localCheckpoint(true)
    val cand = prefixes.select(col("doc_id").as("a_id"), col("shk"))
      .join(prefixes.select(col("doc_id").as("b_id"), col("shk").as("shk_r"))
          .hint("shuffle_hash"),
        col("shk") === col("shk_r") && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
      .localCheckpoint(true)
    // Exact verification = the q55 counting join, RESTRICTED to documents
    // that appear in some candidate pair (left-semi) and then to the
    // candidate pairs themselves. At scale the candidate-doc set is the
    // lever — the quadratic counting join runs over candidates only, not
    // the corpus. (This uniform synthetic corpus is the adversarial case:
    // no df skew means prefixes prune almost nothing and every doc stays
    // a candidate, so q118 costs ~q55 + the prefix overhead; a Zipfian
    // corpus is where the candidate set collapses.) Verifying by counting
    // rather than per-pair array_intersect matters: with ~10⁶ candidate
    // pairs the array join-back shuffles gigabytes of shingle arrays
    // (measured 7.6 s) while the counting join re-aggregates postings
    // (measured ~2.5 s total).
    val candDocs = cand.select(col("a_id").as("doc_id"))
      .unionAll(cand.select(col("b_id").as("doc_id"))).distinct()
    val full = ex.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("shk"))
    // the SAME verification core as q55 (shared helper — the equivalence
    // proof depends on it), restricted to candidate pairs afterwards
    jaccardCountingJoin(full, t)
      .join(cand.hint("shuffle_hash"), Seq("a_id", "b_id"), "left_semi")
  }

  /** q159: the oracle-gated registration of prefix filtering, on the
    * even-doc_id half-corpus (see prefixJaccardOf doc for why the slice). */
  def ppjoinNearDup(s: SparkSession, d: String): DataFrame =
    prefixJaccardOf(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
      t = 0.5)

  /** q55's oracle restricted to the same even-doc_id slice, at t = 0.5. */
  val ppjoinNearDupSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT i.a_id, i.b_id,
      |         round(i.n::DOUBLE / (len(sa.s) + len(sb.s) - i.n), 4) AS jaccard
      |  FROM inter i
      |  JOIN sh sa ON i.a_id = sa.doc_id
      |  JOIN sh sb ON i.b_id = sb.doc_id)
      |WHERE jaccard >= 0.5""".stripMargin

  // ---------------------------------------------------------------- df cap
  /** df-capped exact Jaccard — "stopword shingles" as a first-class
    * semantic: shingles with document frequency > cap are dropped from
    * every document's set BEFORE exact Jaccard (numerator AND set-size
    * denominator), the coarsening production near-dup pipelines apply to
    * survive Zipfian corpora. Unlike prefix filtering (q159 — a lossless
    * acceleration of the SAME answer) this deliberately changes the
    * relation; in exchange the candidate join's input is provably linear
    * at ANY skew: Σ_{df≤C} df² ≤ C · postings, so the Σdf² blowup the
    * zipf corpus measured on the uncapped joins (q55 at 6.4× wall for
    * 5.3× Σdf²) is capped by construction.
    * The cap is deterministic and DuckDB-expressible, so the full answer
    * is hash-gated — cap=5 bites at sf0.01 (29 shingles dropped, df ≤ 7)
    * as well as at the zipf head (df up to 190 at sf1z), keeping the
    * gate on the real path at every scale.
    *
    * Plan: postings → df aggregate → df≤cap semi-filter → per-doc capped
    * size (groupBy doc_id, reuses the postings exchange) → the SAME
    * counting join core as q55/q159 (`jaccardCountingJoin`). Registered
    * (q177) on q159's even-doc_id slice at t = 0.5 for bench-cost parity
    * with the uncapped levers it is measured against. */
  private[graft] def dfCapJaccardOf(docs: DataFrame, t: Double, cap: Int): DataFrame = {
    val ex = shingledN(docs, 3)
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .localCheckpoint(true) // df aggregate + kept-postings both read it
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val kept = ex.join(dfreq.filter(col("df") <= cap), "shingle")
      .select("doc_id", "shingle")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val full = kept.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("shk"))
    jaccardCountingJoin(full, t)
  }

  /** q177: df-capped near-dup on q159's slice (t = 0.5, cap = 5). */
  def dfCapNearDup(s: SparkSession, d: String): DataFrame =
    dfCapJaccardOf(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
      t = 0.5, cap = 5)

  /** The identical capped relation in DuckDB: same slice, same df
    * computed ON the slice, same cap, Jaccard over the capped sets. */
  val dfCapNearDupSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |dfreq AS (SELECT shingle, count(*) df FROM ex GROUP BY shingle),
      |kept AS (SELECT e.doc_id, e.shingle FROM ex e
      |         JOIN dfreq USING (shingle) WHERE df <= 5),
      |sizes AS (SELECT doc_id, count(*) n_sh FROM kept GROUP BY doc_id),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) n
      |          FROM kept a JOIN kept b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT i.a_id, i.b_id,
      |         round(i.n::DOUBLE / (sa.n_sh + sb.n_sh - i.n), 4) AS jaccard
      |  FROM inter i
      |  JOIN sizes sa ON i.a_id = sa.doc_id
      |  JOIN sizes sb ON i.b_id = sb.doc_id)
      |WHERE jaccard >= 0.5""".stripMargin

  // ---------------------------------------------------------------- q184
  /** Sorted-neighborhood blocking dedup (Hernández & Stolfo 1995, the
    * merge/purge method) — the THIRD blocking family next to content
    * blocking (q55/q159's shingle postings, q177's df cap) and signature
    * blocking (q36 MinHash bands, q37 SimHash chunks): sort the corpus by
    * a cheap normalized key, slide a fixed window of [[SnWindow]] ranks,
    * and verify ONLY rank-adjacent pairs. Candidate count is exactly
    * ≤ N·(W−1) by construction — the only blocking scheme here whose
    * candidate volume is corpus-linear INDEPENDENT of content skew (a
    * hot shingle blows up q55's Σdf² and fills q36's band buckets; SNM
    * cannot blow up, it can only MISS pairs whose keys sort far apart —
    * the stated recall trade of the method). Output contract: pairs
    * within the rank window with exact trigram Jaccard ≥ [[SnThreshold]],
    * plus the rank gap.
    *
    * Scale shape: the global sort rank is Layout.stableRowIds' two-pass
    * range-partition prefix scheme (the q115 machinery — NO unpartitioned
    * window, no single-task funnel); the window pairing is an EQUI-join
    * on ⌊rank/W⌋ buckets (each probe row emits its own and the previous
    * bucket id — 2 keys/row, never an inequality theta join); and
    * verification is per-pair array intersection, map-side after the
    * bucket join, each side's shingle array bounded by document length.
    * Every stage is linear in N at fixed W. The skey/doc_id sort is a
    * total order, so ranks — hence the candidate SET — are deterministic
    * and engine-independent (the q59 contract, via order not hashes). */
  private val SnWindow = 8
  private val SnThreshold = 0.4
  private val SnKeyLen = 40

  def sortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val shards = s.sparkContext.defaultParallelism
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // rank a NARROW (doc_id, skey) frame: stableRowIds crosses an RDD
    // boundary (row-serialized, off the Tungsten path — the two-pass
    // prefix trade), so the shingle arrays must not ride through it; and
    // the ranked frame is referenced by BOTH pair sides, so materialize
    // it eagerly once (16 bytes/row — the first measured cut of this
    // query was exactly this frame's lineage replaying 4×)
    val ranked = graft.operators.Layout.stableRowIds(
        docs.filter(size(split(col("text"), " ")) >= 3)
          .select(col("doc_id"),
            substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
              1, SnKeyLen).as("skey")),
        shards, "skey", "doc_id")
      .select(col("doc_id"), col("row_id"),
        expr(s"row_id div $SnWindow").as("bucket"))
      .localCheckpoint(true)
    val a = ranked.select(col("row_id").as("ra"), col("doc_id").as("ad"), col("bucket"))
    // probe side emits its own bucket and the previous one: a pair with
    // rank gap in [1, W-1] spans at most one bucket boundary, so the
    // 2-key emit makes the range condition an exact equi-join residual
    val b = ranked.select(col("row_id").as("rb"), col("doc_id").as("bd"),
      explode(array(col("bucket"), col("bucket") - 1)).as("bucket"))
      .filter(col("bucket") >= 0)
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("rb") > col("ra") && col("rb") < col("ra") + SnWindow)
      .select(col("ad"), col("bd"), (col("rb") - col("ra")).as("gap"))
    // verification joins the shingle arrays onto the ≤ N·(W−1) candidate
    // rows only — each side one Tungsten equi-join on doc_id; sh has no
    // shuffle in its lineage, so the double reference is two map-side
    // rebuilds, not two shuffles
    val sh = shingledN(docs, 3)
    pairs
      .join(sh.select(col("doc_id").as("ad"), col("sh").as("sa")), "ad")
      .join(sh.select(col("doc_id").as("bd"), col("sh").as("sb")), "bd")
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("ni").cast("double")
        / (size(col("sa")) + size(col("sb")) - col("ni")), 4))
      .filter(col("jaccard") >= SnThreshold)
      .select(least(col("ad"), col("bd")).as("a_id"),
        greatest(col("ad"), col("bd")).as("b_id"),
        col("gap"), col("jaccard"))
  }

  val sortedNeighborhoodSql: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |         substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
      |                   1, $SnKeyLen) AS skey,
      |         string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, skey,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                        for i in range(1, len(t) - 1)]) AS s
      |  FROM base),
      |rk AS (SELECT doc_id, s,
      |              row_number() OVER (ORDER BY skey, doc_id) AS rn FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS ad, b.doc_id AS bd, b.rn - a.rn AS gap,
      |         len(list_intersect(a.s, b.s)) AS ni,
      |         len(a.s) AS na, len(b.s) AS nb
      |  FROM rk a JOIN rk b ON b.rn > a.rn AND b.rn < a.rn + $SnWindow)
      |SELECT least(ad, bd) AS a_id, greatest(ad, bd) AS b_id,
      |       CAST(gap AS BIGINT) AS gap,
      |       round(ni::DOUBLE / (na + nb - ni), 4) AS jaccard
      |FROM pairs
      |WHERE round(ni::DOUBLE / (na + nb - ni), 4) >= $SnThreshold""".stripMargin

  // ---------------------------------------------------------------- pipeline
  /** The COMPLETE near-dup removal pipeline, end-to-end: pair generation
    * (exact trigram Jaccard) → connected components (transitive closure) →
    * representative selection per group (keep the longest document,
    * doc_id tiebreak) → survivor accounting. This is what "dedup the
    * corpus" actually means operationally — q55/q69 are its stages; this
    * query is the composition a user runs. Output: one row per duplicate
    * group with its kept representative and the member count (singleton
    * docs survive untouched and don't appear — they have no group). */
  def dedupPipeline(s: SparkSession, d: String): DataFrame = {
    // the pair join is the pipeline's expensive stage: materialize it ONCE
    // (eager localCheckpoint) and hand the materialized set to the closure —
    // any additional per-pair stage (e.g. pair-level audit) reads the same
    // checkpoint instead of replaying the q55 plan
    val pairs = ngramJaccard(s, d).select("a_id", "b_id").localCheckpoint(true)
    val groups = dedupGroupsFromPairs(pairs) // (doc_id, group_id)
    val quality = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    groups.join(quality, "doc_id")
      .groupBy("group_id")
      .agg(
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("rep_id"),
        count(lit(1)).as("n_members"),
        max("n_chars").as("rep_chars"))
  }

  /** Oracle: the q69 closure extended with per-group argmax(n_chars,
    * tiebreak smaller doc_id) — same recursive CTE, one more join. Built
    * by rewriting q69's final SELECT; the require below trips at class
    * init if that anchor text is ever reworded (a silent no-op replace
    * would leave q114 with q69's oracle and a baffling schema mismatch). */
  private val DedupGroupsFinalSelect =
    "SELECT node AS doc_id, min(label) AS group_id FROM walk GROUP BY node"
  require(dedupGroupsSql.contains(DedupGroupsFinalSelect),
    "dedupGroupsSql final SELECT changed — update dedupPipelineSql's rewrite anchor")
  val dedupPipelineSql: String =
    dedupGroupsSql.replace(
      DedupGroupsFinalSelect,
      """, groups AS (SELECT node AS doc_id, min(label) AS group_id FROM walk GROUP BY node)
        |SELECT group_id, doc_id AS rep_id, n_members, rep_chars FROM (
        |  SELECT group_id, g.doc_id,
        |         row_number() OVER (PARTITION BY group_id
        |                            ORDER BY n_chars DESC, g.doc_id ASC) AS rk,
        |         count(*) OVER (PARTITION BY group_id) AS n_members,
        |         max(n_chars) OVER (PARTITION BY group_id) AS rep_chars
        |  FROM groups g JOIN documents d ON g.doc_id = d.doc_id)
        |WHERE rk = 1""".stripMargin)

  // ---------------------------------------------------------------- soft dedup
  /** Duplicate-aware SOFT reweighting — keep every document but scale its
    * training weight by 1/|duplicate cluster| (the "don't delete,
    * down-weight" alternative to q114's removal pipeline, per the soft
    * deduplication line of work: repeated content contributes one
    * document's worth of expected gradient mass instead of being either
    * excised or over-sampled). Clusters are q114's exact-Jaccard
    * connected components; singletons (no near-dup edge) form their own
    * cluster and keep weight 1.0. Output: every document with its
    * cluster id, cluster size, and sampling weight — Σ weight = the
    * effective (deduplicated) corpus size by construction.
    *
    * Plan shape: the expensive stage is q55's pair join (materialized
    * once, the q114 contract); the closure runs on the near-dup subgraph
    * only (pair-cardinality, tiny relative to corpus); the final pass is
    * one LEFT join of the corpus onto the label frame plus one keyed
    * count — both hash-partitioned on doc_id/group_id, nothing
    * corpus-quadratic. At 100 TB the weight table is exactly the corpus
    * row count and joins back onto the training stream by doc_id. */
  def softDedup(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccard(s, d).select("a_id", "b_id").localCheckpoint(true)
    val groups = dedupGroupsFromPairs(pairs) // (doc_id, group_id), edged nodes only
    val docs = Tables.documents(s, d).select("doc_id")
    // join strategies, site by site:
    //  - docs ⟕ groups: `groups` holds only near-dup-EDGED docs (pair-
    //    cardinality, dup-rate-bounded ≪ corpus), so pin shuffle_hash —
    //    the build side stays bounded per partition and the corpus side
    //    skips the SMJ sort entirely.
    //  - labeled ⋈ sizes stays SMJ DELIBERATELY: `sizes` is one row per
    //    group and singletons are their own group, so BOTH sides are
    //    corpus-cardinality — a hash build of corpus/R keys per task is
    //    exactly the SHJ OOM regime (guide §3.1); SMJ on radix-sortable
    //    longs spills gracefully. Whitelisted in PlanQualitySpec.
    val labeled = docs.join(groups.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
    val sizes = labeled.groupBy("group_id").agg(count(lit(1)).as("n_members"))
    labeled.join(sizes, "group_id")
      // floor-spelled rounding (the q89/q124 contract): 1/n lands on exact
      // decimal ties (1/8000 = 0.000125) where round() half-even flips
      .withColumn("weight",
        floor(lit(1.0) / col("n_members") * 10000 + 0.5) / 10000.0)
      .select("doc_id", "group_id", "n_members", "weight")
  }

  /** Oracle: q69's reachability closure, extended over the FULL corpus
    * (left join; singletons self-label) — same anchor-rewrite contract as
    * q114, guarded by the same require below. */
  private val SoftDedupFinalSelect =
    "SELECT node AS doc_id, min(label) AS group_id FROM walk GROUP BY node"
  val softDedupSql: String =
    dedupGroupsSql.replace(
      SoftDedupFinalSelect,
      """, groups AS (SELECT node AS doc_id, min(label) AS group_id FROM walk GROUP BY node),
        |alldocs AS (
        |  SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id),
        |sizes AS (SELECT group_id, count(*) AS n_members FROM alldocs GROUP BY 1)
        |SELECT a.doc_id, a.group_id, s.n_members,
        |       floor(1.0 / s.n_members * 10000 + 0.5) / 10000.0 AS weight
        |FROM alldocs a JOIN sizes s USING (group_id)""".stripMargin)
  require(dedupGroupsSql.contains(SoftDedupFinalSelect),
    "dedupGroupsSql final SELECT changed — update softDedupSql's rewrite anchor")

  // ---------------------------------------------------------------- winnowing
  /** Winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every [[WinK]]-token gram,
    * slide a window of [[WinW]] consecutive gram hashes, select the
    * window minimum (rightmost on ties — the paper's robust-winnowing
    * rule), and fingerprint each document by its distinct selected
    * hashes. Guarantee: any shared run of WinK + WinW − 1 tokens yields
    * at least one shared fingerprint, at expected density 2/(WinW+1) —
    * a position-aware sampler, unlike q36's MinHash (set-level, order
    * blind) or q124's exhaustive span table (every window, no
    * selection). Output: document pairs sharing ≥ [[WinShared]]
    * fingerprints with the shared count and containment-style overlap.
    *
    * Plan shape: gram hashing AND window selection are higher-order
    * functions over the per-document token array — zero rows leave the
    * map side until the distinct fingerprint EXPLODE, which emits ~2n/(W+1)
    * rows per n-token document (the density bound is the scale contract:
    * 60% fewer postings than q124's span stream at W=4 before any join).
    * The pair stage is the q55 counting join on the fingerprint key —
    * bounded by Σdf² over SELECTED hashes, and selection is exactly what
    * keeps df flat (min-of-md5 spreads selections uniformly; measured
    * max df 7 / mean 1.4 at sf0.01 vs the hottest raw shingle's 100+).
    * Cross-engine determinism: the md5-hex-prefix hash (q59/q181
    * contract) and the (hash ASC, pos DESC) tie rule are total orders
    * both engines evaluate identically. */
  private val WinK = 3       // tokens per gram
  private val WinW = 4       // gram hashes per window
  private val WinShared = 5  // min shared fingerprints to emit a pair

  def winnowing(s: SparkSession, d: String): DataFrame = {
    val minTok = WinK + WinW - 1
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= minTok)
    // grams: 1-based positions; g[j] = hash of tokens j..j+K-1
    val withFp = toks
      .withColumn("g", expr(
        s"""transform(sequence(1, size(t) - ${WinK - 1}),
           |  i -> struct(substring(md5(concat_ws(' ', slice(t, i, $WinK))), 1, 8) AS h,
           |              i AS pos))""".stripMargin))
      // full windows only: j = 1 .. n_grams − W + 1; min by (h asc, pos desc)
      .withColumn("fp", array_distinct(expr(
        s"""transform(sequence(1, size(g) - ${WinW - 1}),
           |  j -> aggregate(slice(g, j, $WinW), g[j - 1],
           |    (acc, x) -> CASE WHEN x.h < acc.h OR (x.h = acc.h AND x.pos > acc.pos)
           |                THEN x ELSE acc END).h)""".stripMargin)))
      .select(col("doc_id"), col("fp"), size(col("fp")).as("nfp"))
      .localCheckpoint(true) // referenced by both pair sides + size lookups
    val posts = withFp.select(col("doc_id"), explode(col("fp")).as("h"))
    val shared = posts.join(posts.select(col("doc_id").as("b_id"), col("h")), "h")
      .filter(col("doc_id") < col("b_id"))
      .groupBy(col("doc_id").as("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinShared)
    shared
      .join(withFp.select(col("doc_id").as("a_id"), col("nfp").as("na")), "a_id")
      .join(withFp.select(col("doc_id").as("b_id"), col("nfp").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"),
        round(col("n_shared") / least(col("na"), col("nb")), 4).as("overlap"))
  }

  val winnowingSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') t FROM documents
      |  WHERE len(string_split(text, ' ')) >= ${WinK + WinW - 1}),
      |grams AS (
      |  SELECT doc_id, unnest([{'pos': i,
      |           'h': substring(md5(array_to_string(t[i:i+${WinK - 1}], ' ')), 1, 8)}
      |          for i in range(1, len(t) - ${WinK - 2})], recursive := true)
      |  FROM toks),
      |ng AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
      |win AS (
      |  SELECT g.doc_id, z.ws, g.h, g.pos
      |  FROM (SELECT doc_id, pos, unnest([pos - k for k in range(0, $WinW)]) AS ws
      |        FROM grams) z
      |  JOIN grams g ON g.doc_id = z.doc_id AND g.pos = z.pos
      |  JOIN ng ON ng.doc_id = z.doc_id
      |  WHERE z.ws >= 1 AND z.ws <= ng.n - ${WinW - 1}),
      |sel AS (SELECT doc_id, ws, min(h) AS mh FROM win GROUP BY 1, 2),
      |fp AS (SELECT DISTINCT doc_id, mh AS h FROM sel),
      |nfp AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
      |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= $WinShared)
      |SELECT s.a_id, s.b_id, s.n_shared,
      |       round(s.n_shared / least(na.nfp, nb.nfp), 4) AS overlap
      |FROM shared s JOIN nfp na ON na.doc_id = s.a_id
      |JOIN nfp nb ON nb.doc_id = s.b_id""".stripMargin

  // ---------------------------------------------------------------- dup spans
  /** Substring-level duplicate-span profile — the n-gram window form of
    * suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): any L-token window that
    * occurs ≥2 times corpus-wide is a duplicated span; emit per-document
    * span counts and the duplicated fraction. This catches boilerplate and
    * templated passages that document-level dedup (q35/q36/q55) cannot see,
    * because the containing documents differ.
    *
    * Plan shape: explode each document into its (n_tokens − L + 1) rolling
    * windows — O(corpus tokens) rows, map-side — and hash each to the
    * 8-byte xxhash64 span key (the same shuffle-width + accepted-collision
    * contract as ngramJaccard's shingle key). The span stream is scanned
    * EXACTLY ONCE: an explicit repartition on `sk` feeds both the
    * (sk, doc_id) partial-count aggregation (sk-partitioning satisfies the
    * (sk, doc_id) clustering, so no second exchange) and the corpus-wide
    * occurrence count, which is a window `sum(c) over (partition by sk)` on
    * the already-sk-partitioned aggregate — sort-only, no shuffle, no join,
    * and no recompute of the Generate (the previous postings ⋈ freq form
    * evaluated the explode+concat twice and shuffled three times; measured
    * 27.9 → 9.3 cpu·s at sf0.1). Span STRINGS never enter a shuffle. At
    * 100 TB the windows row count is ~token count — the same order as
    * tokenization itself — and the wide stages partition by the span hash,
    * so skew is bounded by the hottest single span (a stop-span cap is the
    * standard lossy refinement). */
  private val SpanLen = 8

  def dupSpans(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= SpanLen)
    // explode_outer: same constraint-inference trap as ngramJaccard
    val spans = toks.select(col("doc_id"),
        explode_outer(expr(
          s"transform(sequence(0, size(t)-$SpanLen), i -> concat_ws(' ', slice(t, i+1, $SpanLen)))"
        )).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("sk"))
    val perDoc = spans.repartition(col("sk"))
      .groupBy("sk", "doc_id").agg(count(lit(1)).as("c"))
    perDoc
      .withColumn("n_occ",
        sum("c").over(org.apache.spark.sql.expressions.Window.partitionBy("sk")))
      .groupBy("doc_id")
      .agg(sum("c").as("n_spans"),
           sum(when(col("n_occ") >= 2, col("c")).otherwise(0L)).as("n_dup_spans"))
      // floor-spelled rounding — see wordEntropy (Retrieval.scala): int/int
      // ratios land on exact decimal ties where Spark round() and DuckDB
      // round() disagree; floor(x*1e4+0.5) agrees bit-for-bit
      .withColumn("dup_frac",
        floor(col("n_dup_spans").cast("double") / col("n_spans") * 10000 + 0.5) / 10000.0)
  }

  // CAST(... AS BIGINT) on integer sums: DuckDB sum() is HUGEINT → pandas
  // float64 → dtype-sensitive hash mismatch
  val dupSpansSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 8),
      |ex AS (SELECT doc_id, unnest([array_to_string(t[i:i+7], ' ')
      |                              for i in range(1, len(t) - 6)]) AS span FROM toks),
      |freq AS (SELECT span, count(*) AS n_occ FROM ex GROUP BY span)
      |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |       CAST(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      |       floor(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
      |             * 10000 + 0.5) / 10000.0 AS dup_frac
      |FROM ex e JOIN freq f ON e.span = f.span
      |GROUP BY e.doc_id""".stripMargin

  // ---------------------------------------------------------------- span excision
  /** Maximal duplicated-span EXCISION — the APPLY form of q124's window
    * profile and the exact-substring dedup of Lee et al. 2022 (suffix-array
    * dedup): flag every SpanLen-token window that occurs ≥2 times
    * corpus-wide, merge each document's flagged windows into MAXIMAL
    * contiguous spans (two windows at positions p₁ < p₂ merge when
    * p₂ ≤ p₁ + L, i.e. their token coverage overlaps or touches), cut every
    * covered token out of the document, and rebuild the surviving text.
    * q127's segment dedup can only remove duplicates that land on fixed
    * SegLen boundaries; this catches a duplicated passage at ANY offset —
    * the form boilerplate actually takes in a web corpus — and, unlike
    * Lee et al.'s keep-one policy, excises every occurrence (the
    * conservative choice for training data: a passage seen twice is
    * boilerplate, not content).
    *
    * Plan shape — three wide stages, each partitioned by a key that scales
    * with the data, never all-pairs: (1) q124's span stream (map-side
    * posexplode, spans live as 8-byte xxhash64 keys) is repartitioned once
    * on `sk`, and the corpus-wide occurrence count is a sort-only window on
    * that partitioning — no join, no second shuffle, no Generate recompute;
    * (2) flagged positions shuffle ONCE to doc_id partitioning, where the
    * island merge is a classic gaps-and-islands pass: lag + running sum
    * inside the doc_id window (sorted by position; both windows share the
    * one exchange), then min/max per (doc_id, island) — subset-partitioning
    * means the aggregation reuses the doc_id exchange; (3) the rebuild is
    * MAP-SIDE: each doc's handful of islands rides one doc_id equi-join
    * back onto the token arrays and a higher-order filter drops covered
    * positions in place — no per-token rows, no anti-join, no
    * collect_list/sort (an earlier per-token anti-join form measured
    * 2.49 s vs 1.19 s at sf0.1). At 100 TB every stage is bounded by the
    * token count and partitioned by sk or doc_id; skew is bounded by the
    * hottest span (same stop-span cap refinement as q124 applies if one
    * arises). */
  def spanExcision(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = SpanLen
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= L)
    // posexplode_outer: plain posexplode's inferred non-null constraint is
    // pushed below the projection and re-evaluates the whole window
    // expression per row (the q124/ngramJaccard trap)
    val spans = toks.select(col("doc_id"),
        posexplode_outer(expr(
          s"transform(sequence(0, size(t)-$L), i -> concat_ws(' ', slice(t, i+1, $L)))"
        )).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), xxhash64(col("span")).as("sk"))
    val flagged = spans.repartition(col("sk"))
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("sk")))
      .filter(col("n_occ") >= 2)
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= L, 0L).otherwise(1L))
      .withColumn("island", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("strt"), (max("pos") + L - 1).as("fin"))
    val stats = islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
           sum(col("fin") - col("strt") + 1).as("tokens_removed"),
           collect_list(struct(col("strt"), col("fin"))).as("isl"))
    toks.join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        // floor-spelled rounding — the wordEntropy decimal-tie contract
        (floor((size(col("t")) - coalesce(col("tokens_removed"), lit(0L)))
          .cast("double") / size(col("t")) * 10000 + 0.5) / 10000.0)
          .as("clean_frac"),
        // untouched docs skip the position scan entirely; 0-based lambda
        // index i matches the windows' 0-based pos
        expr("CASE WHEN isl IS NULL THEN concat_ws(' ', t) ELSE " +
          "array_join(transform(filter(transform(t," +
          " (w, i) -> struct(w, i)), x -> !exists(isl," +
          " r -> x.i >= r.strt AND x.i <= r.fin)), x -> x.w), ' ') END")
          .as("clean_text"))
  }

  // Oracle mirrors the plan stage-for-stage (windows → freq≥2 → islands →
  // covered anti-join rebuild); span match is on strings where Spark uses
  // xxhash64 — the same accepted-collision contract as q124. string_agg
  // ORDER BY pos ≡ collect_list+array_sort; coalesce for all-covered docs.
  val spanExcisionSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 8),
      |ex AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM toks),
      |sp AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS span
      |       FROM ex),
      |freq AS (SELECT span, count(*) AS n_occ FROM sp GROUP BY span),
      |flagged AS (SELECT s.doc_id, s.pos FROM sp s JOIN freq f USING (span)
      |            WHERE f.n_occ >= 2),
      |brk AS (SELECT doc_id, pos,
      |               CASE WHEN pos - lag(pos) OVER w <= 8 THEN 0 ELSE 1 END AS brk
      |        FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |isl AS (SELECT doc_id, pos,
      |               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |                              ROWS UNBOUNDED PRECEDING) AS island
      |        FROM brk),
      |islands AS (SELECT doc_id, island, min(pos) AS strt, max(pos) + 7 AS fin
      |            FROM isl GROUP BY doc_id, island),
      |covered AS (SELECT doc_id, unnest(range(strt, fin + 1)) AS pos FROM islands),
      |tok AS (SELECT doc_id, unnest(t) AS w,
      |               unnest(range(0, len(t))) AS pos FROM toks),
      |kept AS (SELECT k.doc_id,
      |                string_agg(k.w, ' ' ORDER BY k.pos) AS clean_text
      |         FROM tok k ANTI JOIN covered c ON k.doc_id = c.doc_id AND k.pos = c.pos
      |         GROUP BY k.doc_id),
      |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |                 CAST(sum(fin - strt + 1) AS BIGINT) AS tokens_removed
      |          FROM islands GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
      |       coalesce(s.n_dup_spans, 0) AS n_dup_spans,
      |       coalesce(s.tokens_removed, 0) AS tokens_removed,
      |       floor((len(d.t) - coalesce(s.tokens_removed, 0))::DOUBLE / len(d.t)
      |             * 10000 + 0.5) / 10000.0 AS clean_frac,
      |       coalesce(k.clean_text, '') AS clean_text
      |FROM toks d LEFT JOIN stats s USING (doc_id)
      |            LEFT JOIN kept k ON d.doc_id = k.doc_id""".stripMargin

  // ---------------------------------------------------------------- segment dedup
  /** Segment-level keep-first dedup — the APPLY form of q124's duplicate-span
    * profile (CCNet-style passage dedup): split every document into
    * consecutive SegLen-token segments, keep only the globally FIRST
    * occurrence of each distinct segment (first = smallest (doc_id, seg_idx)),
    * and rebuild each document from its surviving segments. This is the
    * operator that actually strips cross-document boilerplate from a
    * training corpus; document-level dedup (q35/q36/q55) can't touch it
    * because the containing documents differ.
    *
    * Plan shape: segmentation is map-side (one generator row per segment,
    * O(corpus tokens / SegLen) rows); the keep-first decision is ONE
    * hash-partitioned window — row_number over (PARTITION BY seg ORDER BY
    * doc_id, seg_idx) — i.e. partitioned by the segment value itself, never
    * a global window (PlanQualitySpec gates this); the rebuild is a groupBy
    * (doc_id) whose collect_list gathers only the surviving segments (nulls
    * are skipped by collect_list) and restores document order with an
    * array_sort on (seg_idx, seg) structs. Both wide stages are partitioned
    * by high-cardinality keys (segment text, doc_id); skew is bounded by the
    * hottest single segment's occurrence count — and only its (doc_id,
    * seg_idx, rk) triples ride that partition, not payloads. The segment
    * string must flow through the first shuffle anyway (it IS the rebuild
    * payload), so partitioning by it costs nothing extra. */
  private val SegLen = 8

  def segmentDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // posexplode_outer: same constraint-inference trap as ngramJaccard
      .select(col("doc_id"), posexplode_outer(expr(
        s"transform(sequence(0, cast(ceil(size(t) / ${SegLen}.0) as int) - 1)," +
        s" i -> concat_ws(' ', slice(t, i * $SegLen + 1, $SegLen)))"
      )).as(Seq("seg_idx", "seg")))
    val w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    segs.withColumn("rk", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        // CASE without ELSE → null for dropped segments; collect_list skips
        // nulls, array_sort restores document order by seg_idx
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN rk = 1 THEN struct(seg_idx, seg) END)), x -> x.seg), ' ')")
          .as("dedup_text"))
  }

  // string_agg ignores NULLs exactly as collect_list does; a document whose
  // EVERY segment was seen earlier keeps empty text on both sides (coalesce —
  // all-NULL string_agg is NULL, all-null collect_list is []); CAST(.. AS
  // BIGINT) on integer sums per the HUGEINT dtype contract
  val segmentDedupSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |idx AS (SELECT doc_id, t,
      |               unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS seg_idx
      |        FROM toks),
      |segs AS (SELECT doc_id, seg_idx,
      |                array_to_string(t[seg_idx * 8 + 1 : seg_idx * 8 + 8], ' ') AS seg
      |         FROM idx),
      |rk AS (SELECT doc_id, seg_idx, seg,
      |              row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rk
      |       FROM segs)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
      |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       coalesce(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY seg_idx),
      |                '') AS dedup_text
      |FROM rk GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- incremental near-dup
  /** Incremental MinHash-LSH dedup — flag documents of an INCOMING shard
    * that near-duplicate an EXISTING corpus (here: doc_id % 10 ≥ 8 is the
    * incoming 20%, % 10 < 8 the existing 80%; a real pipeline passes two
    * frames). This is the shape dedup actually runs in at 100 TB: the
    * existing corpus's band table is a precomputed, stored index — only the
    * incoming shard is shingled and hashed per run, and the candidate join
    * probes the index instead of re-pairing the whole corpus (q36 re-derives
    * both sides only because the oracle needs a self-contained statement).
    *
    * Plan shape mirrors q36: map-side signatures, equi-join on (band, bv)
    * for candidates — partitioned by band value, never a cross join — then
    * exact-Jaccard confirm on the candidate pairs only. Asymmetry is the
    * point: the incoming side is small, so AQE broadcasts ITS band table
    * against the big stored index, and the confirm join touches only
    * matched existing docs. */
  /** The ONE (band, bv) key definition for the default 16×2 banding —
    * shared by q128's stored-index shape and its streaming twin (q128b),
    * whose candidate parity depends on bit-identical band keys. Input:
    * a `shingledN` frame; output: (doc_id, band, bv). */
  private[graft] def bandsOf(sh: DataFrame): DataFrame = {
    val numBands = NumHashes / BandRows
    minhashSignature(sh).select(col("doc_id"),
      posexplode(array((0 until numBands).map(b =>
        xxhash64(lit(b),
          element_at(col("sig"), b * BandRows + 1),
          element_at(col("sig"), b * BandRows + 2))): _*)).as(Seq("band", "bv")))
  }

  /** Map-side (no aggregation) column forms of the 32-hash signature mins
    * and the 16 band keys, for STREAMING frames: a streaming plan can't
    * chain joins after `minhashSignature`'s explode+groupBy, so the twin
    * computes the same values with array HOFs over the shingle column —
    * interpreted per row instead of codegen'd min-aggregates (the batch
    * form's doc explains the tradeoff), but bit-identical results, which
    * is what candidate parity with the stored index requires. Input col:
    * the shingle array; output: the 16-element band-key array to
    * posexplode. */
  private[graft] def bandKeysExpr: Column = {
    def rot(i: Int): String =
      if (i == 0) "y" else s"(shiftleft(y, $i) | shiftrightunsigned(y, ${64 - i}))"
    def m(i: Int): String =
      s"array_min(zip_with(hs1, hs2, (x, y) -> x ^ ${rot(i)}))"
    val numBands = NumHashes / BandRows
    val bands = (0 until numBands).map(b =>
      s"xxhash64($b, ${m(b * BandRows)}, ${m(b * BandRows + 1)})").mkString(", ")
    expr(s"array($bands)") // caller must have hs1/hs2 columns — see bandKeysPrep
  }

  /** The hs1/hs2 helper columns [[bandKeysExpr]] reads (split out so the
    * two xxhash64 passes run once, not once per hash function). */
  private[graft] def bandKeysPrep(shCol: String): Seq[(String, Column)] = Seq(
    "hs1" -> expr(s"transform($shCol, x -> xxhash64(x))"),
    "hs2" -> expr(s"transform($shCol, x -> xxhash64('km2', x))"))

  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val (pairs, cached) = incrementalNearDupPlan(s, d)
    // eager materialize + release the corpus-sized shingle cache (see
    // minhashNearDup)
    try pairs.localCheckpoint(true) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads (see minhashNearDupPlan). */
  private[graft] def incrementalNearDupPlan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val docs = Tables.documents(s, d)
    val sh = shingled(docs).cache()
    val bands = bandsOf(sh)
    val existing = bands.filter(pmod(col("doc_id"), lit(10)) < 8)
      .select(col("doc_id").as("ex_id"), col("band"), col("bv"))
    val incoming = bands.filter(pmod(col("doc_id"), lit(10)) >= 8)
      .select(col("doc_id").as("inc_id"), col("band").as("band_r"), col("bv").as("bv_r"))
    val cand = existing.join(incoming,
        col("band") === col("band_r") && col("bv") === col("bv_r"))
      .select("inc_id", "ex_id").distinct()
    val a = sh.select(col("doc_id").as("inc_id"), col("sh").as("sh_i"))
    val b = sh.select(col("doc_id").as("ex_id"), col("sh").as("sh_e"))
    val pairs = a.join(cand, "inc_id").join(b, "ex_id")
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_e"))).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (size(col("sh_i")) + size(col("sh_e")) - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("inc_id", "ex_id", "jaccard")
    (pairs, Seq(sh))
  }

  /** Declarative oracle: the q36 shingle-join restricted to
    * (existing, incoming) pairs — same 0.5 threshold, same shingling. */
  val incrementalNearDupSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                     for i in range(1, len(t) - 1)]) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      |inter AS (SELECT b.doc_id inc_id, a.doc_id ex_id, count(*) n
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle
      |          WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
      |          GROUP BY 1, 2)
      |SELECT inc_id, ex_id, jaccard FROM (
      |  SELECT i.inc_id, i.ex_id,
      |         round(i.n::DOUBLE / (len(si.s) + len(se.s) - i.n), 4) AS jaccard
      |  FROM inter i
      |  JOIN sh si ON i.inc_id = si.doc_id
      |  JOIN sh se ON i.ex_id = se.doc_id)
      |WHERE jaccard >= 0.5""".stripMargin

  // ---------------------------------------------------------------- simhash
  /** 64-bit SimHash over the word set: per-token xxhash64, signed bit votes,
    * sign → bit. Computed with built-in expressions (explode + conditional
    * sums per bit), no UDF. */
  def simhash(docs: DataFrame): DataFrame = {
    // explode_outer for the same reason as ngramJaccard: plain explode's
    // inferred constraints re-compute array_distinct(split(...)) per row in
    // a pushed filter; split() never yields an empty array so the row sets
    // are identical
    val words = docs
      .select(col("doc_id"), explode_outer(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    // branch-free bit votes: sum the raw bit s_b and the token count n once;
    // the majority test is s_b*2 > n (equivalent to summing ±1 votes, minus
    // 64 conditionals per token)
    val bitSums = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b")
    }
    val voted = words.groupBy("doc_id")
      .agg(bitSums.head, (bitSums.tail :+ count(lit(1)).as("n")): _*)
    val sh = (0 until 64).map { b =>
      when(col(s"b$b") * 2 > col("n"), shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    voted.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs, hamming ≤ MaxHamming. Candidate generation by
    * the pigeonhole trick: split the 64-bit hash into 4×16-bit chunks; any
    * pair within hamming 3 shares ≥1 identical chunk, so an equi-join on
    * (chunk_idx, chunk_value) finds all of them without a cross join.
    * xxhash64 constants are engine-specific so DuckDB can't recompute
    * them: hash-checked against a pinned sf0.01 golden (deterministic,
    * bit-stable across partition counts — see graft.core.Goldens);
    * SimilaritySpec verifies against brute-force hamming on the test
    * corpus. */
  private val MaxHamming = 3

  def simhashNearDup(s: SparkSession, d: String): DataFrame = {
    val (pairs, cached) = simhashNearDupPlan(s, d)
    // see minhashNearDup: eager checkpoint + unpersist, no session-lifetime leak
    try pairs.localCheckpoint(true) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads (see minhashNearDupPlan). */
  private[graft] def simhashNearDupPlan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val sh = simhash(Tables.documents(s, d)).cache()
    val chunks = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("chunk", "cv")))
    val cx = chunks.select(col("doc_id").as("a_id"), col("simhash").as("sh_a"),
                           col("chunk"), col("cv"))
    val cy = chunks.select(col("doc_id").as("b_id"), col("simhash").as("sh_b"),
                           col("chunk").as("chunk_r"), col("cv").as("cv_r"))
    val pairs = cx.join(cy,
        col("chunk") === col("chunk_r") && col("cv") === col("cv_r") &&
        col("a_id") < col("b_id"))
      .select("a_id", "b_id", "sh_a", "sh_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= MaxHamming)
      .select("a_id", "b_id", "hamming")
    (pairs, Seq(sh))
  }

  // ---------------------------------------------------------------- q199
  /** Cohen's κ agreement audit between two duplicate detectors (Cohen
    * 1960 — the standard chance-corrected agreement statistic): rater A
    * flags docs sharing a 4-word prefix key, rater B docs sharing a
    * 2-word suffix key, and κ = (p_o − p_e)/(1 − p_e) over the 2×2
    * per-document contingency table. This is the dedup-QA meta-operator:
    * before trusting a cheap blocking signal (q184's sorted-neighborhood
    * key, q34's fingerprint) as a stand-in for an expensive one (q36
    * MinHash), measure how far their verdicts agree BEYOND chance — raw
    * percent agreement is inflated exactly when dup prevalence is low,
    * which is always, and κ is the correction.
    *
    * Shape: two key-grouped counts joined back (the q35 group-size
    * pattern, hash-partitioned equi-joins on the keys), then ONE global
    * aggregate folding the four cells as conditional sums — integer until
    * the final κ expression (rounded 4 dp), so the statistic is
    * engine-exact. Output is one row: the table, p_o, p_e, κ. */
  def dedupKappa(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.documents(s, d).select(col("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("p"),
      concat_ws(" ", slice(split(col("text"), " "), -2, 2)).as("sx"))
    val pg = pre.groupBy("p").agg(count(lit(1)).as("ca"))
    val sg = pre.groupBy("sx").agg(count(lit(1)).as("cb"))
    val fl = pre.join(pg, "p").join(sg, "sx").select(
      when(col("ca") > 1, 1L).otherwise(0L).as("a"),
      when(col("cb") > 1, 1L).otherwise(0L).as("b"))
    fl.agg(
        sum((lit(1) - col("a")) * (lit(1) - col("b"))).as("n00"),
        sum((lit(1) - col("a")) * col("b")).as("n01"),
        sum(col("a") * (lit(1) - col("b"))).as("n10"),
        sum(col("a") * col("b")).as("n11"),
        count(lit(1)).as("n"))
      .withColumn("po",
        round((col("n00") + col("n11")).cast("double") / col("n"), 4))
      .withColumn("pe", round(
        ((col("n10") + col("n11")).cast("double") * (col("n01") + col("n11"))
          + (col("n00") + col("n01")).cast("double") * (col("n00") + col("n10")))
          / (col("n").cast("double") * col("n")), 4))
      .withColumn("kappa", round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 4))
  }

  val dedupKappaSql: String =
    """WITH pre AS (
      |  SELECT doc_id,
      |         array_to_string(string_split(text, ' ')[1:4], ' ') AS p,
      |         array_to_string(string_split(text, ' ')[-2:], ' ') AS sx
      |  FROM documents),
      |pg AS (SELECT p, count(*) AS ca FROM pre GROUP BY 1),
      |sg AS (SELECT sx, count(*) AS cb FROM pre GROUP BY 1),
      |fl AS (
      |  SELECT CASE WHEN ca > 1 THEN 1 ELSE 0 END AS a,
      |         CASE WHEN cb > 1 THEN 1 ELSE 0 END AS b
      |  FROM pre JOIN pg USING (p) JOIN sg USING (sx)),
      |tab AS (
      |  SELECT CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00,
      |         CAST(sum((1 - a) * b) AS BIGINT) AS n01,
      |         CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
      |         CAST(sum(a * b) AS BIGINT) AS n11,
      |         count(*) AS n
      |  FROM fl),
      |po AS (SELECT *, round((n00 + n11) * 1.0 / n, 4) AS po FROM tab),
      |pe AS (SELECT *, round(
      |         (CAST(n10 + n11 AS DOUBLE) * (n01 + n11)
      |          + CAST(n00 + n01 AS DOUBLE) * (n00 + n10))
      |         / (CAST(n AS DOUBLE) * n), 4) AS pe FROM po)
      |SELECT n00, n01, n10, n11, n, po, pe,
      |       round((po - pe) / (1.0 - pe), 4) AS kappa
      |FROM pe""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q35_dedup_exact", exactDedup _, Some(exactDedupSql)),
    GraftQuery("q36_minhash_neardup", minhashNearDup _, Some(minhashNearDupSql)),
    GraftQuery("q37_simhash_neardup", simhashNearDup _,
      Some(graft.core.Goldens.load("q37_simhash_neardup"))),
    GraftQuery("q55_ngram_jaccard", ngramJaccard _, Some(ngramJaccardSql)),
    GraftQuery("q159_ppjoin_neardup", ppjoinNearDup _, Some(ppjoinNearDupSql)),
    GraftQuery("q177_dfcap_neardup", dfCapNearDup _, Some(dfCapNearDupSql)),
    GraftQuery("q184_sorted_neighborhood", sortedNeighborhood _,
      Some(sortedNeighborhoodSql)),
    GraftQuery("q169_containment", containment _, Some(containmentSql)),
    GraftQuery("q169b_containment_prefix", containmentPrefix _, Some(containmentSql)),
    GraftQuery("q124_dup_spans", dupSpans _, Some(dupSpansSql)),
    GraftQuery("q151_span_excision", spanExcision _, Some(spanExcisionSql)),
    GraftQuery("q127_segment_dedup", segmentDedup _, Some(segmentDedupSql)),
    GraftQuery("q128_incremental_neardup", incrementalNearDup _,
      Some(incrementalNearDupSql)),
    GraftQuery("q69_dedup_groups", dedupGroups _, Some(dedupGroupsSql)),
    GraftQuery("q114_dedup_pipeline", dedupPipeline _, Some(dedupPipelineSql)),
    GraftQuery("q187_soft_dedup", softDedup _, Some(softDedupSql)),
    GraftQuery("q188_winnowing", winnowing _, Some(winnowingSql)),
    GraftQuery("q199_dedup_kappa", dedupKappa _, Some(dedupKappaSql)))
  // prefixJaccard's FULL-corpus form stays out of the registry: this
  // uniform synthetic corpus is its adversarial case (no df skew ⇒
  // prefixes prune nothing ⇒ it pays q55's cost plus the prefix overhead,
  // ~8 s cold at sf0.1). Full-corpus losslessness is proven in LlmSpec
  // (prefixJaccard == ngramJaccard row-for-row); the q159 registration
  // oracle-gates the identical plan on the even-doc_id half-corpus, where
  // the ~4× smaller candidate join keeps bench cost at q55's level.
}
