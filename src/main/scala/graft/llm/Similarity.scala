package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.queries.GraftQuery

/** Similarity search over the `embeddings` table (`Array[Float]` vectors):
  * brute-force cosine as the correctness baseline, IVF-bucketed and
  * random-hyperplane-LSH search as the two scale paths, and an
  * embedding-cosine near-dup join with label blocking. Vector math goes
  * through the codegen'd DotProduct expression over double-cast arrays —
  * element-order folds that match DuckDB's `list_cosine_similarity`
  * bit-for-bit.
  */
object Similarity {

  /** Dot product of two array<double> columns. Same left-to-right fold as
    * `aggregate(zip_with(...))` but via the codegen'd native expression —
    * the higher-order form runs interpreted and allocates per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  // ---------------------------------------------------------------- near-dup
  /** Number of tile groups for the exact self-join: a hot label's n² pair
    * work spreads over G(G+1)/2 independent tiles instead of one task. */
  private val TileGroups = 8

  /** Embedding-cosine near-dup pairs (exact, threshold 0.35) with label
    * blocking and triangle-tiled pair generation — see cosineNearDupPairs.
    *
    * Why not LSH candidate generation here: this query's threshold (0.35,
    * qualifying pairs 0.35–0.47 against a ≈0-cosine background) is below
    * where angular LSH separates — P(bit agrees) ≈ 0.61 vs 0.5 background,
    * so any (bits, tables) with recall ≈ 1 admits essentially every pair
    * as a candidate (same adversarial-corpus argument as the unregistered
    * prefixJaccard). An exact threshold join is inherently Ω(pairs-within-
    * block); what DOES kill it at scale is one task owning a hot label's
    * whole n² block, and the tiling removes exactly that. For real near-dup
    * thresholds (≳0.8) use `cosineNearDupLsh`, which prunes candidates with
    * the knnLsh hyperplane tables and confirms exactly. */
  def cosineNearDup(s: SparkSession, d: String): DataFrame =
    cosineNearDupPairs(vecs(s, d), 0.35)

  /** Exact within-label cosine-threshold pairs over (vec_id, label, v).
    *
    * Pair generation is an equi-join on (label, t1, t2) — label blocking
    * PLUS triangle tiling: each row lands in group g = hash(vec_id) mod G
    * and is replicated to the G tiles {(min(g,j), max(g,j))}; a pair with
    * groups (ga, gb), ga ≠ gb, co-occurs in exactly tile (min, max), and a
    * same-group pair only survives the (t1 = t2 OR ga ≠ gb) filter in its
    * diagonal tile (g, g) — so every unordered pair is emitted exactly
    * once and the result is EXACT (oracle-checked), while a hot label's
    * pair space spreads across G(G+1)/2 shuffle-independent tiles instead
    * of funneling through one task. Shuffle volume grows G×; pair work is
    * unchanged. Norms are precomputed once per row, not per pair. */
  private[graft] def cosineNearDupPairs(ev: DataFrame, threshold: Double): DataFrame = {
    val g = TileGroups
    val e = ev.withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("g", pmod(hash(col("vec_id")), lit(g)))
      .withColumn("j", explode(sequence(lit(0), lit(g - 1))))
      .withColumn("t1", least(col("g"), col("j")))
      .withColumn("t2", greatest(col("g"), col("j")))
    val a = e.select(col("label"), col("t1"), col("t2"), col("g").as("ga"),
                     col("vec_id").as("a_id"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("label"), col("t1"), col("t2"), col("g").as("gb"),
                     col("vec_id").as("b_id"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("label", "t1", "t2"))
      .filter(col("a_id") < col("b_id") &&
        (col("t1") === col("t2") || col("ga") =!= col("gb")))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
  }

  /** LSH-blocked near-dup pairs for REAL near-dup thresholds (cosine ≳ 0.8):
    * candidate pairs come from an equi-self-join on (label, table, bucket)
    * using the same seeded hyperplane signatures as knnLsh, then exact
    * cosine confirm. Approximate by construction — a pair whose signatures
    * collide in no table is missed, P(miss) = (1 − p^B)^L with
    * p = 1 − θ/π — which is why the exact q38 query doesn't use it at
    * threshold 0.35 (see cosineNearDup); at 0.9+, (B=8, L=8) has
    * per-pair miss ≈ 1e-4 and prunes the ≈0-cosine background to
    * L·2⁻ᴮ ≈ 3% candidate fraction. SimilaritySpec verifies exact-match
    * recall on a planted-near-dup corpus. */
  def cosineNearDupLsh(ev: DataFrame, threshold: Double,
                       bits: Int = 8, tables: Int = 8): DataFrame = {
    val dim = ev.select(size(col("v"))).head.getInt(0)
    val planes = hyperplanes(dim, tables, bits)
    val e = ev.withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .select(col("label"), col("vec_id"), col("v"), col("norm"),
        posexplode(array((0 until tables).map(t =>
          signature(planes, bits, t)): _*)).as(Seq("tbl", "bucket")))
    val a = e.select(col("label"), col("tbl"), col("bucket"),
                     col("vec_id").as("a_id"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("label"), col("tbl"), col("bucket"),
                     col("vec_id").as("b_id"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("label", "tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      // a pair colliding in several tables scores once: dedup on the pair
      // KEY (first(v) carries the payload — cheaper than distinct'ing the
      // array columns through the shuffle comparator)
      .groupBy("label", "a_id", "b_id")
      .agg(first(col("va")).as("va"), first(col("vb")).as("vb"),
           first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
  }

  // ------------------------------------------------------------ q226/q226b
  /** Planted-twin near-dup frame: the registered measured lever for the
    * q38 family at a REAL near-dup threshold.
    * The corpus's own pair cosines top out ≈ 0.47, so at threshold 0.9 the
    * raw table is empty — an empty-vs-empty oracle would prove nothing.
    * Instead every vec_id ≡ 0 (mod [[TwinEvery]]) gets a DETERMINISTIC
    * twin (id → −id−1, same label): elementwise v + [[TwinEps]]·w with
    * w_k = ((id·31 + k·7) mod 21 − 10)/10 — an affine integer pattern both
    * engines compute bit-identically (Spark `transform` 0-based index,
    * DuckDB `list_transform` 1-based, see the oracle) — giving twin cosine
    * ≈ 0.9953, comfortably in the near-dup band, over the untouched
    * background. q226b runs the exact tiled all-pairs join (q38's plan) at
    * 0.9; q226 runs the LSH-bucketed path (B=8, L=8 per its scaladoc:
    * per-pair miss (1−p⁸)⁸ ≈ 6e-6 at cosine 0.995, background candidate
    * fraction ≈ L·2⁻ᴮ ≈ 3%) — both under the SAME live DuckDB oracle, so
    * the shortlist path's full recall at this geometry is hash-gated, not
    * asserted. The pair is the measured exact-vs-LSH lever: identical
    * results, brute Ω(within-label pairs) vs bucket-join candidates. */
  private val NearDupReal = 0.9
  private val TwinEvery = 37
  private val TwinEps = 0.02

  private[graft] def plantedVecs(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val twins = e.filter(pmod(col("vec_id"), lit(TwinEvery)) === 0)
      .withColumn("v", transform(col("v"), (x, i) =>
        x + lit(TwinEps) *
          (pmod(col("vec_id") * 31 + i.cast("long") * 7, lit(21)) - lit(10))
            .cast("double") / lit(10.0)))
      .withColumn("vec_id", -col("vec_id") - 1)
    e.unionByName(twins)
  }

  def cosineNearDupLshReal(s: SparkSession, d: String): DataFrame =
    cosineNearDupLsh(plantedVecs(s, d), NearDupReal)

  def cosineNearDupExactReal(s: SparkSession, d: String): DataFrame =
    cosineNearDupPairs(plantedVecs(s, d), NearDupReal)

  val cosineNearDupRealSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |t AS (SELECT -vec_id - 1 AS vec_id, label,
      |        list_transform(v, (x, i) ->
      |          x + $TwinEps * ((vec_id * 31 + (i - 1) * 7) % 21 - 10) / 10.0) AS v
      |      FROM e WHERE vec_id % $TwinEvery = 0),
      |u AS (SELECT * FROM e UNION ALL SELECT * FROM t)
      |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_cosine_similarity(a.v, b.v), 4) AS cos
      |FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $NearDupReal""".stripMargin

  val cosineNearDupSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings)
      |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_cosine_similarity(a.v, b.v), 4) AS cos
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.35""".stripMargin

  // ---------------------------------------------------------------- knn brute
  /** Exact top-5 cosine neighbors of vec_id=0: broadcast the single query
    * vector WITH its precomputed norm (the old form re-folded dot(qv,qv)
    * for every corpus row — n redundant 64-element folds), then
    * TakeOrderedAndProject for the top-k — no global sort, no shuffle of
    * the corpus at any scale. */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), sqrt(dot(col("v"), col("v"))).as("qnorm"))
    val scored = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        round(dot(col("v"), col("qv")) / (sqrt(dot(col("v"), col("v"))) * col("qnorm")), 4))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    // k-row merge) — a global row_number window here would funnel the whole
    // scored corpus through one sort task; the rank window runs on 5 rows
    scored.orderBy(col("cosine").desc, col("vec_id").asc).limit(5)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
  }

  val knnBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |q AS (SELECT v FROM e WHERE vec_id = 0),
      |scored AS (
      |  SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 4) AS cosine
      |  FROM e, q WHERE e.vec_id != 0)
      |SELECT vec_id AS neighbor_id, cosine,
      |       CAST(rank AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
      |WHERE rank <= 5""".stripMargin

  // ---------------------------------------------------------------- knn IVF
  /** IVF-bucketed approximate top-5 for the same query — the 100 TB path.
    *
    * "Training" is deterministic: every 25th vector is a centroid. Vectors
    * are assigned to their nearest centroid via a broadcast join (centroid
    * set is tiny by construction — map-side, no shuffle of the corpus);
    * the query probes only its 4 nearest centroids' buckets, so the scored
    * candidate set is ~4/k of the corpus. All norms are computed ONCE per
    * row/centroid before the n×k pairing, and the per-vector norm divides
    * out of the argmin entirely — the pairing stage folds one dot product
    * per pair instead of three. SimilaritySpec asserts recall vs the
    * brute-force baseline instead of a SQL oracle. */
  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val (top, cached) = knnIvfPlan(s, d)
    // top-k is bounded (5 rows): materialize eagerly so the cached corpus
    // can be unpersisted before returning — a lazy return would pin the
    // cache in executor storage for the JVM's lifetime (Bench runs ~70
    // queries in one session)
    try eagerTopK(s, top) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads — split out so PlanQualitySpec
    * can assert the physical shape (the public entry is eager). */
  private[graft] def knnIvfPlan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v")))).cache()
    // Centroid count scales as √n, not n: the fixed every-25th stride made
    // k = n/25, so the broadcast-assignment stage did n·k = n²/25 dot
    // products — measured superlinear at sf1 (7.4× wall for 10× vectors)
    // and a genuine scale-killer beyond that. k ≈ √n/2 keeps assignment at
    // n^1.5 (the classic IVF balance point: probe cost ∝ k + n/k minimizes
    // near √n) while the stride n/k keeps selection deterministic; at the
    // sf0.01 gate (n=200) this yields the same k=8/stride=25 set the
    // pinned golden was generated with.
    //
    // Counted from a SEPARATE bare parquet read, not e.count(): a count on
    // the raw scan collapses to footer row-counts (no column IO, nothing
    // cached), whereas e.count() would materialize the cached+normalized
    // corpus during PLAN CONSTRUCTION — breaking the lazy-plan contract
    // Explain/PlanQualitySpec rely on. The eager knnIvf path re-reads the
    // footers once (~ms) — cheaper than an early cache materialization.
    val nVecs = s.read.parquet(s"$d/embeddings.parquet").count()
    val kCents = math.max(8L, math.ceil(math.sqrt(nVecs.toDouble) / 2).toLong)
    val stride = math.max(1L, nVecs / kCents)
    val cents = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("norm").as("cnorm"))
    // nearest-centroid assignment via min_by aggregation: one partial-agg
    // pass, no per-vector sort (a row_number window would shuffle + sort the
    // whole corpus); deterministic tiebreak on cent_id. cosine(v,c) ranks
    // identically to dot(v,c)/|c| for a fixed v (positive constant |v|), so
    // the per-pair fold is a single dot product.
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("cdist", -dot(col("v"), col("cv")) / col("cnorm"))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"), struct(col("cdist"), col("cent_id"))).as("cent_id"),
           first(col("v")).as("v"), first(col("norm")).as("norm"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qnorm"))
    val probes = cents.crossJoin(broadcast(q))
      .withColumn("qdist", -dot(col("qv"), col("cv")) / col("cnorm"))
      .orderBy(col("qdist").asc, col("cent_id").asc)
      .limit(4)
      .select("cent_id")
    val candidates = assigned.join(broadcast(probes), "cent_id")
    val top = candidates.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cosine", round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(5) // TakeOrdered
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
    (top, Seq(e))
  }

  /** Materialize a bounded top-k result and return it as a local relation,
    * letting the caller unpersist whatever the plan cached. */
  private def eagerTopK(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toIndexedSeq
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), df.schema)
  }

  // ---------------------------------------------------------------- knn LSH
  private val LshTables = 16
  private val LshBits = 4

  /** Fixed seeded Gaussian hyperplane matrix — the LSH "model" (tables ×
    * bits × dim doubles), tiny enough to bake into the plan as literals. */
  private def hyperplanes(dim: Int, tables: Int, bits: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(tables * bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket signature of column `v` for table `t` — pure map-side
    * codegen'd dot products against the plane literals. */
  private def signature(planes: Array[Array[Double]], bits: Int, t: Int): Column =
    (0 until bits).map { b =>
      when(dot(col("v"), typedLit(planes(t * bits + b).toSeq)) >= 0, lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random-hyperplane LSH ANN — the other scale path (vs IVF): L tables of
    * B sign-bits each. (B, L) trades candidate-set size against recall:
    * P(bit agrees) = 1 − θ/π, recall ≈ 1 − (1 − p^B)^L. This synthetic
    * corpus has near-orthogonal "neighbors" (top-5 cosine ≈ 0.33 ⇒
    * p ≈ 0.61), so it needs shallow buckets (B=4, L=16 ⇒ recall ≈ 0.9 at
    * the cost of a large candidate fraction); a real near-dup corpus
    * (cosine ≳ 0.8 ⇒ p ≳ 0.85) runs B=16, L=8 and scores ≪ 1% of rows.
    * Hyperplanes are a fixed seeded Gaussian matrix baked
    * into the plan as literals (the "model" is tiny — L×B×dim doubles — and
    * broadcast inside the serialized expressions; only the embedding
    * dimension is probed from data, a single-row schema lookup). Each
    * vector's bucket signature is pure map-side codegen'd dot products; the
    * query's L buckets reach the corpus as a broadcast equi-join on
    * (table, bucket), so candidate generation touches each corpus row once
    * and shuffles nothing — at 100 TB the bucket scan is a partition-local
    * hash probe. Candidates (~L·n/2^B rows) are then scored exactly.
    *
    * P(bit agrees) = 1 − θ/π; recall for the top-5 (cosine ≳ 0.5 on this
    * corpus) ≈ 1 − (1 − p^B)^L — LlmSpec asserts it against knnBrute. */
  /** `bits`/`tables` are the LSH capacity levers (parameters for the same
    * reason as semDedup's k): candidate fraction ≈ L/2^B of the corpus, so
    * as n grows a deployment raises B (and L to hold recall ≈
    * 1 − (1 − p^B)^L). Defaults reproduce the registered q56 golden on the
    * shallow synthetic corpus. */
  def knnLsh(s: SparkSession, d: String,
             bits: Int = LshBits, tables: Int = LshTables): DataFrame = {
    val (top, cached) = knnLshPlan(s, d, bits, tables)
    // see knnIvf: eager bounded result + unpersist, no cache outliving the call
    try eagerTopK(s, top) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads (see knnIvfPlan). */
  private[graft] def knnLshPlan(s: SparkSession, d: String,
      bits: Int = LshBits, tables: Int = LshTables): (DataFrame, Seq[DataFrame]) = {
    val (cand, withBuckets) = knnLshParts(s, d, bits, tables)
    val top = cand
      .withColumn("cosine", round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(5)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
    (top, Seq(withBuckets))
  }

  /** Candidate stage of the LSH probe. Its size over n−1 is the candidate
    * fraction the bits/tables capacity rule controls (≈ min(1, L/2^B) on
    * uniform buckets). Returns (candidates, the cached bucket frame to
    * unpersist). */
  private[graft] def knnLshParts(s: SparkSession, d: String,
      bits: Int, tables: Int): (DataFrame, DataFrame) = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val dim = Tables.embeddings(s, d).select(size(col("embedding"))).head.getInt(0)
    val planes = hyperplanes(dim, tables, bits)
    // materialize the signatures once — the frame feeds both the query-
    // bucket lookup and the corpus side of the candidate join
    val withBuckets = e.select(col("vec_id"), col("v"), col("norm"),
      posexplode(array((0 until tables).map(t =>
        signature(planes, bits, t)): _*)).as(Seq("tbl", "bucket")))
      .cache()
    val qb = withBuckets.filter(col("vec_id") === 0)
      .select(col("tbl").as("q_tbl"), col("bucket").as("q_bucket"),
              col("v").as("qv"), col("norm").as("qnorm"))
    val cand = withBuckets.filter(col("vec_id") =!= 0)
      .join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket"))
      .groupBy("vec_id")
      .agg(first(col("v")).as("v"), first(col("norm")).as("norm"),
           first(col("qv")).as("qv"), first(col("qnorm")).as("qnorm"))
    (cand, withBuckets)
  }

  // ---------------------------------------------------------------- knn quantized
  /** Scalar-quantized ANN (int8) with exact rerank — the memory-bandwidth
    * scale path: per-vector symmetric quantization q_i = round(127·v_i/max|v|)
    * shrinks the stored column 8× (byte vs double per element), the
    * approximate scan scores int8·int8 dot products against the whole
    * corpus, and only the top `Rerank` candidates are re-scored exactly.
    * At 100 TB the full-precision column stays in cold storage and the
    * scan reads the quantized column — here both live in one table, so the
    * bench measures the operator shape, not the bandwidth win.
    * Deterministic end-to-end (fixed scales, round-4, vec_id tiebreak):
    * when the exact rerank recovers the brute-force top-5 — it does on the
    * test corpus, LlmSpec asserts it — the pinned ANN golden applies. */
  private val Rerank = 20

  def knnQuantized(s: SparkSession, d: String): DataFrame = {
    val (top, cached) = knnQuantizedPlan(s, d)
    try eagerTopK(s, top) finally cached.foreach(_.unpersist(false))
  }

  private[graft] def knnQuantizedPlan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = vecs(s, d)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      // per-vector scale; greatest(..., tiny) guards the all-zero vector
      .withColumn("scale",
        greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-12)) / 127.0)
      .withColumn("q", transform(col("v"), x => round(x / col("scale")).cast("double")))
      .cache()
    val qv = e.filter(col("vec_id") === 0)
      .select(col("q").as("qq"), col("scale").as("qscale"),
              col("v").as("qv"), col("norm").as("qnorm"))
    // approximate pass: int8-domain dot, corrected by the two scales —
    // ranks by approximate cosine (per-vector norms from full precision;
    // at scale these are precomputed scalars stored beside the codes)
    val approx = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("approx_cos",
        col("scale") * col("qscale") * dot(col("q"), col("qq")) /
          (col("norm") * col("qnorm")))
      .orderBy(col("approx_cos").desc, col("vec_id").asc).limit(Rerank)
    // exact rerank of the Rerank-candidate set only
    val top = approx
      .withColumn("cosine", round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(5)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
    (top, Seq(e))
  }

  // ---------------------------------------------------------------- knn PQ
  /** Product-quantized ANN (IVF-PQ's compression half) — the memory-bound
    * 100 TB answer: each vector is stored as PqM 4-bit codes (here 8 codes
    * = 8 bytes vs 64 doubles = 512 bytes, a 64× compression), and the
    * approximate pass never touches the full-precision column. The dot
    * product decomposes additively over subspaces — dot(v, q) =
    * Σ_m dot(v_m, q_m) ≈ Σ_m dot(c_{m,code_m}, q_m) — so scoring the corpus
    * is a lookup-sum against a per-query table of PqM·PqK precomputed
    * partial dots (asymmetric distance computation), followed by an exact
    * rerank of the shortlist. Unlike q70's int8 path (whose quantization
    * error is tiny), PQ at 64× compression is genuinely lossy: on this
    * corpus — near-Gaussian vectors whose top-5 cosine margins are a few
    * thousandths — the ADC shortlist can miss true neighbors, so q130 keeps
    * the approximate contract of q40/q56: recall ≥ 0.6 against brute force
    * (LlmSpec) and a pinned sf0.01 golden for the driver gate (deterministic
    * end-to-end: stride-seeded init, code tiebreaks, fixed iteration count).
    *
    * Codebook training is Lloyd's per subspace, but all PqM codebooks train
    * JOINTLY: subvectors key by (sub_id, code), so one assignment shuffle +
    * one update shuffle per iteration trains every codebook at once — the
    * per-iteration plan shape is identical to `kmeans`, never M separate
    * jobs. Same determinism contract too: stride-seeded init, code
    * tiebreak on argmin ties, per-dimension means, localCheckpoint per
    * round. The assignment ranks by |c|² − 2·v_m·c (|v_m|² constant per
    * row), one codegen'd dot per candidate. */
  // Defaults for the registered q130 (pinned sf0.01 golden). These are the
  // CAPACITY levers a deployment tunes to its corpus, so the methods take
  // them as parameters; the scaling rules:
  //   PqM    — subspaces: dim/PqM = subvector width; recall climbs with M,
  //            code size is M·log2(K) bits/vector (8 × 4 bits = 4 B here).
  //   PqK    — codes per subspace: K ∝ sqrt(n_vectors) is the classic IVF-PQ
  //            rule of thumb (256 = 8-bit codes at web scale); training cost
  //            per iteration is one broadcast of M·K centroids.
  //   PqIters— Lloyd's rounds; distortion improvement is steeply
  //            diminishing after ~5 on unit-norm corpora.
  private val PqM = 8       // subspaces
  private val PqK = 16      // codes per subspace (4-bit codes)
  private val PqIters = 2
  private val PqShort = 64  // ADC shortlist size fed to the exact rerank

  def knnPq(s: SparkSession, d: String,
            m: Int = PqM, kCodes: Int = PqK, iters: Int = PqIters,
            shortlistN: Int = PqShort): DataFrame = {
    val (top, cached) = knnPqPlan(s, d, m, kCodes, iters, shortlistN)
    try eagerTopK(s, top) finally cached.foreach(_.unpersist(false))
  }

  private[graft] def knnPqPlan(s: SparkSession, d: String,
                               pqM: Int = PqM, pqK: Int = PqK,
                               pqIters: Int = PqIters,
                               pqShort: Int = PqShort): (DataFrame, Seq[DataFrame]) = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v")))).cache()
    val dim = e.select(size(col("v"))).head.getInt(0)
    require(dim % pqM == 0, s"PQ subspace count $pqM must divide dim $dim")
    val subDim = dim / pqM
    // (vec_id, norm, sub_id, sv): one row per subvector, map-side
    val subs = e.select(col("vec_id"), col("norm"), posexplode(expr(
        s"transform(sequence(0, ${pqM - 1}), m -> slice(v, m * $subDim + 1, $subDim))"
      )).as(Seq("sub_id", "sv")))
      .cache()
    def withCvn(cb: DataFrame): DataFrame =
      cb.withColumn("cvn", dot(col("cv"), col("cv")))
    // stride-seeded init: first PqK strided subvectors per subspace
    var cb = withCvn(subs.filter(pmod(col("vec_id"), lit(29)) === 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy("sub_id").orderBy("vec_id")))
      .filter(col("rk") <= pqK)
      .select(col("sub_id"), (col("rk") - 1).cast("int").as("code"),
        col("sv").as("cv")))
    def assignCodes(codebook: DataFrame): DataFrame =
      subs.join(broadcast(codebook), "sub_id")
        .withColumn("score", col("cvn") - lit(2.0) * dot(col("sv"), col("cv")))
        .groupBy("vec_id", "sub_id")
        .agg(min_by(col("code"), struct(col("score"), col("code"))).as("code"),
          first(col("sv")).as("sv"), first(col("norm")).as("norm"))
    for (_ <- 1 to pqIters) {
      // codebook update: one shuffle row per (partition, sub_id, code) —
      // the VecMean aggregator, not a per-element posexplode (see VecMean)
      cb = withCvn(assignCodes(cb)
        .groupBy("sub_id", "code")
        .agg(graft.functions.VecMean.vec_mean(col("sv")).as("cv"))
        .localCheckpoint(true))
    }
    val codes = assignCodes(cb)
    // ADC table: PqM·PqK partial dots of the query's subvectors against the
    // codebook — tiny, broadcast against the codes relation
    val qsubs = subs.filter(col("vec_id") === 0)
      .select(col("sub_id"), col("sv").as("qsv"))
    val table = cb.join(qsubs, "sub_id")
      .select(col("sub_id"), col("code"), dot(col("cv"), col("qsv")).as("pdot"))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qnorm"))
    val shortlist = codes.filter(col("vec_id") =!= 0)
      .join(broadcast(table), Seq("sub_id", "code"))
      .groupBy("vec_id")
      .agg(sum("pdot").as("adot"), first("norm").as("norm"))
      .crossJoin(broadcast(qv))
      .withColumn("approx_cos", col("adot") / (col("norm") * col("qnorm")))
      .orderBy(col("approx_cos").desc, col("vec_id").asc).limit(pqShort)
    // exact rerank: the shortlist is pqShort rows — broadcast it against the
    // full-precision column (at 100 TB: a point-lookup of PqShort vectors)
    val top = e.select(col("vec_id"), col("v"))
      .join(broadcast(shortlist.select("vec_id", "norm", "qv", "qnorm")), "vec_id")
      .withColumn("cosine", round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(5)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
    (top, Seq(e, subs))
  }

  // ---------------------------------------------------------------- kmeans
  /** Distributed Lloyd's k-means over an (id, v) vector frame — the
    * training step the IVF index (q40) elides with its every-25th-vector
    * heuristic. Each iteration is two shuffles:
    *
    *   1. assignment — corpus ⋈ broadcast(centroids), argmin over squared
    *      L2 via `min_by` partial aggregation (|v|² is constant per row, so
    *      the score folds one dot product per pair: |c|² − 2·v·c);
    *   2. update — elementwise vector mean via the typed VecMean
    *      aggregator: partial sums accumulate whole fixed-width double
    *      arrays in-place inside each map task, so the exchange carries one
    *      (sum[dim], count) row per partition per centroid — rows ∝
    *      partitions·k, never n·dim (the posexplode shape this replaced
    *      shuffled one row per vector ELEMENT; at dim 1024 that is the
    *      difference between a 64 GB and a 64 TB shuffle per iteration).
    *
    * Iterations localCheckpoint: lineage would otherwise
    * double per round and replay every prior join on each action.
    * Deterministic end-to-end: stride-seeded init, cent_id tiebreak on
    * argmin ties, and per-dimension means — no RNG, no partition-order
    * dependence. Empty clusters drop out (documented Lloyd's behavior
    * with deterministic seeding; k shrinks rather than resampling). */
  def kmeans(e: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = e.filter(pmod(col("vec_id"), lit(29)) === 0)
      .orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      cents = centroidUpdate(assign(e, cents)).localCheckpoint(true)
    }
    cents
  }

  /** One Lloyd's update step over an assigned (cent_id, v) frame — split out
    * (lazy, no checkpoint) so the spec can assert the plan: ObjectHashAggregate
    * with a map-side partial, zero Generate. */
  private[graft] def centroidUpdate(assigned: DataFrame): DataFrame =
    assigned.groupBy("cent_id")
      .agg(graft.functions.VecMean.vec_mean(col("v")).as("cv"))

  /** Nearest-centroid assignment: (vec_id, v, cent_id). */
  private[graft] def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("score", dot(col("cv"), col("cv")) - lit(2.0) * dot(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"), struct(col("score"), col("cent_id"))).as("cent_id"),
           first(col("v")).as("v"))

  /** q98 — IVF training summary: cluster sizes, centroid norms, and
    * within-cluster SSE after 3 Lloyd's rounds (k=8). Deterministic, so the
    * sf0.01 run pins as a golden VALUES oracle; the semantic checks (SSE
    * monotone, fixpoint-vs-members, determinism) live in RetrievalSpec. */
  def ivfTrain(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select("vec_id", "v")
    val cents = kmeans(e, 8, 3)
    assign(e, cents)
      .join(broadcast(cents), "cent_id")
      .withColumn("d2",
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv")) +
          dot(col("cv"), col("cv")))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_members"),
           round(sqrt(dot(first(col("cv")), first(col("cv")))), 4).as("cnorm"),
           round(sum("d2"), 2).as("sse"))
  }

  // ---------------------------------------------------------------- incremental ivf
  /** q170 — incremental IVF index update: assign an INCOMING vector batch
    * to the STORED centroids (trained on the existing corpus, NOT
    * retrained) and report per-centroid growth and drift — the ANN-index
    * analog of q128's stored-band-index ingest, and the monitoring table
    * that tells an operator when the index needs retraining. Existing =
    * vec_id%10 < 8 (the q128 convention), incoming = the rest; drift =
    * mean new-member distance² over mean existing distance² per centroid —
    * a centroid whose new arrivals sit systematically farther out is
    * stale. Plan: one k-means on the existing side (the stored index,
    * q98's deterministic trainer), then two broadcast-assign passes — the
    * incoming pass is the only per-batch cost at scale (map-side argmin
    * over k centroids, zero shuffle beyond the per-centroid aggregate).
    * Deterministic end-to-end → pinned sf0.01 golden (q98 contract);
    * RetrievalSpec asserts incoming assignments equal a driver-side brute
    * nearest-centroid recompute. */
  def incrementalIvf(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select("vec_id", "v")
    val existing = e.filter(pmod(col("vec_id"), lit(10)) < 8)
    val incoming = e.filter(pmod(col("vec_id"), lit(10)) >= 8)
    val cents = kmeans(existing, 8, 3)
    def d2(assigned: DataFrame): DataFrame = assigned
      .join(broadcast(cents), "cent_id")
      .withColumn("d2",
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv")) +
          dot(col("cv"), col("cv")))
    val ex = d2(assign(existing, cents)).groupBy("cent_id")
      .agg(count(lit(1)).as("n_existing"), sum("d2").as("sse_ex"))
    val inc = d2(assign(incoming, cents)).groupBy("cent_id")
      .agg(count(lit(1)).as("n_new"), sum("d2").as("sse_new"))
    ex.join(inc, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_existing"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(col("sse_ex"), 2).as("sse_existing"),
        round(coalesce(col("sse_new"), lit(0.0)), 2).as("sse_new"),
        round(
          (coalesce(col("sse_new"), lit(0.0)) / coalesce(col("n_new"), lit(1L)))
            / (col("sse_ex") / col("n_existing")), 4).as("drift"))
  }

  // ---------------------------------------------------------------- semdedup
  /** q125 — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic near-duplicate
    * pruning by k-means clustering of the embedding space, then a cosine
    * threshold WITHIN each cluster only. The pruning rule is the paper's
    * greedy: a vector is pruned iff some lower-id member of its own cluster
    * sits above the threshold — one deterministic representative per
    * semantic duplicate set survives. Output: per-cluster membership and
    * prune counts (the corpus-curation accounting a pipeline acts on).
    *
    * Scale shape: clustering is the blocker that makes 100 TB feasible —
    * the pair join runs within clusters only, and the cluster count k is
    * the lever (SemDeDup runs k ∝ n/⟨cluster size⟩ so blocks stay bounded);
    * the within-cluster join reuses q38's triangle tiling, so even a hot
    * cluster's pair space spreads over G(G+1)/2 independent tasks rather
    * than funneling through one. Deterministic end-to-end (deterministic
    * Lloyd's, round-4 cosines, vec_id tiebreak) → pinned sf0.01 golden,
    * same contract as q98; the semantic checks live in LlmSpec. */
  private val SemDedupThreshold = 0.35

  /** `k`/`iters` are the capacity levers, parameters rather than constants:
    * SemDeDup's own protocol sets k ∝ n/⟨target cluster size⟩ so the
    * within-cluster pair space stays bounded as the corpus grows (the paper
    * uses ~50k clusters for LAION-scale; here the registered q125 keeps the
    * golden-pinned default k=8 at test sf). `threshold` is the semantic
    * dup cosine bar (paper sweeps 0.3–0.9; the default matches the q38
    * oracle band on this corpus). */
  def semDedup(s: SparkSession, d: String, k: Int = 8, iters: Int = 3,
               threshold: Double = SemDedupThreshold): DataFrame = {
    val e = vecs(s, d).select("vec_id", "v")
    val cents = kmeans(e, k, iters)
    val assigned = assign(e, cents).localCheckpoint(true)
    semDedupFromAssigned(assigned, threshold)
  }

  /** The pruning stage alone, over an already-assigned (vec_id, cent_id, v)
    * frame — split out so LlmSpec can drive it with a planted clustering. */
  private[graft] def semDedupFromAssigned(
      assigned: DataFrame, threshold: Double = SemDedupThreshold): DataFrame = {
    val pairs = cosineNearDupPairs(
      assigned.select(col("vec_id"), col("cent_id").as("label"), col("v")),
      threshold)
    val pruned = pairs
      .select(col("label").as("cent_id"), col("b_id").as("vec_id"))
      .distinct()
      .withColumn("is_pruned", lit(1L))
    assigned.select("vec_id", "cent_id")
      .join(pruned, Seq("cent_id", "vec_id"), "left")
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_members"),
           sum(coalesce(col("is_pruned"), lit(0L))).as("n_pruned"))
      .withColumn("n_kept", col("n_members") - col("n_pruned"))
  }

  // ---------------------------------------------------------------- q139
  /** Batched hard-negative mining — the contrastive-training data prep:
    * for each query vector (the first `NegQueries` ids, standing in for a
    * training batch), the top-`NegK` most-similar vectors with a DIFFERENT
    * label. Highest-cosine wrong-label items are exactly the "hard
    * negatives" InfoNCE/triplet training wants; same-label rows (including
    * self) are excluded by the label predicate itself.
    *
    * Plan shape: the query batch is broadcast (a training batch is KB-sized
    * by construction), scoring is one map-side pass over the corpus — the
    * corpus never shuffles. The per-query top-k runs as a window partitioned
    * by query_id over rows pre-pruned by a cosine floor: at bench scale the
    * window input is the filtered corpus, and at 100 TB the candidate set
    * per query comes from the IVF/LSH probes above (same rank stage, probe
    * candidates instead of full scan) — the brute scan here is the oracle
    * shape, deliberately exact. */
  private val NegQueries = 3
  private val NegK = 5

  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < NegQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cosine",
        round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NegK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  val hardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
      |      FROM e WHERE vec_id < $NegQueries),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      |  FROM e JOIN q ON e.label <> q.q_label)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      |      FROM scored)
      |WHERE rank <= $NegK""".stripMargin

  // ---------------------------------------------------------------- q139b
  /** ANN-probe-fed hard-negative mining — the 100 TB form of q139, now as
    * code rather than a comment: candidates per query come from the LSH
    * bucket probes (the q56 hyperplane tables), NOT a full corpus scan.
    * Each corpus vector's bucket signatures are pure map-side codegen'd
    * dot products; the query batch's (table, bucket, label) probe set is
    * broadcast, so candidate generation touches each corpus row once with
    * zero corpus shuffle. Multi-table collisions collapse in the per-
    * (query, candidate) aggregation, then the SAME exact-cosine rank stage
    * as q139 runs over the pruned candidate set — the window input is
    * ~L·n/2^B rows per query instead of the corpus. Approximate by
    * construction (recall vs the brute q139 asserted in LlmSpec, the
    * q40/q56/q130 contract); deterministic end-to-end (fixed planes,
    * round-4 cosines, vec_id tiebreak) → pinned sf0.01 golden. */
  /** `bits`/`tables` are the same capacity levers as knnLsh's — candidate
    * PAIRS grow ≈ queries·L·n/2^B at fixed parameters, the steepest
    * measured growth curve in the sf5 run, so a deployment raises B with n
    * here first. Defaults reproduce the registered q139b golden. */
  def hardNegativesLsh(s: SparkSession, d: String,
      bits: Int = LshBits, tables: Int = LshTables): DataFrame = {
    val (top, cached) = hardNegativesLshPlan(s, d, bits, tables)
    try eagerTopK(s, top) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads (see knnIvfPlan). */
  private[graft] def hardNegativesLshPlan(s: SparkSession, d: String,
      bits: Int = LshBits, tables: Int = LshTables): (DataFrame, Seq[DataFrame]) = {
    val (cand, withBuckets) = hardNegativesLshParts(s, d, bits, tables)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val top = cand
      .withColumn("cosine",
        round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NegK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
    (top, Seq(withBuckets))
  }

  /** Candidate-pair stage (see knnLshParts); |cand| / (queries·(n−1)) is
    * the candidate fraction the L/2^B rule controls. */
  private[graft] def hardNegativesLshParts(s: SparkSession, d: String,
      bits: Int, tables: Int): (DataFrame, DataFrame) = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val dim = Tables.embeddings(s, d).select(size(col("embedding"))).head.getInt(0)
    val planes = hyperplanes(dim, tables, bits)
    val withBuckets = e.select(col("vec_id"), col("label"), col("v"), col("norm"),
      posexplode(array((0 until tables).map(t =>
        signature(planes, bits, t)): _*)).as(Seq("tbl", "bucket")))
      .cache()
    val qb = withBuckets.filter(col("vec_id") < NegQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("tbl").as("q_tbl"), col("bucket").as("q_bucket"),
        col("v").as("qv"), col("norm").as("qnorm"))
    // bucket-collision candidates, wrong-label only; a candidate colliding
    // in several tables reduces to one row before scoring
    val cand = withBuckets
      .join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("label") =!= col("q_label"))
      .groupBy("query_id", "vec_id")
      .agg(first(col("v")).as("v"), first(col("norm")).as("norm"),
        first(col("qv")).as("qv"), first(col("qnorm")).as("qnorm"))
    (cand, withBuckets)
  }

  // ---------------------------------------------------------------- q141
  /** Embedding-level eval-set decontamination — the semantic complement of
    * q112's n-gram overlap check: flag corpus vectors whose max cosine
    * against the (bounded) eval/benchmark embedding set clears a threshold.
    * Paraphrased eval leakage survives n-gram decontamination; it does not
    * survive this.
    *
    * Plan shape: the eval set is broadcast (benchmarks are KB–MB sized by
    * construction), scoring is one map-side pass over the corpus, and the
    * per-vector argmax is a partial max(struct(cosine, -eval_id)) that
    * collapses each vector's |eval| scored rows to one BEFORE the exchange
    * (every scored row for a vector lives in the partition that scanned
    * it), so the only shuffle is one tiny pre-reduced aggregate. The
    * corpus itself never shuffles, never sorts — the shape that holds at
    * 100 TB. struct-max ties break toward the LOWER eval_id (the negated
    * second field), mirroring the oracle's ORDER BY cosine DESC, eval_id. */
  private val EvalVecs = 10
  private val DecontamThreshold = 0.30

  def semanticDecontam(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < EvalVecs)
      .select(col("vec_id").as("eval_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    e.filter(col("vec_id") >= EvalVecs)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4))
      .groupBy("vec_id")
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_eval"))).as("m"))
      .select(col("vec_id"), (-col("m.neg_eval")).as("eval_id"),
        col("m.cosine").as("max_cos"))
      .filter(col("max_cos") >= DecontamThreshold)
  }

  val semanticDecontamSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |q AS (SELECT vec_id AS eval_id, v AS qv FROM e WHERE vec_id < $EvalVecs),
      |scored AS (
      |  SELECT e.vec_id, q.eval_id,
      |         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      |  FROM e CROSS JOIN q WHERE e.vec_id >= $EvalVecs)
      |SELECT vec_id, eval_id, cosine AS max_cos
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY vec_id ORDER BY cosine DESC, eval_id ASC) AS rn
      |      FROM scored)
      |WHERE rn = 1 AND cosine >= $DecontamThreshold""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Margin-based bitext mining (the LASER/CCMatrix recipe, mutual-top-1
    * form): treat two label groups as two languages' embedding spaces and
    * emit pairs that are each other's nearest neighbor, with the
    * top1-vs-top2 margin that separates true translations from hubs.
    *
    * Plan shape: score the X×Y block once (Y broadcast — at 100 TB the
    * block comes from ANN probes, same as q139's note), then BOTH
    * directions' ranks come from two windows over the SAME scored frame —
    * partitioned by x_id and by y_id respectively, never unpartitioned. A
    * row that holds rank 1 in both windows IS a mutual pair — no
    * top1⋈top1 self-join, no second scoring pass. The margin uses the
    * lead() of the x-window (x's runner-up cosine) with the floor-spelled
    * rounding (see wordEntropy) on the difference of already-rounded
    * doubles. */
  private val LangA = 0
  private val LangB = 9

  def bitextMine(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val x = e.filter(col("label") === LangA)
      .select(col("vec_id").as("x_id"), col("v").as("xv"), col("norm").as("xn"))
    val y = e.filter(col("label") === LangB)
      .select(col("vec_id").as("y_id"), col("v").as("yv"), col("norm").as("yn"))
    val wx = Window.partitionBy("x_id").orderBy(col("cosine").desc, col("y_id").asc)
    val wy = Window.partitionBy("y_id").orderBy(col("cosine").desc, col("x_id").asc)
    x.crossJoin(broadcast(y))
      .withColumn("cosine",
        round(dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 4))
      .withColumn("rx", row_number().over(wx))
      .withColumn("cos2", lead(col("cosine"), 1).over(wx))
      .withColumn("ry", row_number().over(wy))
      .filter(col("rx") === 1 && col("ry") === 1)
      .withColumn("margin",
        floor((col("cosine") - coalesce(col("cos2"), lit(0.0))) * 10000 + 0.5)
          / 10000.0)
      .select("x_id", "y_id", "cosine", "margin")
  }

  // ---------------------------------------------------------------- q143b
  /** LSH-probe-fed bitext mining — the ANN-shortlist form q143's scaladoc
    * promises ("at 100 TB the block comes from ANN probes"), now as code:
    * candidates are hyperplane-bucket collisions between the two language
    * sides, and BOTH the mutual-top-1 test and the margin run within the
    * shortlist — exactly how production CCMatrix-style mining uses its
    * FAISS shortlists (margin over the retrieved k, not the full block).
    * Approximate by construction: a true mutual pair whose buckets never
    * collide is missed, and shortlist-local rank 1 can differ from the
    * brute rank — LlmSpec measures pair recall against q143 and pins it.
    *
    * Plan shape: bucket signatures are map-side codegen'd dot products
    * (the q56 tables); the candidate join is a plain (tbl, bucket)
    * equi-join carrying ONLY ids — vectors join back per SIDE afterwards,
    * so the heavy array payload shuffles O(|X|+|Y|) rows, never
    * O(candidate-pairs) (the q159 array-join-back lesson inverts here:
    * pairs outnumber rows, so per-pair payload carry is the loss). The
    * X×Y block is never materialized.
    *
    * Capacity levers, measured on THIS corpus's adversarial geometry
    * (mutual-pair cosine ≈ 0.25–0.45 ⇒ p = 1−θ/π ≈ 0.60): the default
    * (B=6, L=32) scores L/2^B = 0.5 of the block with per-pair candidate
    * probability 1−(1−p⁶)^32 ≈ 0.79. A real bitext corpus (translation
    * cosine ≳ 0.8 ⇒ p ≳ 0.85) runs B=16, L=8 and scores ≪ 1% — same
    * lever math as knnLsh, same LSH_STUDY scale-invariance. */
  private val BitextBits = 6
  private val BitextTables = 32

  def bitextMineLsh(s: SparkSession, d: String,
      bits: Int = BitextBits, tables: Int = BitextTables): DataFrame = {
    val (top, cached) = bitextMineLshPlan(s, d, bits, tables)
    try eagerTopK(s, top) finally cached.foreach(_.unpersist(false))
  }

  /** Lazy plan + the cached frames it reads (see knnIvfPlan). */
  private[graft] def bitextMineLshPlan(s: SparkSession, d: String,
      bits: Int = BitextBits, tables: Int = BitextTables): (DataFrame, Seq[DataFrame]) = {
    val e = vecs(s, d).filter(col("label").isin(LangA, LangB))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val dim = Tables.embeddings(s, d).select(size(col("embedding"))).head.getInt(0)
    val planes = hyperplanes(dim, tables, bits)
    val withBuckets = e.select(col("vec_id"), col("label"), col("v"), col("norm"),
      posexplode(array((0 until tables).map(t =>
        signature(planes, bits, t)): _*)).as(Seq("tbl", "bucket")))
      .cache()
    // id-only candidate pairs; multi-table collisions collapse in the
    // distinct before any vector payload moves
    val xb = withBuckets.filter(col("label") === LangA)
      .select(col("vec_id").as("x_id"), col("tbl"), col("bucket"))
    val yb = withBuckets.filter(col("label") === LangB)
      .select(col("vec_id").as("y_id"), col("tbl"), col("bucket"))
    val pairs = xb.join(yb, Seq("tbl", "bucket")).select("x_id", "y_id").distinct()
    val xv = e.filter(col("label") === LangA)
      .select(col("vec_id").as("x_id"), col("v").as("xv"), col("norm").as("xn"))
    val yv = e.filter(col("label") === LangB)
      .select(col("vec_id").as("y_id"), col("v").as("yv"), col("norm").as("yn"))
    val wx = Window.partitionBy("x_id").orderBy(col("cosine").desc, col("y_id").asc)
    val wy = Window.partitionBy("y_id").orderBy(col("cosine").desc, col("x_id").asc)
    val top = pairs.join(xv, "x_id").join(yv, "y_id")
      .withColumn("cosine",
        round(dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 4))
      .withColumn("rx", row_number().over(wx))
      .withColumn("cos2", lead(col("cosine"), 1).over(wx))
      .withColumn("ry", row_number().over(wy))
      .filter(col("rx") === 1 && col("ry") === 1)
      .withColumn("margin",
        floor((col("cosine") - coalesce(col("cos2"), lit(0.0))) * 10000 + 0.5)
          / 10000.0)
      .select("x_id", "y_id", "cosine", "margin")
    (top, Seq(withBuckets))
  }

  val bitextMineSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |x AS (SELECT vec_id AS x_id, v AS xv FROM e WHERE label = $LangA),
      |y AS (SELECT vec_id AS y_id, v AS yv FROM e WHERE label = $LangB),
      |scored AS (
      |  SELECT x_id, y_id, round(list_cosine_similarity(xv, yv), 4) AS cosine
      |  FROM x CROSS JOIN y),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY x_id ORDER BY cosine DESC, y_id) AS rx,
      |    lead(cosine) OVER (PARTITION BY x_id ORDER BY cosine DESC, y_id) AS cos2,
      |    row_number() OVER (PARTITION BY y_id ORDER BY cosine DESC, x_id) AS ry
      |  FROM scored)
      |SELECT x_id, y_id, cosine,
      |       floor((cosine - coalesce(cos2, 0.0)) * 10000 + 0.5) / 10000.0 AS margin
      |FROM ranked WHERE rx = 1 AND ry = 1""".stripMargin

  /** Pinned sf0.01 golden for q98 (deterministic Lloyd's — see ivfTrain). */
  private val ivfTrainGoldenSql: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), CAST(48 AS BIGINT), CAST(0.2828 AS DOUBLE), CAST(43.92 AS DOUBLE)),
      |  (CAST(29 AS BIGINT), CAST(57 AS BIGINT), CAST(0.2404 AS DOUBLE), CAST(53.67 AS DOUBLE)),
      |  (CAST(58 AS BIGINT), CAST(62 AS BIGINT), CAST(0.273 AS DOUBLE), CAST(57.33 AS DOUBLE)),
      |  (CAST(87 AS BIGINT), CAST(58 AS BIGINT), CAST(0.2799 AS DOUBLE), CAST(53.55 AS DOUBLE)),
      |  (CAST(116 AS BIGINT), CAST(77 AS BIGINT), CAST(0.2553 AS DOUBLE), CAST(72.03 AS DOUBLE)),
      |  (CAST(145 AS BIGINT), CAST(68 AS BIGINT), CAST(0.2426 AS DOUBLE), CAST(63.93 AS DOUBLE)),
      |  (CAST(174 AS BIGINT), CAST(64 AS BIGINT), CAST(0.2652 AS DOUBLE), CAST(59.48 AS DOUBLE)),
      |  (CAST(203 AS BIGINT), CAST(66 AS BIGINT), CAST(0.2604 AS DOUBLE), CAST(61.58 AS DOUBLE)))
      |  AS t(cent_id, n_members, cnorm, sse)""".stripMargin)

  /** Pinned sf0.01 golden for the two approximate ANN paths. The driver's
    * correctness gate always runs at sf0.01, where both IVF and LSH recover
    * the exact brute-force top-5 (deterministic arithmetic: fixed
    * centroids/planes, round-4 scores, vec_id tiebreak — no partition-order
    * dependence). Upgrades both from rows-only to full hash compares; the
    * recall specs in LlmSpec remain the semantic check. */
  private val annGoldenSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(365 AS BIGINT), CAST(0.37 AS DOUBLE), CAST(1 AS INT)),
      |  (CAST(334 AS BIGINT), CAST(0.3627 AS DOUBLE), CAST(2 AS INT)),
      |  (CAST(387 AS BIGINT), CAST(0.3311 AS DOUBLE), CAST(3 AS INT)),
      |  (CAST(423 AS BIGINT), CAST(0.2969 AS DOUBLE), CAST(4 AS INT)),
      |  (CAST(73 AS BIGINT), CAST(0.2954 AS DOUBLE), CAST(5 AS INT)))
      |  AS t(neighbor_id, cosine, rank)""".stripMargin

  // ---------------------------------------------------------------- q196
  /** Greedy k-center / farthest-point coreset selection (Gonzalez 1985's
    * 2-approximation — the maximally-DIVERSE-subset selector, where q126's
    * importance sampler is distribution-matching and q125's SemDeDup prunes
    * redundancy): seed with the smallest vec_id, then [[KcnPicks]]−1 times
    * pick the point farthest (squared euclidean) from its nearest selected
    * center. Output is the pick sequence with each pick's selection radius
    * — the monotone-decreasing coverage curve that prices "how many more
    * exemplars buy how much more diversity" for few-shot/eval-set
    * construction over an embedded corpus.
    *
    * Scale shape: the selected set is DRIVER state of k rows (the k-means
    * centroid class, documented precedent) — each round is one map over
    * the corpus folding `least(dmin, d²-to-new-center)` with the center as
    * a broadcast literal (codegen'd DotProduct, no join) plus one
    * TakeOrderedAndProject(1) argmax; the running dmin frame is
    * checkpointed per round so round i does one new dot product per row,
    * not i (O(nk) total — without it the lazy chain re-folds O(nk²)).
    * Distances are ROUNDED at 4 dp before the argmax and the tiebreak is
    * vec_id asc, so the pick sequence — not just the distances — is
    * engine-identical (the q86 lesson applied to selection). */
  private val KcnPicks = 8

  def kcenterSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = vecs(s, d).withColumn("nn", dot(col("v"), col("v")))
      .localCheckpoint(true)
    def d2(cv: Seq[Double], cnn: Double): Column =
      round(col("nn") + lit(cnn) - lit(2.0) * dot(col("v"), typedlit(cv)), 4)
    val seed = base.orderBy("vec_id").limit(1).collect()(0)
    val picks = scala.collection.mutable.ArrayBuffer(
      (1, seed.getLong(0), seed.getInt(1), 0.0))
    var cv = seed.getSeq[Double](2); var cnn = seed.getDouble(3)
    var cur = base.withColumn("dmin", d2(cv, cnn)).localCheckpoint(true)
    for (i <- 2 to KcnPicks) {
      val r = cur.orderBy(col("dmin").desc, col("vec_id")).limit(1).collect()(0)
      picks += ((i, r.getLong(0), r.getInt(1), r.getDouble(4)))
      cv = r.getSeq[Double](2); cnn = r.getDouble(3)
      if (i < KcnPicks)
        cur = cur.withColumn("dmin", least(col("dmin"), d2(cv, cnn)))
          .localCheckpoint(true)
    }
    picks.toSeq.toDF("pick", "vec_id", "label", "radius")
  }

  /** Unrolled greedy rounds: d(i) folds the running min against center
    * c(i); every c(i) is a 1-row argmax on the ROUNDED distance. */
  val kcenterSelectSql: String = {
    val rounds = (2 to KcnPicks).map { i =>
      val dprev = s"d${i - 1}"
      s"""c$i AS (SELECT vec_id, label, v, nn, d AS radius FROM $dprev
        |  ORDER BY d DESC, vec_id LIMIT 1),
        |d$i AS (
        |  SELECT s.vec_id, s.label, s.v, s.nn,
        |         least(s.d, round(s.nn + c.nn - 2 * list_dot_product(s.v, c.v), 4)) AS d
        |  FROM $dprev s CROSS JOIN c$i c)""".stripMargin
    }.mkString(",\n")
    val union = (2 to KcnPicks)
      .map(i => s"UNION ALL SELECT CAST($i AS INT), vec_id, label, radius FROM c$i")
      .mkString("\n")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |sq AS (SELECT vec_id, label, v, list_dot_product(v, v) AS nn FROM e),
      |c1 AS (SELECT vec_id, label, v, nn, 0.0 AS radius FROM sq
      |       ORDER BY vec_id LIMIT 1),
      |d1 AS (
      |  SELECT s.vec_id, s.label, s.v, s.nn,
      |         round(s.nn + c.nn - 2 * list_dot_product(s.v, c.v), 4) AS d
      |  FROM sq s CROSS JOIN c1 c),
      |$rounds
      |SELECT CAST(1 AS INT) AS pick, vec_id, label, radius FROM c1
      |$union""".stripMargin
  }

  // ---------------------------------------------------------------- q213
  /** MMR re-ranking (Carbonell & Goldstein, SIGIR 1998): re-order the
    * query's top-[[MmrPool]] cosine shortlist by Maximal Marginal
    * Relevance — pick_i = argmax λ·rel(c) − (1−λ)·max_{s∈picked}
    * sim(c, s) — the diversity-aware final stage of every retrieval
    * stack (q39/q56 produce the shortlist; MMR stops it from returning
    * five copies of the same document — the retrieval-side twin of
    * q196's corpus-side k-center). λ = [[MmrLambda]], [[MmrK]] picks.
    *
    * The DISTRIBUTED work is the shortlist: corpus-scale scoring into a
    * TakeOrderedAndProject top-20 (the q39 plan). The greedy loop then
    * runs on that bounded 20-row frame as driver state (the eagerTopK
    * shortlist class) — at any corpus size the loop's input is 20 rows,
    * so globalizing it would buy nothing (the q194 lesson from the other
    * side). Every relevance/similarity is ROUNDED 4 dp before any argmax
    * and ties break on vec_id, so the pick SEQUENCE is engine-identical;
    * the SQL oracle unrolls the same greedy rounds over the same
    * shortlist CTE. */
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrLambda = 0.7

  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), sqrt(dot(col("v"), col("v"))).as("qnorm"))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("rel",
        round(dot(col("v"), col("qv")) / (sqrt(dot(col("v"), col("v"))) * col("qnorm")), 4))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrPool)
      .select("vec_id", "v", "rel")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def fold(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      r4(fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b))))
    }
    var pool = shortlist.map { case (id, v, rel) => (id, v, rel, 0.0) }
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Double, Double)]()
    for (i <- 1 to MmrK) {
      val scoredPool = pool.map { case (id, v, rel, mm) =>
        (id, v, rel, mm, r4(MmrLambda * rel - (1 - MmrLambda) * mm))
      }
      val best = scoredPool.minBy { case (id, _, _, _, sc) => (-sc, id) }
      picks += ((i, best._1, best._3, best._5))
      pool = pool.filter(_._1 != best._1).map { case (id, v, rel, mm) =>
        (id, v, rel, math.max(mm, cos(v, best._2)))
      }
    }
    picks.toSeq.toDF("rank", "vec_id", "rel", "mmr_score")
  }

  val mmrRerankSql: String = {
    val rounds = (1 to MmrK).map { i =>
      val prev = s"m${i - 1}"
      s"""p$i AS (
        |  SELECT * FROM $prev
        |  ORDER BY round($MmrLambda * rel - ${1 - MmrLambda} * mm, 4) DESC, vec_id
        |  LIMIT 1),
        |m$i AS (
        |  SELECT c.vec_id, c.v, c.rel,
        |         greatest(c.mm, round(list_cosine_similarity(c.v, p.v), 4)) AS mm
        |  FROM $prev c CROSS JOIN p$i p WHERE c.vec_id <> p.vec_id)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map { i =>
      s"SELECT CAST($i AS INT) AS rank, vec_id, rel, round($MmrLambda * rel - ${1 - MmrLambda} * mm, 4) AS mmr_score FROM p$i"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v FROM e WHERE vec_id = 0),
      |m0 AS (
      |  SELECT vec_id, e.v, round(list_cosine_similarity(e.v, q.v), 4) AS rel,
      |         0.0 AS mm
      |  FROM e CROSS JOIN q WHERE vec_id <> 0
      |  ORDER BY rel DESC, vec_id LIMIT $MmrPool),
      |$rounds
      |$out""".stripMargin
  }

  // ---------------------------------------------------------------- q214
  /** NDCG@[[NdcgK]] retrieval-quality evaluation (Järvelin & Kekäläinen
    * 2002) of the cosine ranking, with same-label membership as the
    * relevance judgment: for each of [[NdcgQueries]] query vectors, score
    * the corpus, take the top-k, and compare the discounted cumulative
    * gain against the ideal ranking's — the metric that says whether the
    * embedding space actually ranks in-class neighbors first (q39 returns
    * the neighbors; this grades them; q204 is the binary-score analogue).
    *
    * Plan: one TakeOrderedAndProject top-k PER QUERY (a bounded constant
    * of them — the q39 shape looped, never a corpus-sized rank window
    * partitioned by query); DCG folds the k-row union; IDCG comes from
    * the label-count side table joined to a k-row rank series — all
    * constant-size frames after the scoring scans. */
  private val NdcgK = 10
  private val NdcgQueries = 5

  def ndcgEval(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .localCheckpoint(true) // scored once per query below
    val tops = (0L until NdcgQueries).map { qid =>
      val q = e.filter(col("vec_id") === qid)
        .select(col("v").as("qv"), col("norm").as("qnorm"),
          col("label").as("qlabel"))
      e.filter(col("vec_id") =!= qid)
        .crossJoin(broadcast(q))
        .withColumn("cosine", round(dot(col("v"), col("qv"))
          / (col("norm") * col("qnorm")), 4))
        .orderBy(col("cosine").desc, col("vec_id")).limit(NdcgK)
        .select(lit(qid).as("qid"), col("qlabel"),
          when(col("label") === col("qlabel"), 1.0).otherwise(0.0).as("rel"),
          row_number().over(
            Window.orderBy(col("cosine").desc, col("vec_id"))).as("rk"))
    }.reduce(_ unionAll _)
    val dcg = tops.groupBy("qid")
      .agg(first("qlabel").as("qlabel"),
        sum(col("rel") / log2(col("rk") + 1)).as("dcg"),
        sum("rel").cast("long").as("n_rel_topk"))
    val labelCounts = e.groupBy("label").agg(count(lit(1)).as("nl"))
    val idcg = dcg.join(broadcast(labelCounts),
        col("qlabel") === col("label"))
      .withColumn("r_total", col("nl") - 1) // exclude the query itself
      .crossJoin(broadcast(
        s.range(1, NdcgK + 1).select(col("id").as("j"))))
      .filter(col("j") <= least(lit(NdcgK.toLong), col("r_total")))
      .groupBy(col("qid").as("qid2"))
      .agg(sum(lit(1.0) / log2(col("j") + 1)).as("idcg"))
    dcg.join(idcg, col("qid") === col("qid2"))
      .select(col("qid").cast("long").as("query_id"), col("n_rel_topk"),
        round(col("dcg"), 4).as("dcg"),
        round(col("dcg") / col("idcg"), 4).as("ndcg"))
  }

  val ndcgEvalSql: String = {
    val tops = (0 until NdcgQueries).map { qid =>
      s"""t$qid AS (
        |  SELECT $qid AS qid, q.label AS qlabel,
        |         CASE WHEN e.label = q.label THEN 1.0 ELSE 0.0 END AS rel,
        |         row_number() OVER (
        |           ORDER BY round(list_cosine_similarity(e.v, q.v), 4) DESC,
        |                    e.vec_id) AS rk
        |  FROM (SELECT * FROM e WHERE vec_id <> $qid) e
        |  CROSS JOIN (SELECT v, label FROM e WHERE vec_id = $qid) q
        |  ORDER BY round(list_cosine_similarity(e.v, q.v), 4) DESC, e.vec_id
        |  LIMIT $NdcgK)""".stripMargin
    }.mkString(",\n")
    val union = (0 until NdcgQueries).map(i => s"SELECT * FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |$tops,
      |tops AS ($union),
      |dcg AS (
      |  SELECT qid, any_value(qlabel) AS qlabel,
      |         sum(rel / log2(rk + 1)) AS dcg,
      |         CAST(sum(rel) AS BIGINT) AS n_rel_topk
      |  FROM tops GROUP BY 1),
      |lc AS (SELECT label, count(*) AS nl FROM e GROUP BY 1),
      |idcg AS (
      |  SELECT qid, sum(1.0 / log2(j + 1)) AS idcg
      |  FROM dcg JOIN lc ON lc.label = dcg.qlabel
      |  CROSS JOIN (SELECT unnest(range(1, ${NdcgK + 1})) AS j)
      |  WHERE j <= least($NdcgK, nl - 1)
      |  GROUP BY 1)
      |SELECT CAST(qid AS BIGINT) AS query_id, n_rel_topk,
      |       round(dcg.dcg, 4) AS dcg, round(dcg.dcg / idcg.idcg, 4) AS ndcg
      |FROM dcg JOIN idcg USING (qid)""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q38_cosine_neardup", cosineNearDup _, Some(cosineNearDupSql)),
    GraftQuery("q39_knn_brute", knnBrute _, Some(knnBruteSql)),
    GraftQuery("q40_knn_ivf", knnIvf _, Some(annGoldenSql)),
    GraftQuery("q56_knn_lsh", (s: SparkSession, d: String) => knnLsh(s, d), Some(annGoldenSql)),
    GraftQuery("q70_knn_quantized", knnQuantized _, Some(annGoldenSql)),
    GraftQuery("q130_knn_pq", (s: SparkSession, d: String) => knnPq(s, d),
      Some(graft.core.Goldens.load("q130_knn_pq"))),
    GraftQuery("q98_ivf_train", ivfTrain _, ivfTrainGoldenSql),
    GraftQuery("q170_incremental_ivf", incrementalIvf _,
      Some(graft.core.Goldens.load("q170_incremental_ivf"))),
    GraftQuery("q139_hard_negatives", hardNegatives _, Some(hardNegativesSql)),
    GraftQuery("q139b_hard_negatives_lsh",
      (s: SparkSession, d: String) => hardNegativesLsh(s, d),
      Some(graft.core.Goldens.load("q139b_hard_negatives_lsh"))),
    GraftQuery("q141_semantic_decontam", semanticDecontam _, Some(semanticDecontamSql)),
    GraftQuery("q226_cosine_neardup_lsh", cosineNearDupLshReal _,
      Some(cosineNearDupRealSql)),
    GraftQuery("q226b_cosine_neardup_exact", cosineNearDupExactReal _,
      Some(cosineNearDupRealSql)),
    GraftQuery("q143_bitext_mine", bitextMine _, Some(bitextMineSql)),
    GraftQuery("q143b_bitext_mine_lsh",
      (s: SparkSession, d: String) => bitextMineLsh(s, d),
      Some(graft.core.Goldens.load("q143b_bitext_mine_lsh"))),
    GraftQuery("q125_semdedup", (s: SparkSession, d: String) => semDedup(s, d),
      Some(graft.core.Goldens.load("q125_semdedup"))),
    GraftQuery("q196_kcenter", kcenterSelect _, Some(kcenterSelectSql)),
    GraftQuery("q213_mmr_rerank", mmrRerank _, Some(mmrRerankSql)),
    GraftQuery("q214_ndcg", ndcgEval _, Some(ndcgEvalSql)))
}
