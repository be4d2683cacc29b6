package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for local scale testing above the driver-provided
  * sf0.1 (TESTDATA.md caps there; `/root/testdata` is read-only).
  *
  * `runMain graft.GenData <srcSfDir> <outDir> <R> [eventsMode] [docsMode]
  * [vecsMode]` replicates every table
  * R× with key offsets so the star-schema join graph stays consistent
  * (replica i's lineitem rows reference replica i's orders/part/supplier),
  * while perturbing the two content tables so scale-up does NOT fabricate a
  * degenerate duplicate structure:
  *
  *  - documents: replica i>0 suffixes every token with `_i`, so each
  *    replica's vocabulary — and therefore its shingle space — is DISJOINT
  *    from every other's. This models how a real corpus grows (vocabulary
  *    ∝ size, per-shingle document frequency roughly stable): per-replica
  *    shingle df equals sf0.1's, near-dup density scales like a genuinely
  *    larger corpus, and exact-dup RATE is preserved (each replica keeps
  *    sf0.1's internal duplicates). The optional 5th arg "zipf" instead
  *    builds a SHARED power-law vocabulary (hot/warm/tail word tiers, see
  *    the inline doc) whose head shingle-df grows ∝ corpus — the df-skew
  *    regime the prefix/minhash levers exist for. The first attempt permuted the 31-word
  *    vocabulary instead — but permuted trigrams still live in the same
  *    31³ trigram universe, so df grew ∝ R and the exact-Jaccard pair
  *    joins (Σ df² work) went quadratic in sf: a data artifact, not an
  *    engine property (at R=50 the q114 join intermediate overflowed local
  *    disk). Token counts and lengths-in-words are preserved; n_chars is
  *    recomputed to keep the n_chars==len(text) invariant.
  *  - embeddings: replica i>0 adds xxhash64-seeded elementwise noise at
  *    ~1.0× vector norm and re-normalizes to unit length (the corpus
  *    contract): replica↔original cosine lands ≈ 0.71 — same-cluster-ish,
  *    but safely below the ≥0.8 near-dup band, so ANN/near-dup workloads
  *    see 10× organic-looking vectors, not 10-cliques of planted dups.
  *  - events: two modes via the optional 4th arg. Default ("dense") keeps
  *    `ts` untouched (whatever dtype the driver generated — ns-long or
  *    timestamp[µs]; Tables.events normalizes both) — R× density in the
  *    same ~30-day window, which makes time-band joins (q09, ±1h) grow
  *    ∝ R² in OUTPUT pairs: a corpus artifact, useful for stress but not
  *    for measuring the join. "spread" shifts replica i's timestamps by
  *    i·(span+2h), so events/hour stays constant (the window extends ∝ R,
  *    replicas are separated by more than the ±1h join band → zero
  *    cross-replica pairs) and q09's scale curve measures the banded join
  *    itself.
  *
  * region/nation are fixed dimensions and copy through unchanged, so
  * nationkey/regionkey foreign keys stay valid without offsets.
  *
  * Deterministic: document perturbation is a per-replica token SUFFIX
  * (`word_i` — no randomness), embedding noise comes from
  * xxhash64(vec_id, i, element-index), and key/user/timestamp offsets are
  * measured from src. No wall-clock anywhere, so reruns are byte-stable
  * modulo parquet part layout.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val r = args(2).toInt
    val eventsMode = if (args.length > 3) args(3) else "dense"
    require(eventsMode == "dense" || eventsMode == "spread",
      s"events mode must be dense|spread: $eventsMode")
    val docsMode = if (args.length > 4) args(4) else "disjoint"
    require(docsMode == "disjoint" || docsMode == "zipf",
      s"docs mode must be disjoint|zipf: $docsMode")
    val vecsMode = if (args.length > 5) args(5) else "noise"
    require(vecsMode == "noise" || vecsMode == "bitext",
      s"vecs mode must be noise|bitext: $vecsMode")
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // fixed at 32 on any core count so a generated corpus is the same files
    // wherever it is built
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")

    // fixed dims: copy through (FK values unchanged everywhere)
    write("region", read("region"), 1)
    write("nation", read("nation"), 1)

    /** Union R replicas of `df`, applying `f(df, i)` per replica. */
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until r).map(i => f(df, i)).reduce(_ unionAll _)

    // ------------------------------------------------------------ bitext
    // vecsMode="bitext": a PLANTED-BITEXT embeddings corpus — the geometry
    // real CCMatrix-style mining runs on, which the default corpus
    // adversarially lacks (its cross-label pair cosines are 0.25–0.45, so
    // the q143b LSH probe path loses to brute at every decade; this corpus
    // is where its winning regime is measured, not asserted).
    // Construction, fully deterministic:
    //  - label-0 rows ("language X") are fresh unit hash-random vectors
    //    u(k), k = the row's rank within its label across all replicas —
    //    background cross-pair cosine ~ N(0, 1/dim) ≈ 0 ± 0.125;
    //  - label-9 rows ("language Y") with rank k ≤ |X| are TRANSLATIONS:
    //    normalize(u(k) + δ·w(k)) with independent hash-random w and
    //    δ = 0.23 ⇒ planted pair cosine ≈ 1/√(1+δ²) ≈ 0.975 (the
    //    translation band); ranks beyond |X| are background randoms;
    //  - every other label keeps its source vector (replica 0) /
    //    noise-perturbed replica (i > 0, the standard contract) — only
    //    the two bitext sides get the planted geometry.
    // Labels 0/9 are [[graft.llm.Similarity]]'s LangA/LangB. Output is the
    // EMBEDDINGS TABLE ONLY (plus the fixed dims already written): the
    // bitext corpus exists to measure q143/q143b, and replicating the
    // other tables would burn the scale-run disk budget for nothing.
    if (vecsMode == "bitext") {
      import org.apache.spark.sql.expressions.Window
      val e = read("embeddings")
      val nVecB = e.count()
      val dim = e.select(size(col("embedding"))).head.getInt(0)
      val delta = 0.23
      def hrand(tag: String, k: org.apache.spark.sql.Column,
                j: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (pmod(xxhash64(lit(tag), k, j), lit(2000001L)) - lit(1000000L))
          .cast("double") / lit(1000000.0)
      val eps = math.sqrt(3.0) * 0.125
      val repd = rep(e) { (df, i) =>
        val base = df.withColumn("vec_id", col("vec_id") + lit(i * nVecB))
        if (i == 0) base
        else {
          val noisy = transform(col("embedding"), (x, kk) =>
            x + lit(eps) * ((pmod(xxhash64(col("vec_id"), lit(i), kk), lit(2000001L)) -
              lit(1000000L)).cast("double") / lit(1000000.0)))
          base.withColumn("nv", noisy)
            .withColumn("nrm", sqrt(aggregate(col("nv"), lit(0.0d), (a, x) => a + x * x)))
            .withColumn("embedding",
              transform(col("nv"), x => (x / col("nrm")).cast("float")))
            .drop("nv", "nrm")
        }
      }
      val nX = repd.filter(col("label") === 0).count()
      val byLabel = Window.partitionBy("label").orderBy("vec_id")
      val js = sequence(lit(0), lit(dim - 1))
      val u = transform(js, j => hrand("bx_u", col("k"), j))
      val w = transform(js, j => hrand("bx_w", col("k"), j))
      val bg = transform(js, j => hrand("bx_b", col("k"), j))
      val planted = repd
        .withColumn("k", row_number().over(byLabel).cast("long"))
        .withColumn("raw",
          when(col("label") === 0, u)
            .when(col("label") === 9 && col("k") <= lit(nX),
              zip_with(u, w, (a, b) => a + lit(delta) * b))
            .when(col("label") === 9, bg)
            .otherwise(col("embedding").cast("array<double>")))
        .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0d), (a, x) => a + x * x)))
        .withColumn("embedding",
          when(col("label").isin(0, 9),
            transform(col("raw"), x => (x / col("nrm")).cast("float")))
            .otherwise(col("embedding")))
        .drop("k", "raw", "nrm")
      write("embeddings", planted, math.max(1, r / 2))
      println(s"""{"gen":"$out","r":$r,"src":"$src","vecs":"bitext","dim":$dim,"nx":$nX}""")
      spark.stop()
      return
    }

    val nCust = read("customer").count()
    val nOrd  = read("orders").count()
    val nPart = read("part").count()
    val nSupp = read("supplier").count()
    val nEv   = read("events").count()
    val nDoc  = read("documents").count()
    val nVec  = read("embeddings").count()

    write("customer", rep(read("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * nCust))
    }, math.max(1, r / 2))

    write("supplier", rep(read("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * nSupp))
    }, 1)

    write("part", rep(read("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * nPart))
    }, math.max(1, r / 2))

    write("orders", rep(read("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * nCust))
    }, r)

    write("lineitem", rep(read("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(i * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * nSupp))
    }, 2 * r)

    // offsets measured from src (not assumed-sf0.1 constants) so chaining
    // GenData output as src never collides replica user_ids / timestamps
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val ev = read("events")
    val tsType = ev.schema("ts").dataType
    // normalize ts to a long for span measurement / shifting: raw ns for
    // the LongType generator variant, epoch µs for the timestamp variants
    // (NTZ reinterprets under the session zone — GenData pins UTC, same
    // contract Tables.events asserts)
    def tsLong(c: org.apache.spark.sql.Column) = tsType match {
      case LongType => c
      case _        => unix_micros(c.cast(TimestampType))
    }
    val evStats = ev.agg(max(col("user_id").cast("long")).as("mu"),
        min(tsLong(col("ts"))).as("t0"), max(tsLong(col("ts"))).as("t1"))
      .collect()(0)
    val nUserSrc = evStats.getAs[Long]("mu") + 1L
    // shift stride = span + 2h (> the ±1h q09 band, so replicas can never
    // form cross-replica pairs under "spread")
    val twoHours = if (tsType == LongType) 2L * 3600L * 1000000000L else 2L * 3600L * 1000000L
    val tsStride = (evStats.getAs[Long]("t1") - evStats.getAs[Long]("t0")) + twoHours
    def tsShift(c: org.apache.spark.sql.Column, delta: Long) = tsType match {
      case LongType         => c + lit(delta)
      case TimestampNTZType => timestamp_micros(unix_micros(c.cast(TimestampType)) + lit(delta))
        .cast(TimestampNTZType)
      case _                => timestamp_micros(unix_micros(c) + lit(delta))
    }

    write("events", rep(ev) { (df, i) =>
      val base = df.withColumn("event_id", col("event_id") + lit(i * nEv))
        .withColumn("user_id", col("user_id") + lit(i * nUserSrc))
      if (eventsMode == "spread" && i > 0) base.withColumn("ts", tsShift(col("ts"), i * tsStride))
      else base
    }, r)

    // documents, mode "disjoint" (default): per-replica token suffix →
    // disjoint vocabularies/shingle spaces (see scaladoc for why a vocab
    // permutation is NOT enough). Mode "zipf": a SHARED head-heavy
    // vocabulary — per-word tier by xxhash64(word):
    //   hot  ( 9/31 of words): identity in every replica  → trigram df ∝ R
    //   warm (12/31):          suffix _w(i mod 4)         → trigram df ∝ R/4
    //   tail (10/31):          suffix _i (disjoint)       → trigram df flat
    // An all-hot trigram is shared by ALL replicas, all-hot∪warm by every
    // 4th, anything touching a tail word stays replica-local — a 3-decade
    // power-law ladder of shingle document frequency whose head GROWS with
    // corpus size, the regime where exact-Jaccard counting joins go Σdf²-
    // superlinear and the df-ordered prefix/minhash paths stay linear
    // (Dedup.scala:475's documented skew case, never exercised by the
    // disjoint mode). Expected Σdf² vs disjoint: f·R + f'·R/4 + f''
    // ≈ 1.65× at R=10, 5.5× at R=50 (all-hot/max-warm/tail trigram
    // occurrence fractions 0.024/0.287/0.689 for the 9/12/10 word split). Each
    // replica's token map is INJECTIVE (base word is a prefix of every
    // image; suffix alphabets are disjoint across tiers), so within-
    // replica |A∩B|/|A∪B| — and therefore the near-dup/exact-dup
    // structure every dedup oracle checks — is preserved EXACTLY. Cross-
    // replica: pairs in DIFFERENT i-mod-4 classes share only hot shingles
    // (J ≲ 0.06, far below the 0.5 band); pairs in the SAME class share
    // hot∪warm (21/31 words), so a tail-light document's mod-4 twins can
    // genuinely reach the near-dup band (observed: copies of one doc at
    // J = 0.5 exactly at R=10) — realistic for shared-vocabulary corpora,
    // and the case that exposed the 16-band LSH margin (Dedup.scala
    // minhashNearDupPlan doc).
    val zipfMap: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
      (w, i) => {
        // cutoffs measured against the actual 31-word base vocab's hash
        // values: <6 → 9 hot, <20 → 12 warm, else 10 tail (the lumpy
        // pmod(xxhash64) distribution makes "uniform thirds" cutoffs land
        // at 14/7/10, overshooting the Σdf² budget ~1.5×)
        val tier = pmod(xxhash64(w), lit(31L))
        when(tier < 6, w)
          .when(tier < 20, concat(w, lit(s"_w${i % 4}")))
          .otherwise(concat(w, lit(s"_$i")))
      }
    write("documents", rep(read("documents")) { (df, i) =>
      if (docsMode == "zipf") {
        df.withColumn("doc_id", col("doc_id") + lit(i * nDoc))
          .withColumn("text",
            array_join(transform(split(col("text"), " "), w => zipfMap(w, i)), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      } else if (i == 0) df
      else {
        df.withColumn("doc_id", col("doc_id") + lit(i * nDoc))
          .withColumn("text",
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit(s"_$i"))), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }, r)

    // embeddings: seeded noise + re-normalize (unit-norm corpus contract)
    write("embeddings", rep(read("embeddings")) { (df, i) =>
      if (i == 0) df
      else {
        // uniform [-eps, eps] per element from xxhash64(vec_id, replica, k);
        // eps = sqrt(3)·rms(elem) ≈ 0.2165 for unit vectors at dim 64 gives
        // ||noise|| ≈ ||v|| → cos(v, v') ≈ 1/√2
        val eps = math.sqrt(3.0) * 0.125
        val noisy = transform(col("embedding"), (x, k) =>
          x + lit(eps) * ((pmod(xxhash64(col("vec_id"), lit(i), k), lit(2000001L)) -
            lit(1000000L)).cast("double") / lit(1000000.0)))
        df.withColumn("vec_id", col("vec_id") + lit(i * nVec))
          .withColumn("nv", noisy)
          .withColumn("nrm", sqrt(aggregate(col("nv"), lit(0.0d), (a, x) => a + x * x)))
          .withColumn("embedding",
            transform(col("nv"), x => (x / col("nrm")).cast("float")))
          .drop("nv", "nrm")
      }
    }, math.max(1, r / 2))

    println(s"""{"gen":"$out","r":$r,"src":"$src"}""")
    spark.stop()
  }
}
