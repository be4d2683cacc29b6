package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.llm.Dedup
import graft.queries.{GraftQuery, Relational11}

/** Pick-by-size dispatch for the registered lever pairs: each dispatcher
  * runs one of two result-equal variants, chosen by one of two rules.
  *
  *  - [[broadcastSized]] — is a frame of `rows` rows broadcast-sized by the
  *    session's own `spark.sql.autoBroadcastJoinThreshold`? Used by q182c
  *    (label propagation), q203c (assortativity) and q227c (semi-join).
  *  - [[skewed]] — does the posting-skew probe [[rhoFromEx]] exceed
  *    [[MaxMeanPostings]]? Used by q169c (containment) and q149c (curate's
  *    dedup stage).
  *
  * Neither rule has a session option of its own: κ is a constant, and the
  * one knob a cluster operator tunes is the broadcast threshold it already
  * tunes, which the broadcast rule follows.
  *
  * Which pairs get a dispatcher: only pairs whose variants are
  * result-equal under the pair's own oracle (so the pick is hash-gated)
  * and that have a measured crossover inside the testable decades. Two
  * pairs fail one leg each, deliberately:
  *  - q65b/q65c: no crossover — the bounded MG form is exact end-to-end
  *    and faster at every measured scale (BASELINE "q65 pair").
  *  - q143/q143b: not result-equal — the LSH-shortlist form is approximate
  *    by construction. Exact-vs-approximate is a contract the caller
  *    declares, not a plan equivalence a dispatcher may pick; the same
  *    holds for q26/q26b-style sketch swaps and q219's quantiles.
  */
object Dispatch {

  // ------------------------------------------------------ broadcast rule
  /** In-memory HashedRelation cost per broadcast row: 16-byte two-long
    * UnsafeRow + row header + LongToUnsafeRowMap slot/array overhead
    * ≈ 48–80 B measured; 64 is the decade-accurate middle. The rules
    * price ROWS, not the planner's compressed-bytes stat: parquet's
    * `sizeInBytes` prices q182's label frame at ~1.4 MB at sf10, while the
    * hashed relation that actually OOMs there is ~100 MB. */
  val BroadcastBytesPerRow = 64L

  /** True when a `rows`-row frame fits the session's broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`; ≤ 0, i.e. broadcast
    * disabled, is never broadcast-sized). At the default 10 MB the flip is
    * at ~160k rows — ≈ sf1 for the custkey ⊎ suppkey node population,
    * inside q182's measured bracket (wins at sf0.1, OOMs at sf10/8 GiB). */
  def broadcastSized(s: SparkSession, rows: BigInt): Boolean = {
    val t = s.sessionState.conf.autoBroadcastJoinThreshold
    t > 0 && rows * BroadcastBytesPerRow <= t
  }

  /** Upper bound of the LPA/assortativity node population: nodes ≤
    * |customer| + |supplier| (the graphs' nodes are custkey ⊎ suppkey).
    * Counts come from parquet footers — no column data is read. */
  def graphNodeRows(s: SparkSession, d: String): BigInt =
    BigInt(Tables.customer(s, d).count() + Tables.supplier(s, d).count())

  /** q182c — label propagation: q182 force-broadcasts the node-sized
    * label frame into all ten phase joins, so it is right exactly while
    * that frame is broadcast-sized; past it, q182b's co-partitioned
    * phases. Gated by q182's unrolled-CTE oracle (both variants pass it). */
  def labelPropAuto(s: SparkSession, d: String): DataFrame =
    if (broadcastSized(s, graphNodeRows(s, d))) Relational11.q182(s, d)
    else Relational11.q182b(s, d)

  /** q203c — assortativity: while the degree table is broadcast-sized the
    * naive corr shape (q203) touches the edge frame with no exchange and
    * q203b's bucket write is pure overhead (sf0.1: 1.4 vs 4.5 s); past it
    * the naive SMJ's two edge-frame sorts dominate and the bucketed moment
    * form wins (sf5: 64 vs 86 s; sf10: 132 vs 248 s). The
    * node population is LPA's. Gated by q203's corr-form oracle. */
  def assortativityAuto(s: SparkSession, d: String): DataFrame =
    if (broadcastSized(s, graphNodeRows(s, d))) Relational11.q203(s, d)
    else Relational11.q203b(s, d)

  // ----------------------------------------------------------- skew rule
  /** κ: the largest posting-skew ρ at which the exact counting join still
    * runs. ρ is scale-invariant under duplicate-free growth (5.89 at sf0.1
    * and at R=10/R=100 disjoint replication alike) and grows only with
    * real skew (9.72 at zipf R=10). q169 and q169b walls are equal at
    * ρ=5.89 (23.0 vs 23.3 s at sf1) and 5.4× apart at ρ=9.72 (134.4 vs
    * 25.1 s at sf1z); κ sits between. */
  val MaxMeanPostings = 8.0

  /** ρ = Σdf²/Σdf over the document frequencies of a hashed posting frame
    * (`Dedup.postings`): the counting join materializes Σdf² candidate rows
    * from Σdf postings, so ρ is its per-posting amplification, which no
    * footer metadata reveals. One keyed aggregate over the frame. */
  private[graft] def rhoFromEx(ex: DataFrame): Double = {
    val r = ex.groupBy("shk").agg(count(lit(1)).as("df"))
      .agg(sum(col("df")).as("postings"),
        sum(col("df") * col("df")).as("sum_df2")).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L) 0.0
    else r.getLong(1).toDouble / r.getLong(0).toDouble
  }

  /** The skew rule: past κ the prefix filter (q169b) or MinHash
    * candidates (q149b) beat the Σdf² counting join. */
  def skewed(rho: Double): Boolean = rho > MaxMeanPostings

  /** The q169c shingle frame and its posting frame over q169's slice
    * (even doc_ids). The posting frame is materialized once
    * (localCheckpoint — the materialization q169b performs anyway): the
    * probe is one aggregate over it and the chosen variant consumes the
    * same frame. Measured at sf0.1, probing with a separate re-shingling
    * pass cost 3.0× q169's wall. */
  private[graft] def containmentFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val sh = Dedup.shingledN(Tables.documents(s, d).filter(col("doc_id") % 2 === 0), 3)
    (sh, Dedup.postings(sh).localCheckpoint(true))
  }

  /** q169c — containment by the skew rule: q169b's prefix filter when
    * skewed, else q169's exact counting join. Gated by q169's exact
    * oracle (q169b is row-identical by the prefix theorem, LlmSpec-proven). */
  def containmentAuto(s: SparkSession, d: String): DataFrame = {
    val (sh, ex) = containmentFrames(s, d)
    if (skewed(rhoFromEx(ex))) Dedup.containmentPrefixFromShEx(sh, ex, 0.9)
    else Dedup.containmentJoinFromEx(ex, 0.9)
  }

  /** q149c — the curation composition with its dedup stage picked by the
    * skew rule (see `Curation.curate`), gated by the composed oracle
    * q149/q149b both pass. */
  def curateAuto(s: SparkSession, d: String): DataFrame =
    graft.llm.Curation.curate(s, d, candidates = "auto")

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q182c_label_prop_auto", labelPropAuto _,
      Some(Relational11.q182Sql)),
    GraftQuery("q203c_assort_auto", assortativityAuto _,
      Some(Relational11.q203Sql)),
    GraftQuery("q169c_containment_auto", containmentAuto _,
      Some(graft.llm.Dedup.containmentSql)),
    GraftQuery("q149c_curate_auto", curateAuto _,
      Some(graft.llm.Curation.curateSql)))
}
