package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.BloomFilters
import graft.queries.GraftQuery

/** Semi-join reduction — THE shuffle-pruning lever for the selective
  * fact ⋈ dim join at 100 TB.
  *
  * Shape: a huge fact table joined to a dim filtered on a NON-key
  * attribute (here: lineitem ⋈ orders placed in one week — the filter
  * column lives only on the dim, so the fact cannot be pruned at its own
  * scan). On a cluster the filtered dim is often still far too large to
  * broadcast (at 1000× this window is ~5 M keys → an ~80 MB hashed
  * relation), so the join shuffles BOTH sides — including the ~99.7% of
  * fact rows that match nothing and are dropped at the probe. The fix: a
  * bloom filter over the dim keys (megabytes, size set by fpp — an order
  * of magnitude under the hashed relation it stands in for) probed inside
  * the fact scan's filter, so non-matching rows die BEFORE the exchange.
  * Results are exact: bloom false positives are removed by the join
  * itself — both registered variants share one DuckDB oracle.
  *
  * Spark's own runtime bloom filter (SPARK-32268) does this rewrite
  * automatically but gates on a 10 GB application-side scan, invisible
  * plan stats, and a creation-side cap; the explicit operator is for the
  * plans it skips (local scale, DSv2 sources without stats, streaming
  * microbatches) and pins the at-scale shape deterministically.
  *
  * Both variants force a shuffle join (`SHUFFLE_MERGE` hint): at local
  * sf the 469-row dim would broadcast and the pair would measure nothing
  * — the hint pins the cluster regime where the dim exceeds the
  * broadcast threshold (the q182b copart precedent: register the plan a
  * 1000× input forces, not the one 0.1 GB permits).
  */
object SemiJoin {

  // one selective week out of the ~6.5-year o_orderdate span (≈0.31% of
  // orders ⇒ ≈0.31% of lineitems survive the join)
  private val Lo = "1997-03-01"
  private val Hi = "1997-03-08"
  private val Fpp = 0.01

  private def weekOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(Lo).cast("timestamp") &&
              col("o_orderdate") <  lit(Hi).cast("timestamp"))
      .select("o_orderkey", "o_orderpriority")

  private def revenueAgg(joined: DataFrame): DataFrame =
    joined
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
           round(sum(col("l_extendedprice").cast("decimal(18,2)") *
                     (lit(1.00) - col("l_discount").cast("decimal(18,2)"))), 2)
             .cast("double").as("revenue"))

  /** q227: bloom-prefiltered fact side. Two passes over the (small,
    * already-filtered) dim: an exact count to size the filter honestly,
    * then the distributed bloom build; the fact side is scanned once,
    * probe fused into its scan filter, and only survivors (matches + fpp
    * false positives) reach the exchange. */
  def bloomSemiJoin(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the dim is read 3× (count, bloom build, join) —
    // at 0.31% of orders it is checkpoint-cheap at any decade
    val dim = weekOrders(s, d).localCheckpoint(true)
    val bits = BloomFilters.buildLongBloom(dim, "o_orderkey", dim.count(), Fpp)
    val fact = Tables.lineitem(s, d)
      .filter(BloomFilters.bloom_might_contain(bits, col("l_orderkey")))
    revenueAgg(fact.join(dim.hint("shuffle_merge"),
      col("l_orderkey") === col("o_orderkey")))
  }

  /** q227b: the unreduced plan — every fact row shuffles to the join,
    * 99.7% to be dropped at the probe. The measured anti-baseline of the
    * pair. */
  def plainSemiJoin(s: SparkSession, d: String): DataFrame =
    revenueAgg(Tables.lineitem(s, d).join(
      weekOrders(s, d).hint("shuffle_merge"),
      col("l_orderkey") === col("o_orderkey")))

  /** q227c — semi-join reduction by the broadcast rule over the filtered
    * dim's row count. While the dim is broadcast-sized the right plan is
    * the plain join with no hint and no bloom: Catalyst broadcasts the
    * dim, the fact never shuffles, and a bloom would only add its build
    * cost. Past it (or with broadcast disabled) the join must shuffle,
    * and the bloom prefilter keeps the fact exchange proportional to
    * matches instead of to the corpus. The dim count doubles as the
    * bloom's sizing input, so the rule costs the bloom path nothing.
    * Gated by the shared oracle (all three registrations are
    * result-equal). */
  def autoSemiJoin(s: SparkSession, d: String): DataFrame = {
    val dim = weekOrders(s, d).localCheckpoint(true)
    val n = dim.count()
    if (Dispatch.broadcastSized(s, n))
      revenueAgg(Tables.lineitem(s, d)
        .join(dim, col("l_orderkey") === col("o_orderkey")))
    else {
      val bits = BloomFilters.buildLongBloom(dim, "o_orderkey", n, Fpp)
      val fact = Tables.lineitem(s, d)
        .filter(BloomFilters.bloom_might_contain(bits, col("l_orderkey")))
      revenueAgg(fact.join(dim.hint("shuffle_merge"),
        col("l_orderkey") === col("o_orderkey")))
    }
  }

  private val oracleSql =
    s"""SELECT l_returnflag, count(*) AS n_items,
      |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                      * (1.00 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '$Lo' AND o_orderdate < TIMESTAMP '$Hi'
      |GROUP BY 1""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q227_bloom_semijoin", bloomSemiJoin _, Some(oracleSql)),
    GraftQuery("q227b_plain_semijoin", plainSemiJoin _, Some(oracleSql)),
    GraftQuery("q227c_semijoin_auto", autoSemiJoin _, Some(oracleSql)))
}
