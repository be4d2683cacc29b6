package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dispatch, SemiJoin}

/** Pick-by-size dispatch (operators/Dispatch): the broadcast rule must flip
  * at the session's broadcast threshold, the skew rule at κ, and each
  * dispatched result must equal BOTH variants (they share one oracle). */
class DispatchSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  private def withThreshold[T](t: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, t)
    try body finally spark.conf.set(key, old)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  // ------------------------------------------------------ broadcast rule

  test("estimate is positive and decade-plausible at sf0.001") {
    val n = Dispatch.graphNodeRows(spark, sf)
    // sf0.001: 150 customers + 10 suppliers — the priced frame must land
    // well under a MB and above nothing
    assert(n > 0 && n * Dispatch.BroadcastBytesPerRow < (1 << 20),
      s"implausible node-row estimate: $n")
  }

  test("selection flips exactly at the broadcast threshold") {
    val n = Dispatch.graphNodeRows(spark, sf)
    val est = n * Dispatch.BroadcastBytesPerRow
    withThreshold((est * 2).toString) { assert(Dispatch.broadcastSized(spark, n)) }
    withThreshold(est.toString) { assert(Dispatch.broadcastSized(spark, n)) }
    withThreshold((est - 1).toString) { assert(!Dispatch.broadcastSized(spark, n)) }
    withThreshold((est / 2).toString) { assert(!Dispatch.broadcastSized(spark, n)) }
    withThreshold("-1") { // broadcast disabled → never broadcast-sized
      assert(!Dispatch.broadcastSized(spark, n))
      assert(!Dispatch.broadcastSized(spark, 1))
    }
  }

  test("calibration: default threshold picks broadcast at sf0.1, copart at sf10") {
    // the measured bracket (BASELINE.md): q182 wins at sf0.1, OOMs at
    // sf10/8 GiB — the default 10 MB threshold must put the flip between
    withThreshold("10MB") {
      assert(Dispatch.broadcastSized(spark,
        Dispatch.graphNodeRows(spark, "/root/testdata/sf0.1")))
      val sf10 = "testdata/sf10"
      if (new java.io.File(sf10).isDirectory)
        assert(!Dispatch.broadcastSized(spark, Dispatch.graphNodeRows(spark, sf10)))
    }
  }

  test("dispatched result equals both variants (either side of the flip)") {
    val n = Dispatch.graphNodeRows(spark, sf)
    val broadcastSide = withThreshold("1GB") {
      assert(Dispatch.broadcastSized(spark, n))
      canon(Dispatch.labelPropAuto(spark, sf))
    }
    val copartSide = withThreshold("1") {
      assert(!Dispatch.broadcastSized(spark, n))
      canon(Dispatch.labelPropAuto(spark, sf))
    }
    assert(broadcastSide.nonEmpty)
    assert(broadcastSide == copartSide,
      "q182 and q182b disagree through the dispatcher")
  }

  test("assortativity dispatched result equals both variants") {
    val n = Dispatch.graphNodeRows(spark, sf)
    val naive = withThreshold("1GB") {
      assert(Dispatch.broadcastSized(spark, n))
      canon(Dispatch.assortativityAuto(spark, sf))
    }
    val bucketed = withThreshold("1") {
      assert(!Dispatch.broadcastSized(spark, n))
      canon(Dispatch.assortativityAuto(spark, sf))
    }
    assert(naive.nonEmpty)
    // corr-form and moment-form are the same Pearson r rounded to 4
    // decimals; equality of the canonical rows IS the cross-variant check
    assert(naive == bucketed, "q203 and q203b disagree through the dispatcher")
  }

  test("semi-join selection flips at the broadcast threshold; both regimes oracle-equal") {
    // any local-decade filtered dim (469 rows) is broadcast-sized at the
    // default threshold, and never with broadcast disabled
    val dimRows = 469
    val sf01 = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(SemiJoin.plainSemiJoin(spark, sf01))
    assert(Dispatch.broadcastSized(spark, dimRows))
    assert(rows(SemiJoin.autoSemiJoin(spark, sf01)) == plain, "broadcast regime diverges")
    withThreshold("-1") {
      assert(!Dispatch.broadcastSized(spark, dimRows))
      assert(rows(SemiJoin.autoSemiJoin(spark, sf01)) == plain, "bloom regime diverges")
    }
  }

  // ----------------------------------------------------------- skew rule

  test("skew rule flips just above and below kappa") {
    val k = Dispatch.MaxMeanPostings
    assert(Dispatch.skewed(math.nextUp(k)))
    assert(!Dispatch.skewed(k))
    assert(!Dispatch.skewed(math.nextDown(k)))
    assert(!Dispatch.skewed(0.0)) // an empty posting frame
  }

  /** ρ by q169c's own probe over q169c's own posting frame. */
  private def q169cRho(d: String): Double =
    Dispatch.rhoFromEx(Dispatch.containmentFrames(spark, d)._2)

  test("containment skew probe: rho is in the measured disjoint band") {
    // sf0.01 measured rho = 1.50 (duckdb cross-check) — far under
    // kappa=8, so the gate corpus always runs the exact counting join
    val rho = q169cRho("/root/testdata/sf0.01")
    assert(rho > 1.0 && rho < 3.0, s"rho out of measured band: $rho")
    assert(!Dispatch.skewed(rho))
  }

  test("containment dispatched result equals both variants") {
    // both branch bodies over the one posting frame q169c builds
    val (sh, ex) = Dispatch.containmentFrames(spark, sf)
    val exact = canon(graft.llm.Dedup.containmentJoinFromEx(ex, 0.9))
    val prefix = canon(graft.llm.Dedup.containmentPrefixFromShEx(sh, ex, 0.9))
    assert(exact.nonEmpty)
    assert(exact == prefix, "q169 and q169b disagree through the dispatcher")
    assert(canon(Dispatch.containmentAuto(spark, sf)) == exact)
  }

  test("containment calibration: zipf corpus flips to prefix at default kappa") {
    // testdata/sf1z (zipf R=10, gitignored scale corpus): measured
    // rho = 9.72 > kappa=8; disjoint replication stays at 5.89 < 8 at
    // ANY R. Guarded: the corpus is regenerated, not committed.
    val z = "testdata/sf1z"
    if (new java.io.File(z).isDirectory) {
      val rho = q169cRho(z)
      assert(rho > 8.0 && rho < 12.0, s"zipf rho out of measured band: $rho")
      assert(Dispatch.skewed(rho))
      val d = "testdata/sf1"
      if (new java.io.File(d).isDirectory) {
        val rd = q169cRho(d)
        assert(rd > 4.0 && rd < 8.0, s"disjoint rho out of measured band: $rd")
        assert(!Dispatch.skewed(rd))
      }
    }
  }
}
