package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dispatch

/** Pick-by-size dispatch (operators/Dispatch): the lever-pair selection
  * must flip at the session's broadcast threshold, and the dispatched
  * result must equal BOTH variants (they share one oracle). */
class DispatchSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  private def withThreshold[T](t: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, t)
    try body finally spark.conf.set(key, old)
  }

  test("estimate is positive and decade-plausible at sf0.001") {
    val b = Dispatch.lpaLabelFrameBytes(spark, sf)
    // sf0.001: 150 customers + 10 suppliers — the label frame estimate
    // must land well under a MB and above nothing
    assert(b > 0 && b < (1 << 20), s"implausible label-frame estimate: $b")
  }

  test("selection flips exactly at the broadcast threshold") {
    val est = Dispatch.lpaLabelFrameBytes(spark, sf)
    withThreshold((est * 2).toString) {
      assert(Dispatch.chooseLabelProp(spark, sf) == "broadcast")
    }
    withThreshold(((est / 2).max(BigInt(1))).toString) {
      assert(Dispatch.chooseLabelProp(spark, sf) == "copart")
    }
    withThreshold("-1") { // broadcast disabled → never pick the broadcast plan
      assert(Dispatch.chooseLabelProp(spark, sf) == "copart")
    }
  }

  test("calibration: default threshold picks broadcast at sf0.1, copart at sf10") {
    // the measured bracket (BASELINE.md): q182 wins at sf0.1, OOMs at
    // sf10/8 GiB — the default 10 MB threshold must put the flip between
    withThreshold("10MB") {
      assert(Dispatch.chooseLabelProp(spark, "/root/testdata/sf0.1") == "broadcast")
      val sf10 = "testdata/sf10"
      if (new java.io.File(sf10).isDirectory)
        assert(Dispatch.chooseLabelProp(spark, sf10) == "copart")
    }
  }

  test("dispatched result equals both variants (either side of the flip)") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val broadcastSide = withThreshold("1GB") {
      assert(Dispatch.chooseLabelProp(spark, sf) == "broadcast")
      canon(Dispatch.labelPropAuto(spark, sf))
    }
    val copartSide = withThreshold("1") {
      assert(Dispatch.chooseLabelProp(spark, sf) == "copart")
      canon(Dispatch.labelPropAuto(spark, sf))
    }
    assert(broadcastSide.nonEmpty)
    assert(broadcastSide == copartSide,
      "q182 and q182b disagree through the dispatcher")
  }

  // ------------------------------------------------------------ q203c

  test("assortativity selection flips at the broadcast threshold") {
    val est = Dispatch.lpaLabelFrameBytes(spark, sf)
    withThreshold((est * 2).toString) {
      assert(Dispatch.chooseAssortativity(spark, sf) == "naive")
    }
    withThreshold(((est / 2).max(BigInt(1))).toString) {
      assert(Dispatch.chooseAssortativity(spark, sf) == "bucketed")
    }
    withThreshold("-1") {
      assert(Dispatch.chooseAssortativity(spark, sf) == "bucketed")
    }
  }

  test("assortativity dispatched result equals both variants") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val naive = withThreshold("1GB") {
      assert(Dispatch.chooseAssortativity(spark, sf) == "naive")
      canon(Dispatch.assortativityAuto(spark, sf))
    }
    val bucketed = withThreshold("1") {
      assert(Dispatch.chooseAssortativity(spark, sf) == "bucketed")
      canon(Dispatch.assortativityAuto(spark, sf))
    }
    assert(naive.nonEmpty)
    // corr-form and moment-form are the same Pearson r rounded to 4
    // decimals; equality of the canonical rows IS the cross-variant check
    assert(naive == bucketed, "q203 and q203b disagree through the dispatcher")
  }

  // ------------------------------------------------------------ q169c

  test("containment skew probe: rho is in the measured disjoint band") {
    // sf0.01 measured rho = 1.50 (duckdb cross-check, round 10) — far
    // under the default kappa=8, so the gate corpus always picks exact
    val rho = Dispatch.containmentSkewRho(spark, "/root/testdata/sf0.01")
    assert(rho > 1.0 && rho < 3.0, s"rho out of measured band: $rho")
    assert(Dispatch.chooseContainment(spark, "/root/testdata/sf0.01") == "exact")
  }

  test("containment selection flips at the kappa threshold") {
    val key = Dispatch.ContainmentMaxMeanPostingsKey
    val rho = Dispatch.containmentSkewRho(spark, sf)
    spark.conf.set(key, (rho * 2).toString)
    try assert(Dispatch.chooseContainment(spark, sf) == "exact")
    finally spark.conf.unset(key)
    spark.conf.set(key, (rho / 2).toString)
    try assert(Dispatch.chooseContainment(spark, sf) == "prefix")
    finally spark.conf.unset(key)
  }

  test("containment dispatched result equals both variants") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val key = Dispatch.ContainmentMaxMeanPostingsKey
    val exact = {
      spark.conf.set(key, "1e18")
      try { assert(Dispatch.chooseContainment(spark, sf) == "exact")
            canon(Dispatch.containmentAuto(spark, sf)) }
      finally spark.conf.unset(key)
    }
    val prefix = {
      spark.conf.set(key, "0.0")
      try { assert(Dispatch.chooseContainment(spark, sf) == "prefix")
            canon(Dispatch.containmentAuto(spark, sf)) }
      finally spark.conf.unset(key)
    }
    assert(exact == prefix, "q169 and q169b disagree through the dispatcher")
  }

  // ------------------------------------------------------------ q149c

  test("curate dedup selection flips at the kappa threshold") {
    val key = Dispatch.CurateMaxMeanPostingsKey
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val rho = Dispatch.ngramSkewRho(docs)
    assert(rho > 1.0, s"implausible curate rho: $rho")
    spark.conf.set(key, (rho * 2).toString)
    try assert(Dispatch.chooseCurateDedup(spark, docs) == "exact")
    finally spark.conf.unset(key)
    spark.conf.set(key, (rho / 2).toString)
    try assert(Dispatch.chooseCurateDedup(spark, docs) == "minhash")
    finally spark.conf.unset(key)
  }

  test("curate dispatched funnel equals both variants") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val key = Dispatch.CurateMaxMeanPostingsKey
    val exact = {
      spark.conf.set(key, "1e18")
      try canon(Dispatch.curateAuto(spark, sf))
      finally spark.conf.unset(key)
    }
    val minhash = {
      spark.conf.set(key, "0.0")
      try canon(Dispatch.curateAuto(spark, sf))
      finally spark.conf.unset(key)
    }
    assert(exact.nonEmpty)
    assert(exact == minhash, "q149 and q149b disagree through the dispatcher")
  }

  test("containment calibration: zipf corpus flips to prefix at default kappa") {
    // testdata/sf1z (zipf R=10, gitignored scale corpus): measured
    // rho = 9.72 > kappa=8; disjoint replication stays at 5.89 < 8 at
    // ANY R. Guarded: the corpus is regenerated per round, not committed.
    val z = "testdata/sf1z"
    if (new java.io.File(z).isDirectory) {
      val rho = Dispatch.containmentSkewRho(spark, z)
      assert(rho > 8.0 && rho < 12.0, s"zipf rho out of measured band: $rho")
      assert(Dispatch.chooseContainment(spark, z) == "prefix")
      val d = "testdata/sf1"
      if (new java.io.File(d).isDirectory) {
        val rd = Dispatch.containmentSkewRho(spark, d)
        assert(rd > 4.0 && rd < 8.0, s"disjoint rho out of measured band: $rd")
        assert(Dispatch.chooseContainment(spark, d) == "exact")
      }
    }
  }

  test("semi-join selection flips at the broadcast threshold; both regimes oracle-equal") {
    import graft.operators.SemiJoin
    // default 10 MB threshold: any local-decade filtered dim is broadcast-sized
    assert(SemiJoin.chooseSemiJoin(spark, sf, dimRows = 469) == "broadcast")
    // the flip is the session's own definition of broadcast-sized
    withThreshold((468 * Dispatch.BroadcastBytesPerRow).toString) {
      assert(SemiJoin.chooseSemiJoin(spark, sf, 469) == "bloom")
    }
    withThreshold("-1") { // broadcast disabled ⇒ must take the bloom+shuffle plan
      assert(SemiJoin.chooseSemiJoin(spark, sf, 1) == "bloom")
    }
    // dispatched result equals the pair on BOTH sides of the flip
    val sf01 = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(SemiJoin.plainSemiJoin(spark, sf01))
    assert(rows(SemiJoin.autoSemiJoin(spark, sf01)) == plain, "broadcast regime diverges")
    withThreshold("-1") {
      assert(rows(SemiJoin.autoSemiJoin(spark, sf01)) == plain, "bloom regime diverges")
    }
  }
}
