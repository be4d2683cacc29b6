package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Float-rounding-boundary gate for the model-fitting query class
  * (VERDICT r09 "What's wrong #2").
  *
  * The q190 lesson: a hashed `round(<float aggregate>, 4)` column whose
  * unrounded value sits within ulps of a `(n + 0.5)·10⁻⁴` boundary can
  * flip across engines/versions/layouts (regr_* and sum folds are
  * order-dependent), turning a rows-and-schema-clean query into a
  * hash-FAIL that no same-host rerun reproduces. Every fit-class site is
  * enumerated here, and its RAW (unrounded) frame is asserted ≥ [[MinUlps]]
  * ulps away from the nearest rounding boundary at the driver gate's scale
  * (sf0.01) — so a value drifting toward a boundary fails THIS spec before
  * it can fail the driver gate nondeterministically. A site that cannot
  * keep this margin must be golden-pinned instead (pin_goldens.py — the
  * q117/q190b mechanism).
  *
  * Sites NOT enumerated, and why:
  *  - q117_pca_variance, q190b_heaps_fit: golden-pinned (the oracle is a
  *    VALUES literal compared to Spark's own deterministic output — no
  *    second engine recomputes the floats).
  *  - round(avg/sum…) metric columns outside the fit class: their inputs
  *    are exact (integers / 2-decimal pseudo-money), so the aggregates
  *    land on short decimal values whose distance to a half-ulp boundary
  *    is astronomically large; the fit class (log-regressions, cosines)
  *    is where irrational intermediates make near-boundary values live.
  */
class BoundarySpec extends AnyFunSuite with LocalSpark {

  /** The driver gate's scale — boundary distance is only meaningful at
    * the sf the hash compare actually runs. */
  private val sf = "/root/testdata/sf0.01"

  /** Required distance from the nearest rounding boundary, in ulps of the
    * value. Cross-engine fold-order drift measures ~1e1–1e3 ulps on these
    * frame sizes; 1e4 leaves an order of magnitude of headroom while still
    * being ~1e-12 absolute on O(1) values — 8 orders below the expected
    * ~2.5e-5 distance of a uniformly-placed value. */
  private val MinUlps = 1e4

  /** Assert every value of `col` in the raw frame is far from a
    * `digits`-digit rounding boundary AND not a near-zero sign hazard
    * (round(±ε) → ±0.0 — the exact q190 failure at sf0.01). */
  private def assertFarFromBoundary(site: String, df: DataFrame,
                                    cols: Seq[String], digits: Int = 4): Unit = {
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
    assert(rows.nonEmpty, s"$site: raw frame is empty at sf0.01")
    for (row <- rows; (c, i) <- cols.zipWithIndex) {
      val v = row.getDouble(i)
      if (!v.isNaN && !v.isInfinite) {
        // near-zero sign hazard: a tiny ±ε rounds to ±0.0 with an
        // engine-dependent sign; exactly 0.0 is safe (both engines agree)
        assert(v == 0.0 || math.abs(v) > 1e-10,
          s"$site.$c = $v: within sign-flip range of 0 — pin this query")
        val scale = math.pow(10, digits)
        val frac = v * scale - math.floor(v * scale)
        val dist = math.abs(frac - 0.5) / scale // distance to boundary, value units
        val ulps = dist / math.ulp(v)
        assert(ulps >= MinUlps,
          s"$site.$c = $v sits $ulps ulps from a round-$digits boundary " +
            s"(need ≥ $MinUlps) — pin this query or respell the fit")
      }
    }
  }

  test("q74: regression/moment aggregates sit far from round-4 boundaries") {
    assertFarFromBoundary("q74_regr", graft.queries.Relational7.q74Raw(spark, sf),
      Seq("slope", "intercept", "r2", "avg_qty", "avg_price",
        "med_disc", "skew_qty", "kurt_qty"))
  }

  test("q189: Zipf OLS fit sits far from round-4 boundaries") {
    assertFarFromBoundary("q189_zipf_slope",
      graft.llm.TextAnalysis.zipfSlopeRaw(spark, sf),
      Seq("zipf_slope", "ln_c1", "r2"))
  }

  test("q210: per-cohort decay slopes sit far from round-4 boundaries") {
    // the <0 filter runs on the ROUNDED slope, so every cohort's raw
    // slope matters (a boundary flip would change row membership too)
    assertFarFromBoundary("q210_churn_halflife",
      graft.queries.Relational11.q210Raw(spark, sf), Seq("decay_slope"))
  }

  test("q148: per-label drift cosines sit far from round-4 boundaries") {
    assertFarFromBoundary("q148_embedding_drift",
      graft.llm.Embeddings.embeddingDriftRaw(spark, sf), Seq("cosine_to_corpus"))
  }

  test("q203 family: assortativity corr sits far from round-4 boundaries") {
    // one site covers q203, q203b (moment spelling of the same value) and
    // q203c (dispatches between them): all three hash round(corr, 4)
    assertFarFromBoundary("q203_assortativity",
      graft.queries.Relational11.q203Raw(spark, sf),
      Seq("avg_deg", "assortativity"))
  }
}
