package graft

import org.scalatest.funsuite.AnyFunSuite

/** Properties for the round-10 preference/eval/privacy tier
  * (queries/Relational12.scala), beyond the driver's oracle gate:
  * comparison-count conservation and the Bradley–Terry MM stationarity
  * condition (q217/q217b), reliability-diagram internal consistency
  * (q218), the split-conformal coverage guarantee (q219), and
  * contribution-bounding / additivity of the DP release (q220). The
  * oracle proves the numbers match DuckDB; these prove the numbers mean
  * what the operators claim.
  */
class PrefEvalSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.01"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q217: every pair's outcomes partition its comparisons") {
    val rows = run("q217_pref_pairs").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wa, wb, t, n) = (r.getAs[Long]("wins_a"), r.getAs[Long]("wins_b"),
        r.getAs[Long]("ties"), r.getAs[Long]("n_users"))
      assert(wa + wb + t == n, s"$r: wins_a+wins_b+ties != n_users")
      assert(r.getAs[String]("item_a") < r.getAs[String]("item_b"))
    }
    // all unordered pairs of the observed items appear exactly once
    val items = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct
    assert(rows.length == items.length * (items.length - 1) / 2)
  }

  test("q217b: ratings satisfy the Bradley–Terry MM stationarity condition") {
    val pairs = run("q217_pref_pairs").collect().map { r =>
      (r.getString(0), r.getString(1), r.getAs[Long]("wins_a"),
        r.getAs[Long]("wins_b"), r.getAs[Long]("ties"))
    }
    val rating = run("q217b_bradley_terry").collect()
      .map(r => r.getAs[String]("item") -> r.getAs[Double]("rating")).toMap
    // stationarity: W_i = Σ_j n_ij · p_i / (p_i + p_j) at the fixpoint
    val wins = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val expWins = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    pairs.foreach { case (a, b, wa, wb, t) =>
      wins(a) += wa + 0.5 * t; wins(b) += wb + 0.5 * t
      val n = (wa + wb + t).toDouble
      expWins(a) += n * rating(a) / (rating(a) + rating(b))
      expWins(b) += n * rating(b) / (rating(a) + rating(b))
    }
    rating.keys.foreach { it =>
      // ratings are rounded to 4 decimals, so stationarity holds to ~1e-2
      // on win totals of O(300)
      assert(math.abs(wins(it) - expWins(it)) < 1.0,
        s"$it: W=${wins(it)} vs MM-expected ${expWins(it)}")
    }
    // geometric-mean normalization: Σ ln(p) ≈ 0
    val logSum = rating.values.map(math.log).sum
    assert(math.abs(logSum) < 1e-3, s"ratings not gm-normalized: $logSum")
    // rank is the descending-rating permutation
    val ranked = run("q217b_bradley_terry").collect()
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("rating"))
    assert(ranked.sameElements(ranked.sortBy(-(_: Double))))
  }

  test("q218: reliability diagram is internally consistent and ECE is its weighted gap") {
    val rows = run("q218_calibration_ece").collect()
    assert(rows.length >= 5, "score distribution should spread over ≥5 bins")
    val n = rows.map(_.getAs[Long]("n")).sum
    val weightedGap = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("bin_gap")).sum / n
    val ece = rows.head.getAs[Double]("ece")
    rows.foreach { r =>
      assert(r.getAs[Double]("ece") == ece, "ece must be constant across bins")
      Seq("conf", "acc", "bin_gap").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v out of [0,1]")
      }
      val bin = r.getAs[Int]("bin")
      assert(bin >= 0 && bin <= 9)
      // bin_gap = |acc − conf| up to the two independent floor-4 roundings
      assert(math.abs(r.getAs[Double]("bin_gap") -
        math.abs(r.getAs[Double]("acc") - r.getAs[Double]("conf"))) <= 2e-4, r.toString)
    }
    // ece = Σ n_b·gap_b / N up to per-bin rounding
    assert(math.abs(ece - weightedGap) <= 2e-4, s"ece=$ece vs weighted gap=$weightedGap")
  }

  test("q219: split-conformal coverage honors the 1−α guarantee per group") {
    val rows = run("q219_conformal").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cov = r.getAs[Double]("coverage")
      // marginal guarantee is ≥ 0.9 in expectation over splits; one
      // realized split concentrates within ~2/√n of it at n≈1000
      assert(cov >= 0.85 && cov <= 0.97,
        s"${r.getAs[String]("event_type")}: coverage $cov outside [0.85, 0.97]")
      assert(r.getAs[Double]("qhat") > 0.0)
      assert(math.abs(r.getAs[Double]("mean_width") - 2 * r.getAs[Double]("qhat")) <= 2e-4)
      val (nc, nt) = (r.getAs[Long]("n_calib"), r.getAs[Long]("n_test"))
      // md5 split is unweighted 50/50: halves within 10% of each other
      assert(math.abs(nc - nt) < 0.1 * (nc + nt), s"split skewed: $nc vs $nt")
    }
  }

  test("q220: DP release bounds per-user contribution and adds the declared noise") {
    val rows = run("q220_dp_counts_replay").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, capped) = (r.getAs[Long]("n_raw"), r.getAs[Long]("n_capped"))
      assert(capped <= raw, s"$r: clamp increased a count")
      assert(math.abs(r.getAs[Double]("n_noisy") - capped - r.getAs[Double]("noise")) <= 2e-4)
    }
    // brute-force the contribution clamp on the collected events
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("week", col("ts")).as("wk"), col("user_id"))
      .collect()
      .groupBy(r => (r.getString(0), r.get(1)))
      .map { case (k, rs) =>
        k -> rs.groupBy(_.getLong(2)).values.map(g => math.min(g.length, 5)).sum.toLong
      }
    rows.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.get(1))
      assert(ev(k) == r.getAs[Long]("n_capped"),
        s"$k: brute-force clamp ${ev(k)} != ${r.getAs[Long]("n_capped")}")
    }
    // Laplace(b=5) noise: mean |noise| should be near b (loose 2σ band)
    val absNoise = rows.map(r => math.abs(r.getAs[Double]("noise")))
    val meanAbs = absNoise.sum / absNoise.length
    assert(meanAbs > 1.0 && meanAbs < 15.0, s"mean |noise| $meanAbs implausible for b=5")
  }

  test("q220b: secure draw is Laplace(b=5)-distributed and fresh per run") {
    // distribution gate on the UDF itself (10k draws, far tighter than
    // the release frame's ~40 cells allows): Laplace(b) has mean 0,
    // E|x| = b, P(x<0) = 1/2 — check each within a generous 4σ band
    val draws = Array.fill(10000) {
      val u = graft.queries.SecureNoise.rng.get().nextDouble() - 0.5
      -5.0 * math.signum(u) * math.log(1.0 - 2.0 * math.abs(u))
    }
    val mean = draws.sum / draws.length
    val meanAbs = draws.map(math.abs).sum / draws.length
    val negFrac = draws.count(_ < 0).toDouble / draws.length
    assert(math.abs(mean) < 0.3, s"secure Laplace mean $mean not ~0")    // σ≈0.071
    assert(math.abs(meanAbs - 5.0) < 0.25, s"E|x| $meanAbs not ~b=5")    // σ≈0.05
    assert(math.abs(negFrac - 0.5) < 0.02, s"sign split $negFrac not ~1/2")
    // end-to-end: audit columns exact, noise consistent within one run,
    // and two RUNS disagree (freshness — the property the replay draw
    // deliberately lacks)
    val r1 = run("q220b_dp_counts_secure").collect()
    val r2 = run("q220b_dp_counts_secure").collect()
    assert(r1.nonEmpty)
    r1.foreach { r =>
      assert(r.getAs[Long]("n_capped") <= r.getAs[Long]("n_raw"))
      assert(math.abs(r.getAs[Double]("n_noisy") - r.getAs[Long]("n_capped")
        - r.getAs[Double]("noise")) <= 2e-4, s"$r: noise/n_noisy drew twice")
    }
    def noiseMap(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[String]("event_type"), r.get(1)) -> r.getAs[Double]("noise")).toMap
    val (m1, m2) = (noiseMap(r1), noiseMap(r2))
    assert(m1.keySet == m2.keySet)
    assert(m1.exists { case (k, v) => m2(k) != v }, "secure draw replayed identically")
  }

  test("q221: entropy l-diversity is bounded by the distinct count and flags agree") {
    val rows = run("q221_l_diversity").collect()
    assert(rows.length > 50, "QI grid should be nation × segment sized")
    rows.foreach { r =>
      val (l, el) = (r.getAs[Long]("l_distinct"), r.getAs[Double]("entropy_l"))
      // exp(H) ≤ support size, = 1 for a homogeneous group (up to rounding)
      assert(el >= 1.0 - 1e-4 && el <= l + 1e-4,
        s"$r: entropy_l $el outside [1, l_distinct=$l]")
      assert(r.getAs[Boolean]("l_diverse") == (l >= 3 && el >= 3.0), r.toString)
      assert(r.getAs[Long]("n") >= l)
    }
    assert(rows.exists(!_.getAs[Boolean]("l_diverse")),
      "fixture should contain at least one homogeneity-risk group")
  }

  test("q222: SPRT verdicts lock at the first crossing and cumulative counts are monotone") {
    val byType = run("q222_sprt").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.sortBy(_.getAs[java.sql.Timestamp]("day").getTime) }
    assert(byType.nonEmpty)
    val upper = math.log(0.95 / 0.05)
    byType.foreach { case (t, rs) =>
      val verdicts = rs.map(_.getAs[String]("verdict"))
      // once decided, never back to continue, never a different decision
      val decided = verdicts.dropWhile(_ == "continue")
      assert(decided.distinct.length <= 1, s"$t: verdict flipped after lock: ${verdicts.mkString(",")}")
      // the locked verdict matches the llr's first bound crossing
      val firstCross = rs.find(r => math.abs(r.getAs[Double]("llr")) >= upper - 1e-3)
      (decided.headOption, firstCross) match {
        case (Some(v), Some(r)) =>
          val expect = if (r.getAs[Double]("llr") > 0) "accept_h1" else "accept_h0"
          assert(v == expect, s"$t: locked $v but first crossing was ${r.getAs[Double]("llr")}")
        case _ => ()
      }
      // cumulative monotonicity, k ≤ n
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("n_cum") >= a.getAs[Long]("n_cum"))
          assert(b.getAs[Long]("k_cum") >= a.getAs[Long]("k_cum"))
        case _ => ()
      }
      rs.foreach(r => assert(r.getAs[Long]("k_cum") <= r.getAs[Long]("n_cum")))
    }
  }

  test("q223: θ is the pooled cov/var and the pooled CUPED identity var(y_c) = var_y(1−ρ²) holds") {
    import org.apache.spark.sql.functions._
    val rows = run("q223_cuped").collect()
    assert(rows.map(_.getAs[String]("arm")).sorted.sameElements(Array("control", "treat")))
    // brute-force the pooled moments from the same per-user frame
    val split = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val u = graft.core.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(sum(when(col("ts") < lit(split), floor(col("value") * 100 + 0.5))
          .otherwise(0L)).as("x"),
        sum(when(col("ts") >= lit(split), floor(col("value") * 100 + 0.5))
          .otherwise(0L)).as("y"))
      .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val n = u.length.toDouble
    val (mx, my) = (u.map(_._1).sum / n, u.map(_._2).sum / n)
    val cov = u.map { case (x, y) => (x - mx) * (y - my) }.sum / n
    val (vx, vy) = (u.map(t => (t._1 - mx) * (t._1 - mx)).sum / n,
      u.map(t => (t._2 - my) * (t._2 - my)).sum / n)
    val theta = cov / vx
    rows.foreach(r => assert(math.abs(r.getAs[Double]("theta") - theta) <= 2e-4,
      s"theta ${r.getAs[Double]("theta")} vs brute-force $theta"))
    // pooled identity: var of the adjusted metric over ALL users = vy(1−ρ²)
    val rho2 = cov * cov / (vx * vy)
    val vyc = u.map { case (x, y) =>
      val yc = y - theta * (x - mx); (yc - my) * (yc - my)
    }.sum / n
    assert(math.abs(vyc - vy * (1 - rho2)) / vy < 1e-9,
      s"CUPED identity broken: $vyc vs ${vy * (1 - rho2)}")
    // per-arm means: the adjustment shifts by −θ·(arm mean_x − pooled mean_x)
    rows.foreach { r =>
      val (m0, mc) = (r.getAs[Double]("mean_y"), r.getAs[Double]("mean_y_cuped"))
      assert(math.abs(m0 - mc) < 100.0, s"adjustment implausibly large: $m0 vs $mc")
      assert(r.getAs[Double]("sd_y") > 0 && r.getAs[Double]("sd_y_cuped") > 0)
    }
  }

  test("q224: SRM counts partition, the ALL row sums the slices, flags match the statistic") {
    val rows = run("q224_srm").collect()
    val slices = rows.filter(_.getAs[String]("slice") != "ALL")
    val all = rows.find(_.getAs[String]("slice") == "ALL").get
    assert(slices.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_treat") + r.getAs[Long]("n_control") == r.getAs[Long]("n"))
      assert(r.getAs[Double]("chi2") >= 0.0)
      // rounded chi2 vs the flag's raw comparison agree away from the cut
      val c = r.getAs[Double]("chi2")
      if (math.abs(c - 3.8415) > 1e-3)
        assert(r.getAs[Boolean]("srm_flag") == (c > 3.8415), r.toString)
    }
    assert(slices.map(_.getAs[Long]("n")).sum == all.getAs[Long]("n"))
    assert(slices.map(_.getAs[Long]("n_treat")).sum == all.getAs[Long]("n_treat"))
    // a fair md5 split on this fixture should NOT flag overall
    assert(!all.getAs[Boolean]("srm_flag"), s"unexpected SRM on a fair split: $all")
  }
}
