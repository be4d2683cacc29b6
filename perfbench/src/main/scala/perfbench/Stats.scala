package perfbench

/** The few statistics the benchmark reports, kept in one place so their
  * rules are tested. */
object Stats {
  /** Samples a percentile must leave beyond itself before it is reported:
    * p90 needs 100 samples, p50 needs 20. */
  val MinTail = 10

  def minSamples(p: Double): Int = math.ceil(MinTail / (1.0 - p) - 1e-9).toInt

  /** Nearest-rank percentile, or None when fewer than `MinTail` samples lie
    * beyond it. */
  def percentile(samples: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p")
    if (samples.length < minSamples(p)) None
    else {
      val sorted = samples.sorted
      Some(sorted(math.max(0, math.ceil(p * sorted.length).toInt - 1)))
    }
  }

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(samples: Seq[Double]): Double = {
    require(samples.nonEmpty && samples.forall(_ > 0), "geomean needs positive samples")
    math.exp(samples.map(math.log).sum / samples.length)
  }

  /** The two figures every workload reports about its timed work, from the
    * walls (seconds) of its fixed set of operations grouped by kind: their
    * sum in seconds, and the geometric mean over the kinds of each kind's
    * median wall, in milliseconds. Each kind weighs the same in the mean,
    * however many times it runs. */
  def work(kinds: Seq[Seq[Double]]): (Double, Double) = {
    require(kinds.nonEmpty && kinds.forall(_.nonEmpty), "every operation kind needs a wall")
    (kinds.flatten.sum, geomean(kinds.map(k => 1000 * median(k))))
  }

  /** Self time of each stage of a chain from the walls of its materialized
    * prefixes: prefix i runs stages 1..i, so stage i costs wall(i) − wall(i−1).
    * A negative self time is kept as measured: it says the stage is below
    * the noise of the prefix walls. */
  def selfTimes(prefixWalls: Seq[(String, Double)]): Seq[(String, Double)] =
    prefixWalls.zipWithIndex.map { case ((name, wall), i) =>
      name -> (if (i == 0) wall else wall - prefixWalls(i - 1)._2)
    }
}
