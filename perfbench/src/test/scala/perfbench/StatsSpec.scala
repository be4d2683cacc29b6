package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile needs ten samples beyond it") {
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.5) == 20)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).contains(90.0))
    assert(Stats.percentile(xs, 0.5).contains(50.0))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
  }

  test("median and geomean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
  }

  test("work totals: summed walls, and each kind weighs the same in the geomean") {
    val (wall, geomeanMs) = Stats.work(Seq(Seq(4.0, 2.0, 3.0), Seq(0.1), Seq(0.3, 0.3)))
    assert(math.abs(wall - 9.7) < 1e-12)
    assert(math.abs(geomeanMs - math.cbrt(3000.0 * 100.0 * 300.0)) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.work(Seq(Seq(1.0), Nil)))
  }

  test("prefix walls turn into self times that sum to the whole chain") {
    val self = Stats.selfTimes(Seq("read" -> 1.0, "ingest" -> 3.0, "stage" -> 3.5, "zone" -> 3.25))
    assert(self == Seq("read" -> 1.0, "ingest" -> 2.0, "stage" -> 0.5, "zone" -> -0.25))
    assert(math.abs(self.map(_._2).sum - 3.25) < 1e-12)
  }

  test("span self time excludes child spans") {
    val t = new Trace(enabled = true)
    t.span("outer", "r1") { t.span("inner", "r1") { Thread.sleep(20) }; Thread.sleep(10) }
    val s = t.all.map(x => x.name -> x).toMap
    assert(s("inner").parent == s("outer").id && s("outer").parent == -1)
    assert(s("inner").requestId == "r1")
    val self = t.selfTimesNs
    assert(self("outer") == s("outer").durNs - s("inner").durNs)
    assert(new Trace(enabled = false).span("x")(42) == 42)
  }
}
