package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's protocol: each query runs once, and one that throws is a
  * failure, not a timing. */
class BenchSpec extends AnyFunSuite with LocalSpark {

  test("a throwing query is counted in n_failed and left out of the total") {
    val run = Bench.time(spark, "", Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("stub failure"))))
    assert(run.timings.map(_.name) == Seq("ok"))
    assert(run.failed == Seq("boom"))
    assert(run.total == run.timings.head.wall)
    val line = Bench.jsonLine(run, "\"sf\":\"stub\"", run.timings)
    assert(line.contains("\"n_queries\":1,\"n_failed\":1,\"failed\":[\"boom\"]"), line)
    assert(line.contains(f"\"value\":${run.total}%.3f,"), line)
    assert(line.endsWith(f"\"queries\":{\"ok\":${run.total}%.3f}}"), line)
  }
}
