package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Accuracy bounds for the sketch-based operators (no SQL oracle). */
class ApproxSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5% of exact (q10 contract)") {
    val exact = SparkEntry.queries("q10_count_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q10_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (flag, n) =>
      val a = approx(flag)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"flag=$flag approx=$a exact=$n off by more than 5%")
    }
  }

  test("approx_percentile median within 5% of exact per group") {
    SparkEntry.queries("q26_approx_percentile")(spark, sf).collect().foreach { r =>
      val approxMedian = r.getDouble(2) // approx_p50
      val exact = r.getDouble(4)
      assert(math.abs(approxMedian - exact) / exact <= 0.05,
        s"flag=${r.getString(0)}: approx=$approxMedian exact=$exact")
    }
  }

  // ------------------------------------------------------------ KMV (q162)
  /** Exact per-source bigram sets, driver-side, for the KMV assertions. */
  private lazy val bigramSets: Map[String, Set[String]] =
    graft.core.Tables.documents(spark, sf).select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        src -> rows.flatMap(_.getString(1).split(" ").sliding(2)
          .filter(_.length == 2).map(_.mkString(" "))).toSet
      }

  test("KMV sketch == the k smallest distinct hashes (aggregator vs reference)") {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val k = 64
    val hashes = spark.createDataFrame(
        bigramSets("src0").toSeq.map(Tuple1.apply)).toDF("b")
      .select(xxhash64(col("b")).bitwiseXOR(lit(Long.MinValue)).as("h"))
    val got = hashes.repartition(8)
      .agg(graft.functions.KmvSketch.sketch(col("h"), k))
      .head().getSeq[Long](0)
    val want = graft.functions.KmvSketch.reference(
      hashes.collect().map(_.getLong(0)).toSeq, k)
    assert(got == want, s"sketch mismatch: got ${got.take(5)}… want ${want.take(5)}…")
  }

  test("KMV distinct estimate within 15% of exact per source (q162, k=256)") {
    SparkEntry.queries("q162_kmv_overlap")(spark, sf).collect().foreach { r =>
      val (sa, est) = (r.getString(0), r.getDouble(2))
      val exact = bigramSets(sa).size.toDouble
      assert(math.abs(est - exact) / exact <= 0.15,
        s"source=$sa est=$est exact=$exact")
    }
  }

  test("KMV jaccard estimate within 0.12 absolute of exact overlap (q162)") {
    SparkEntry.queries("q162_kmv_overlap")(spark, sf).collect().foreach { r =>
      val (sa, sb, est) = (r.getString(0), r.getString(1), r.getDouble(4))
      val (a, b) = (bigramSets(sa), bigramSets(sb))
      val exact = (a & b).size.toDouble / (a | b).size
      assert(math.abs(est - exact) <= 0.12,
        s"pair=($sa,$sb) est=$est exact=$exact")
    }
  }
}
