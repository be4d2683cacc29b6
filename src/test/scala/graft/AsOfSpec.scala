package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AsOf

class AsOfSpec extends AnyFunSuite with LocalSpark {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("backward as-of picks most recent right row at-or-before, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),  // after p1, before p2
      (2L, 10L, ts("2024-01-01 12:00:00")),  // after p2
      (3L, 10L, ts("2024-01-01 08:00:00")),  // before any purchase → null
      (4L, 20L, ts("2024-01-01 10:30:00")),  // exactly at p3 → inclusive
      (5L, 30L, ts("2024-01-01 10:00:00")))  // user with no purchases → null
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 09:00:00"), 5.0),
      (102L, 10L, ts("2024-01-01 11:00:00"), 7.0),
      (103L, 20L, ts("2024-01-01 10:30:00"), 9.0))
      .toDF("purchase_id", "user_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("purchase_id"), col("value"))

    val got = AsOf.asofBackward(left, right, "user_id", "ts", Seq("purchase_id", "value"))
      .select(col("event_id"), col("__match.purchase_id").as("pid"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    assert(got == Map(1L -> 101L, 2L -> 102L, 3L -> -1L, 4L -> 103L, 5L -> -1L))
  }

  test("q41 matches a brute-force as-of on real events (sf0.001)") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                 r.getTimestamp(3).getTime, r.getDouble(4)))
    val purchases = ev.filter(_._3 == "purchase").groupBy(_._2)
    val expected = ev.filter(_._3 == "click").map { c =>
      val prior = purchases.getOrElse(c._2, Array.empty)
        .filter(_._4 <= c._4)
      c._1 -> (if (prior.isEmpty) -1L else prior.maxBy(p => (p._4, p._1))._1)
    }.toMap
    val got = AsOf.clickToPurchase(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got == expected)
    assert(expected.values.exists(_ == -1L) || expected.nonEmpty)
  }
}
