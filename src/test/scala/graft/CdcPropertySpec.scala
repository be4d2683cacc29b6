package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Cdc

/** Property-based invariants of the CDC/SCD2 operators against a
  * driver-side fold over the same random changelogs — the registered
  * queries (q104/q105) are these functions over the events table; here the
  * semantics are pinned independent of any fixed dataset. */
class CdcPropertySpec extends AnyFunSuite with LocalSpark {

  /** (key, ts, seq, op, payload) — seq is globally unique so (ts, seq) is a
    * total order even with colliding timestamps. */
  private def changelog(seed: Long, n: Int): Seq[(Long, Long, Long, String, Double)] = {
    val gen = for {
      key <- Gen.chooseNum(0L, 9L)
      ts <- Gen.chooseNum(0L, 20L) // dense range → many ts collisions
      op <- Gen.frequency(4 -> Gen.const("U"), 1 -> Gen.const("D"))
      v <- Gen.chooseNum(0, 1000).map(_ / 10.0)
    } yield (key, ts, op, v)
    (0 until n).flatMap { i =>
      gen(Gen.Parameters.default, Seed(seed * 10007 + i))
        .map { case (k, t, o, v) => (k, t, i.toLong, o, v) }
    }
  }

  test("malformed op (null or unknown) fails loudly instead of acting as a delete") {
    import spark.implicits._
    val bad = Seq((1L, 1L, 1L, "U", 1.0), (1L, 2L, 2L, null: String, 2.0))
      .toDF("key", "ts", "seq", "op", "v")
    val ex = intercept[Exception] {
      Cdc.applyChangelog(bad, "key", "ts", "seq", "op").collect()
    }
    assert(ex.getMessage.contains("malformed changelog") ||
      Option(ex.getCause).exists(_.getMessage.contains("malformed changelog")),
      s"expected the raise_error message, got: ${ex.getMessage}")
    val ex2 = intercept[Exception] {
      Cdc.scd2(bad.withColumn("op", coalesce(col("op"), lit("X"))),
        "key", "ts", "seq", "op").collect()
    }
    assert(ex2.getMessage.contains("malformed changelog") ||
      Option(ex2.getCause).exists(_.getMessage.contains("malformed changelog")))
  }

  test("applyChangelog == driver-side fold in (ts, seq) order, any input order") {
    import spark.implicits._
    for (seed <- 0L until 8L) {
      val log = changelog(seed, 200)
      val df = Cdc.applyChangelog(
        log.toDF("key", "ts", "seq", "op", "v"), "key", "ts", "seq", "op")
      val got = df.select("key", "ts", "seq", "v").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val expect = log.groupBy(_._1).flatMap { case (k, rows) =>
        val last = rows.maxBy(r => (r._2, r._3))
        if (last._4 == "D") None else Some(k -> ((last._2, last._3, last._5)))
      }
      assert(got == expect, s"seed $seed: CDC state diverged from the fold")
    }
  }

  test("applyChangelog is idempotent: re-applying the merged state is a no-op") {
    import spark.implicits._
    val log = changelog(7L, 200)
    val state = Cdc.applyChangelog(
      log.toDF("key", "ts", "seq", "op", "v"), "key", "ts", "seq", "op")
    // the merged state, re-expressed as an all-upsert changelog
    val again = Cdc.applyChangelog(
      state.withColumn("op", lit("U")), "key", "ts", "seq", "op")
    val a = state.collect().map(_.toSeq).toSet
    val b = again.collect().map(_.toSeq).toSet
    assert(a == b, "second application changed the state")
  }

  test("scd2: upserts tile the timeline; a trailing tombstone leaves no open version") {
    import spark.implicits._
    for (seed <- 100L until 104L) {
      val log = changelog(seed, 150)
      val rows = Cdc.scd2(log.toDF("key", "ts", "seq", "op", "v"),
          "key", "ts", "seq", "op")
        .select("key", "ts", "seq", "valid_from", "valid_to", "is_current")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getBoolean(5)))
      assert(rows.length == log.count(_._4 != "D"),
        "SCD2 must keep every upsert and drop every tombstone")
      val lastOpByKey = log.groupBy(_._1)
        .map { case (k, rs) => k -> rs.maxBy(r => (r._2, r._3))._4 }
      rows.groupBy(_._1).foreach { case (k, versions) =>
        val ordered = versions.sortBy(v => (v._2, v._3))
        // consistency with applyChangelog: open version iff key not deleted
        if (lastOpByKey(k) == "D") {
          assert(ordered.forall(!_._6), s"key $k: deleted key has an open version")
        } else {
          assert(ordered.count(_._6) == 1, s"key $k: open-version count != 1")
          assert(ordered.last._6, s"key $k: current version is not the last")
        }
        // every closed upsert's valid_to equals the NEXT change's ts —
        // which is the next surviving version's valid_from unless the
        // closer was a tombstone (then it's the tombstone's ts)
        val changeTimes = log.filter(_._1 == k).map(r => (r._2, r._3)).sorted
        ordered.foreach { v =>
          assert(v._4 == v._2, "valid_from must be the row's own change time")
          v._5.foreach { to =>
            val next = changeTimes
              .dropWhile(c => c._1 < v._2 || (c._1 == v._2 && c._2 <= v._3))
              .headOption
            assert(next.exists(_._1 == to),
              s"key $k: valid_to $to is not the next change's ts")
          }
        }
      }
    }
  }
}
