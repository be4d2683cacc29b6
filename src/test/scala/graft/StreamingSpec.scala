package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.streaming.StreamingPipeline
import graft.hl7.Pipeline

/** Streaming semantics (SURVEY.md §5.2.5): MemoryStream-driven checks of
  * stateful dedup, watermarks/late data, and foreachBatch idempotence. */
class StreamingSpec extends AnyFunSuite with LocalSpark {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming dedup holds state across micro-batches (A5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val out = StreamingPipeline.ingestStream(in.toDF().toDF("msg", "source"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val m1 = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|M1|P|2.5\rPID|1||X||N||19800101|M"
      val m2 = "MSH|^~\\&|A|B|C|D|20240102||ADT^A01|M2|P|2.5\rPID|1||Y||N||19900101|F"
      in.addData(("" + m1, "s1")); q.processAllAvailable()
      in.addData((m1, "s2"), (m2, "s1")); q.processAllAvailable() // m1 is a replay
      val got = spark.table("dedup_out").select("message_id").collect().map(_.getString(0))
      assert(got.length == 2, s"resent message must be dropped by state, got ${got.length}")
      assert(got.distinct.length == 2)
    } finally q.stop()
  }

  test("watermarked dedup drops replays inside the horizon (bounded-state A5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Timestamp)]
    val out = StreamingPipeline.ingestStreamWatermarked(
      in.toDF().toDF("msg", "source", "arrival_ts"), "arrival_ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("wmdedup_out")
      .outputMode("append").start()
    try {
      val m = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|W1|P|2.5\rPID|1||X||N||19800101|M"
      in.addData((m, "s1", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // replay within the watermark horizon: must be dropped
      in.addData((m, "s2", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      assert(spark.table("wmdedup_out").count() == 1)
    } finally q.stop()
  }

  test("watermark drops late events beyond the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamingPipeline.hourlyCounts(
      in.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
                 (ts("2024-01-01 10:45:00"), "click", 2.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      in.addData((ts("2024-01-01 13:00:00"), "click", 3.0))
      q.processAllAvailable()
      // this event is hours late — must be dropped, not re-open the window
      in.addData((ts("2024-01-01 10:10:00"), "click", 99.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 15:00:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("wm_out")
        .filter(col("bucket_start") === ts("2024-01-01 10:00:00")).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n") == 2, "late event must not be counted")
    } finally q.stop()
  }

  test("session windows split on the 5-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamingPipeline.userSessions(
      in.toDF().toDF("ts", "user_id").withColumn("value", lit(0.0)))
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:03:00"), 1L),
        (ts("2024-01-01 10:20:00"), 1L), // > 5 min gap ⇒ new session
        (ts("2024-01-01 10:00:00"), 2L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:00:00"), 99L)) // advance watermark to close sessions
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .filter(col("user_id") === 1L).collect()
      assert(got.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("observe surfaces per-micro-batch metrics in QueryProgress (streaming A17 counters)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    // the name-based overload: the Observation-object form rejects streams
    // (one metric row per micro-batch — read them from QueryProgress)
    val out = in.toDF().toDF("event_id", "value")
      .observe("batch_metrics", count(lit(1)).as("rows"), sum("value").as("total"))
    val q = out.writeStream.format("memory").queryName("obs_out")
      .outputMode("append").start()
    try {
      in.addData((1L, 2.5), (2L, 3.5))
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get("batch_metrics")
      assert(m != null, "observed metrics missing from QueryProgress")
      assert(m.getAs[Long]("rows") == 2L)
      assert(m.getAs[Double]("total") == 6.0)
    } finally q.stop()
  }

  test("complete output mode re-emits the whole aggregate per trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamingPipeline.hourlyCounts(
      in.toDF().toDF("ts", "user_id")
        .withColumn("value", lit(0.0)).withColumn("event_type", lit("click")))
    val q = out.writeStream.format("memory").queryName("complete_out")
      .outputMode("complete").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), 1L), (ts("2024-01-01 11:05:00"), 2L))
      q.processAllAvailable()
      // complete mode: a late-ish row UPDATES the old hour in the re-emitted
      // table (append mode would have to wait for the watermark and could
      // never revise); the sink always holds the full current result
      in.addData((ts("2024-01-01 10:30:00"), 3L))
      q.processAllAvailable()
      val got = spark.table("complete_out").collect()
        .map(r => r.getTimestamp(0).toString -> r.getAs[Long]("n")).toMap
      assert(got == Map("2024-01-01 10:00:00.0" -> 2L, "2024-01-01 11:00:00.0" -> 1L),
        s"complete-mode table wrong: $got")
    } finally q.stop()
  }

  test("dynamic-gap session windows: purchase gap closes faster than browse gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingPipeline.userSessionsDynamicGap(
      in.toDF().toDF("ts", "user_id", "event_type"))
    val q = out.writeStream.format("memory").queryName("dynsess_out")
      .outputMode("append").start()
    try {
      in.addData(
        // user 1: two clicks 2 min apart — inside the 5-minute browse gap
        (ts("2024-01-01 10:00:00"), 1L, "click"),
        (ts("2024-01-01 10:02:00"), 1L, "click"),
        // user 2: two purchases 2 min apart — OUTSIDE the 1-minute gap
        (ts("2024-01-01 10:00:00"), 2L, "purchase"),
        (ts("2024-01-01 10:02:00"), 2L, "purchase"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:00:00"), 99L, "click")) // advance watermark
      q.processAllAvailable()
      val bySessions = spark.table("dynsess_out")
        .groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bySessions(1L) == 1, s"same-gap clicks split: $bySessions")
      assert(bySessions(2L) == 2, s"fast-gap purchases merged: $bySessions")
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to clicks within the hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp, Double)]
    val out = StreamingPipeline.clickPurchaseJoin(
      clicks.toDF().toDF("event_id", "user_id", "ts").withColumn("value", lit(0.0)),
      purchases.toDF().toDF("event_id", "user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 7L, ts("2024-01-01 10:00:00")),
                     (2L, 8L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (100L, 7L, ts("2024-01-01 10:30:00"), 9.5),  // in-window, same user
        (101L, 8L, ts("2024-01-01 12:00:00"), 1.0),  // outside the hour
        (102L, 9L, ts("2024-01-01 10:15:00"), 2.0))  // no matching click
      q.processAllAvailable()
      val got = spark.table("ss_join_out")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L)), s"unexpected join result: $got")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched clicks after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp, Double)]
    val out = StreamingPipeline.clickPurchaseJoinOuter(
      clicks.toDF().toDF("event_id", "user_id", "ts").withColumn("value", lit(0.0)),
      purchases.toDF().toDF("event_id", "user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("ss_outer_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 7L, ts("2024-01-01 10:00:00")),   // will match
                     (2L, 8L, ts("2024-01-01 10:00:00")))   // never matches
      purchases.addData((100L, 7L, ts("2024-01-01 10:30:00"), 9.5))
      q.processAllAvailable()
      // matched row may emit immediately; the null-completed row must NOT
      // exist yet (watermark still at the join bound)
      val early = spark.table("ss_outer_out")
        .filter(col("purchase_id").isNull).count()
      assert(early == 0, "outer result emitted before watermark proof")
      // advance both watermarks far past click_ts + 1h + 10min delay
      clicks.addData((3L, 7L, ts("2024-01-01 13:00:00")))
      purchases.addData((103L, 9L, ts("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      // one more batch so the bumped watermark evicts + emits outer rows
      clicks.addData((4L, 7L, ts("2024-01-01 13:30:00")))
      purchases.addData((104L, 9L, ts("2024-01-01 13:30:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("ss_outer_out")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 100L)), s"matched row missing: $rows")
      assert(rows.contains((2L, -1L)), s"null-completed unmatched click missing: $rows")
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits closed sessions with event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamingPipeline.userSessionsCustom(
      in.toDF().toDF("ts", "user_id"))
    val q = out.writeStream.format("memory").queryName("custom_sess_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:03:00"), 1L),
        (ts("2024-01-01 10:20:00"), 1L)) // > 5 min gap ⇒ closes first session in-batch
      q.processAllAvailable()
      val inBatch = spark.table("custom_sess_out").collect()
      assert(inBatch.length == 1, s"first session must close on the in-batch gap: ${inBatch.length}")
      assert(inBatch.head.getAs[Long]("n_events") == 2)
      // advance the watermark far past the open session ⇒ timeout closes it
      in.addData((ts("2024-01-01 12:00:00"), 99L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 14:00:00"), 99L)) // one more batch so the timeout fires
      q.processAllAvailable()
      val u1 = spark.table("custom_sess_out").filter(col("user_id") === 1L).collect()
      assert(u1.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L),
        s"timed-out session missing: ${u1.mkString(",")}")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from the broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Long)]
    val out = StreamingPipeline.enrichStream(
      in.toDF().toDF("user_id", "event_id"), dim)
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      in.addData((1L, 100L), (2L, 101L), (3L, 102L)); q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(rows == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)),
        s"enrichment wrong: $rows")
    } finally q.stop()
  }

  test("transformWithState keeps a named ValueState ledger across batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Double)]
    val out = StreamingPipeline.userStatsTws(in.toDF().toDF("user_id", "value"))
    val q = out.writeStream.format("memory").queryName("tws_out")
      .outputMode("update").start()
    try {
      in.addData((1L, 10.0), (1L, 5.0), (2L, 1.0)); q.processAllAvailable()
      in.addData((1L, 2.5), (3L, 7.0)); q.processAllAvailable()
      // last update per user wins: user 1 accumulated across both batches
      val last = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(last(1L) == (3L, 17.5), s"user 1 ledger wrong: ${last(1L)}")
      assert(last(2L) == (1L, 1.0) && last(3L) == (1L, 7.0))
    } finally {
      q.stop()
      saved match {
        case Some(v) => spark.conf.set(provider, v)
        case None => spark.conf.unset(provider)
      }
    }
  }

  test("custom sessions never shrink on late out-of-order events across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val out = StreamingPipeline.userSessionsCustom(
      in.toDF().toDF("ts", "user_id"))
    val q = out.writeStream.format("memory").queryName("late_sess_out")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:04:00"), 1L))
      q.processAllAvailable()
      // a late event INSIDE the stored bounds, admitted by the 10-min
      // watermark — must merge via min/max, not drag the end backwards
      in.addData((ts("2024-01-01 10:02:00"), 1L))
      q.processAllAvailable()
      // advance the watermark past the event-time timeout, then one more
      // batch so the timeout fires and the session is emitted
      in.addData((ts("2024-01-01 12:00:00"), 99L)); q.processAllAvailable()
      in.addData((ts("2024-01-01 14:00:00"), 99L)); q.processAllAvailable()
      val u1 = spark.table("late_sess_out").filter(col("user_id") === 1L).collect()
      assert(u1.length == 1, s"expected one closed session: ${u1.mkString(",")}")
      val r = u1.head
      assert(r.getAs[Long]("session_start_s") == ts("2024-01-01 10:00:00").getTime / 1000)
      assert(r.getAs[Long]("session_end_s") == ts("2024-01-01 10:04:00").getTime / 1000,
        s"late event shrank the session end: $r")
      assert(r.getAs[Long]("n_events") == 3)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val out = StreamingPipeline.userRunningCounts(
      in.toDF().toDF("user_id", "event_id"))
    val q = out.writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try {
      in.addData((1L, 100L), (1L, 101L), (2L, 102L)); q.processAllAvailable()
      in.addData((1L, 103L)); q.processAllAvailable()
      // last update per user wins
      val latest = spark.table("state_out").groupBy("user_id")
        .agg(max("n_events_total").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L), s"state lost across batches: $latest")
    } finally q.stop()
  }

  test("q51b session_window matches batch sessionization at the gap boundary") {
    import spark.implicits._
    // Crafted ns-long timestamps on BOTH sides of the truncation boundary:
    // batch q51 compares floor-second diffs (> 300 breaks), so raw diffs of
    // 300.9 s and 300.4 s must MERGE (floored 300) while 301.0 must split.
    // Long arithmetic throughout — double seconds lose ~128 ns at 1.7e18.
    val base = 1704067200L // 2024-01-01 00:00:00 UTC
    def ns(sec: Long, ms: Long = 0L): Long = (base + sec) * 1000000000L + ms * 1000000L
    val rows = Seq(
      (1L, 1L, ns(0)), (1L, 2L, ns(300)),        // diff 300 → same session
      (1L, 3L, ns(601)),                         // diff 301 → new session
      (1L, 4L, ns(901, 900)),                    // raw 300.9, floored 300 → merge
      (2L, 5L, ns(10, 100)), (2L, 6L, ns(310, 500))) // raw 300.4, floored 300 → merge
    // testdata ships events.parquet as a single FILE (the stream's
    // pathGlobFilter matches leaf names) — mirror that shape here
    val dir = java.nio.file.Files.createTempDirectory("q51b").toString
    rows.toDF("user_id", "event_id", "ts").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/staging")
    val part = new java.io.File(s"$dir/staging").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val batch = SparkEntry.queries("q51_sessionize")(spark, dir)
      .orderBy("user_id", "session_id").collect().map(_.toSeq).toSeq
    val stream = SparkEntry.queries("q51b_stream_sessionize")(spark, dir)
      .orderBy("user_id", "session_id").collect().map(_.toSeq).toSeq
    assert(stream == batch, s"stream/batch session divergence:\n$stream\nvs\n$batch")
    // and the crafted composition is the intended one: (2,2) for u1, (2) for u2
    assert(batch.map(r => (r(0), r(2))) == Seq((1L, 2L), (1L, 2L), (2L, 2L)))
  }

  // ------------------------------------------------------------------
  // The streaming lake against the batch lake of the same inbox

  /** The spec inbox, plus the reference corpus where this host has it. */
  private def inboxes(): Seq[String] = {
    val own = Files.createTempDirectory("graft-stream-inbox")
    SpecInbox.write(own)
    own.toString +: Seq(Pipeline.MessagesDir).filter(d => Files.isDirectory(Paths.get(d)))
  }

  /** Micro-batches committed under `checkpoint`. */
  private def committed(checkpoint: Path): Int = {
    val it = Files.list(checkpoint.resolve("commits"))
    try it.iterator().asScala.count(!_.getFileName.toString.startsWith(".")) finally it.close()
  }

  /** Asserts the lake under `root` is the batch lake of `inbox`, row for
    * row: `messages` on every column, `catalog` on every column but
    * `ingest_ts`; no message lands twice in a zone, and no `_batch`
    * directory is left. */
  private def assertBatchLake(root: Path, inbox: String): Unit = {
    val batch = Files.createTempDirectory("graft-batch-lake").toString
    Pipeline.writeLake(Pipeline.allEvents(spark, inbox), batch)
    val messages = spark.read.parquet(s"$root/messages")
    val repeated = messages.groupBy("message_id", "zone").count().filter(col("count") > 1)
      .collect().toSeq
    assert(repeated.isEmpty, s"messages landed more than once: $repeated")
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.mkString("|"))
    for ((table, drop) <- Seq("messages" -> Nil, "catalog" -> Seq("ingest_ts"))) {
      val got = spark.read.parquet(s"$root/$table").drop(drop: _*)
      val want = spark.read.parquet(s"$batch/$table").drop(drop: _*)
      assert(got.schema == want.schema, table)
      assert(rows(got) == rows(want), table)
    }
    assert(!Files.exists(root.resolve("_batch")))
  }

  test("streaming lake write equals the batch pipeline on the same corpus") {
    for (inbox <- inboxes()) {
      val tmp = Files.createTempDirectory("graft-stream")
      val (lake, ckpt) = (tmp.resolve("lake"), tmp.resolve("ckpt"))
      StreamingPipeline.run(spark, inbox, lake.toString, ckpt.toString, maxFilesPerTrigger = Some(1))
      assert(committed(ckpt) >= 2, inbox)
      assertBatchLake(lake, inbox)
      // re-running with the same checkpoint adds nothing
      StreamingPipeline.run(spark, inbox, lake.toString, ckpt.toString, maxFilesPerTrigger = Some(1))
      assertBatchLake(lake, inbox)
    }
  }

  test("the streaming lake reads each file once through one dedup") {
    val tmp = Files.createTempDirectory("graft-stream-once")
    val inbox = tmp.resolve("inbox")
    val files = SpecInbox.write(inbox)
    // the progress of the run's query, told apart from any other query by
    // its source, which names the inbox
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.sources.exists(_.description.contains(inbox.toString))) progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (progress.asScala.exists(_.id == e.id)) ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      StreamingPipeline.run(spark, inbox.toString, tmp.resolve("lake").toString,
        tmp.resolve("ckpt").toString, maxFilesPerTrigger = Some(1))
      // the listener bus delivers a query's progress before its end
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    val batches = progress.asScala.toSeq
    assert(batches.length == files.length, "one micro-batch per file")
    assert(batches.map(_.stateOperators.length).toSet == Set(1), "state operators per batch")
    // each file holds one message; 3 of the 4 are distinct
    assert(batches.map(_.numInputRows).sum == files.length, "input rows over all batches")
    assert(batches.flatMap(_.stateOperators).map(_.numRowsUpdated).sum == 3, "dedup passes")
  }

  test("q21b full-topology replay matches batch q21 zones across >=2 micro-batches") {
    // q21b's slicing: two files per micro-batch, so the dedup ledger and
    // the lake writes compose within a batch and across batches
    for (inbox <- inboxes()) {
      val tmp = Files.createTempDirectory("graft-q21b-spec")
      StreamingPipeline.run(spark, inbox, tmp.resolve("lake").toString, tmp.resolve("ckpt").toString,
        maxFilesPerTrigger = Some(2))
      assert(committed(tmp.resolve("ckpt")) >= 2, inbox)
      assertBatchLake(tmp.resolve("lake"), inbox)
    }
    if (Files.isDirectory(Paths.get(Pipeline.MessagesDir))) {
      def zones(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(zones(StreamingPipeline.q21StreamPipeline(spark, "")) == zones(Pipeline.q21Zones(spark, "")))
    }
  }

  test("a micro-batch replayed after a crash lands once") {
    val tmp = Files.createTempDirectory("graft-stream-crash")
    val all = tmp.resolve("all")
    val files = SpecInbox.write(all)
    val inbox = Files.createDirectories(tmp.resolve("inbox"))
    val (lake, ckpt) = (tmp.resolve("lake"), tmp.resolve("ckpt"))
    def drop(fs: Seq[Path]): Unit =
      fs.foreach(f => Files.copy(f, inbox.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    def run(): Unit = StreamingPipeline.run(spark, inbox.toString, lake.toString, ckpt.toString,
      maxFilesPerTrigger = Some(1))
    def lakeRows() = spark.read.parquet(s"$lake/messages").count()
    // batches 0 and 1 commit; batch 2 reads junk.txt
    val k = 2
    drop(files.take(k))
    run()
    assert(committed(ckpt) == k)
    val before = lakeRows()
    // a regular file where the catalog directory is: batch k's messages
    // reach the lake, then its catalog write fails and the query dies
    // before the batch commits
    val catalog = lake.resolve("catalog")
    val aside = tmp.resolve("catalog-aside")
    Files.move(catalog, aside)
    Files.writeString(catalog, "")
    drop(files.drop(k))
    intercept[StreamingQueryException](run())
    assert(committed(ckpt) == k)
    assert(lakeRows() > before, "batch k failed before its messages reached the lake")
    Files.delete(catalog)
    Files.move(aside, catalog)
    // the restart replays batch k, then runs the rest
    run()
    assert(committed(ckpt) == files.length)
    assertBatchLake(lake, all.toString)
  }

  test("streaming twins read directory-layout tables (sf1 0-row regression)") {
    // The driver's testdata ships each table as a single parquet FILE; a
    // GenData scale corpus makes it a DIRECTORY of part files. The twins'
    // source once selected the table with pathGlobFilter (leaf-file-name
    // match only) and silently drained 0 rows against the directory
    // layout — caught by the round-7 sf1 oracle run, invisible to every
    // single-file test. This pins the fix: the same corpus rewritten as
    // multi-part directories must yield the identical result, through
    // >= 2 real micro-batches.
    val src = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-dirlayout").toString
    Seq("events", "documents").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").repartition(3)
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    }
    // q20b: compare (bucket, n) exactly; sums under tolerance (double
    // addition order differs across layouts, round(,2) can straddle)
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.get(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val one = asMap(StreamingPipeline.q20StreamBucket(spark, src).collect())
    val dir = asMap(StreamingPipeline.q20StreamBucket(spark, tmp).collect())
    assert(dir.nonEmpty && dir.keySet == one.keySet)
    one.foreach { case (k, (n, s)) =>
      assert(dir(k)._1 == n, s"bucket $k count")
      assert(math.abs(dir(k)._2 - s) <= 0.011, s"bucket $k sum")
    }
    val one35 = StreamingPipeline.q35StreamDedup(spark, src).collect().toSet
    val dir35 = StreamingPipeline.q35StreamDedup(spark, tmp).collect().toSet
    assert(dir35.nonEmpty && dir35 == one35)
    val one51 = StreamingPipeline.q51StreamSessionize(spark, src).collect().toSet
    val dir51 = StreamingPipeline.q51StreamSessionize(spark, tmp).collect().toSet
    assert(dir51.nonEmpty && dir51 == one51)
  }

  test("every memory-sink drain carries an explicit boundedness rationale") {
    // A driver-resident memory sink is only acceptable when its row count
    // is bounded by something data-size-independent (time span, |types|,
    // sketch k, dup rate) or when the query is the documented honest
    // anti-baseline (q65b); data-scaled outputs drain to a foreachBatch
    // parquet ledger instead. This lint keeps it that way: every
    // format("memory") site, and every drainToMemory call that reaches
    // one, must state its bound in the preceding lines.
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/StreamingPipeline.scala"))
    val lines = src.split("\n", -1)
    val sites = lines.zipWithIndex.collect {
      case (l, i) if l.contains("format(\"memory\")") || l.contains("drainToMemory(") => i
    }
    assert(sites.exists(i => lines(i).contains("format(\"memory\")")),
      "expected at least one memory-sink site")
    assert(sites.exists(i => lines(i).contains("drainToMemory(")),
      "expected at least one drainToMemory call site")
    sites.foreach { i =>
      val context = lines.slice(math.max(0, i - 15), i).mkString("\n").toLowerCase
      // word-boundary match: a bare contains("bounded") would also match
      // the substring inside "unbounded" and defeat the lint (ADVICE r11)
      val bounded = "\\bbounded\\b".r.findFirstIn(context).isDefined
      assert(bounded || context.contains("anti-baseline"),
        s"memory sink at StreamingPipeline.scala:${i + 1} has no boundedness " +
          "rationale in the preceding 15 lines — state the size bound or " +
          "convert to a foreachBatch lake ledger (the q21b idiom)")
    }
  }

  test("memory-sink drains leave no temp view behind") {
    // each memory sink registers a temp view named after its query; a
    // drain that returns without dropping it leaks one view per call
    val src = "/root/testdata/sf0.001"
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    val drains = Seq(
      "q20b" -> (StreamingPipeline.q20StreamBucket _),
      "q09c" -> (StreamingPipeline.q09StreamRangeVolume _),
      "q175b" -> (StreamingPipeline.q175StreamSliding _),
      "q35b" -> (StreamingPipeline.q35StreamDedup _),
      "q65b" -> (StreamingPipeline.q65StreamHeavyHitters _))
    drains.foreach { case (name, run) =>
      assert(run(spark, src).count() > 0, s"$name drained no rows")
      val leaked = tempViews -- before
      assert(leaked.isEmpty, s"$name left temp views behind: ${leaked.mkString(", ")}")
    }
  }

  test("q09c streaming hour-bucket pair volume == batch q09b on both layouts") {
    // The bounded streaming member of the time-band family: exact-integer
    // output, so equality is set equality — on the single-file corpus AND
    // on a multi-part directory rewrite (>= 2 real micro-batches through
    // the complete-mode count state).
    val src = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-q09c").toString
    spark.read.parquet(s"$src/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.SparkEntry.queries("q09b_range_join_bucketed")(spark, src)
      .collect().toSet
    val one = StreamingPipeline.q09StreamRangeVolume(spark, src).collect().toSet
    val dir = StreamingPipeline.q09StreamRangeVolume(spark, tmp).collect().toSet
    assert(one.nonEmpty && one == batch, "stream != batch on single-file layout")
    assert(dir == batch, "stream != batch on directory layout")
  }

  test("q176 stream-stream join == batch pairs under multi-batch slicing") {
    // the corpus-span watermark makes the join exact under ANY slicing:
    // file order is not time order, and a part-file split must not change
    // the drained pair set (the reason the registered twin does not use
    // the 1-hour production delay — see its doc)
    val src = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-q176").toString
    spark.read.parquet(s"$src/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = {
      val ev = graft.core.Tables.events(spark, src)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("pid"))
      asSet(c.join(p, col("user_id") === col("pu") && col("pts") > col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
        .select("user_id", "cid", "pid"))
    }
    assert(batch.nonEmpty, "corpus should contain click→purchase pairs")
    val one = asSet(StreamingPipeline.q176StreamClickAttr(spark, src))
    val dir = asSet(StreamingPipeline.q176StreamClickAttr(spark, tmp))
    assert(one == batch, s"single-file twin diverged (${one.size} vs ${batch.size})")
    assert(dir == batch, s"multi-batch twin diverged (${dir.size} vs ${batch.size})")
  }

  test("q176b production-watermark join == batch pairs via time-ordered buckets") {
    // q176b's claim is stronger than q176's: a TIGHT (2 h) watermark stays
    // exact because its staged bucket files arrive in ascending time order.
    // The oracle gate already hash-checks the result at sf0.01; this pins
    // (a) multi-batch delivery (8 bucket files, maxFilesPerTrigger=1) and
    // (b) exactness at a second corpus/slicing (sf0.001).
    val src = "/root/testdata/sf0.001"
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = {
      val ev = graft.core.Tables.events(spark, src)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("pid"))
      asSet(c.join(p, col("user_id") === col("pu") && col("pts") > col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
        .select("user_id", "cid", "pid"))
    }
    assert(batch.nonEmpty, "corpus should contain click→purchase pairs")
    val ordered = asSet(StreamingPipeline.q176StreamClickAttrOrdered(spark, src))
    assert(ordered == batch,
      s"tight-watermark twin diverged (${ordered.size} vs ${batch.size}): " +
        s"missing=${(batch -- ordered).take(3)} extra=${(ordered -- batch).take(3)}")
  }

  test("q229/q229b/q229c outer-family stream-stream joins == batch semantics") {
    // The outer twins' core claim: null-completed results are emitted
    // if-and-only-if the watermark proves finality, and the sentinel-flush
    // corpus closes EVERY real row before the drain ends — so the drained
    // fold must equal the plain batch outer join, including the abandoned/
    // orphan populations that only exist via watermark eviction. Also pins
    // that no sentinel row (negative user id) leaks into a result.
    val src = "/root/testdata/sf0.001"
    val ev = graft.core.Tables.events(spark, src)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("pid"))
    val cond = col("user_id") === col("pu") && col("pts") > col("cts") &&
      col("pts") <= col("cts") + expr("INTERVAL 1 HOUR")

    // left outer
    val expLeft = c.join(p, cond, "left_outer")
      .groupBy("user_id")
      .agg(count(col("pid")).as("n_attributed"),
        count(when(col("pid").isNull, 1)).as("n_abandoned"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotLeft = StreamingPipeline.q229StreamOuterAttr(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expLeft.exists(_._3 > 0), "corpus should contain abandoned clicks")
    assert(gotLeft == expLeft,
      s"left-outer twin diverged: missing=${(expLeft -- gotLeft).take(3)} " +
        s"extra=${(gotLeft -- expLeft).take(3)}")
    assert(gotLeft.forall(_._1 >= 0), "sentinel rows leaked into q229")

    // full outer
    val expFull = c.join(p, cond, "full_outer")
      .groupBy(coalesce(col("user_id"), col("pu")).as("u"))
      .agg(count(when(col("cid").isNotNull && col("pid").isNotNull, 1)).as("np"),
        count(when(col("cid").isNotNull && col("pid").isNull, 1)).as("noc"),
        count(when(col("cid").isNull, 1)).as("nop"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gotFull = StreamingPipeline.q229FullOuterAttr(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expFull.exists(_._4 > 0), "corpus should contain orphan purchases")
    assert(gotFull == expFull,
      s"full-outer twin diverged: missing=${(expFull -- gotFull).take(3)} " +
        s"extra=${(gotFull -- expFull).take(3)}")

    // left semi
    val expSemi = c.join(p, cond, "left_semi")
      .select(col("user_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSemi = StreamingPipeline.q229StreamSemiAttr(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expSemi.nonEmpty, "corpus should contain converting clicks")
    assert(gotSemi == expSemi,
      s"semi twin diverged: missing=${(expSemi -- gotSemi).take(3)} " +
        s"extra=${(gotSemi -- expSemi).take(3)}")
  }

  test("q128b streaming near-dup == batch q128 under multi-batch slicing") {
    // Batch-slicing invariance is the twin's core claim: every incoming doc
    // is checked against the full static index independently, so the
    // drained union must equal the batch answer whether incoming arrives
    // as 1 file (1 trigger) or 3 part files (>= 2 triggers, cross-batch
    // pair-dedup state exercised).
    val src = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-q128b").toString
    spark.read.parquet(s"$src/documents.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = asSet(graft.llm.Dedup.incrementalNearDup(spark, src))
    val one = asSet(StreamingPipeline.q128StreamNearDup(spark, src))
    val dir = asSet(StreamingPipeline.q128StreamNearDup(spark, tmp))
    assert(batch.nonEmpty, "corpus should contain incremental near-dups")
    assert(one == batch, s"single-file twin diverged: ${one.diff(batch)} extra")
    assert(dir == batch, s"multi-batch twin diverged: ${dir.diff(batch)} extra")
  }

  test("q217c streaming preference matrix == batch q217 under multi-batch slicing") {
    // The twin's update-mode claim: per-key counts accumulate in the state
    // store across triggers, each trigger emits only CHANGED keys, and the
    // post-drain max-per-key fold recovers the final counts (monotonicity).
    // Slicing a user's events across micro-batches must therefore change
    // nothing — same pair matrix whether events arrive as 1 file (1
    // trigger) or 4 part files (>= 2 triggers, cross-batch count state).
    val src = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-q217c").toString
    spark.read.parquet(s"$src/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val batch = asSet(SparkEntry.queries("q217_pref_pairs")(spark, src))
    val one = asSet(StreamingPipeline.q217StreamPrefPairs(spark, src))
    val dir = asSet(StreamingPipeline.q217StreamPrefPairs(spark, tmp))
    assert(batch.nonEmpty)
    assert(one == batch, s"single-file twin diverged: ${one.diff(batch)} vs ${batch.diff(one)}")
    assert(dir == batch, s"multi-batch twin diverged: ${dir.diff(batch)} vs ${batch.diff(dir)}")
  }
}
