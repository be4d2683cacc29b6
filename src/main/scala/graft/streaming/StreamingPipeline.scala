package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.hl7.Pipeline

/** Streaming variants of the pipeline (SURVEY.md §2B streaming surface).
  *
  * The reference's SNS topic + Lambda consumers (A7/A20) map onto Structured
  * Streaming directly: the topic is the unbounded DataFrame, FilterPolicies
  * are predicates, the lake-writer subscription is a `foreachBatch` sink, and
  * the dedup ledger is `dropDuplicates` state. The batch stages in
  * graft.hl7.Pipeline are pure DataFrame=>DataFrame narrow transforms, so
  * they compose unchanged onto a streaming source — one definition, two
  * execution modes. The streaming lake ([[run]]) streams only the inbox
  * read and its dedup; the lake rows are the batch code's, built inside the
  * sink from each micro-batch, so each message is read and deduped once.
  */
object StreamingPipeline {

  /** Run `body` (stream start → awaitTermination) with the shuffle/state
    * partition count sized to the bytes under `sourcePath`, and restore the
    * session value afterwards so post-drain batch folds are unaffected.
    *
    * `spark.sql.shuffle.partitions` fixes the state-store partition count
    * at a streaming query's first batch (AQE, which sizes batch shuffles to
    * the data, is off inside stateful streaming), and every micro-batch
    * then pays load + commit + snapshot bookkeeping per partition per state
    * store — a stream-stream join carries four stores per partition. At a
    * core-count default (32 locally) a 5-trigger drain over a few MB paid
    * ~640 store commits of fixed cost: the q229 family at sf0.1 ran 99.6 s
    * at 32 state partitions vs 33.7 s at 8, with identical results. So the
    * count is one partition per ~4 MB of input (sf0.1 → 1, sf1 → 6,
    * sf10 → 51); 16 MB kept the sf0.1/sf1 wins but starved the
    * complete-mode drains at sf10 (q51b's session-merge state on 13
    * partitions ran 110 s vs 16.1 s at 32). The count is capped at
    * max(2×cores, 256), so a cluster-sized corpus still spreads over the
    * cluster, and floored at `minParts`. It never changes results: state
    * is hash-partitioned by key.
    *
    * `minParts` is for drains whose per-batch stage is compute-bound
    * (q128b's candidate-confirm join evaluates an array_intersect per
    * collision pair inside the batch): there the partition count must keep
    * the machine busy, and the state-commit overhead the floor re-admits is
    * the smaller term — at sf0.1 q128b ran 8.2 s at 32 partitions vs 10.6 s
    * at the 1-partition data-derived count, while the state-bound drains
    * (q229 family) go the other way by 3×.
    *
    * This sets a session-global conf for the drain's duration, which is
    * safe because Bench and Verify run one query at a time on one session;
    * a concurrent driver would give each drain its own `spark.newSession()`. */
  private def withStatePartitions[T](s: SparkSession, sourcePath: String,
                                     minParts: Int = 1)(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(sourcePath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val cap = math.max(2L * s.sparkContext.defaultParallelism, 256L)
    val parts = math.max(minParts.toLong, math.min(bytes / (4L << 20) + 1L, cap))
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, parts.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Drain complete-mode aggregates through driver-memory sinks: each frame
    * runs as an AvailableNow query into its own UUID-named memory sink, all
    * of them concurrently under one state-partition sizing. Each result
    * comes back eagerly `localCheckpoint`-ed, and every sink view is
    * dropped, so no temp view outlives the call. A memory sink keeps every
    * re-emitted row on the driver, so each call site states, in the lines
    * before it, why its rows are bounded by something data-size-independent
    * or that it is the registered anti-baseline (StreamingSpec lints this). */
  private def drainToMemory(s: SparkSession, sourcePath: String,
                            frames: DataFrame*): Seq[DataFrame] = {
    val sinks = frames.map(_ => s"graft_mem_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      withStatePartitions(s, sourcePath) {
        frames.zip(sinks).map { case (df, sink) =>
          df.writeStream.format("memory").queryName(sink)
            .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        }.foreach(_.awaitTermination())
      }
      sinks.map(sink => s.table(sink).localCheckpoint(true))
    } finally sinks.foreach(s.catalog.dropTempView)
  }

  /** Drain a streaming frame through a `foreachBatch` parquet ledger on the
    * executors and return the ledger read back: the drain for outputs that
    * scale with the data, which must never pass through driver memory. In
    * Complete mode every trigger re-emits the full result, so each batch
    * overwrites the ledger and the last trigger leaves the final state; in
    * Append and Update mode each batch appends its rows. */
  private def drainToLedger(s: SparkSession, df: DataFrame, mode: OutputMode,
                            sourcePath: String, minParts: Int = 1): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ledger_").toString
    val writeMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    withStatePartitions(s, sourcePath, minParts) {
      df.writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode(mode)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode(writeMode).parquet(s"$tmp/ledger")
          ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    s.read.parquet(s"$tmp/ledger")
  }

  /** A20 — storage-event source: new files in the inbox dir trigger
    * processing, exactly the reference's CloudTrail→EventBridge flow. The
    * files are read as `binaryFile` (a streaming file source needs its
    * schema declared) and projected by [[Pipeline.inboxMessages]], so a
    * stream's messages and sources are the batch `readMessages` rows. */
  def messagesStream(spark: SparkSession, inboxDir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", "*.txt") // glob as option, not in-path (see Pipeline.readMessages)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    Pipeline.inboxMessages(reader.load(inboxDir))
  }

  /** A5 streaming — the dedup ledger as streaming state over the shared
    * front-door [[Pipeline.envelope]]. The reference's DynamoDB ledger is
    * global and unbounded; [[ingestStreamWatermarked]] bounds state for
    * 100 TB streams (documented divergence, SURVEY §7.3.2). */
  def ingestStream(messages: DataFrame): DataFrame =
    Pipeline.envelope(messages).dropDuplicates("message_id")

  def ingestStreamWatermarked(messages: DataFrame, tsCol: String, delay: String): DataFrame =
    Pipeline.envelope(messages)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("message_id")

  /** A7+A16+A17 — the lake writer as a `foreachBatch` sink. Each
    * micro-batch of `events` is written by [[writeBatch]], so a streaming
    * lake has the batch lake's layout and catalog. It writes any frame with
    * the catalog's columns. */
  def lakeSink(events: DataFrame, lakeRoot: String, checkpoint: String): DataStreamWriter[Row] =
    batchSink(events, checkpoint)(writeBatch(_, _, lakeRoot))

  /** `events` into `write`, one micro-batch at a time, from `checkpoint`. */
  private def batchSink(events: DataFrame, checkpoint: String)
                       (write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(write)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())

  /** Micro-batch `batchId` of lake rows into the lake under `lakeRoot` by
    * [[Pipeline.writeLake]], so that a replayed batch lands once. A query
    * that dies after a batch's files reached the lake but before Spark
    * committed the batch replays it on restart, with the same id and rows.
    * So batch `k` is first written whole, with overwrite, under
    * `lakeRoot/_batch/k`. Then, table by table, any file an earlier attempt
    * of batch `k` moved is deleted, and the new files are moved in under
    * names that start with `batch-k-`. `_batch` is removed once the batch
    * is in place, so one query at a time may write a lake root. */
  private def writeBatch(rows: DataFrame, batchId: Long, lakeRoot: String): Unit = {
    val staging = new Path(lakeRoot, s"_batch/$batchId")
    Pipeline.writeLake(rows, staging.toString)
    val fs = staging.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    val prefix = s"batch-$batchId-"
    for (table <- Seq("messages", "catalog")) {
      val live = new Path(lakeRoot, table)
      Pipeline.dataFiles(fs, live).map(f => new Path(live, f._1))
        .filter(_.getName.startsWith(prefix)).foreach(fs.delete(_, false))
      Pipeline.moveFiles(fs, new Path(staging, table), live, prefix)
    }
    fs.delete(staging.getParent, true)
  }

  /** Full streaming pipeline: inbox → ingest (dedup) → the batch
    * pipeline's [[Pipeline.lakeRows]] → replay-safe lake write. The stream
    * reads each file once and dedups through one state store; the lake rows
    * are built inside the sink from each micro-batch of ingested messages.
    * A `foreachBatch` frame re-runs its stateful plan on every pass over
    * it, and the lake rows are a union of two passes (one per zone). A
    * persisted frame serves only one branch of that union from its cache
    * (measured: the dedup still ran twice per batch), so the micro-batch is
    * materialized once by an eager `localCheckpoint`, whose blocks Spark
    * frees when the frame is dropped. The lake it leaves holds the batch
    * lake's rows for the same inbox: both zones, with `segments`. A message
    * sent in several files keeps the copy the stream read first, so its
    * `source` may name another of them than the batch lake's does. A
    * restart from `checkpoint` lands each message once. */
  def run(spark: SparkSession, inboxDir: String, lakeRoot: String, checkpoint: String,
          maxFilesPerTrigger: Option[Int] = None): Unit =
    batchSink(ingestStream(messagesStream(spark, inboxDir, maxFilesPerTrigger)), checkpoint) {
      (ingested, batchId) => writeBatch(Pipeline.lakeRows(ingested.localCheckpoint(true)), batchId, lakeRoot)
    }.start().awaitTermination()

  /** q21b — the reference's ACTUAL topology replayed end-to-end through
    * Structured Streaming and gated by q21's precomputed-counts oracle:
    * file-drop ingest (`front_door_lambda.py`) → streaming dedup ledger
    * (`dropDuplicates` state = the DynamoDB table) → route → ER7 parse and
    * success/error branch (`trigger_lambda.py:25-36`) → zone mapping →
    * the REAL foreachBatch two-sink lake write (`core_stack.yml:107-172`'s
    * lake-writer subscription), then zone/format counts read back FROM THE
    * LAKE — so the gate covers the sink and its partition layout, not just
    * the transform chain. `maxFilesPerTrigger=2` slices the 6-file corpus
    * into ≥3 micro-batches: the dedup ledger and the lake writes must
    * compose across batches to land the same populations the one-shot
    * batch flow (q21_pipeline_zones) produces. */
  def q21StreamPipeline(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q21b_").toString
    withStatePartitions(s, Pipeline.MessagesDir) {
      run(s, Pipeline.MessagesDir, s"$tmp/lake", s"$tmp/ckpt", maxFilesPerTrigger = Some(2))
    }
    s.read.parquet(s"$tmp/lake/messages")
      .groupBy("zone", "format").agg(count(lit(1)).as("n_messages"))
      .localCheckpoint(true)
  }

  // ------------------------------------------------------------------
  // Streaming analytics over the events shape (q20's streaming twins)

  /** Tumbling 1-hour counts with a 10-minute watermark: late rows beyond the
    * watermark are dropped, state is bounded by (watermark horizon / window)
    * — the correctness upgrade over the reference's at-least-once SNS. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Arbitrary keyed state (§2B "mapGroupsWithState"): lifetime event count
    * per user, maintained across micro-batches. One long of state per key —
    * bounded, and the shape to extend for custom session/ledger semantics
    * the built-in windows can't express. */
  def userRunningCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n_events_total")
  }

  /** Watermarked stream-stream inner join: purchases attributed to the
    * click they followed within one hour, per user — the streaming twin of
    * the batch as-of/range shapes (q41/q09). Both sides carry watermarks
    * and the join condition bounds purchase_ts relative to click_ts, so
    * Spark can expire buffered rows once the watermark passes the bound —
    * state stays proportional to the time window, not the stream length
    * (the 100 TB/∞-stream requirement; an unbounded-condition join would
    * buffer forever). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchaseJoinImpl(clicks, purchases, "inner")

  /** Left-outer variant: EVERY click is emitted — matched rows as they
    * join, unmatched ones with null purchase columns once the watermark
    * passes the join bound and Spark can prove no future purchase can
    * match (outer results are necessarily watermark-delayed; an engine
    * that emitted them eagerly would have to retract). Same bounded state
    * as the inner form. This is the "attribution with abandoned carts"
    * shape — the unmatched side is the interesting population. */
  def clickPurchaseJoinOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchaseJoinImpl(clicks, purchases, "left_outer")

  /** Shared body of the inner/outer attribution joins — one definition of
    * the watermark delays, the window bound, and the output columns, so
    * the two variants can never drift apart. */
  private def clickPurchaseJoinImpl(clicks: DataFrame, purchases: DataFrame,
                                    joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    c.join(p,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select("click_id", "user_id", "click_ts",
              "purchase_id", "purchase_ts", "purchase_value")
  }

  /** Stream-static join: enrich the event stream with a static dimension
    * table (the reference's catalog/roster side data). The static side is
    * broadcast into every micro-batch — stateless, no watermark needed, and
    * at scale the dimension rides the executors once per batch while the
    * unbounded stream never buffers (the standard dimension-enrichment
    * shape; a stream-stream join here would hold stream state for no
    * reason). Left join keeps events with no dimension row. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Custom stateful sessionization via flatMapGroupsWithState with an
    * event-time timeout — the shape for session semantics the built-in
    * `session_window` can't express (e.g. emitting one row per CLOSED
    * session only, with custom carry-over fields). State per user is one
    * (start, end, count) triple — bounded; sessions close either by an
    * explicit gap in-batch or by watermark timeout across batches. */
  def userSessionsCustom(events: DataFrame, gapSeconds: Long = 300): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    case class Sess(start: Long, end: Long, n: Long)
    // project BEFORE the watermark: the event-time column must survive as a
    // timestamp all the way into the stateful operator, or the analyzer
    // rejects EventTimeTimeout
    val typed = events
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "10 minutes")
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OM.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (st, en, n) = state.get
            state.remove()
            Iterator((user, st, en, n))
          } else {
            val sorted = rows.map(_._2.getTime / 1000).toSeq.sorted
            var closed = List.empty[(Long, Long, Long, Long)]
            var cur = state.getOption
            sorted.foreach { sec =>
              cur match {
                // merge with min/max: the 10-minute watermark admits events
                // that arrive out of order ACROSS batches, so `sec` may be
                // older than the stored bounds — never shrink the session
                case Some((st, en, n)) if sec - en <= gapSeconds =>
                  cur = Some((math.min(st, sec), math.max(en, sec), n + 1))
                case Some((st, en, n)) =>
                  closed ::= (user, st, en, n)
                  cur = Some((sec, sec, 1L))
                case None =>
                  cur = Some((sec, sec, 1L))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 * 1000 + gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
      .toDF("user_id", "session_start_s", "session_end_s", "n_events")
  }

  /** Spark 4 arbitrary-state API (`transformWithState`) — the successor to
    * mapGroupsWithState: typed state variables (Value/List/Map) resolved by
    * name from the state store, explicit timers, per-variable TTL, and
    * schema evolution of state across restarts. Here: the per-user running
    * ledger as a named ValueState[(count, sum)], emitting the refreshed
    * row per key per micro-batch (Update mode). Requires the RocksDB state
    * store provider (changelog-checkpointed, state spills off-heap — the
    * 100 TB keyspace path; the default HDFS provider holds state on-heap).
    */
  def userStatsTws(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsProcessor, TimeMode.None(), OM.Update())
      .toDF("user_id", "n_events", "total_value")
  }

  /** Per-user session windows (5-minute gap): user activity sessionization. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"))
      .select(col("user_id"), col("n_events"),
              col("session_start"), col("session_end"))

  /** Dynamic-gap session windows: the gap is an EXPRESSION over the row,
    * not a constant — here purchases close sessions faster (1 minute) than
    * browsing events (5 minutes). This is the per-row-policy surface
    * session_window grew in Spark 3.2; state behavior (merge-on-overlap,
    * watermark eviction) is identical to the static-gap form. */
  def userSessionsDynamicGap(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(
        session_window(col("ts"),
          when(col("event_type") === "purchase", "1 minute").otherwise("5 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
              col("session_window.start").as("session_start"))

  /** Streaming file-source scan of one sf table, layout-agnostic. The
    * driver's testdata ships each table as a SINGLE parquet file
    * (`$d/events.parquet` is a file), while Spark-written corpora
    * (GenData scale-up output) make it a DIRECTORY of part files. The
    * file source wants a directory to list, so: directory table → stream
    * the table path itself; single-file table → stream the sf dir with a
    * leaf-name glob. The glob CANNOT cover both cases — `pathGlobFilter`
    * matches leaf FILE names only, so against a directory-layout corpus
    * it matches nothing and the stream silently drains 0 rows (an sf1
    * oracle run once found every streaming twin empty at 10× while every
    * batch query passed). */
  private def tableStream(s: SparkSession, d: String, table: String)
                         (schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = s"$d/$table.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val isDir = fs.getFileStatus(p).isDirectory
    // bound the TRIGGER COUNT, not the files per trigger: with
    // maxFilesPerTrigger=1 the number of micro-batches grows with the
    // part-file count, and a complete-mode sink re-emits its full state
    // every trigger — at a 100× corpus (100 part files, state ∝ data)
    // that's a quadratic drain. ceil(n/4) files per trigger keeps the
    // multi-batch slicing under test (≥2 triggers whenever the table has
    // ≥2 files) while the drain stays ≤ ~5 triggers at any scale.
    val nFiles = if (isDir) fs.listStatus(p).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet")) else 1
    val perTrigger = math.max(1L, (nFiles + 3L) / 4L)
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger.toString)
    if (isDir) src.parquet(path)
    else src.option("pathGlobFilter", s"$table.parquet").parquet(d)
  }

  /** Streaming scan of the events table with the SAME ts normalization
    * contract as `Tables.events`: the generator has produced both
    * TIMESTAMP(NANOS) (legacy flag reads it as long ns — floor-div to µs)
    * and TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ — cast, wall-clock
    * no-op under the UTC session). The batch loader sniffs the dtype, so a
    * streaming twin that assumed one encoding would break the moment the
    * generator switched. One driver-side footer probe supplies the schema —
    * the file source never re-infers. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val raw = tableStream(s, d, "events")(schema)
    schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** q20b — the q20 tumbling-bucket aggregation run THROUGH Structured
    * Streaming on the same events table: AvailableNow file-source
    * micro-batches → complete-mode windowed aggregate → memory sink,
    * returned after the stream drains. Registered under q20's DuckDB
    * oracle, which puts the streaming engine itself (source slicing,
    * state-store aggregation, sink commit) under the driver's hash gate —
    * the batch/stream parity the "one definition, two execution modes"
    * claim rests on. Complete mode needs no watermark and re-emits the
    * full state on the final trigger; ts normalization is shared with
    * `Tables.events` via [[eventsStream]]. */
  def q20StreamBucket(s: SparkSession, d: String): DataFrame = {
    val buckets = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("n"), col("sum_value"))
    // memory sink is BOUNDED here: rows ≤ (#hour buckets = corpus
    // time-span/1h, data-size-independent) × (≤5 triggers, tableStream's
    // ceil(n/4) slicing).
    drainToMemory(s, s"$d/events.parquet", buckets).head
  }

  /** q09c — streaming twin of q09b, completing the time-band family's
    * scale story: the quadratic-output anti-baseline (q09) has a bounded
    * batch form (q09b, 1.5 s vs 1003 s at sf10) and a bounded STREAMING
    * form — the shape a continuous ingest pipeline actually runs for
    * co-occurrence volume. The stream holds only the per-(hour, event_type)
    * count state (time-span × |types| rows — data-size-independent, the
    * q20b boundedness argument; complete mode, no watermark needed for an
    * AvailableNow replay); the strictly-later-bucket pair product is a
    * static fold over the drained count frame (thousands of rows), never a
    * stream-stream join carrying events². Registered under q09b's DuckDB
    * oracle — the streaming engine's source slicing, state store, and sink
    * commit sit under the same hash gate as the batch twin. */
  def q09StreamRangeVolume(s: SparkSession, d: String): DataFrame = {
    val cnt = eventsStream(s, d)
      .select(floor(unix_timestamp(col("ts")) / 3600).as("h"), col("event_type"))
      .groupBy("h", "event_type").agg(count(lit(1)).as("n"))
    // memory sink is BOUNDED here: rows ≤ hour-buckets × |event types| ×
    // (≤5 triggers, tableStream's ceil(n/4) slicing) — time-span-scaled,
    // not data-scaled (the q20b argument).
    val c = drainToMemory(s, s"$d/events.parquet", cnt).head
    val a = c.select(col("h"), col("event_type").as("type_a"), col("n").as("na"))
    val b = c.select((col("h") - 1).as("h"), col("event_type").as("type_b"),
      col("n").as("nb"))
    a.join(b, "h")
      .groupBy("type_a", "type_b")
      .agg(sum(col("na") * col("nb")).as("n_pairs"))
  }

  /** Streaming twin of q35 under the oracle gate: the exact-dedup profile
    * recomputed with Structured Streaming primitives and checked against
    * the SAME DuckDB oracle as the batch query. Streaming aggregations
    * can't hold `countDistinct`, so the unique count is the
    * streaming-native shape instead — stateful `dropDuplicates` on
    * (source, content hash) (exactly the A5 ingest-dedup operator) feeding
    * a plain count — run as a second AvailableNow pass over the same
    * files; the two memory sinks join statically at the end. At scale both
    * passes are one shuffle each (hash-partitioned by source / by dedup
    * key), and dropDuplicates state is RocksDB-backed per key — the
    * pattern a continuous ingest pipeline would run with a watermark
    * bounding state. */
  def q35StreamDedup(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    def src = tableStream(s, d, "documents")(schema)
      .withColumn("h", sha2(col("text"), 256))
    val totals = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val uniques = src.dropDuplicates("source", "h")
      .groupBy("source").agg(count(lit(1)).as("n_unique"))
    // memory sinks are BOUNDED here: rows ≤ |distinct sources| (a small
    // enum, not corpus-scaled) × ≤5 triggers.
    val Seq(tot, uniq) = drainToMemory(s, s"$d/documents.parquet", totals, uniques)
    // the source-cardinality join is materialized too, so the result is a
    // scan like every other memory drain's
    tot.join(uniq, "source").select("source", "n_docs", "n_unique")
      .localCheckpoint(true)
  }

  /** Session-window core shared by q51b and its boundary spec: the input
    * must carry `user_id`, a µs-floored `ts` (for the output bounds) and a
    * second-floored `ts_sec` (for the window algebra).
    *
    * Gap calibration: batch q51 breaks a session when the *floor-second*
    * diff is > 300 (`unix_timestamp` truncates). `session_window` merges
    * INCLUSIVELY on interval touch — next.start <= cur.start + gap
    * (verified empirically by the StreamingSpec boundary case: gap 301
    * wrongly merged a 301 s diff) — so on second-floored inputs a 300 s gap
    * makes merge ⇔ floored diff <= 300: bit-identical session composition
    * to the batch lag/running-sum formulation. */
  def sessionWindowCore(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts_sec"), "300 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"))
      .select(col("user_id"), col("n_events"),
              col("session_start"), col("session_end"))

  /** q51b — the q51 batch sessionization run THROUGH Structured Streaming
    * on the same events table, under the SAME DuckDB oracle. AvailableNow
    * micro-batches → `session_window` merge-on-overlap state → complete-mode
    * drain. The only post-drain static step is the oracle's 1-based
    * per-user session numbering, which no streaming operator can emit until
    * every session is closed (it's a per-user rank over finished sessions —
    * assigned here with one narrow window over the tiny session table).
    * This puts the third streaming state shape (merging session state, after
    * q20b's window aggregate and q35b's dropDuplicates ledger) under the
    * driver's hash gate. */
  def q51StreamSessionize(s: SparkSession, d: String): DataFrame = {
    val sessions = sessionWindowCore(
      eventsStream(s, d)
        .select(col("user_id"), col("ts"),
                // floor-to-second off the normalized µs timestamp — same
                // truncation as batch q51's unix_timestamp
                timestamp_seconds(unix_timestamp(col("ts"))).as("ts_sec")))
    // session rows scale with users, so they drain to the parquet ledger,
    // which complete mode rewrites every trigger: the per-trigger full
    // rewrite is complete mode's re-emission cost, paid to the lake, not
    // the driver
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    drainToLedger(s, sessions, OutputMode.Complete(), s"$d/events.parquet")
      .withColumn("session_id", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
              col("session_start"), col("session_end"))
  }

  /** Streaming twin of q128 (incremental near-dup vs a stored band index)
    * — the actual at-scale ingest shape run THROUGH Structured Streaming:
    * the existing corpus's band index and shingle sets are STATIC frames
    * (in production, the stored index q128's doc describes); incoming
    * documents arrive as file-source micro-batches, and each batch flows
    * map-side shingling → map-side MinHash band keys
    * (`Dedup.bandKeysExpr`; the batch form's explode+groupBy signature is
    * not usable mid-stream, the HOF form is bit-identical) → stream-static
    * equi-join against the index → stateful pair dedup (band collisions
    * repeat per pair) → stream-static join to the existing shingle sets →
    * exact-Jaccard confirm, all in APPEND mode. Every incoming doc sees
    * the full index regardless of batch slicing, so the drained union
    * equals the batch answer — registered under q128's exact DuckDB
    * oracle, which puts the streaming join + state machinery under the
    * hash gate. State: one entry per CANDIDATE pair (near-dup-sized) and
    * BOUNDED — `dropDuplicatesWithinWatermark` on a batch-timestamp
    * arrival axis evicts pair state after the 1 h delay, which is exact
    * here because a pair's duplicate collisions never straddle batches
    * (they all come from one incoming row's band explode). */
  def q128StreamNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.llm.Dedup
    val existingPred = pmod(col("doc_id"), lit(10)) < 8
    val shAll = Dedup.shingledN(graft.core.Tables.documents(s, d), 3)
    // the "stored index": materialized once, not replayed per micro-batch.
    // Each band row carries the existing doc's shingle-set SIZE so the
    // length prefilter below can kill impossible pairs BEFORE the stateful
    // dedup and the array_intersect confirm — a one-time doc-keyed join at
    // index-build time, 8 bytes per band row.
    val exBands = Dedup.bandsOf(shAll.filter(existingPred))
      .select(col("doc_id").as("ex_id"), col("band"), col("bv"))
      .join(shAll.filter(existingPred)
        .select(col("doc_id").as("ex_id"), size(col("sh")).as("ex_sz")), "ex_id")
      .localCheckpoint(true)
    val exSets = shAll.filter(existingPred)
      .select(col("doc_id").as("ex_id"), col("sh").as("sh_e"))
      .localCheckpoint(true)
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    // arrival_ts = the micro-batch timestamp (deterministic per batch) —
    // the event-time axis that lets the pair-dedup state EVICT: every band
    // collision for a given (inc_id, ex_id) pair originates from ONE
    // incoming row's posexplode, i.e. one micro-batch, so a watermark-
    // bounded dedup is EXACT here (duplicates never straddle batches)
    // while the state store stays bounded by the watermark delay instead
    // of growing with corpus lifetime.
    val incoming = tableStream(s, d, "documents")(schema)
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
      .withColumn("arrival_ts", current_timestamp())
      .withWatermark("arrival_ts", "1 hour")
      .select(col("doc_id").as("inc_id"), col("arrival_ts"),
        split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("inc_id"), col("arrival_ts"), array_distinct(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', slice(t, i+1, 3)))"
      )).as("sh_i"))
    val withBands = Dedup.bandKeysPrep("sh_i")
      .foldLeft(incoming) { case (df, (n, c)) => df.withColumn(n, c) }
      .select(col("inc_id"), col("arrival_ts"), col("sh_i"),
        posexplode(Dedup.bandKeysExpr).as(Seq("band", "bv")))
    val confirmed = withBands
      .join(exBands, Seq("band", "bv"))
      // Length prefilter (the PPJoin size bound): jaccard ≤ min/max for any
      // pair, and the output keeps pairs with round(j, 4) ≥ 0.5, i.e. raw
      // j ≥ 0.49995 = 9999/20000. So any pair with 20000·min < 9999·max
      // can NEVER confirm — drop it here, before it costs a state-store
      // entry and an array_intersect. Exact-safe: the bound is evaluated in
      // integer arithmetic (sizes ≤ 2^31, no overflow at bigint), the
      // boundary is kept inclusive, and the raw double j of a dropped pair
      // sits ≥1e-12 below the 0.49995 rounding boundary (one
      // correctly-rounded division, error ~1e-16).
      .filter(lit(20000L) * least(size(col("sh_i")), col("ex_sz"))
        >= lit(9999L) * greatest(size(col("sh_i")), col("ex_sz")))
      .drop("ex_sz")
      .dropDuplicatesWithinWatermark("inc_id", "ex_id")
      .drop("arrival_ts")
      .join(exSets, "ex_id")
      .withColumn("inter",
        size(array_intersect(col("sh_i"), col("sh_e"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sh_i")) + size(col("sh_e")) - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("inc_id", "ex_id", "jaccard")
    // Output = CONFIRMED near-dup pairs of the incoming slice — the job's
    // actual product, which scales with the corpus dup RATE: drained to the
    // parquet ledger on executors, never through driver memory. Append
    // mode emits each confirmed pair exactly once, so ledger = stream
    // output with no post-fold needed — this IS what the production ingest
    // does.
    drainToLedger(s, confirmed, OutputMode.Append(), s"$d/documents.parquet",
      minParts = s.sparkContext.defaultParallelism)
  }

  /** Streaming twin of q175: the sliding-window aggregate run through the
    * state store in complete mode — q20b's harness with overlapping
    * windows, so every micro-batch updates 3 window states per event.
    * Registered under q175's DuckDB oracle. */
  def q175StreamSliding(s: SparkSession, d: String): DataFrame = {
    val buckets = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour", "20 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("n"), col("sum_value"))
    // memory sink is BOUNDED: rows ≤ 3× hour-bucket count (20-min slide)
    // × ≤5 triggers — time-span-scaled, not data-scaled (q20b argument).
    drainToMemory(s, s"$d/events.parquet", buckets).head
  }

  /** Oracle-gated STREAM-STREAM inner join: clicks ⋈ purchases per user
    * within (click, click + 1 h] — two independent file-source streams
    * over the same events table, joined on key + time-range, append mode.
    * This puts the symmetric join-state machinery itself (both sides
    * buffered, range condition probed on arrival from either direction)
    * under the driver's hash gate; the spec-only MemoryStream cases cover
    * the watermark-eviction semantics. The watermark here is the
    * CORPUS-span bound (31 days), not the 1-hour production value: a
    * file-source stream delivers events in file order, not time order, so
    * a tight watermark would legitimately drop late CLICKS in sliced
    * multi-part layouts and diverge from the batch answer — exactness
    * under arbitrary slicing is what the gate checks; production sets the
    * delay to its real out-of-orderness bound (StreamingSpec pins the
    * tight-watermark behavior separately). */
  def q176StreamClickAttr(s: SparkSession, d: String): DataFrame =
    clickPurchaseRangeJoin(s, eventsStream(s, d), eventsStream(s, d), "31 days",
        "inner", s"$d/events.parquet")
      .select("user_id", "click_id", "purchase_id")

  private val q176Sql =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM ev c JOIN ev p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '1 hour'""".stripMargin

  /** q176b — the SAME stream-stream range join under a PRODUCTION
    * watermark (2 hours, not q176's corpus-span bound), exact because the
    * source files are TIME-ORDERED: the events table is staged once into
    * 6 contiguous time-bucket files written sequentially (ascending
    * modification time = ascending event time), so the file source
    * delivers batch k+1 with min(ts) ≥ batch k's max(ts). Under that
    * ordering no input row ever arrives behind the watermark and every
    * click a future purchase can reach (click_ts ≥ next batch's min − 1 h)
    * survives eviction (it needs click_ts + 1 h ≥ wm = maxTs_k − 2 h,
    * which ascending buckets guarantee with an hour to spare) — so the
    * tight watermark yields the SAME answer the batch oracle computes,
    * while join state is bounded by the 2-hour horizon instead of the
    * corpus span. This is the at-scale ingest contract: storage-event
    * streams from a time-partitioned lake ARE bucket-ordered, and the
    * delay models the real intra-bucket out-of-orderness bound. The
    * one-time staging sort is the price of admission (a time-partitioned
    * lake already paid it at write time) — and it IS one-time: the staged
    * corpus is deterministic per (source dir, nBuckets, source-data
    * fingerprint), so it lives under a content-addressed cache path that
    * bench/verify runs in the same JVM boot (and across processes on the
    * same host) reuse instead of re-writing the sequential buckets every
    * call (~half of q176b's sf0.1 wall was re-staging). The fingerprint
    * (file names/sizes/max mtime) invalidates the cache when the dataset
    * at the path is regenerated in place. */
  def q176StreamClickAttrOrdered(s: SparkSession, d: String): DataFrame =
    orderedFamilyJoin(s, d, "inner", sentinelFiles = 0)
      .select("user_id", "click_id", "purchase_id")

  /** Stage the events table as [[q176StreamClickAttrOrdered]]'s
    * time-ordered bucket corpus, or reuse a previous staging: the output
    * is a pure function of (source dir, nBuckets, sentinelFiles), so it
    * lives at a content-addressed path and is built at most once per host.
    * The build writes into a scratch dir and RENAMES into place, so a
    * concurrent bench/verify either wins the rename or reuses the winner —
    * never reads a half-written corpus (the `_STAGED_OK` marker is written
    * after the last bucket, before the rename).
    *
    * `sentinelFiles > 0` appends that many single-pair FLUSH buckets after
    * the real data — end-of-stream punctuation for the outer-join twins
    * (q229/q229b): each holds one click and one purchase with negative ids
    * at maxTs + (k/2 + 1) days, so the final watermark provably passes
    * every real row's join bound and the state store MUST emit its
    * null-completed outer results before the drain ends. Two sentinel
    * trigger groups are required (the watermark bumped by group 1 evicts
    * state only while group 2's batch runs — watermarks apply one batch
    * late), which is why callers stage ≥2 groups' worth of files. Sentinel
    * rows are filtered out of every registered result by `user_id >= 0`. */
  private def stagedOrderedEvents(s: SparkSession, d: String, nBuckets: Int,
                                  sentinelFiles: Int = 0): String = {
    import java.nio.file.{Files, Paths}
    // Cache key = path + a cheap DATA fingerprint (sorted file names,
    // sizes, max mtime of the source parquet dir): a path-only key would
    // silently reuse a stale staged corpus across processes after the
    // dataset is regenerated in place, and a rewrite changes sizes and/or
    // mtimes even when it keeps the names.
    val src = Paths.get(d, "events.parquet")
    val fp = new StringBuilder
    var maxMtime = 0L
    if (Files.isDirectory(src)) {
      val st = Files.list(src)
      try {
        st.sorted.forEach { p =>
          fp.append(p.getFileName).append('|').append(Files.size(p)).append('|')
          maxMtime = math.max(maxMtime, Files.getLastModifiedTime(p).toMillis)
        }
      } finally st.close()
    } else if (Files.exists(src)) {
      fp.append(src.getFileName).append('|').append(Files.size(src)).append('|')
      maxMtime = Files.getLastModifiedTime(src).toMillis
    }
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${Paths.get(d).toAbsolutePath}|$nBuckets|s$sentinelFiles|$fp$maxMtime"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val root = Paths.get(System.getProperty("java.io.tmpdir"), "graft_q176b_cache")
    val fin = root.resolve(key)
    if (Files.exists(fin.resolve("_STAGED_OK"))) return fin.toString
    // materialize once: the staging loop filters the table nBuckets times
    // (one sequential write per bucket — ascending modification times are
    // the ordering contract), and without this each write would rescan
    // the source (measured 12.6 → ~7 s cold at sf0.1)
    val ev = graft.core.Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .localCheckpoint(true)
    val mm = ev.agg(unix_micros(min("ts")).as("t0"), unix_micros(max("ts")).as("t1"))
      .collect()(0)
    val (t0, t1) = (mm.getAs[Long]("t0"), mm.getAs[Long]("t1"))
    val span = math.max(1L, t1 - t0 + 1L)
    Files.createDirectories(root)
    val scratch = Files.createTempDirectory(root, s"build_${key}_")
    val evDir = scratch.resolve("ordered").toString
    (0 until nBuckets).foreach { k =>
      ev.filter(((unix_micros(col("ts")) - t0) * nBuckets / span).cast("int") === k)
        .coalesce(1).write.mode("append").parquet(evDir)
    }
    (0 until sentinelFiles).foreach { k =>
      // one click + one purchase per flush bucket: each join side's
      // watermark column only sees rows that survive ITS type filter, so
      // both types must be present for the global watermark to advance.
      // Negative user ids join nothing real and are filtered post-drain.
      val day = 86_400_000_000L * (k / 2 + 1)
      val sentTs = new java.sql.Timestamp((t1 + day) / 1000L)
      import scala.jdk.CollectionConverters._
      val rows = Seq(
        Row(-100L - 2L * k, -1L, "click", sentTs, 0.0),
        Row(-101L - 2L * k, -2L, "purchase", sentTs, 0.0)).asJava
      s.createDataFrame(rows, ev.schema)
        .coalesce(1).write.mode("append").parquet(evDir)
    }
    Files.createFile(Paths.get(evDir, "_STAGED_OK"))
    try {
      Files.move(Paths.get(evDir), fin,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.DirectoryNotEmptyException
           | _: java.nio.file.AccessDeniedException => // lost the race: reuse winner
    } finally {
      // always drop the scratch tree: empty on the winning path, the full
      // materialized corpus on the losing one
      deleteRecursively(scratch)
    }
    fin.toString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally st.close()
    }
  }

  /** The click→purchase attribution range join of q176, q176b and the q229
    * family: a purchase is attributed to a click of the same user when it
    * falls in (click, click + 1 h]. Clicks come from `clickEvents` and
    * purchases from `purchaseEvents`, two streams over the events shape;
    * both sides carry the `delay` watermark, and because the condition
    * bounds the purchase time on both ends, Spark expires buffered rows
    * once the watermark passes the bound. The output is click-scaled, so
    * it drains through the parquet ledger, never driver memory. Columns:
    * `user_id`, `click_id`, `p_user`, `purchase_id` (a semi join has only
    * the first two). */
  private def clickPurchaseRangeJoin(s: SparkSession, clickEvents: DataFrame,
                                     purchaseEvents: DataFrame, delay: String,
                                     joinType: String, sourcePath: String): DataFrame = {
    val clicks = clickEvents.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", delay)
    val purchases = purchaseEvents.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", delay)
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .drop("click_ts", "p_ts")
    drainToLedger(s, joined, OutputMode.Append(), sourcePath)
  }

  /** [[clickPurchaseRangeJoin]] over the time-ordered bucket corpus
    * ([[stagedOrderedEvents]]) under the production 2-hour watermark: q176b
    * is its inner member, the q229 family its outer and semi members.
    * Two files per trigger make 3 data batches for the 6 buckets, plus 2
    * sentinel batches when `sentinelFiles = 4` (the second runs AFTER the
    * watermark has passed every real row's join bound, forcing the state
    * store to emit all null-completed results — watermark effects are one
    * batch late by design). Consecutive buckets in one batch cannot break
    * the ordering argument (their union is still a contiguous range ahead
    * of everything already delivered), and the per-trigger overhead of the
    * two-source stateful join dominates the drain (~1 s/trigger), so fewer
    * triggers is the cheap lever. */
  private def orderedFamilyJoin(s: SparkSession, d: String, joinType: String,
                                sentinelFiles: Int): DataFrame = {
    val evDir = stagedOrderedEvents(s, d, nBuckets = 6, sentinelFiles)
    val schema = s.read.parquet(evDir).schema
    def side = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(evDir)
    clickPurchaseRangeJoin(s, side, side, "2 hours", joinType, evDir)
  }

  /** q65b — streaming heavy hitters under q65's DuckDB oracle: the per-key
    * order count runs as a complete-mode streaming aggregation (the state
    * store holds exactly the key→count map the batch query's Misra-Gries
    * pass sketches), and the frequency threshold — which needs the GRAND
    * total, unavailable inside a single streaming aggregation — is the
    * post-drain static step, the same role q65's exact second pass plays.
    * At 100 TB the state-per-key complete aggregation is the honest cost
    * of EXACT streaming heavy hitters; the bounded-state production
    * variant is REGISTERED as q65c ([[q65StreamHeavyHittersBounded]]) —
    * MisraGries sketches merged per micro-batch in foreachBatch, O(k)
    * state — and both end in the same threshold math this query gates. */
  def q65StreamHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/orders.parquet").schema
    val counts = tableStream(s, d, "orders")(schema)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    // DELIBERATELY driver-resident and key-cardinality-scaled: q65b IS
    // the registered honest anti-baseline whose re-emission cost q65c's
    // O(k) MisraGries drain exists to beat (measured 14.1 vs 5.3 s sf1).
    val t = drainToMemory(s, s"$d/orders.parquet", counts).head
    t.crossJoin(broadcast(t.agg(sum("n_orders").as("total"))))
      .filter(col("n_orders") > col("total") / lit(1000.0))
      .select("o_custkey", "n_orders")
  }

  /** q65c — BOUNDED-state streaming heavy hitters: the production variant
    * q65b's scaladoc promises. q65b is exact-but-honest about its cost — a
    * complete-mode aggregation whose state store holds the full
    * custkey→count map and re-emits it every trigger (measured ~3× wall at
    * 10× data from re-emission alone). Here the per-trigger state is a
    * [[graft.functions.MisraGriesSketch]] folded in foreachBatch: each
    * micro-batch aggregates to a ≤2k-entry sketch map (partial aggregation
    * per partition, k-sized merge), and the driver merges batch sketches
    * associatively — mergeable-summaries gives the SAME n/(k+1) superset
    * guarantee over the whole stream, so state is O(k) regardless of key
    * cardinality or stream length. The exact recount second pass (a static
    * broadcast semi-join on the ≤2k candidates, then the grand-total
    * threshold) is identical to batch q65's — which is why this streaming
    * sketch verifies under q65's exact DuckDB HAVING oracle. k=1024 ⇒
    * guarantee n/1025, a strict superset of the n/1000 cut. */
  def q65StreamHeavyHittersBounded(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 1024
    val schema = s.read.parquet(s"$d/orders.parquet").schema
    var sketch = Map.empty[Long, Long]
    var maxBatchEntries = 0
    val q = tableStream(s, d, "orders")(schema)
      .select(col("o_custkey"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val m = batch
          .select(graft.functions.MisraGries.sketch(col("o_custkey"), k).as("m"))
          .head().getMap[Long, Long](0).toMap
        maxBatchEntries = math.max(maxBatchEntries, m.size)
        sketch = graft.functions.MisraGries.mergeSketches(sketch, m, k)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(sketch.size <= 2 * k && maxBatchEntries <= 2 * k,
      s"MG state bound violated: ${sketch.size} / $maxBatchEntries > ${2 * k}")
    val cands = sketch.keys.toSeq.sorted.toDF("o_custkey")
    val o = graft.core.Tables.orders(s, d)
    o.join(broadcast(cands), "o_custkey")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("total"))))
      .filter(col("n_orders") > col("total") / lit(1000.0))
      .select("o_custkey", "n_orders")
  }

  /** q217c — the preference comparison matrix maintained THROUGH
    * Structured Streaming: the same (user, type) counts q217 computes in
    * one batch aggregate are held in the state store across AvailableNow
    * micro-batches and emitted in UPDATE mode — each trigger emits only
    * the keys whose count CHANGED, not the full state (the q65b
    * complete-mode re-emission cost, avoided: counts are monotone, so the
    * final count per key is simply the max over its emitted updates).
    * The drain is the parquet ledger, NOT a driver-resident memory sink:
    * the cumulative update volume is O(distinct user×type keys × triggers)
    * — user-cardinality-scaled — so executors append each trigger's
    * changed keys straight to the lake and the driver never holds a row
    * (a memory sink would OOM the driver at 10⁹ users while the state
    * store would have been fine). Post-drain, the max-per-key fold and
    * q217's own pair minting
    * ([[graft.queries.Relational12.prefPairsFromCounts]]) run as one
    * distributed pass over the ledger — corpus-scale work stays inside
    * the streaming aggregate and the lake. Registered under q217's
    * exact-integer DuckDB oracle: batch/stream parity for the RLHF
    * comparison-matrix shape. */
  def q217StreamPrefPairs(s: SparkSession, d: String): DataFrame = {
    val counts = eventsStream(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val finalCounts = drainToLedger(s, counts, OutputMode.Update(), s"$d/events.parquet")
      .groupBy("user_id", "event_type").agg(max("c").as("c"))
    graft.queries.Relational12.prefPairsFromCounts(finalCounts)
  }

  /** q229 — watermarked stream-stream LEFT OUTER join under a batch
    * oracle: every click emits exactly once — matched rows as purchases
    * arrive, unmatched ("abandoned") clicks as null-completed rows once
    * the watermark proves no future purchase can reach them. Outer
    * results are the one stream-stream output an engine cannot produce
    * eagerly without retractions, so their correctness rests entirely on
    * watermark bookkeeping — which is exactly what the sentinel-flush
    * corpus puts under q229's DuckDB LEFT JOIN oracle. State is bounded
    * by the 2-hour horizon (q176b's argument); the per-user fold keeps
    * the gate null-free and order-independent. */
  def q229StreamOuterAttr(s: SparkSession, d: String): DataFrame =
    orderedFamilyJoin(s, d, "left_outer", sentinelFiles = 4)
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(col("purchase_id")).as("n_attributed"),
        count(when(col("purchase_id").isNull, 1)).as("n_abandoned"))

  val q229Sql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
      |c AS (SELECT user_id, event_id AS click_id, ts AS cts FROM ev
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user, event_id AS purchase_id, ts AS pts
      |      FROM ev WHERE event_type = 'purchase')
      |SELECT c.user_id,
      |       count(p.purchase_id) AS n_attributed,
      |       count(CASE WHEN p.purchase_id IS NULL THEN 1 END) AS n_abandoned
      |FROM c LEFT JOIN p
      |  ON c.user_id = p.p_user
      | AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
      |GROUP BY c.user_id""".stripMargin

  /** q229b — the FULL OUTER completion: both unmatched populations emit —
    * abandoned clicks (null purchase side) and orphan purchases with no
    * click inside the preceding hour (null click side). Same sentinel-
    * flush corpus, same 2-hour bounded state; the coalesced-user fold
    * counts all three row populations so the oracle pins matched pairs
    * AND both watermark-finalized null populations in one hash. */
  def q229FullOuterAttr(s: SparkSession, d: String): DataFrame =
    orderedFamilyJoin(s, d, "full_outer", sentinelFiles = 4)
      .withColumn("u", coalesce(col("user_id"), col("p_user")))
      .filter(col("u") >= 0)
      .groupBy(col("u").as("user_id"))
      .agg(
        count(when(col("click_id").isNotNull && col("purchase_id").isNotNull, 1))
          .as("n_pairs"),
        count(when(col("click_id").isNotNull && col("purchase_id").isNull, 1))
          .as("n_open_clicks"),
        count(when(col("click_id").isNull, 1)).as("n_orphan_purchases"))

  val q229bSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
      |c AS (SELECT user_id, event_id AS click_id, ts AS cts FROM ev
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user, event_id AS purchase_id, ts AS pts
      |      FROM ev WHERE event_type = 'purchase')
      |SELECT coalesce(c.user_id, p.p_user) AS user_id,
      |       count(CASE WHEN c.click_id IS NOT NULL
      |                   AND p.purchase_id IS NOT NULL THEN 1 END) AS n_pairs,
      |       count(CASE WHEN c.click_id IS NOT NULL
      |                   AND p.purchase_id IS NULL THEN 1 END) AS n_open_clicks,
      |       count(CASE WHEN c.click_id IS NULL THEN 1 END) AS n_orphan_purchases
      |FROM c FULL JOIN p
      |  ON c.user_id = p.p_user
      | AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
      |GROUP BY 1""".stripMargin

  /** q229c — stream-stream LEFT SEMI join: converting clicks, emitted
    * exactly once when their FIRST in-window purchase arrives (no
    * watermark-delayed population — a semi row either matches during the
    * run or never emits, so no sentinel flush is needed; the shared
    * corpus's sentinels simply never match). The at-scale shape for
    * "which stream-A rows have a stream-B witness" without materializing
    * the pair blow-up the inner join (q176) carries. Same 2-hour bounded
    * state; EXISTS oracle. */
  def q229StreamSemiAttr(s: SparkSession, d: String): DataFrame =
    orderedFamilyJoin(s, d, "left_semi", sentinelFiles = 4)
      .filter(col("user_id") >= 0)
      .select("user_id", "click_id")

  val q229cSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
      |SELECT c.user_id, c.event_id AS click_id
      |FROM ev c
      |WHERE c.event_type = 'click'
      |  AND EXISTS (SELECT 1 FROM ev p
      |              WHERE p.event_type = 'purchase'
      |                AND p.user_id = c.user_id
      |                AND p.ts > c.ts
      |                AND p.ts <= c.ts + INTERVAL 1 HOUR)""".stripMargin

  val queries: Seq[graft.queries.GraftQuery] = Seq(
    graft.queries.GraftQuery("q229_stream_outer_attr", q229StreamOuterAttr _,
      Some(q229Sql)),
    graft.queries.GraftQuery("q229b_stream_full_outer_attr", q229FullOuterAttr _,
      Some(q229bSql)),
    graft.queries.GraftQuery("q229c_stream_semi_attr", q229StreamSemiAttr _,
      Some(q229cSql)),
    graft.queries.GraftQuery("q21b_stream_pipeline", q21StreamPipeline _,
      Some(Pipeline.q21ZonesOracleSql)),
    graft.queries.GraftQuery("q128b_stream_neardup", q128StreamNearDup _,
      Some(graft.llm.Dedup.incrementalNearDupSql)),
    graft.queries.GraftQuery("q176_stream_click_attr", q176StreamClickAttr _,
      Some(q176Sql)),
    graft.queries.GraftQuery("q176b_stream_click_attr_wm", q176StreamClickAttrOrdered _,
      Some(q176Sql)),
    graft.queries.GraftQuery("q175b_stream_sliding", q175StreamSliding _,
      Some(graft.queries.Relational11.q175Sql)),
    graft.queries.GraftQuery("q20b_stream_bucket", q20StreamBucket _,
      Some(graft.queries.Relational.q20Sql)),
    graft.queries.GraftQuery("q35b_stream_dedup", q35StreamDedup _,
      Some(graft.llm.Dedup.exactDedupSql)),
    graft.queries.GraftQuery("q51b_stream_sessionize", q51StreamSessionize _,
      Some(graft.queries.Relational4.q51Sql)),
    graft.queries.GraftQuery("q65b_stream_heavy_hitters", q65StreamHeavyHitters _,
      Some(graft.queries.Relational6.q65Sql)),
    graft.queries.GraftQuery("q65c_stream_heavy_hitters_mg", q65StreamHeavyHittersBounded _,
      Some(graft.queries.Relational6.q65Sql)),
    graft.queries.GraftQuery("q217c_stream_pref_pairs", q217StreamPrefPairs _,
      Some(graft.queries.Relational12.q217Sql)),
    graft.queries.GraftQuery("q09c_stream_range_volume", q09StreamRangeVolume _,
      Some(graft.queries.Relational.q09bSql)))
}

/** StatefulProcessor for [[StreamingPipeline.userStatsTws]]: one named
  * ValueState[(count, sum)] per user key. State handles are resolved in
  * `init` (per partition, per query run) — the processor instance itself is
  * serialized to executors, so the handle field is transient. */
class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var stats: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    stats = getHandle.getValueState[(Long, Double)](
      "stats", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    var (n, sum) = if (stats.exists()) stats.get() else (0L, 0.0)
    rows.foreach { case (_, v) => n += 1; sum += v }
    stats.update((n, sum))
    Iterator.single((key, n, sum))
  }
}
