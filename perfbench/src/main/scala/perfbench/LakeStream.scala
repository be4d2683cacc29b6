package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import graft.hl7.Pipeline
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import scala.jdk.CollectionConverters._

/** `lake_stream`: a file-dropper thread drops the seeded corpus into an
  * inbox on a fixed open-loop schedule while `StreamingPipeline`'s chain
  * tails it into a lake; then the lookup loop runs on that small-file lake. */
object LakeStream {
  val Messages = 360
  val DropIntervalMs = 100
  val TriggerMs = 1000
  val WarmMessages = 40
  val DrainTimeoutMs = 60000L
  /** Enough lookups for the median; the p90's 100 do not fit the run. */
  val MinLookups = 20

  /** The program's streaming chain (as `StreamingPipeline.run` composes it),
    * with a processing-time trigger on the writer `lakeSink` returns. */
  def start(spark: SparkSession, inbox: String, lake: String, checkpoint: String,
            trigger: Trigger): StreamingQuery = {
    val ingested = StreamingPipeline.ingestStream(StreamingPipeline.messagesStream(spark, inbox))
    val staged = Pipeline.withZone(Pipeline.stage(ingested))
    StreamingPipeline.lakeSink(staged.drop("segments"), lake, checkpoint).trigger(trigger).start()
  }

  /** Progress events of the benchmark's stream, kept as they arrive. */
  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def all: Seq[StreamingQueryProgress] = events.asScala.toList
    /** Wall-clock commit time (epoch ms) of each micro-batch. */
    def commits: Map[Long, Long] = all.map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L))
    }.toMap
  }

  /** Which micro-batch read each inbox file, from the file source's own log
    * in the checkpoint (plain and compacted entries alike). */
  def batchOfFile(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(mt => new java.io.File(new java.net.URI(mt.group(1))).getName -> mt.group(2).toLong))
      .toMap
  }

  def run(run: Run): Unit = {
    val work = run.work
    val corpus = Er7Gen.generate(run.args.seed, Messages)
    val m = corpus.manifest
    Files.write(work.resolve("manifest.json"), m.toJson.getBytes("UTF-8"))
    System.err.println(s"corpus: ${m.toJson}")
    val warm = Er7Gen.generate(run.args.seed ^ 0x5deece66dL, WarmMessages, "warm")

    val spark = run.setUp { s =>
      val dir = work.resolve("warm")
      warm.write(dir.resolve("inbox"))
      val lake = dir.resolve("lake").toString
      val q = start(s, dir.resolve("inbox").toString, lake, dir.resolve("checkpoint").toString, Trigger.AvailableNow())
      q.awaitTermination()
      Pipeline.retrieve(s, lake, warm.payloadById.keys.min).collect()
    }
    val exec = if (run.args.trace) Some(new Exec(spark).register()) else None
    val progress = new Progress
    spark.streams.addListener(progress)
    val inbox = work.resolve("inbox")
    val staging = work.resolve("dropping")
    Files.createDirectories(inbox)
    Files.createDirectories(staging)
    val lake = work.resolve("lake")
    val checkpoint = work.resolve("checkpoint")

    val t0 = System.nanoTime()
    val deadline = t0 + run.args.seconds * 1000000000L
    val before = exec.map(_.snapshot())
    val query = start(spark, inbox.toString, lake.toString, checkpoint.toString,
      Trigger.ProcessingTime(TriggerMs.toLong))

    // the dropper: file k is due at start + k × interval; each lands by an
    // atomic rename so the source never lists a half-written file
    val scheduled = new ConcurrentHashMap[String, java.lang.Long]()
    val dropped = new ConcurrentHashMap[String, java.lang.Long]()
    val dropStart = System.currentTimeMillis() + TriggerMs
    val dropper = new Thread(() => {
      corpus.files.zipWithIndex.foreach { case (f, k) =>
        val due = dropStart + k.toLong * DropIntervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val tmp = staging.resolve(f.name)
        Files.write(tmp, f.text.getBytes("UTF-8"))
        Files.move(tmp, inbox.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
        scheduled.put(f.name, due)
        dropped.put(f.name, System.currentTimeMillis())
      }
    }, "file-dropper")
    dropper.setDaemon(true)
    dropper.start()

    // drained when every file sits in a committed micro-batch
    val streamed = run.attempt("stream") {
      dropper.join()
      val limit = System.currentTimeMillis() + DrainTimeoutMs
      var batches = batchOfFile(checkpoint)
      def committed = progress.commits
      while ((batches.size < corpus.files.length || !batches.values.forall(committed.contains)) &&
             System.currentTimeMillis() < limit && query.exception.isEmpty) {
        Thread.sleep(50)
        batches = batchOfFile(checkpoint)
      }
      query.stop()
      query.exception.foreach(e => throw e)
      require(batches.size == corpus.files.length,
        s"only ${batches.size} of ${corpus.files.length} files reached a micro-batch in ${DrainTimeoutMs / 1000} s")
      batches
    }
    spark.streams.removeListener(progress)
    val afterStream = exec.map(_.snapshot())

    streamed.foreach { batches =>
      val commits = progress.commits
      val freshness = corpus.files.map(f => (commits(batches(f.name)) - scheduled.get(f.name)).toDouble)
      for ((p, name) <- Seq(0.5 -> "freshness_p50_ms", 0.9 -> "freshness_p90_ms"))
        Stats.percentile(freshness, p) match {
          case Some(v) => run.e2e(name, v, "ms")
          case None => run.check(false, s"$name needs ${Stats.minSamples(p)} files, got ${freshness.length}")
        }
      val late = corpus.files.map(f => (dropped.get(f.name) - scheduled.get(f.name)).toDouble)
      System.out.println(f"dropper lateness: median ${Stats.median(late)}%.1f ms, max ${late.max}%.1f ms over ${late.length} files")
      run.e2e("lake_bytes_per_input_byte", LakeFiles.bytes(lake).toDouble / m.inputBytes, "B/B")

      val beforeLookups = exec.map(_.snapshot())
      val walls = Lookups.loop(run, spark, lake.toString, Lookups.plan(corpus, run.args.seed), deadline, MinLookups)
      Lookups.report(run, walls, Seq(0.5))
      val batchWalls = progress.all.filter(_.numInputRows > 0)
        .map(_.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0)
      run.reportWork(Seq("micro-batch" -> batchWalls, "lookup" -> walls.take(MinLookups).map(_ / 1000)))
      run.reportResources()
      val afterLookups = exec.map(_.snapshot())

      checkExactlyOnce(run, spark, lake.toString, corpus)
      if (run.args.trace) {
        traceLayers(run, progress.all, commits, batches, dropped.asScala.map(kv => kv._1 -> kv._2.toLong).toMap, late)
        run.layer("hl7.lake.files", LakeFiles.list(lake).size, "count")
        run.layer("hl7.lake.bytes", LakeFiles.bytes(lake), "bytes")
        val lookupDiff = Exec.diff(beforeLookups.get, afterLookups.get).map(t => t._1 -> t._2).toMap
        run.layer("hl7.retrieve.files_read", lookupDiff("exec.scan.files") / walls.length, "count")
        run.layer("hl7.retrieve.bytes_read", lookupDiff("exec.task_input_bytes") / walls.length, "bytes")
        Exec.diff(before.get, afterStream.get).foreach { case (k, v, u) => run.layer(k, v, u) }
        val ids = corpus.payloadById.keys.toVector.sorted
        run.traceOverhead(exec.get, 8, "a lookup") { i =>
          Pipeline.retrieve(spark, lake.toString, ids(i % ids.length)).collect()
        }
      }
    }
    if (streamed.isEmpty) run.check(false, "stream failed; nothing to read back")
  }

  /** Every distinct message lands exactly once, in the zone the manifest
    * predicts, and the catalog has one row per lake row. */
  def checkExactlyOnce(run: Run, spark: SparkSession, lake: String, corpus: Corpus): Unit = {
    val msgs = spark.read.parquet(s"$lake/messages")
    val perId = msgs.groupBy("message_id").count()
    val repeated = perId.filter(col("count") > 1).count()
    run.check(repeated == 0, s"$repeated messages were written more than once")
    val ids = perId.select("message_id").collect().map(_.getString(0)).toSet
    run.check(ids == corpus.payloadById.keySet,
      s"lake holds ${ids.size} distinct messages, ${(corpus.payloadById.keySet -- ids).size} generated ones missing, ${(ids -- corpus.payloadById.keySet).size} unknown")
    LakeBatch.checkLake(run, spark, lake, corpus.manifest.streamZones, corpus.manifest.distinct.toLong)
  }

  /** Micro-batch metrics from Spark's progress events. A run has about a
    * dozen batches, too few for percentiles under the ten-beyond rule, so
    * batch durations are reported as mean and max. */
  def traceLayers(run: Run, progress: Seq[StreamingQueryProgress], commits: Map[Long, Long],
                  batchOf: Map[String, Long], dropped: Map[String, Long], late: Seq[Double]): Unit = {
    val withData = progress.filter(_.numInputRows > 0)
    def part(p: StreamingQueryProgress, name: String): Double = p.durationMs.getOrDefault(name, 0L).toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val durations = withData.map(part(_, "triggerExecution"))
    withData.foreach { p =>
      val end = commits(p.batchId)
      run.trace.record("streaming.batch", end - part(p, "triggerExecution").toLong, end, p.batchId.toString)
    }
    run.layer("streaming.batches", withData.length, "count")
    run.layer("streaming.batch_ms.mean", mean(durations), "ms")
    run.layer("streaming.batch_ms.max", if (durations.isEmpty) 0.0 else durations.max, "ms")
    for (name <- Seq("addBatch", "walCommit", "queryPlanning", "latestOffset"))
      run.layer(s"streaming.${name.replaceAll("([A-Z])", "_$1").toLowerCase}.ms", mean(withData.map(part(_, name))), "ms")
    val state = withData.lastOption.toSeq.flatMap(_.stateOperators)
    run.layer("streaming.state_rows", state.map(_.numRowsTotal).sum, "count")
    run.layer("streaming.state_mem_bytes", state.map(_.memoryUsedBytes).sum, "bytes")
    run.layer("streaming.state_commit_ms", withData.flatMap(_.stateOperators).map(_.commitTimeMs).sum, "ms")
    // backlog at each commit: files already dropped but not yet in a
    // committed batch
    val backlog = commits.toSeq.map { case (b, at) =>
      dropped.count { case (f, t) => t <= at && batchOf.get(f).forall(_ > b) }
    }
    run.layer("streaming.backlog_files.max", if (backlog.isEmpty) 0 else backlog.max, "count")
    run.layer("streaming.dropper_late_ms.max", late.max, "ms")
  }
}
