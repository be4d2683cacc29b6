package perfbench

import java.nio.file.{Files, Path}

import graft.hl7.{Er7Parser, Pipeline, Views}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Timed actions that materialize every output column. */
object Act {
  /** Writes `df` to the noop sink, observing its row count and `exprs` on
    * the same pass. Returns the observed values by name. */
  def noop(df: DataFrame, exprs: Column*): Map[String, Any] = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), exprs: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get
  }
}

/** Data files of a lake directory (hidden and `_` files excluded). */
object LakeFiles {
  def list(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }.toList

  def bytes(root: Path): Long = list(root).map(Files.size).sum
}

/** The point-lookup client: one closed loop of `Pipeline.retrieve` calls. */
object Lookups {
  /** Lookup order: the corpus's ids shuffled by `seed`, with every tenth
    * lookup a planted miss. Yields (id, expected payload or None). */
  def plan(corpus: Corpus, seed: Long): Vector[(String, Option[String])] = {
    val rng = new scala.util.Random(seed)
    val known = rng.shuffle(corpus.payloadById.keys.toVector.sorted)
    known.zipWithIndex.flatMap { case (id, i) =>
      val hit = Vector(id -> corpus.payloadById.get(id))
      if (i % 9 == 8) hit :+ (Er7Gen.sha256Hex(s"planted miss $seed/$i") -> None) else hit
    }
  }

  /** Runs lookups until `deadlineNs` has passed and at least `min` were
    * made; checks each against the generated payload. Returns the walls, in
    * milliseconds, of the lookups that did not throw. */
  def loop(run: Run, spark: SparkSession, lake: String, plan: Vector[(String, Option[String])],
           deadlineNs: Long, min: Int): Seq[Double] = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < min || System.nanoTime() < deadlineNs) {
      val (id, expected) = plan(i % plan.length)
      run.attempt(s"retrieve $id") {
        run.trace.span("hl7.retrieve", id) {
          run.seconds(Pipeline.retrieve(spark, lake, id).collect())
        }
      }.foreach { case (rows, wall) =>
        walls += wall * 1000
        expected match {
          case Some(payload) =>
            run.check(rows.length == 1, s"lookup $id returned ${rows.length} rows, expected 1")
            run.check(rows.forall(_.getAs[String]("msg") == payload), s"lookup $id payload differs from the generated bytes")
          case None =>
            run.check(rows.isEmpty, s"planted miss $id returned ${rows.length} rows")
        }
      }
      i += 1
    }
    walls.toSeq
  }

  def report(run: Run, walls: Seq[Double], percentiles: Seq[Double]): Unit =
    for (p <- percentiles) {
      val name = f"retrieve_p${p * 100}%.0f_ms"
      Stats.percentile(walls, p) match {
        case Some(v) => run.e2e(name, v, "ms")
        case None => run.check(false, s"$name needs ${Stats.minSamples(p)} lookups, got ${walls.length}")
      }
    }
}

/** `lake_batch`: a seeded corpus through `Pipeline.allEvents` and
  * `Pipeline.writeLake`, then the Views query set over the staging zone and
  * a closed loop of point lookups, all against that lake. */
object LakeBatch {
  val Messages = 3000
  /** The set-up's warm-up corpus: large enough that the ingest's per-message
    * code is compiled before the timed ingests start. */
  val WarmMessages = 600
  /** Enough lookups for the p80 (ten beyond it); the p90's 100 lookups take
    * 45–60 s on 4 cores, more than a run can spend. */
  val MinLookups = 50
  /** Ingests of the corpus per run; the throughput is their median. */
  val Ingests = 3
  /** Passes over the Views set per run; `lake_scan_s` is their median. A
    * pass takes under a second, so one pass is mostly noise. */
  val ViewPasses = 11

  /** The analyst query set over the staging zone, with the generator's
    * expected row count for each. */
  def views(staged: DataFrame, m: Manifest): Seq[(String, DataFrame, Long)] = Seq(
    ("patients", Views.patients(staged).toDF(), m.pidSegments),
    ("observations", Views.observations(staged), m.obxSegments),
    ("diagnoses", Views.diagnoses(staged), m.dg1Segments),
    ("next_of_kin", Views.segment(staged, "NK1"), m.nk1Segments),
    ("merges", Views.segment(staged, "MRG"), m.mrgSegments))

  def stagingZone(spark: SparkSession, lake: String): DataFrame =
    spark.read.parquet(s"$lake/messages").filter(col("zone") === "staging")

  def ingest(spark: SparkSession, inbox: String, lake: String): Unit =
    Pipeline.writeLake(Pipeline.allEvents(spark, inbox), lake)

  def run(run: Run): Unit = {
    val work = run.work
    val corpus = Er7Gen.generate(run.args.seed, Messages)
    val inbox = work.resolve("inbox")
    corpus.write(inbox)
    Files.write(work.resolve("manifest.json"), corpus.manifest.toJson.getBytes("UTF-8"))
    val m = corpus.manifest
    System.err.println(s"corpus: ${m.toJson}")
    val warm = Er7Gen.generate(run.args.seed ^ 0x5deece66dL, WarmMessages, "warm")

    val spark = run.setUp { s =>
      val dir = work.resolve("warm")
      warm.write(dir.resolve("inbox"))
      val lake = dir.resolve("lake").toString
      ingest(s, dir.resolve("inbox").toString, lake)
      views(stagingZone(s, lake), warm.manifest).foreach { case (_, df, _) => Act.noop(df) }
      Pipeline.retrieve(s, lake, warm.payloadById.keys.min).collect()
    }
    val exec = if (run.args.trace) Some(new Exec(spark).register()) else None
    val lake = work.resolve("lake").toString
    val t0 = System.nanoTime()
    val deadline = t0 + run.args.seconds * 1000000000L

    val before = exec.map(_.snapshot())
    val execMark = exec.map(_.executionWalls().length).getOrElse(0)
    val ingested = run.attempt("ingest") {
      run.trace.span("hl7.ingest_and_write") { run.seconds(ingest(spark, inbox.toString, lake))._2 }
    }
    val afterIngest = exec.map(_.snapshot())
    val ingestExecs = exec.map(_.executionWalls().drop(execMark)).getOrElse(Nil)
    ingested.foreach { wall =>
      // the repeats write lakes of their own; the reads use the first
      val repeats = (2 to Ingests).map(i => work.resolve(s"lake$i").toString)
      val repeated = repeats.flatMap { target =>
        run.attempt("ingest") {
          run.trace.span("hl7.ingest_and_write") { run.seconds(ingest(spark, inbox.toString, target))._2 }
        }.map(target -> _)
      }
      val ingestWalls = wall +: repeated.map(_._2)
      System.out.println(f"ingest walls: ${ingestWalls.map(w => f"$w%.3f").mkString(" ")} s")
      run.e2e("ingest_msgs_per_s", m.offered / Stats.median(ingestWalls), "msg/s")
      run.e2e("lake_bytes_per_input_byte", LakeFiles.bytes(work.resolve("lake")).toDouble / m.inputBytes, "B/B")

      val passWalls = (1 to ViewPasses).flatMap { _ =>
        val set = views(stagingZone(spark, lake), m)
        val walls = set.flatMap { case (name, df, expected) =>
          run.attempt(s"view $name") {
            run.trace.span("hl7.views", name) { run.seconds(Act.noop(df)) }
          }.map { case (obs, wall) =>
            run.check(obs("rows") == expected, s"view $name has ${obs("rows")} rows, expected $expected")
            wall
          }
        }
        // a pass with a failed view has no total
        if (walls.length == set.length) Some(walls.sum) else None
      }
      System.out.println(f"views passes: ${passWalls.map(w => f"$w%.3f").mkString(" ")} s")
      if (passWalls.nonEmpty) run.e2e("lake_scan_s", Stats.median(passWalls), "s")
      else run.check(false, "every pass over the Views set had a failed view")

      val beforeLookups = exec.map(_.snapshot())
      val walls = Lookups.loop(run, spark, lake, Lookups.plan(corpus, run.args.seed), deadline, MinLookups)
      Lookups.report(run, walls, Seq(0.5, 0.8))
      // the fixed work: every ingest and Views pass, the first MinLookups lookups
      run.reportWork(Seq("ingest" -> ingestWalls, "views pass" -> passWalls,
        "lookup" -> walls.take(MinLookups).map(_ / 1000)))
      run.reportResources()
      val afterLookups = exec.map(_.snapshot())

      (lake +: repeated.map(_._1)).foreach(checkLake(run, spark, _, m.batchZones, m.distinct * 2L))
      if (run.args.trace)
        traceLayers(run, spark, exec.get, corpus, inbox.toString, lake, wall, ingestExecs,
          before.get, afterIngest.get, beforeLookups.get, afterLookups.get, walls.length)
    }
    if (ingested.isEmpty) run.check(false, "ingest failed; nothing to read back")
  }

  /** Zone and format row counts equal the manifest; the catalog has one row
    * per lake row. */
  def checkLake(run: Run, spark: SparkSession, lake: String,
                expected: Map[(String, String), Long], expectedRows: Long): Unit = {
    val msgs = spark.read.parquet(s"$lake/messages")
    val got = msgs.groupBy("zone", "format").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    run.check(got == expected, s"lake zone/format counts $got, expected $expected")
    val catalogRows = spark.read.parquet(s"$lake/catalog").count()
    val lakeRows = got.values.sum
    run.check(catalogRows == lakeRows, s"catalog has $catalogRows rows, lake has $lakeRows")
    run.check(lakeRows == expectedRows, s"lake has $lakeRows rows, expected $expectedRows")
  }

  /** The traced run's layer breakdown of the ingest wall. */
  def traceLayers(run: Run, spark: SparkSession, exec: Exec, corpus: Corpus, inbox: String,
                  lake: String, ingestWall: Double, ingestExecs: Seq[(String, Double)],
                  before: Map[String, Double],
                  afterIngest: Map[String, Double], beforeLookups: Map[String, Double],
                  afterLookups: Map[String, Double], nLookups: Int): Unit = {
    val m = corpus.manifest
    // hl7.parse: the parser alone, one thread, over every distinct payload
    // after the pipeline's newline preparation
    val prepared = corpus.payloadById.values.map(_.replaceAll("\r\n|\n", "\r")).toVector
    def parseAll(): (Int, Double) = run.seconds(prepared.count(p => Er7Parser.parse(p).isLeft))
    parseAll()
    val (parseErrors, parseWall) = run.trace.span("hl7.parse") { parseAll() }
    run.layer("hl7.parse.us_per_msg", parseWall * 1e6 / prepared.length, "us")
    run.layer("hl7.parse.errors", parseErrors, "count")
    run.check(parseErrors == m.rejected, s"parser rejects $parseErrors payloads, manifest plants ${m.rejected}")

    // writeLake's two writes are the ingest phase's two executions; their
    // walls come from the listener
    val writeWalls = ingestExecs.map(_._2)

    // self time per stage: walls of noop-materialized prefixes of the chain
    def median3(name: String)(df: => DataFrame, exprs: Column*): (Map[String, Any], Double) = {
      val samples = (1 to 3).map(_ => run.trace.span(s"hl7.prefix.$name") { run.seconds(Act.noop(df, exprs: _*)) })
      (samples.head._1, Stats.median(samples.map(_._2)))
    }
    val (readObs, read) = median3("read")(Pipeline.readMessages(spark, inbox))
    val (ingestObs, ingested) = median3("ingest")(Pipeline.ingest(Pipeline.readMessages(spark, inbox)))
    val (stageObs, staged) = median3("stage")(Pipeline.stage(Pipeline.ingest(Pipeline.readMessages(spark, inbox))),
      sum(when(col("error").isNotNull, 1).otherwise(0)).as("errors"))
    val (_, events) = median3("events")(Pipeline.allEvents(spark, inbox))
    val self = Stats.selfTimes(Seq("read" -> read, "ingest" -> ingested, "stage" -> staged, "zone" -> events)).toMap
    val dupDropped = readObs("rows").asInstanceOf[Long] - ingestObs("rows").asInstanceOf[Long]
    val errorRows = stageObs("errors").asInstanceOf[Long]
    run.check(readObs("rows") == m.offered.toLong, s"read ${readObs("rows")} messages, manifest offers ${m.offered}")
    run.check(dupDropped == m.duplicates, s"dedup dropped $dupDropped, manifest plants ${m.duplicates}")
    run.check(errorRows == m.rejected, s"stage has $errorRows error rows, manifest plants ${m.rejected}")

    val msgWrite = writeWalls.headOption.getOrElse(Double.NaN)
    val catWrite = writeWalls.drop(1).headOption.getOrElse(Double.NaN)
    run.layer("hl7.read.s", self("read"), "s")
    run.layer("hl7.ingest.s", self("ingest"), "s")
    run.layer("hl7.stage.s", self("stage"), "s")
    run.layer("hl7.zone.s", self("zone"), "s")
    run.layer("hl7.write.messages_s", msgWrite - events, "s")
    run.layer("hl7.write.catalog_s", catWrite - events, "s")
    run.layer("hl7.write.recompute_s", events, "s")
    val ingestDiff = Exec.diff(before, afterIngest).map(t => t._1 -> t._2).toMap
    run.layer("hl7.read.scan_passes", ingestDiff("exec.task_input_bytes") / m.inputBytes, "x")
    run.layer("hl7.ingest.dup_dropped", dupDropped, "count")
    run.layer("hl7.stage.error_rows", errorRows, "count")
    val lakeFiles = LakeFiles.list(java.nio.file.Paths.get(lake))
    run.layer("hl7.lake.files", lakeFiles.size, "count")
    run.layer("hl7.lake.bytes", lakeFiles.map(Files.size).sum, "bytes")
    val lookupDiff = Exec.diff(beforeLookups, afterLookups).map(t => t._1 -> t._2).toMap
    run.layer("hl7.retrieve.files_read", lookupDiff("exec.scan.files") / nLookups, "count")
    run.layer("hl7.retrieve.bytes_read", lookupDiff("exec.task_input_bytes") / nLookups, "bytes")
    val spans = run.trace.selfTimesNs
    run.layer("hl7.views.s", spans.getOrElse("hl7.views", 0L) / 1e9 / ViewPasses, "s")

    // where the ingest wall goes: parse runs on every core inside `stage`
    val parseShare = parseWall / run.cores / ingestWall
    val rows = Seq(
      "read (split, trim)" -> self("read"), "ingest (sha-256, dedup shuffle)" -> self("ingest"),
      "stage (prepare, parse UDF, branch)" -> self("stage"), "zone (union, zone columns)" -> self("zone"),
      "write messages (partitioned parquet)" -> (msgWrite - events),
      "recompute chain for catalog write" -> events, "write catalog" -> (catWrite - events))
    System.out.println(f"ingest wall $ingestWall%.3f s; attribution by materialized prefixes:")
    rows.foreach { case (k, v) => System.out.println(f"  $k%-40s $v%8.3f s ${100 * v / ingestWall}%6.1f%%") }
    System.out.println(f"  of which parser CPU (${parseWall * 1e6 / prepared.length}%.1f us/msg over ${run.cores} cores) ${100 * parseShare}%.1f%%")
    System.out.println(f"  unattributed ${ingestWall - rows.map(_._2).sum}%.3f s")
    Exec.diff(before, afterLookups).foreach { case (k, v, u) => run.layer(k, v, u) }
    run.traceOverhead(exec, 2, "the ingest wall") { i =>
      ingest(spark, inbox, run.work.resolve(s"lake-overhead$i").toString)
    }
  }
}
