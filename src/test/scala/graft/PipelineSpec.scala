package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.hl7.{Pipeline, Views}
import graft.streaming.StreamingPipeline

/** Pipeline E2E vs goldens (SURVEY.md §5.2.2, Q21): replaces the reference's
  * eyeballed prints (`test_services.py:82-83`) with asserted counts. */
class PipelineSpec extends AnyFunSuite with LocalSpark {

  test("corpus replay: 11 unique messages, all parse to staging zone") {
    val zones = Pipeline.q21Zones(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(zones == Map(("ingestion", "er7") -> 11L, ("staging", "json") -> 11L))
  }

  test("segment profile golden") {
    val got = Pipeline.q21Segments(spark, "").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map(
      "MSH" -> 11L, "EVN" -> 7L, "PID" -> 11L, "PD1" -> 1L, "NK1" -> 7L,
      "PV1" -> 6L, "PV2" -> 1L, "OBR" -> 7L, "OBX" -> 110L, "DG1" -> 3L,
      "IN1" -> 4L, "GT1" -> 4L, "MRG" -> 1L, "NTE" -> 8L, "ADD" -> 29L,
      "FTS" -> 1L)
    assert(got == expected)
  }

  test("PID-8 demographics golden (SURVEY §7.2 flagship)") {
    val got = Pipeline.q21PidSex(spark, "").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("M" -> 7L, "F" -> 4L))
  }

  test("unparseable payload routes to the error zone with raw text kept") {
    import spark.implicits._
    // the reference's negative fixture (test_services.py:75)
    val bad = Seq(("I'm just a random number: 42", "tester")).toDF("msg", "source")
    val out = Pipeline.withZone(Pipeline.stage(Pipeline.ingest(bad))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("zone") == "error")
    assert(r.getAs[String]("format") == "txt")
    assert(r.getAs[String]("msg").contains("random number"))
    assert(r.getAs[String]("error") != null)
  }

  test("base64 wire decode feeds the same pipeline (A2)") {
    import spark.implicits._
    val m = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|B1|P|2.5\rPID|1||X||N||19800101|M"
    val wire = Seq((java.util.Base64.getEncoder.encodeToString(m.getBytes("UTF-8")), "poster"))
      .toDF("msg", "source")
    val staged = Pipeline.stage(Pipeline.ingest(Pipeline.decodeBase64(wire)))
    assert(staged.filter(col("error").isNull).count() == 1)
  }

  test("key-prefix routing prunes the catalog to one zone (A18)") {
    val root = java.nio.file.Files.createTempDirectory("graft-prefix").toString
    Pipeline.writeLake(Pipeline.allEvents(spark), root)
    val catalog = spark.read.parquet(s"$root/catalog")
    val staged = Pipeline.byPrefix(catalog, "zone=staging").count()
    assert(staged == catalog.filter(col("zone") === "staging").count())
    assert(Pipeline.byPrefix(catalog, "zone=nope").count() == 0)
  }

  test("authz matrix: only writers pass; rejections audited with reason (A3)") {
    import spark.implicits._
    val m = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|%s|P|2.5\rPID|1||X||N||19800101|M"
    // the reference's user matrix (test_services.py:59-67): admin RW,
    // writer W — both pass; reader R (no write claim) — rejected
    val batch = Seq(
      (m.format("M1"), "admin", "rw"),
      (m.format("M2"), "writer", "w"),
      (m.format("M3"), "reader", null)).toDF("msg", "source", "write_claim")
    val accepted = Pipeline.ingest(batch).select("source").collect().map(_.getString(0)).toSet
    assert(accepted == Set("admin", "writer"))
    val denied = Pipeline.rejected(batch).collect()
    assert(denied.length == 1)
    assert(denied.head.getAs[String]("source") == "reader")
    assert(denied.head.getAs[String]("deny_reason") == "missing write claim")
    // no claim column at all ⇒ trusted batch ingest, everything passes
    val trusted = Seq((m.format("M4"), "batch")).toDF("msg", "source")
    assert(Pipeline.ingest(trusted).count() == 1)
  }

  test("exact dedup drops a resent payload (A5)") {
    import spark.implicits._
    val m = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|M1|P|2.5\rPID|1||X^^^||N^P||19800101|M"
    val twice = Seq((m, "s1"), (m, "s2")).toDF("msg", "source")
    assert(Pipeline.ingest(twice).count() == 1)
    // idempotence: ingest(m ++ m) == ingest(m)
    val once = Seq((m, "s1")).toDF("msg", "source")
    assert(Pipeline.ingest(twice).select("message_id").collect().toSeq ==
           Pipeline.ingest(once).select("message_id").collect().toSeq)
  }

  test("prepare is idempotent across line-ending variants (A8)") {
    import spark.implicits._
    val variants = Seq("a\r\nb\r\nc", "a\nb\nc", "a\rb\rc").toDF("raw")
    val normed = variants.select(Pipeline.prepare(col("raw")).as("p"))
      .collect().map(_.getString(0)).toSet
    assert(normed == Set("a\rb\rc"))
    val twice = variants.select(Pipeline.prepare(Pipeline.prepare(col("raw"))).as("p"))
      .collect().map(_.getString(0)).toSet
    assert(twice == normed)
  }

  test("typed views: OBX value-type profile and patient roster goldens") {
    val obx = graft.hl7.Views.q21ObxTypes(spark, "").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(obx == Map("CE" -> 9L, "FT" -> 2L, "NM" -> 63L, "ST" -> 32L,
                      "TS" -> 2L, "TX" -> 2L))
    assert(obx.values.sum == 110L) // every corpus OBX accounted for
    val pats = graft.hl7.Views.q21Patients(spark, "").collect()
    assert(pats.length == 11) // one PID per message
    val sexes = pats.map(_.getAs[String]("sex")).groupBy(identity).view.mapValues(_.length).toMap
    assert(sexes == Map("M" -> 7, "F" -> 4))
    // dirty-data fidelity: the "" HL7-null family name survives verbatim
    assert(pats.exists(_.getAs[String]("family_name") == "\"\""))
  }

  test("lake write partitions by zone/protocol; point retrieval round-trips (A16/A17/A19)") {
    val root = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val events = Pipeline.allEvents(spark)
    Pipeline.writeLake(events, root)
    // partition layout on disk mirrors the reference's key scheme
    val zones = new java.io.File(s"$root/messages").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(zones == Set("zone=ingestion", "zone=staging"))
    val anyId = spark.read.parquet(s"$root/catalog")
      .filter(col("zone") === "staging").select("message_id").first().getString(0)
    val got = Pipeline.retrieve(spark, root, anyId)
    assert(got.count() >= 1)
    assert(got.filter(col("message_id") === anyId).count() == got.count())
    // format-qualified retrieval (old_reference GET /hl7v2/format/{format}/
    // msg_uuid/{id}): same message, distinct materializations per format
    val er7 = Pipeline.retrieve(spark, root, anyId, Some("er7")).collect()
    val json = Pipeline.retrieve(spark, root, anyId, Some("json")).collect()
    assert(er7.length == 1 && json.length == 1)
    assert(er7.head.getAs[String]("zone") == "ingestion")
    assert(json.head.getAs[String]("zone") == "staging")
    assert(Pipeline.retrieve(spark, root, anyId, Some("txt")).isEmpty)
  }

  // ------------------------------------------------------------------
  // Lake write and point retrieval over a hand-written inbox

  import SpecInbox.adt

  /** A batch lake under a dot-directory, with the events written. */
  private lazy val batchLake: (String, DataFrame) = {
    val tmp = Files.createTempDirectory("graft-retrieve")
    SpecInbox.write(tmp.resolve("inbox"))
    val root = tmp.resolve(".runs/lake").toString
    val events = Pipeline.allEvents(spark, tmp.resolve("inbox").toString)
    Pipeline.writeLake(events, root)
    (root, events)
  }

  private def ids(root: String): Seq[String] =
    spark.read.parquet(s"$root/catalog").select("message_id").distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  /** The catalog-join form of A19 that `retrieve` replaced: the reference
    * its rows and schema are checked against. */
  private def joinRetrieve(root: String, id: String, format: Option[String]): DataFrame = {
    val cat = spark.read.parquet(s"$root/catalog").filter(col("message_id") === id)
    val hit = format.fold(cat)(f => cat.filter(col("format") === f)).limit(1)
    spark.read.parquet(s"$root/messages")
      .join(broadcast(hit.select("message_id", "path", "format", "ingest_ts")),
            Seq("message_id", "format"))
  }

  /** `retrieve(format)` has the join form's columns, types and rows
    * (ingest_ts aside) for the join form's `reference` format. */
  private def assertSameAsJoin(root: String, id: String, format: Option[String],
                               reference: Option[String]): Unit = {
    val got = Pipeline.retrieve(spark, root, id, format)
    val want = joinRetrieve(root, id, reference)
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(got.drop("ingest_ts").collect().toSeq == want.drop("ingest_ts").collect().toSeq,
      s"id $id format $format")
  }

  test("retrieve matches the catalog-join form on every format, and a miss is empty") {
    val (root, _) = batchLake
    val all = ids(root)
    assert(all.length == 3)
    val formats = spark.read.parquet(s"$root/catalog").groupBy("message_id")
      .agg(collect_set("format").as("f")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    for (id <- all) {
      for (f <- Pipeline.FormatOrder) assertSameAsJoin(root, id, Some(f), Some(f))
      // format-less: the er7 original, which every ingested message has
      assert(formats(id).contains("er7"))
      assertSameAsJoin(root, id, None, Some("er7"))
      assert(Pipeline.retrieve(spark, root, id).count() == 1)
    }
    // every id has er7 and exactly one of json/txt
    assert(formats.values.map(_ - "er7").toSeq.sortBy(_.mkString) ==
      Seq(Set("json"), Set("json"), Set("txt")))
    val miss = "0" * 64
    assertSameAsJoin(root, miss, None, None)
    assert(Pipeline.retrieve(spark, root, miss).isEmpty)
  }

  test("retrieve and Views read a streaming lake as they read the batch lake") {
    val (batchRoot, _) = batchLake
    val tmp = Files.createTempDirectory("graft-retrieve-stream")
    SpecInbox.write(tmp.resolve("inbox"))
    val root = tmp.resolve(".runs/lake").toString
    StreamingPipeline.run(spark, tmp.resolve("inbox").toString, root, tmp.resolve("ckpt").toString,
      maxFilesPerTrigger = Some(1))
    val all = ids(root)
    assert(all.length == 3 && all == ids(batchRoot))
    val miss = "0" * 64
    for (id <- all :+ miss; f <- None +: Pipeline.FormatOrder.map(Some(_))) {
      def lookup(r: String) = Pipeline.retrieve(spark, r, id, f).drop("ingest_ts").collect().toSeq
      assert(lookup(root) == lookup(batchRoot), s"id $id format $f")
      // a hit's format-less lookup is the er7 original
      val reference = if (id == miss) f else f.orElse(Some("er7"))
      for (r <- Seq(root, batchRoot)) assertSameAsJoin(r, id, f, reference)
    }
    def patients(r: String) = Views.patients(spark.read.parquet(s"$r/messages")
      .filter(col("zone") === "staging")).collect().toSeq.sortBy(_.message_id)
    assert(patients(root).length == 2)
    assert(patients(root) == patients(batchRoot))
  }

  test("retrieve on a missing lake raises PATH_NOT_FOUND instead of returning empty") {
    val root = Files.createTempDirectory("graft-retrieve-missing").resolve("nope").toString
    val e = intercept[AnalysisException](Pipeline.retrieve(spark, root, "0" * 64))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }

  test("the written catalog is the events' catalog projection, row for row") {
    val (root, events) = batchLake
    val want = Pipeline.catalogRows(events)
    val written = spark.read.parquet(s"$root/catalog")
    assert(written.schema.map(f => f.name -> f.dataType) ==
      Pipeline.catalogSchema(spark).map(f => f.name -> f.dataType))
    def rows(df: DataFrame) = df.drop("ingest_ts").collect().map(_.mkString("|")).sorted.toSeq
    assert(rows(written).length == 6)
    assert(rows(written) == rows(want))
  }

  test("writeLake evaluates the events chain once") {
    val tmp = Files.createTempDirectory("graft-write-once")
    SpecInbox.write(tmp.resolve("inbox"))
    val evaluated = spark.sparkContext.longAccumulator("events evaluated")
    // a nondeterministic filter is neither pushed down nor pruned: it runs
    // once per events row on every pass over the chain
    val tick = udf { (_: String) => evaluated.add(1); true }.asNondeterministic()
    val events = Pipeline.allEvents(spark, tmp.resolve("inbox").toString).filter(tick(col("zone")))
    val root = tmp.resolve("lake").toString
    Pipeline.writeLake(events, root)
    val rows = spark.read.parquet(s"$root/messages").count()
    assert(rows == 6)
    assert(evaluated.value == rows)
  }

  // ------------------------------------------------------------------
  // The inbox read and the batch dedup

  /** The `wholetext` text reader `readMessages` used before it read files
    * as bytes: the reference its rows are checked against. */
  private def wholetextRead(dir: String): DataFrame =
    spark.read.option("wholetext", "true").option("pathGlobFilter", "*.txt")
      .textFile(dir).toDF("file_text")
      .withColumn("source", regexp_extract(input_file_name(), "([^/]+)\\.txt", 1))
      .transform(Pipeline.explodeMessages(_, "file_text"))
      .select("msg", "source")

  test("readMessages keeps the bytes and sources of the wholetext reader") {
    val dir = Files.createTempDirectory("graft-read-bytes")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def write(name: String, text: String): Unit = Files.write(dir.resolve(name), text.getBytes(utf8))
    write("lf.txt", adt.mkString("\n") + "\n\n" + adt.mkString("\n") + "\n")
    write("crlf.txt", adt.mkString("\r\n") + "  \t\r\n\r\n" + adt.mkString("\r\n") + "\r\n")
    write("blank_lines.txt", adt.mkString("\n") + "\n \t\n\n\n" + "second message  \n\n\n")
    write("non_ascii.txt", adt.mkString("\n").replace("DOE^JANE", "MÜLLER^JOSÉ^日本") + "\n")
    write("ignored.dat", "not a .txt file\n")
    // 0xFF is never valid UTF-8: both readers pass it to the split, whose
    // regex reads it as U+FFFD
    val bad = "PID|1||BAD".getBytes(utf8) ++ Array(0xff.toByte) ++ "BYTE||X\n\nnext\n".getBytes(utf8)
    Files.write(dir.resolve("invalid_utf8.txt"), bad)
    def rows(df: DataFrame) =
      df.select(hex(col("msg")), col("source")).collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val got = rows(Pipeline.readMessages(spark, dir.toString))
    assert(got == rows(wholetextRead(dir.toString)))
    assert(got.map(_._2).distinct.sorted == Seq("blank_lines", "crlf", "invalid_utf8", "lf", "non_ascii"))
    assert(got.length == 9)
    assert(got.exists(_._1.contains("EFBFBD")))
  }

  /** One payload in three files and twice in one of them (3 planted
    * duplicates), a second distinct payload and an unparseable one. */
  private def writeDuplicateInbox(dir: Path): String = {
    Files.createDirectories(dir)
    val twice = adt.mkString("\n")
    val other = adt.mkString("\n").replace("MSG0001", "MSG0002").replace("PAT123", "PAT456")
    Files.writeString(dir.resolve("a.txt"), Seq(twice, other, twice).mkString("", "\n\n", "\n"))
    Files.writeString(dir.resolve("b.txt"), twice + "\n")
    Files.writeString(dir.resolve("c.txt"), "not an HL7 message\n\n" + twice + "\n")
    twice
  }

  test("batch dedup keeps one row per id and zone, with the same source in every zone") {
    val tmp = Files.createTempDirectory("graft-dedup")
    val inbox = tmp.resolve("inbox").toString
    val twice = writeDuplicateInbox(tmp.resolve("inbox"))
    val read = Pipeline.readMessages(spark, inbox)
    assert(read.count() == 6)
    assert(read.count() - Pipeline.ingest(read).count() == 3)
    val root = tmp.resolve("lake").toString
    Pipeline.writeLake(Pipeline.allEvents(spark, inbox), root)
    val lake = spark.read.parquet(s"$root/messages")
    assert(lake.groupBy("message_id", "zone").count().filter(col("count") =!= 1).isEmpty)
    val id = spark.range(1).select(sha2(lit(twice), 256)).first().getString(0)
    val copies = lake.filter(col("message_id") === id).select("zone", "source").collect()
    assert(copies.map(_.getString(0)).sorted.toSeq == Seq("ingestion", "staging"))
    assert(copies.map(_.getString(1)).distinct.length == 1, copies.toSeq)
    // the zone/format populations of Spark's own dropDuplicates
    val reference = Pipeline.envelope(read).dropDuplicates("message_id")
    def counts(df: DataFrame) = df.groupBy("zone", "format").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = counts(Pipeline.lakeRows(reference))
    assert(counts(lake) == want)
    assert(want == Map(("ingestion", "er7") -> 3L, ("staging", "json") -> 2L, ("error", "txt") -> 1L))
  }

  test("the lake's messages write sorts only for its zone/protocol partitions") {
    val tmp = Files.createTempDirectory("graft-write-plan")
    writeDuplicateInbox(tmp.resolve("inbox"))
    val root = tmp.resolve("lake").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (PlanStats.allNodes(spark, qe.executedPlan).exists {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.endsWith("/lake/messages")
            case _ => false
          }
          case _ => false
        }) plans.add(qe.executedPlan)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.writeLake(Pipeline.allEvents(spark, tmp.resolve("inbox").toString), root)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, "the messages write's plan never reached the listener")
    val nodes = PlanStats.allNodes(spark, plans.peek())
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), plans.peek())
    val sorts = nodes.collect { case s: SortExec => s.sortOrder.map(_.child.references.map(_.name).mkString) }
    assert(sorts == Seq(Seq("zone", "protocol")), plans.peek())
  }

  // ------------------------------------------------------------------
  // The driver-side lookup: no job, many files

  /** `n` distinct ADT messages in one file and `n / 10` unparseable ones in
    * another, blank-line separated. */
  private def writeLargeInbox(dir: Path, n: Int): Unit = {
    Files.createDirectories(dir)
    val msgs = (1 to n).map(i =>
      adt.map(_.replace("MSG0001", f"MSG$i%05d").replace("PAT123", s"PAT$i")).mkString("\n"))
    Files.writeString(dir.resolve("adts.txt"), msgs.mkString("", "\n\n", "\n"))
    Files.writeString(dir.resolve("junk.txt"),
      (1 to n / 10).map(i => s"not an HL7 message $i").mkString("", "\n\n", "\n"))
  }

  /** `body` with the session settings `kv`, restored afterwards. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def parquetFiles(dir: String): Seq[Path] = {
    val it = Files.walk(java.nio.file.Paths.get(dir))
    try it.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally it.close()
  }

  test("retrieve runs no Spark job for a hit, a miss or any format") {
    val (root, _) = batchLake
    val id = ids(root).head
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        phases.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.phase"))).getOrElse("retrieve"))
    }
    val sc = spark.sparkContext
    // a marker job on each side: the listener sees jobs in start order, so
    // what it sees between the two markers started between them
    def marker(name: String): Unit = {
      sc.setLocalProperty("graft.phase", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.phase", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      for (i <- Seq(id, "0" * 64); f <- None +: Pipeline.FormatOrder.map(Some(_))) {
        Pipeline.retrieve(spark, root, i, f).collect()
        Pipeline.retrieve(spark, root, i, f).isEmpty
      }
      marker("end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!phases.contains("end") && System.nanoTime() < deadline) Thread.sleep(10)
      val seen = phases.asScala.toSeq
      assert(seen.contains("end"), s"the end marker job never reached the listener: $seen")
      assert(seen.dropWhile(_ != "start").drop(1).takeWhile(_ != "end").isEmpty,
        s"retrieve launched jobs: $seen")
    } finally sc.removeSparkListener(listener)
  }

  test("retrieve equals the catalog-join form on a lake of 40+ files per table") {
    val tmp = Files.createTempDirectory("graft-many-files")
    writeLargeInbox(tmp.resolve("inbox"), 120)
    val root = tmp.resolve("lake").toString
    // one events partition per messages file, and (an open cost of a whole
    // split) one catalog file per messages file read back
    withConf("spark.sql.files.openCostInBytes" -> (128L << 20).toString) {
      Pipeline.writeLake(Pipeline.allEvents(spark, tmp.resolve("inbox").toString).repartition(48), root)
    }
    assert(parquetFiles(s"$root/catalog").length >= 40)
    for (zone <- Seq("ingestion", "staging"))
      assert(parquetFiles(s"$root/messages/zone=$zone/protocol=hl7v2").length >= 40, zone)
    val all = ids(root)
    assert(all.length == 132)
    assertSameAsJoin(root, all.head, None, Some("er7"))
    assertSameAsJoin(root, "0" * 64, None, None)
    // the catalog-join form for every id and format in one join
    val joined = spark.read.parquet(s"$root/messages")
      .join(spark.read.parquet(s"$root/catalog").select("message_id", "path", "format", "ingest_ts"),
            Seq("message_id", "format"))
      .collect().toSeq.groupBy(r => (r.getString(0), r.getString(1)))
    for (id <- all; f <- Pipeline.FormatOrder) {
      val want = joined.getOrElse((id, f), Nil)
      assert(Pipeline.retrieve(spark, root, id, Some(f)).collect().toSeq == want, s"id $id format $f")
      if (f == "er7") {
        assert(want.length == 1)
        assert(Pipeline.retrieve(spark, root, id).collect().toSeq == want, s"id $id")
      }
    }
  }

  // ------------------------------------------------------------------
  // Reused readers, one read pool, and what a lookup must still see

  /** A 44-message lake with 8 files in the catalog and in each messages
    * directory, so a lookup reads files on several threads. */
  private lazy val multiFileLake: String = {
    val tmp = Files.createTempDirectory("graft-multi-file")
    writeLargeInbox(tmp.resolve("inbox"), 40)
    val root = tmp.resolve("lake").toString
    withConf("spark.sql.files.openCostInBytes" -> (128L << 20).toString) {
      Pipeline.writeLake(Pipeline.allEvents(spark, tmp.resolve("inbox").toString).repartition(8), root)
    }
    assert(parquetFiles(s"$root/catalog").length >= 8)
    root
  }

  /** Ids of `root`'s catalog that have a row of `format`. */
  private def idsWith(root: String, format: String): Seq[String] =
    spark.read.parquet(s"$root/catalog").filter(col("format") === format)
      .select("message_id").collect().map(_.getString(0)).toSeq.sorted

  /** Broadcasts created while `body` runs, counted by the ids of two marker
    * broadcasts: ids are handed out in creation order. */
  private def broadcastsDuring(body: => Unit): Long = {
    def mark(): Long = { val b = spark.sparkContext.broadcast(0); try b.id finally b.destroy() }
    val before = mark()
    body
    mark() - before - 1
  }

  /** Lookups over hits in every format, a miss, and each format argument. */
  private def lookupMix(root: String): Seq[(String, Option[String])] =
    for (id <- idsWith(root, "json").take(2) ++ idsWith(root, "txt").take(1) :+ "0" * 64;
         f <- None +: Pipeline.FormatOrder.map(Some(_))) yield id -> f

  test("after one warm lookup, retrieve creates no broadcast for hits, a miss or any format") {
    val root = multiFileLake
    val mix = lookupMix(root)
    assert(mix.length >= 16)
    Pipeline.retrieve(spark, root, mix.head._1).collect()
    val n = broadcastsDuring(mix.foreach { case (id, f) => Pipeline.retrieve(spark, root, id, f).collect() })
    assert(n == 0, s"${mix.length} lookups created $n broadcasts")
  }

  test("a session conf change builds new readers once, and both settings read the same rows") {
    val (root, _) = batchLake
    val id = idsWith(root, "json").head
    Pipeline.retrieve(spark, root, id).collect()
    assertSameAsJoin(root, id, None, Some("er7"))
    assertSameAsJoin(root, id, Some("json"), Some("json"))
    withConf("spark.sql.parquet.enableVectorizedReader" -> "false") {
      assert(broadcastsDuring(Pipeline.retrieve(spark, root, id).collect()) > 0)
      assert(broadcastsDuring(Pipeline.retrieve(spark, root, id).collect()) == 0)
      assert(broadcastsDuring(Pipeline.retrieve(spark, root, id, Some("json")).collect()) == 0)
      assertSameAsJoin(root, id, None, Some("er7"))
      assertSameAsJoin(root, id, Some("json"), Some("json"))
    }
  }

  test("retrieve reads a lake rewritten over the same root, and misses the old lake's ids") {
    val tmp = Files.createTempDirectory("graft-rewrite")
    SpecInbox.write(tmp.resolve("old"))
    writeLargeInbox(tmp.resolve("new"), 10)
    val root = tmp.resolve("lake").toString
    Pipeline.writeLake(Pipeline.allEvents(spark, tmp.resolve("old").toString), root)
    val old = ids(root)
    old.foreach(id => assert(!Pipeline.retrieve(spark, root, id).isEmpty))
    Pipeline.writeLake(Pipeline.allEvents(spark, tmp.resolve("new").toString), root)
    val now = ids(root)
    assert(now.length == 11 && now.intersect(old).isEmpty)
    for (id <- old; f <- None +: Pipeline.FormatOrder.map(Some(_)))
      assert(Pipeline.retrieve(spark, root, id, f).isEmpty, s"old id $id format $f")
    for (id <- now) {
      assertSameAsJoin(root, id, None, Some("er7"))
      for (f <- Pipeline.FormatOrder) assertSameAsJoin(root, id, Some(f), Some(f))
    }
  }

  test("concurrent retrieves on one session equal the sequential results") {
    val root = multiFileLake
    val mix = lookupMix(root)
    val want = mix.map { case (id, f) => (id, f) -> Pipeline.retrieve(spark, root, id, f).collect().toSeq }.toMap
    assert(want.values.count(_.nonEmpty) >= 9)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { t =>
      val th = new Thread(() => {
        start.await()
        for (j <- 0 until 25) {
          val (id, f) = mix((t * 25 + j) % mix.length)
          try {
            val got = Pipeline.retrieve(spark, root, id, f).collect().toSeq
            if (got != want((id, f))) errors.add(s"id $id format $f: $got")
          } catch { case e: Throwable => errors.add(s"id $id format $f: $e") }
        }
      }, s"retrieve-client-$t")
      th.start()
      th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.take(5).mkString("\n"))
  }

  test("point reads run on one pool of at most one thread per core") {
    val root = multiFileLake
    val id = idsWith(root, "json").head
    def threadNames(): Seq[String] = {
      var g = Thread.currentThread.getThreadGroup
      while (g.getParent != null) g = g.getParent
      val all = new Array[Thread](g.activeCount * 2 + 16)
      all.take(g.enumerate(all, true)).map(_.getName).toSeq
    }
    val defaultPool = "pool-\\d+-thread-\\d+".r
    Pipeline.retrieve(spark, root, id).collect()
    val before = threadNames().filter(defaultPool.matches).toSet
    // a pool a lookup starts and shuts down lives only while it reads, so
    // sample the thread names while the lookups run
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val sampler = new Thread(() => while (running) {
      threadNames().filter(defaultPool.matches).foreach(seen.add)
      Thread.sleep(1)
    })
    sampler.start()
    try for (i <- 0 until 20) Pipeline.retrieve(spark, root, id, if (i % 2 == 0) None else Some("json")).collect()
    finally { running = false; sampler.join() }
    val started = seen.asScala.toSet -- before
    assert(started.isEmpty, s"lookups started ${started.size} default-pool threads: ${started.take(4)}")
    val readers = threadNames().count(_.startsWith("point-read-"))
    assert(readers <= Runtime.getRuntime.availableProcessors, readers)
  }
}
