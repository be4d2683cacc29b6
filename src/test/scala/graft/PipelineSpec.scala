package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hl7.Pipeline
import graft.streaming.StreamingPipeline

/** Pipeline E2E vs goldens (SURVEY.md §5.2.2, Q21): replaces the reference's
  * eyeballed prints (`test_services.py:82-83`) with asserted counts. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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

  private val adt = Seq(
    "MSH|^~\\&|ADT1|GOOD HEALTH|REG|HOSP|20240101120000||ADT^A01|MSG0001|P|2.5",
    "EVN|A01|20240101120000",
    "PID|1||PAT123^^^HOSP^MR||DOE^JANE||19800101|F",
    "PV1|1|I|W^389^1")

  /** A valid ADT, an exact duplicate of it, an unparseable payload and the
    * ADT with CRLF line endings: 3 distinct messages, 2 of which parse. */
  private def writeInbox(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("adt.txt"), adt.mkString("\n") + "\n")
    Files.writeString(dir.resolve("adt_resent.txt"), adt.mkString("\n") + "\n")
    Files.writeString(dir.resolve("junk.txt"), "I'm just a random number: 42\n")
    Files.writeString(dir.resolve("adt_crlf.txt"), adt.mkString("\r\n") + "\r\n")
  }

  /** A batch lake under a dot-directory, with the events written. */
  private lazy val batchLake: (String, DataFrame) = {
    val tmp = Files.createTempDirectory("graft-retrieve")
    writeInbox(tmp.resolve("inbox"))
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

  test("retrieve reads a lakeSink lake, which has no segments column") {
    val tmp = Files.createTempDirectory("graft-retrieve-stream")
    writeInbox(tmp.resolve("inbox"))
    val root = tmp.resolve(".runs/lake").toString
    StreamingPipeline.run(spark, tmp.resolve("inbox").toString, root, tmp.resolve("ckpt").toString)
    assert(!spark.read.parquet(s"$root/messages").columns.contains("segments"))
    val all = ids(root)
    assert(all.length == 3)
    for (id <- all) {
      val f = spark.read.parquet(s"$root/catalog").filter(col("message_id") === id)
        .select("format").collect().map(_.getString(0)).toSeq
      assert(f.length == 1) // the stream lake holds the staged branch only
      assertSameAsJoin(root, id, None, Some(f.head))
      for (g <- Pipeline.FormatOrder) assertSameAsJoin(root, id, Some(g), Some(g))
    }
    assertSameAsJoin(root, "0" * 64, None, None)
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
    writeInbox(tmp.resolve("inbox"))
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
}
