package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.hl7.Pipeline

/** DataSourceV2 front door (`format("er7")`): row parity with the composed
  * text-scan reader, column pruning, and predicate-driven file skipping.
  *
  * Each corpus test runs over an inbox this spec writes, and also over the
  * reference corpus where that directory exists. */
class Er7SourceSpec extends AnyFunSuite with LocalSpark {

  /** The FIXTURES.md quirks the file→messages split meets, one per file:
    * a multi-message file whose separator line holds only whitespace, a
    * CRLF file, a backtick escape character in MSH-2, a non-ASCII en dash
    * with trailing whitespace, and a non-`.txt` file both readers skip. */
  private lazy val fixtureInbox: String = {
    val dir = Files.createTempDirectory("er7-fixture")
    def write(name: String, text: String): Unit =
      Files.write(dir.resolve(name), text.getBytes(UTF_8))
    write("adt01.txt",
      "MSH|^~\\&|ADT|HOSP|LAKE|HOSP|20240101120000||ADT^A01|ADT0001|P|2.5\n" +
      "PID|1||P100^^^HOSP||DOE^JANE||19800101|F\n" +
      "DG1|1||I10^Essential hypertension^I10\n" +
      " \t \n" +
      "MSH|^~\\&|ADT|HOSP|LAKE|HOSP|20240101120500||ADT^A01|ADT0002|P|2.3\n" +
      "PID|1||P101^^^HOSP||ROE^RICHARD||19750505|M\n")
    write("adt02.txt",
      "MSH|^~\\&|||LAKE|HOSP|20240102080000||ADT^A04|ADT0003|P|2.7\r\n" +
      "PID|1||P102^^^HOSP||POE^ANN||19900909|F\r\n" +
      "NK1|1|POE^JOHN|SPO\r\n" +
      "\r\n" +
      "MSH|^~\\&|||LAKE|HOSP|20240102080500||ADT^A04|ADT0004|P|2.7\r\n" +
      "PID|1||P103^^^HOSP||LOE^MAX||19851212|M\r\n")
    // one long message, so a length predicate splits the corpus
    write("lab01.txt",
      "MSH|^~\\`&|LAB|HOSP|LAKE|HOSP|20240103090000||ORU^R01|LAB0001|P|2.3\n" +
      "PID|1||P100^^^HOSP||DOE^JANE||19800101|F\n" +
      "OBR|1||ECG1|93000^ECG^CPT\n" +
      (1 to 6).map(i =>
        s"OBX|$i|TX|ECG&INTERP&L||{\\rtf1\\ansi line $i of the interpretation text}||||||F\n")
        .mkString)
    write("lab02.txt",
      "MSH|^~\\&|LAB|HOSP|LAKE|HOSP|20240104100000||ORU^R01|LAB0002|P|2.3\n" +
      "PID|1||P104^^^HOSP||MOE^LI||19700101|F\n" +
      "OBX|1|ST|GLU^Glucose||90–110|mg/dL|70–110||||F   \n\n  \t\n")
    write("notes.bin",
      "MSH|^~\\&|SKIP|HOSP|LAKE|HOSP|20240105000000||ADT^A01|SKIP0001|P|2.5\n")
    dir.toString
  }

  /** Messages per file in [[fixtureInbox]]. */
  private val fixtureCounts = Map("adt01" -> 2L, "adt02" -> 2L, "lab01" -> 1L, "lab02" -> 1L)

  private def inboxes: Seq[String] =
    fixtureInbox +: Seq(Pipeline.MessagesDir).filter(d => Files.isDirectory(Path.of(d)))

  private def er7(dir: String): DataFrame = spark.read.format("er7").load(dir)

  test("er7 source rows == Pipeline.readMessages rows") {
    inboxes.foreach { dir =>
      val v2 = er7(dir).select("source", "msg").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val composed = Pipeline.readMessages(spark, dir).select("source", "msg").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(v2 == composed, s"V2 source diverged from the composed reader on $dir")
      assert(v2.nonEmpty)
    }
    val bySource = er7(fixtureInbox).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == fixtureCounts, s"fixture split wrong: $bySource")
    val msgs = er7(fixtureInbox).select("msg").collect().map(_.getString(0))
    assert(msgs.forall(m => m.startsWith("MSH|") && m == m.stripTrailing()),
      "a message kept a separator line or trailing whitespace")
    assert(msgs.exists(_.startsWith("MSH|^~\\`&|")), "backtick MSH-2 lost")
    assert(msgs.count(_.contains("\r\n")) == 2, "CRLF messages lost their line breaks")
  }

  test("n_bytes matches the UTF-8 payload length") {
    inboxes.foreach { dir =>
      er7(dir).collect().foreach { r =>
        assert(r.getAs[Long]("n_bytes") == r.getAs[String]("msg").getBytes("UTF-8").length)
      }
    }
    // the en dash is three UTF-8 bytes, so bytes and chars differ here
    val lab02 = er7(fixtureInbox).filter(col("source") === "lab02").collect().head
    assert(lab02.getAs[Long]("n_bytes") == lab02.getAs[String]("msg").length + 4)
  }

  test("column pruning reaches the scan") {
    // planning needs an existing path, not the corpus's contents
    val inbox = Files.createTempDirectory("er7-prune")
    Files.writeString(inbox.resolve("adt.txt"), "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|M1|P|2.5\n")
    val df = spark.read.format("er7").load(inbox.toString).select("source")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=[source]"), s"scan not pruned:\n$scan")
  }

  test("source predicate prunes whole files from the scan") {
    inboxes.foreach { dir =>
      val df = er7(dir).filter(col("source") === "lab01")
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("files=1"), s"file skipping did not happen:\n$scan")
      val all = er7(dir).filter(col("source").isin("lab01", "adt01"))
      assert(all.queryExecution.executedPlan.toString.contains("files=2"))
      // and the results are still exactly right
      assert(df.select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("lab01"))
      assert(df.count() == Pipeline.readMessages(spark, dir)
        .filter(col("source") === "lab01").count())
    }
  }

  test("unsupported predicates are evaluated post-scan, not dropped") {
    inboxes.foreach { dir =>
      val long = er7(dir).filter(length(col("msg")) > 500)
      val composed = Pipeline.readMessages(spark, dir).filter(length(col("msg")) > 500)
      assert(long.count() == composed.count())
    }
    // the fixture has messages on both sides of the predicate
    assert(er7(fixtureInbox).filter(length(col("msg")) > 500).count() == 1)
  }

  test("a missing path raises PATH_NOT_FOUND when the read is planned") {
    val missing = Files.createTempDirectory("er7-missing").resolve("nope").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](spark.read.format("er7").load(missing))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
