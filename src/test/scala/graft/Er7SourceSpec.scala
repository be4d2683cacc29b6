package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.streaming.Trigger
import graft.hl7.Pipeline
import graft.streaming.StreamingPipeline

/** The inbox's one reader (`Pipeline.inboxMessages`): the file→messages
  * split, batch and streaming, and the per-source byte profile that
  * q21_er7_source reports.
  *
  * Each corpus test runs over an inbox this spec writes, and also over the
  * reference corpus where that directory exists. */
class Er7SourceSpec extends AnyFunSuite with LocalSpark {

  /** The FIXTURES.md quirks the file→messages split meets, one per file:
    * a multi-message file whose separator line holds only whitespace, a
    * CRLF file, a backtick escape character in MSH-2, a non-ASCII en dash
    * with trailing whitespace, a byte that is not valid UTF-8, and a
    * non-`.txt` file the reader skips. */
  private lazy val fixtureInbox: String = {
    val dir = Files.createTempDirectory("er7-fixture")
    def write(name: String, bytes: Array[Byte]): Unit = Files.write(dir.resolve(name), bytes)
    write("adt01.txt", (
      "MSH|^~\\&|ADT|HOSP|LAKE|HOSP|20240101120000||ADT^A01|ADT0001|P|2.5\n" +
      "PID|1||P100^^^HOSP||DOE^JANE||19800101|F\n" +
      "DG1|1||I10^Essential hypertension^I10\n" +
      " \t \n" +
      "MSH|^~\\&|ADT|HOSP|LAKE|HOSP|20240101120500||ADT^A01|ADT0002|P|2.3\n" +
      "PID|1||P101^^^HOSP||ROE^RICHARD||19750505|M\n").getBytes(UTF_8))
    write("adt02.txt", (
      "MSH|^~\\&|||LAKE|HOSP|20240102080000||ADT^A04|ADT0003|P|2.7\r\n" +
      "PID|1||P102^^^HOSP||POE^ANN||19900909|F\r\n" +
      "NK1|1|POE^JOHN|SPO\r\n" +
      "\r\n" +
      "MSH|^~\\&|||LAKE|HOSP|20240102080500||ADT^A04|ADT0004|P|2.7\r\n" +
      "PID|1||P103^^^HOSP||LOE^MAX||19851212|M\r\n").getBytes(UTF_8))
    write("lab01.txt", (
      "MSH|^~\\`&|LAB|HOSP|LAKE|HOSP|20240103090000||ORU^R01|LAB0001|P|2.3\n" +
      "PID|1||P100^^^HOSP||DOE^JANE||19800101|F\n" +
      "OBR|1||ECG1|93000^ECG^CPT\n" +
      (1 to 6).map(i =>
        s"OBX|$i|TX|ECG&INTERP&L||{\\rtf1\\ansi line $i of the interpretation text}||||||F\n")
        .mkString).getBytes(UTF_8))
    write("lab02.txt", (
      "MSH|^~\\&|LAB|HOSP|LAKE|HOSP|20240104100000||ORU^R01|LAB0002|P|2.3\n" +
      "PID|1||P104^^^HOSP||MOE^LI||19700101|F\n" +
      "OBX|1|ST|GLU^Glucose||90–110|mg/dL|70–110||||F   \n\n  \t\n").getBytes(UTF_8))
    // 0xFF is never valid UTF-8
    write("lab03.txt",
      "MSH|^~\\&|LAB|HOSP|LAKE|HOSP|20240105090000||ORU^R01|LAB0003|P|2.3\nPID|1||P105^^^HOSP||".getBytes(UTF_8) ++
        Array(0xff.toByte) ++ "OE^BO||19600101|M\n".getBytes(UTF_8))
    write("notes.bin",
      "MSH|^~\\&|SKIP|HOSP|LAKE|HOSP|20240105000000||ADT^A01|SKIP0001|P|2.5\n".getBytes(UTF_8))
    dir.toString
  }

  /** Messages per file in [[fixtureInbox]]. */
  private val fixtureCounts =
    Map("adt01" -> 2L, "adt02" -> 2L, "lab01" -> 1L, "lab02" -> 1L, "lab03" -> 1L)

  private def inboxes: Seq[String] =
    fixtureInbox +: Seq(Pipeline.MessagesDir).filter(d => Files.isDirectory(Path.of(d)))

  /** `(source, msg)` of each message, sorted, so repeats count. */
  private def messages(df: DataFrame): Seq[(String, String)] =
    df.select("source", "msg").collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** [[StreamingPipeline.messagesStream]] over `dir`, drained once with
    * AvailableNow into a memory sink that is dropped again. */
  private def streamed(dir: String): Seq[(String, String)] = {
    val sink = s"er7_stream_${java.util.UUID.randomUUID().toString.take(8)}"
    StreamingPipeline.messagesStream(spark, dir).writeStream.format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    try messages(spark.table(sink)) finally spark.catalog.dropTempView(sink)
  }

  test("batch and streaming inbox reads give the same messages") {
    inboxes.foreach { dir =>
      val batch = messages(Pipeline.readMessages(spark, dir))
      assert(batch.nonEmpty)
      assert(streamed(dir) == batch, s"the stream's messages diverged from the batch read on $dir")
    }
    val batch = messages(Pipeline.readMessages(spark, fixtureInbox))
    val counts = batch.groupBy(_._1).map { case (s, ms) => s -> ms.length.toLong }
    assert(counts == fixtureCounts, s"fixture split wrong: $counts")
    val msgs = batch.map(_._2)
    assert(msgs.forall(m => m.startsWith("MSH|") && m == m.stripTrailing()),
      "a message kept a separator line or trailing whitespace")
    assert(msgs.exists(_.startsWith("MSH|^~\\`&|")), "backtick MSH-2 lost")
    assert(msgs.count(_.contains("\r\n")) == 2, "CRLF messages lost their line breaks")
  }

  test("n_bytes matches the UTF-8 payload length") {
    // (n_messages, total_bytes) per fixture file as the DataSourceV2
    // `format("er7")` reader counted them before it was removed: it decoded
    // each file to a Java string and summed its messages' UTF-8 lengths
    val v2 = Map(
      "adt01" -> (2L, 253L), "adt02" -> (2L, 218L), "lab01" -> (1L, 595L),
      "lab02" -> (1L, 155L), "lab03" -> (1L, 106L))
    // q21_er7_source's aggregate
    def sourceBytes(dir: String) = Pipeline.sourceBytes(Pipeline.readMessages(spark, dir)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sourceBytes(fixtureInbox) == v2)
    inboxes.foreach { dir =>
      val utf8 = messages(Pipeline.readMessages(spark, dir)).groupBy(_._1)
        .map { case (s, ms) => s -> (ms.length.toLong, ms.map(_._2.getBytes(UTF_8).length.toLong).sum) }
      assert(sourceBytes(dir) == utf8, dir)
    }
    val msg = messages(Pipeline.readMessages(spark, fixtureInbox)).toMap
    // the en dash is three UTF-8 bytes, so bytes and chars differ here
    assert(v2("lab02")._2 == msg("lab02").length + 4)
    // and the invalid byte is read as U+FFFD, also three bytes
    assert(msg("lab03").contains('\uFFFD') && v2("lab03")._2 == msg("lab03").length + 2)
  }

  test("a missing path raises PATH_NOT_FOUND when the read is planned") {
    val missing = Files.createTempDirectory("er7-missing").resolve("nope").toString
    val e = intercept[AnalysisException](Pipeline.readMessages(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
