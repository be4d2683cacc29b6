package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.hl7.Pipeline

/** DataSourceV2 front door (`format("er7")`): row parity with the composed
  * text-scan reader, column pruning, and predicate-driven file skipping. */
class Er7SourceSpec extends AnyFunSuite with LocalSpark {

  private def er7 = spark.read.format("er7").load(Pipeline.MessagesDir)

  test("er7 source rows == Pipeline.readMessages rows") {
    val v2 = er7.select("source", "msg").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val composed = Pipeline.readMessages(spark).select("source", "msg").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(v2 == composed, "V2 source diverged from the composed reader")
    assert(v2.nonEmpty)
  }

  test("n_bytes matches the UTF-8 payload length") {
    er7.collect().foreach { r =>
      assert(r.getAs[Long]("n_bytes") == r.getAs[String]("msg").getBytes("UTF-8").length)
    }
  }

  test("column pruning reaches the scan") {
    // planning needs an existing path, not the corpus's contents
    val inbox = java.nio.file.Files.createTempDirectory("er7-prune")
    java.nio.file.Files.writeString(inbox.resolve("adt.txt"), "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|M1|P|2.5\n")
    val df = spark.read.format("er7").load(inbox.toString).select("source")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=[source]"), s"scan not pruned:\n$scan")
  }

  test("source predicate prunes whole files from the scan") {
    val df = er7.filter(col("source") === "lab01")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("files=1"), s"file skipping did not happen:\n$scan")
    val all = er7.filter(col("source").isin("lab01", "adt01"))
    assert(all.queryExecution.executedPlan.toString.contains("files=2"))
    // and the results are still exactly right
    assert(df.select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("lab01"))
    assert(df.count() == Pipeline.readMessages(spark)
      .filter(col("source") === "lab01").count())
  }

  test("er7 micro-batch stream picks up new files exactly once") {
    val inbox = java.nio.file.Files.createTempDirectory("er7-inbox")
    def drop(name: String): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${Pipeline.MessagesDir}/$name"),
        inbox.resolve(name))
    drop("lab01.txt")
    val q = spark.readStream.format("er7").load(inbox.toString)
      .writeStream.format("memory").queryName("er7_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("er7_stream_out").count()
      assert(n1 == 1, s"lab01 holds one message, got $n1")
      drop("adt01.txt") // two messages in one file
      q.processAllAvailable()
      val rows = spark.table("er7_stream_out")
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("lab01" -> 1L, "adt01" -> 2L),
        s"incremental pickup wrong: $rows")
      // no reprocessing on an idle trigger
      q.processAllAvailable()
      assert(spark.table("er7_stream_out").count() == 3)
    } finally q.stop()
  }

  test("unsupported predicates are evaluated post-scan, not dropped") {
    val long = er7.filter(length(col("msg")) > 500)
    val composed = Pipeline.readMessages(spark).filter(length(col("msg")) > 500)
    assert(long.count() == composed.count())
  }

  test("a missing path raises PATH_NOT_FOUND when the read is planned") {
    val missing = java.nio.file.Files.createTempDirectory("er7-missing").resolve("nope").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](spark.read.format("er7").load(missing))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
