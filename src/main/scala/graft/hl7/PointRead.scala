package graft.hl7

import java.io.Closeable
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Point reads of one lake directory on the driver, with no Spark job.
  *
  * Every data file under the directory is opened with the reader Spark's
  * parquet source builds for a scan task (`buildReaderWithPartitionValues`).
  * The `message_id` equality (and the `format` one, when given) is pushed
  * into that reader as a filter, so row-group statistics skip whatever
  * cannot match. The reader still returns whole row groups, so each row is
  * checked against the keys, and only matching rows are converted. Files
  * are read concurrently, at most one per driver core and no more than the
  * session's default parallelism. */
private[hl7] object PointRead {

  /** Rows of the parquet files under `dir`, read under `schema`, whose
    * `message_id` is `messageId` and, if given, whose `format` is `format`.
    * Each row carries `partition`'s values (string columns, in that order)
    * after `schema`'s columns, as a scan of the partitioned table would.
    * Rows come back in file-listing order. A missing `dir` raises
    * PATH_NOT_FOUND, as Spark's parquet source does. */
  def rows(spark: SparkSession, dir: Path, schema: StructType, partition: Seq[(String, String)],
           messageId: String, format: Option[String]): Seq[Row] = {
    val keys = ("message_id" -> messageId) +: format.map("format" -> _).toSeq
    val partitionSchema = StructType(partition.map(p => StructField(p._1, StringType)))
    val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(dir).toString))
    val files = Pipeline.dataFiles(fs, dir).toVector.sortBy(_._1)
      .map { case (rel, len) => (new Path(dir, rel), len) }
    if (files.isEmpty) return Nil

    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      partitionSchema, schema, keys.map { case (k, v) => EqualTo(k, v) }, options, conf)
    val partitionValues = InternalRow.fromSeq(partition.map(p => UTF8String.fromString(p._2)))
    val matchers = keys.map { case (k, v) => (schema.fieldIndex(k), UTF8String.fromString(v)) }
    val toRow = CatalystTypeConverters.createToScalaConverter(StructType(schema ++ partitionSchema))

    def read(file: Path, len: Long): Seq[Row] = {
      val it = reader(PartitionedFile(partitionValues, SparkPath.fromPath(file), 0, len, fileSize = len))
      // the reader reuses its row: convert only a match
      try it.filter(row => matchers.forall { case (i, v) => v == row.getUTF8String(i) })
        .map(toRow(_).asInstanceOf[Row]).toVector
      finally it match { case c: Closeable => c.close(); case _ => () }
    }

    val threads = Seq(files.length, Runtime.getRuntime.availableProcessors,
      spark.sparkContext.defaultParallelism).min
    if (threads <= 1) files.flatMap((read _).tupled)
    else {
      val pool = Executors.newFixedThreadPool(threads)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(files) { case (f, len) => Future(read(f, len)) }, Duration.Inf).flatten
      } finally pool.shutdown()
    }
  }
}
