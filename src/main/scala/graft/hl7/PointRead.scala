package graft.hl7

import java.io.Closeable
import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Point reads of one lake directory on the driver, with no Spark job.
  *
  * Every data file under the directory is opened with the reader Spark's
  * parquet source builds for a scan task (`buildReaderWithPartitionValues`).
  * Building that reader broadcasts the session's whole Hadoop
  * configuration, which costs more than reading a small directory, so a
  * built reader is kept and reused. Its key is the read schema, the
  * partition schema, the session's SQL conf and the owning `SparkContext`:
  * a conf change builds a new reader, and an entry is never used once its
  * context has stopped (its broadcast is gone with it). At most
  * [[ReadersPerContext]] readers are kept per context, and a context's
  * entries are weakly held, so a dropped context is freed with them.
  * Settings made on the context's Hadoop configuration after a reader is
  * built do not reach that reader.
  *
  * Nothing else is kept: every read lists the directory and opens each of
  * its files from disk. No filter is pushed into the reader, so one reader
  * serves every id and format. The reader returns whole row groups, and
  * each row is checked against the keys and converted only on a match.
  * Files are read concurrently on one shared pool of daemon threads
  * (`point-read-N`, at most one per driver core); one directory read uses
  * at most min(files, driver cores, the session's default parallelism) of
  * them. */
private[hl7] object PointRead {

  /** The readers a context keeps, least recently used dropped first. A lake
    * needs two (its catalog and its messages table). */
  private val ReadersPerContext = 8

  private case class ReaderKey(schema: StructType, partitionSchema: StructType, sqlConf: Map[String, String])

  /** A built reader and the Hadoop configuration it was built under. */
  private case class Reader(conf: Configuration, read: PartitionedFile => Iterator[InternalRow])

  private val readers = new java.util.WeakHashMap[SparkContext, java.util.LinkedHashMap[ReaderKey, Reader]]()

  private val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")

  /** The reader of `schema` plus `partitionSchema` under the session's
    * current conf, built on first use. */
  private def reader(spark: SparkSession, schema: StructType, partitionSchema: StructType): Reader = {
    val sc = spark.sparkContext
    val key = ReaderKey(schema, partitionSchema, spark.sessionState.conf.getAllConfs)
    readers.synchronized {
      if (sc.isStopped) readers.remove(sc)
      val cache = readers.computeIfAbsent(sc, _ =>
        new java.util.LinkedHashMap[ReaderKey, Reader](16, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[ReaderKey, Reader]): Boolean =
            size > ReadersPerContext
        })
      cache.computeIfAbsent(key, _ => {
        val conf = spark.sessionState.newHadoopConfWithOptions(options)
        Reader(conf, new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
          partitionSchema, schema, Nil, options, conf))
      })
    }
  }

  private lazy val cores = Runtime.getRuntime.availableProcessors

  private lazy val pool: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(cores, new ThreadFactory {
      private val n = new AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"point-read-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }))

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
    val Reader(conf, read) = reader(spark, schema, partitionSchema)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(dir).toString))
    val files = Pipeline.dataFiles(fs, dir).toVector.sortBy(_._1)
      .map { case (rel, len) => (new Path(dir, rel), len) }
    if (files.isEmpty) return Nil

    val partitionValues = InternalRow.fromSeq(partition.map(p => UTF8String.fromString(p._2)))
    val matchers = keys.map { case (k, v) => (schema.fieldIndex(k), UTF8String.fromString(v)) }
    val toRow = CatalystTypeConverters.createToScalaConverter(StructType(schema ++ partitionSchema))

    def readFile(i: Int): Seq[Row] = {
      val (file, len) = files(i)
      val it = read(PartitionedFile(partitionValues, SparkPath.fromPath(file), 0, len, fileSize = len))
      // the reader reuses its row: convert only a match
      try it.filter(row => matchers.forall { case (k, v) => v == row.getUTF8String(k) })
        .map(toRow(_).asInstanceOf[Row]).toVector
      finally it match { case c: Closeable => c.close(); case _ => () }
    }

    val threads = Seq(files.length, cores, spark.sparkContext.defaultParallelism).min
    if (threads <= 1) files.indices.flatMap(readFile)
    else {
      // `threads` workers take the files in turn
      val out = new Array[Seq[Row]](files.length)
      val next = new AtomicInteger()
      val workers = Seq.fill(threads)(Future {
        var i = next.getAndIncrement()
        while (i < files.length) { out(i) = readFile(i); i = next.getAndIncrement() }
      }(pool))
      workers.foreach(Await.result(_, Duration.Inf))
      out.toSeq.flatten
    }
  }
}
