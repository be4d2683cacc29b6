package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{col, explode, length, regexp_replace, split}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 front door for ER7 message files — the reference's A1 HTTP
  * ingest re-expressed as a first-class Spark batch source:
  * `spark.read.format("er7").load(dir)` yields one row per MESSAGE (files
  * may hold several messages separated by blank lines), schema
  * `(source STRING, msg STRING, n_bytes LONG)`.
  *
  * Where `Pipeline.readMessages` composes built-ins (a whole-file
  * `binaryFile` scan cast to text, then explode), this source demonstrates
  * the V2 contract the engine's other scans get from the parquet reader
  * for free:
  *  - **column pruning** (SupportsPushDownRequiredColumns): ask for only
  *    `source` and the reader never materializes message bodies;
  *  - **predicate-driven file skipping** (SupportsPushDownFilters):
  *    EqualTo/In filters on `source` prune whole files from
  *    planInputPartitions — the moral equivalent of partition pruning, at
  *    100 TB the difference between listing and reading;
  *  - **one partition per file**: split work rides Spark's scheduler, no
  *    driver-side reading.
  *
  * Registered as short name `er7` via DataSourceRegister (META-INF
  * services). Message splitting must agree with `Pipeline.readMessages` —
  * Er7SourceSpec asserts row-set equality between the two paths.
  */
class Er7DataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "er7"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Er7Source.schema
  /** A missing path raises PATH_NOT_FOUND when the read is planned, as
    * Spark's file sources do, rather than planning a scan of nothing. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("er7 source requires a path"))
    if (!new java.io.File(path).exists())
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> path))
    new Er7Table(path)
  }
}

object Er7Source {
  val schema: StructType = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("msg", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** The canonical file→messages split, shared by this source,
    * `Pipeline.readMessages` and the streaming inbox: messages are
    * separated by a blank line (whitespace between two line breaks) and
    * lose their trailing whitespace; empty messages are dropped. */
  val MessageSeparator = "(\\r?\\n)\\s*(\\r?\\n)+"
  val TrailingWhitespace = "\\s+$"

  def splitMessages(fileText: String): Seq[String] =
    fileText.split(MessageSeparator).toSeq
      .map(_.replaceAll(TrailingWhitespace, ""))
      .filter(_.nonEmpty)

  /** [[splitMessages]] over the file-text column `text`: one row per
    * message, in column `msg`. */
  def explodeMessages(files: DataFrame, text: String): DataFrame =
    files.withColumn("msg", explode(split(col(text), MessageSeparator)))
      .withColumn("msg", regexp_replace(col("msg"), TrailingWhitespace, ""))
      .filter(length(col("msg")) > 0)

  def listFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val fs = if (d.isDirectory) d.listFiles().toSeq.filter(_.getName.endsWith(".txt"))
             else Seq(d)
    fs.map(_.getAbsolutePath).sorted
  }

  def stem(path: String): String = {
    val n = path.substring(path.lastIndexOf('/') + 1)
    if (n.endsWith(".txt")) n.dropRight(4) else n
  }
}

class Er7Table(path: String) extends Table with SupportsRead {
  override def name(): String = s"er7:$path"
  override def schema(): StructType = Er7Source.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Er7ScanBuilder(path)
}

class Er7ScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = Er7Source.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept only the file-prunable shapes (EqualTo/In on `source`); every
    * other filter is returned for Spark to evaluate post-scan. The pushed
    * ones are also returned as residual-free (we prune exactly). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition {
      case EqualTo("source", _: String) => true
      case In("source", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    pushed = ours
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val files = Er7Source.listFiles(path).filter { f =>
      val s = Er7Source.stem(f)
      pushed.forall {
        case EqualTo("source", v: String) => s == v
        case In("source", vs) => vs.contains(s)
        case _ => true
      }
    }
    new Er7Scan(files, required)
  }
}

class Er7Scan(files: Seq[String], required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"Er7Scan files=${files.length} columns=[${required.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => Er7InputPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new Er7ReaderFactory(required.fieldNames)
}

case class Er7InputPartition(file: String) extends InputPartition

class Er7ReaderFactory(columns: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[Er7InputPartition].file
    new PartitionReader[InternalRow] {
      private val source = Er7Source.stem(file)
      // the file must be read either way (row count = message count), but
      // pruned rows carry only the requested columns — a source-only
      // projection never copies message bodies into row storage
      private val messages: Seq[String] =
        Er7Source.splitMessages(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8"))
      private var i = -1
      override def next(): Boolean = { i += 1; i < messages.length }
      override def get(): InternalRow = {
        val m = messages(i)
        InternalRow.fromSeq(columns.toSeq.map {
          case "source" => UTF8String.fromString(source)
          case "msg" => UTF8String.fromString(m)
          case "n_bytes" => m.getBytes("UTF-8").length.toLong
        })
      }
      override def close(): Unit = ()
    }
  }
}
