package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All tables are plain parquet scans — Catalyst pushes filters/pruning into
  * the scan, so loaders stay dumb on purpose. The one normalization we own:
  * `events.ts` must surface as session-zone TIMESTAMP regardless of how the
  * generator wrote it. Generators have produced both TIMESTAMP(NANOS) (which
  * Spark's vectorized reader rejects — read as long via the legacy flag and
  * floor ns→µs, matching DuckDB's `CAST(ts AS TIMESTAMP)` truncation) and
  * TIMESTAMP(MICROS) (reads natively as TIMESTAMP_NTZ with the legacy flag
  * on — cast to TIMESTAMP, a wall-clock-preserving no-op under the UTC
  * session zone). We sniff the materialized dtype and normalize either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        // integer `div` (not `/`): double division loses ulps at 1.7e18 ns
        case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => df
        // TIMESTAMP_NTZ (µs-precision generator): the cast re-interprets the
        // wall-clock fields in the SESSION zone, so it is only the identity
        // the oracle comparison needs under UTC — assert that precondition
        // instead of silently producing shifted instants elsewhere.
        case TimestampNTZType =>
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events.ts NTZ→TIMESTAMP normalization requires session timeZone=UTC, got $tz")
          df.withColumn("ts", col("ts").cast(TimestampType))
        // Anything else is generator schema drift — fail loudly rather than
        // cast-and-corrupt the oracle comparison.
        case other =>
          throw new IllegalStateException(
            s"events.ts has unexpected dtype $other; expected ns-long, TIMESTAMP or TIMESTAMP_NTZ")
      }
    } else df
  }

  /** Register `views` as session temp views for `body` (a SQL query over
    * them) and drop them when it returns. `s.sql` analyzes eagerly, so the
    * frame it returns holds the resolved plans and still runs after the
    * drop: no view outlives its query. */
  def withTempViews[T](s: SparkSession, views: (String, DataFrame)*)(body: => T): T = {
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    try body finally views.foreach { case (name, _) => s.catalog.dropTempView(name) }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
