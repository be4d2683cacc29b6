package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located joins: persist both sides bucketed by the join key so
  * repeated joins skip the shuffle entirely (each bucket pair joins
  * locally). This is the storage-layout lever for 100 TB fact-fact joins —
  * pay one shuffle at write time, never again at read time.
  */
object Bucketing {

  /** Write `df` as a bucketed managed table (sorted within buckets so the
    * sort-merge join also skips its sort; pass `sorted = false` when every
    * consumer joins shuffle_hash — co-partitioning needs only the bucket
    * hash, and skipping the sort removes a full write-side sort pass, as
    * q182b does). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int = 8,
                    sorted: Boolean = true): Unit = {
    val w = df.write.bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key — planned without an
    * Exchange on either side when bucket counts match. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
