package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, GenData, Explain, PlanStats and
  * the specs all build their session here, so they run the same engine
  * settings and differ only in core count. */
object Sessions {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); see Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the deliberate single-partition rankings (global top-k windows) would
    // otherwise log "No Partition Defined for Window operation" per plan
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
