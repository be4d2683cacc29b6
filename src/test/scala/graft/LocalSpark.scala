package graft

import org.apache.spark.sql.SparkSession

/** The specs' shared session: the engine factory at 8 cores. */
trait LocalSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(8)
}
