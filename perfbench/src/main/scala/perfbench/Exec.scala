package perfbench

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark's own execution metrics, summed over everything the session ran:
  *   - SQLMetrics of each executed (final AQE) plan, by operator class;
  *   - task totals from the scheduler;
  *   - planning time from each query's phase tracker.
  * The benchmark registers it on its own session only when tracing. Totals
  * are cumulative; a phase reads `snapshot()` before and after and takes
  * the difference. */
final class Exec(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Wall of each successful execution, in order, with its action name. */
  private val executions = mutable.ArrayBuffer.empty[(String, Double)]

  private def add(k: String, v: Double): Unit = totals.synchronized(totals(k) += v)

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every event posted so far has been counted. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = { drain(); totals.synchronized(totals.toMap) }

  def executionWalls(): Seq[(String, Double)] = { drain(); executions.synchronized(executions.toList) }

  // ---- scheduler
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("exec.tasks", 1)
    if (e.reason != Success) add("exec.tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.task_input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("exec.task_spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)

  // ---- plans
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions.synchronized(executions += funcName -> durationNs / 1e9)
    add("exec.executions", 1)
    add("exec.planning_ms", qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
    val nodes = Exec.nodes(qe.executedPlan)
    if (nodes.exists(_.isInstanceOf[DataWritingCommandExec])) add("exec.write.ms", durationNs / 1e6)
    nodes.foreach { n =>
      def m(key: String): Double = n.metrics.get(key).map(_.value.toDouble).getOrElse(0.0)
      add("exec.spill_bytes", m("spillSize"))
      n match {
        case w: DataWritingCommandExec =>
          add("exec.write.files", w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
          add("exec.write.bytes", w.cmd.metrics.get("numOutputBytes").map(_.value.toDouble).getOrElse(0.0))
        case _ => n.getClass.getSimpleName match {
          case "FileSourceScanExec" | "BatchScanExec" =>
            add("exec.scan.ms", m("scanTime"))
            add("exec.scan.bytes", m("filesSize"))
            add("exec.scan.files", m("numFiles"))
          case "ShuffleExchangeExec" =>
            add("exec.exchange.write_bytes", m("shuffleBytesWritten"))
            add("exec.exchange.write_records", m("shuffleRecordsWritten"))
            add("exec.exchange.fetch_wait_ms", m("fetchWaitTime"))
          case "HashAggregateExec" | "ObjectHashAggregateExec" | "SortAggregateExec" =>
            add("exec.aggregate.ms", m("aggTime"))
            totals.synchronized(totals("exec.aggregate.peak_mem_bytes") =
              math.max(totals("exec.aggregate.peak_mem_bytes"), m("peakMemory")))
          case "SortExec" =>
            add("exec.sort.ms", m("sortTime"))
          case "ShuffledHashJoinExec" =>
            add("exec.join.build_ms", m("buildTime"))
          case "BroadcastExchangeExec" =>
            add("exec.join.build_ms", m("buildTime"))
            add("exec.broadcast.bytes", m("dataSize"))
          case _ =>
        }
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add("exec.executions_failed", 1)
}

object Exec {
  /** Every node of an executed plan: through AQE's final plan and query
    * stages, not into reused exchanges (they are counted where they ran). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil
    case other => other +: other.children.flatMap(nodes)
  }

  /** Per-layer names of the exec metrics, with their units. */
  val units: Seq[(String, String)] = Seq(
    "exec.scan.ms" -> "ms", "exec.scan.bytes" -> "bytes", "exec.scan.files" -> "count",
    "exec.exchange.write_bytes" -> "bytes", "exec.exchange.write_records" -> "count",
    "exec.exchange.fetch_wait_ms" -> "ms",
    "exec.aggregate.ms" -> "ms", "exec.aggregate.peak_mem_bytes" -> "bytes",
    "exec.sort.ms" -> "ms", "exec.spill_bytes" -> "bytes", "exec.join.build_ms" -> "ms",
    "exec.broadcast.bytes" -> "bytes",
    "exec.write.ms" -> "ms", "exec.write.files" -> "count", "exec.write.bytes" -> "bytes",
    "exec.tasks" -> "count", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.task_input_bytes" -> "bytes", "exec.task_spill_bytes" -> "bytes",
    "exec.tasks_failed" -> "count", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.planning_ms" -> "ms", "exec.executions" -> "count")

  /** `after − before` for every exec metric, in the order of `units`.
    * Peak memory is a maximum, not a sum, so it is taken as is. */
  def diff(before: Map[String, Double], after: Map[String, Double]): Seq[(String, Double, String)] =
    units.map { case (k, u) =>
      val v = if (k.endsWith("peak_mem_bytes")) after.getOrElse(k, 0.0)
              else after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
      (k, v, u)
    }
}
