package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }
}

/** One run: its counters, metrics and the checks it failed. */
final class Run(val args: Args) {
  val trace = new Trace(args.trace)
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var attempted = 0L
  var failed = 0L
  val endToEnd = ArrayBuffer.empty[(String, Double, String)]
  val perLayer = ArrayBuffer.empty[(String, Double, String)]
  val problems = ArrayBuffer.empty[String]
  def work: Path = args.work

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd += ((name, value, unit))
  def layer(name: String, value: Double, unit: String): Unit = perLayer += ((name, value, unit))

  /** Records a failed output check; the run then reports `correct: false`. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    problems += what
    System.err.println(s"CHECK FAILED: $what")
  }

  /** Runs one operation of the workload. A thrown operation counts as
    * failed and yields None, so its time is never recorded. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU time the hypervisor gave to other guests since boot, in seconds
    * (the `steal` column of /proc/stat). */
  def stealSeconds(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(Double.NaN)
    finally f.close()
  }

  private def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private var cpu0 = Double.NaN
  private var heap: HeapWatch = _

  /** Starts the benchmark's session and warms it up with `warm`: the one
    * cold set-up that precedes the timed phase. `setup_s` is its wall. The
    * measured phase, for `cpu_s` and `peak_heap_mb`, starts when it returns. */
  def setUp(warm: SparkSession => Unit): SparkSession = {
    val (spark, wall) = seconds {
      val s = Session.start(work, cores)
      warm(s)
      s
    }
    e2e("setup_s", wall, "s")
    cpu0 = processCpuSeconds()
    heap = new HeapWatch
    spark
  }

  /** `wall_s` and `op_geomean_ms` (see `Stats.work`) from the walls, in
    * seconds, of the workload's fixed set of timed operations by kind. A
    * kind whose every operation failed leaves the run without them. */
  def reportWork(kinds: Seq[(String, Seq[Double])]): Unit = {
    kinds.foreach { case (k, ws) =>
      if (ws.nonEmpty) System.out.println(f"operation $k%-28s ${ws.length}%3d × median ${1000 * Stats.median(ws)}%10.3f ms")
    }
    val empty = kinds.filter(_._2.isEmpty).map(_._1)
    if (empty.nonEmpty) check(false, s"no successful ${empty.mkString(", ")}; no work totals")
    else {
      val (wall, geomeanMs) = Stats.work(kinds.map(_._2))
      e2e("wall_s", wall, "s")
      e2e("op_geomean_ms", geomeanMs, "ms")
    }
  }

  /** Ends the measured phase: its CPU time and memory peaks. */
  def reportResources(): Unit = {
    e2e("cpu_s", processCpuSeconds() - cpu0, "s")
    e2e("peak_rss_mb", peakRssMb(), "MB")
    e2e("peak_heap_mb", heap.stop(), "MB")
  }

  /** Tracing overhead: `op` with the listeners off against `op` with them
    * on, in alternating pairs after one warm-up call, so neither side is
    * colder than the other.
    * Leaves the listeners unregistered. */
  def traceOverhead(exec: Exec, pairs: Int, what: String)(op: Int => Unit): Unit = {
    op(0)
    val walls = (1 to pairs).map { i =>
      exec.unregister()
      val off = seconds(op(2 * i))._2
      exec.register()
      val on = seconds(op(2 * i + 1))._2
      (off, on)
    }
    exec.unregister()
    val overhead = Stats.median(walls.map(_._2)) / Stats.median(walls.map(_._1)) - 1
    layer("trace.overhead_pct", 100 * overhead, "%")
    layer("trace.bookkeeping_ms", trace.bookkeepingNs / 1e6, "ms")
    System.out.println(f"tracing overhead on $what: ${100 * overhead}%.1f%% (listeners off/on: " +
      walls.map(w => f"${w._1}%.3f/${w._2}%.3f").mkString(", ") + " s)")
  }

  def resultLine(): String = {
    val metrics = if (args.trace) perLayer else endToEnd
    val body = metrics.map { case (n, v, u) => n -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }
    Json.obj("correct" -> problems.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(body.toSeq: _*)))
  }
}

/** The peak heap occupancy right after a collection, from the collectors'
  * notifications while it is installed. The heap's size is fixed (run.py),
  * so the resident set stays near it whatever the program keeps alive;
  * this figure follows the live data instead. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  private var peakBytes = 0L
  private var collections = 0
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peakBytes = math.max(peakBytes, used); collections += 1 }
    }

  /** Uninstalls the watch and returns the peak in MB. */
  def stop(): Double = synchronized {
    emitters.foreach(_.removeNotificationListener(this))
    System.out.println(s"collections during the measured phase: $collections")
    peakBytes / 1048576.0
  }
}

object Session {
  def start(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Main {
  val workloads: Map[String, Run => Unit] = Map(
    "lake_batch" -> LakeBatch.run,
    "lake_stream" -> LakeStream.run,
    "analytics" -> Analytics.run)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val body = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; one of ${workloads.keys.mkString(", ")}"))
    Files.createDirectories(args.work)
    val run = new Run(args)
    val steal0 = run.stealSeconds()
    body(run)
    // host contention, for reading a slow run: not a metric
    System.out.println(f"host steal during the run: ${run.stealSeconds() - steal0}%.2f s")
    if (args.trace) {
      run.trace.write(args.work.resolve("spans.jsonl"))
      System.out.println(s"spans: ${run.trace.all.size} written to ${args.work.resolve("spans.jsonl")}")
    }
    val metrics = if (args.trace) run.perLayer else run.endToEnd
    metrics.foreach { case (n, v, u) => System.out.println(f"metric $n%-44s $v%16.6f $u") }
    if (run.problems.nonEmpty) System.out.println(s"checks failed: ${run.problems.size}")
    System.out.println(s"operations: attempted ${run.attempted}, failed ${run.failed}")
    System.out.println(run.resultLine())
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }
}
