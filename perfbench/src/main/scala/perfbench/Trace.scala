package perfbench

import scala.collection.mutable.ArrayBuffer

/** A timed call into one layer. Times are nanoseconds on the JVM's
  * monotonic clock; `parent` is the id of the enclosing span, or -1. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, requestId: String) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. When disabled, `span` only runs its body. Spans are kept
  * in memory and written out once, when the run ends. */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  /** Nanoseconds spent recording spans: the recorder's own overhead. */
  @volatile var bookkeepingNs = 0L

  def span[T](name: String, requestId: String = "")(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val start = System.nanoTime()
    bookkeepingNs += start - t0
    try body
    finally {
      val end = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, name, start, end, parent, requestId) }
      bookkeepingNs += System.nanoTime() - end
    }
  }

  /** Monotonic-clock nanoseconds at the wall-clock epoch. */
  private val epochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Records a span measured elsewhere in wall-clock milliseconds (e.g. a
    * micro-batch from Spark's progress events), on the spans' clock. */
  def record(name: String, startEpochMs: Long, endEpochMs: Long, requestId: String): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, name, epochNs + startEpochMs * 1000000L, epochNs + endEpochMs * 1000000L, -1, requestId)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: a span's duration minus its children's. */
  def selfTimesNs: Map[String, Long] = {
    val s = all
    val childNs = s.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    s.groupBy(_.name).map { case (n, xs) => n -> xs.map(x => x.durNs - childNs.getOrElse(x.id, 0L)).sum }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "request_id" -> s.requestId))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
