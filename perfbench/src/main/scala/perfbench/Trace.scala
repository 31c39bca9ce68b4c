package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval: `parent` is the span that caused it (0 = root),
  * `trace` groups the spans of one operation (one key run, one panel, one
  * generated row's hops). Times are System.nanoTime values.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are kept in memory while the workload
  * runs and written out once at the end; with tracing off every call is a
  * pass-through, so the untraced run measures the program alone.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  def nextId(): Long = ids.getAndIncrement()

  /** Time `body` as a span named `name`, nested under the calling thread's
    * current span (a new trace when there is none). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = current.get()
      val id = nextId()
      val trace = if (outer == null) id else outer._2
      current.set((id, trace))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, if (outer == null) 0L else outer._1, trace, name, t0, System.nanoTime()))
        current.set(outer)
      }
    }

  /** The calling thread's current span id (0 outside any span). */
  def currentId: Long = Option(current.get()).map(_._1).getOrElse(0L)

  /** Record an interval measured elsewhere (listener callbacks, hop taps). */
  def record(name: String, parent: Long, trace: Long, start: Long, end: Long,
      id: Long = 0L): Unit =
    if (enabled) spans.add(Span(if (id != 0L) id else nextId(), parent, trace, name, start, end))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: (count, total ms, self ms). A span's self time is its
    * duration minus the part of its interval its children cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      (n, xs.size, xs.map(s => s.end - s.start).sum / 1e6,
        xs.map(s => s.end - s.start - covered(s)).sum / 1e6)
    }
  }

  /** Convert an epoch-microsecond wall time to this recorder's clock. */
  def fromWallMicros(us: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() * 1000L - us) * 1000L

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    // spans recorded from callbacks know their parent, not its trace
    val byId = all.map(s => s.id -> s).toMap
    def traceOf(s: Span): Long = byId.get(s.parent).map(traceOf).getOrElse(s.trace)
    all.sortBy(_.start).map(s => s.copy(trace = traceOf(s))).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""" += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
