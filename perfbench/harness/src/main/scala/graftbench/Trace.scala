package graftbench

import scala.collection.mutable

/** In-memory spans: name, layer, start, end, parent and op id, written
  * out once at the end of a run. Times are nanoseconds since the trace
  * was created. Spans are recorded only while `on` is set, so untraced
  * rounds of the same run pay nothing for them. */
final class Trace {
  import Trace._

  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var on = false

  def now: Long = System.nanoTime() - nano0

  /** Bus event time (epoch ms) on this trace's clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochNs0

  def spans: Seq[Span] = all.toList

  def add(name: String, layer: String, start: Long, end: Long,
      parent: Int, op: String): Int = {
    all += Span(all.size, name, layer, start, end, parent, op)
    all.size - 1
  }

  /** Runs `body` inside a span that is the child of the innermost open
    * span; returns the result and the span id (-1 when tracing is off). */
  def span[T](name: String, layer: String, op: String)(body: => T): (T, Int) =
    if (!on) (body, -1)
    else {
      val id = add(name, layer, now, -1L, stack.headOption.getOrElse(-1), op)
      stack = id :: stack
      try (body, id)
      finally {
        stack = stack.tail
        all(id) = all(id).copy(end = now)
      }
    }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},""" +
      s""""op":"${s.op}"}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  final case class Span(id: Int, name: String, layer: String, start: Long,
      end: Long, parent: Int, op: String)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.end - s.start - covered(c, s.start, s.end))
    }.toMap
  }
}
