package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval of the traced run. Spans of one operation share `op`;
  * `parent` is the id of the span that caused this one (None for the
  * operation's root span). Times are in nanoseconds on one clock.
  */
final case class Span(id: Int, op: Int, name: String, parent: Option[Int], start: Long, end: Long) {
  def duration: Long = end - start
}

object Span {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that the
    * union of its children covers.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - unionLength(kids, s.start, s.end))
    }.toMap
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent.getOrElse("null")},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
}

/** In-memory span recorder. Spans open and close on one thread in stack
  * order; spans recorded from listener events (jobs) are attached to the
  * layer span that was open when they started.
  */
final class Tracer {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int, String, Long)] = Nil // (id, op, name, start)
  private var nextId = 0

  def spans: Seq[Span] = synchronized(done.toSeq)

  def span[T](op: Int, name: String)(body: => T): T = {
    val id = begin(op, name)
    try body finally end(id)
  }

  /** Opens a span on the stack; [[end]] must close it, innermost first. */
  def begin(op: Int, name: String): Int = synchronized {
    val i = nextId; nextId += 1
    stack = (i, op, name, System.nanoTime()) :: stack
    i
  }

  def end(id: Int): Unit = synchronized {
    val (i, o, n, s) = stack.head
    require(i == id, s"span $n closed out of order")
    stack = stack.tail
    done += Span(i, o, n, stack.headOption.map(_._1), s, System.nanoTime())
  }

  /** Adds a span whose interval is known only afterwards. */
  def add(op: Int, name: String, parent: Int, start: Long, end: Long): Unit = synchronized {
    val i = nextId; nextId += 1
    done += Span(i, op, name, Some(parent), start, math.max(start, end))
  }

  /** Records an interval observed elsewhere (a Spark job), after the spans
    * around it have closed, as a child of the innermost one containing its
    * start.
    */
  def record(name: String, start: Long, end: Long): Unit = synchronized {
    done.filter(sp => sp.start <= start && start < sp.end && sp.name != name)
      .maxByOption(_.start).foreach { host =>
        val i = nextId; nextId += 1
        done += Span(i, host.op, name, Some(host.id), start, math.max(start, end))
      }
  }
}
