package perfbench

import scala.collection.mutable

/** One traced interval. `parent` is 0 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of `children`'s intervals, clipped to
    * [lo, hi]. */
  def covered(children: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    children.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE max e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil)
        .map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }
}

/**
 * Span recorder. The benchmark wraps each operation in a root span and
 * every call into an engine layer in a child span; spans stay in
 * memory until the run ends. When disabled, [[span]] only runs its
 * body.
 */
final class Tracer {
  @volatile var enabled = false
  private val buf = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var op = 0
  val counters: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime
      try body
      finally {
        buf += Span(id, parent, op, name, t0, System.nanoTime)
        stack = stack.tail
      }
    }

  /** Add to a named counter (traced segments only). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) += v

  def spans: Seq[Span] = buf.toSeq
}
