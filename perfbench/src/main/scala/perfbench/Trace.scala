package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval of the run. Times are epoch nanoseconds; `parent`
  * is the id of the enclosing span (0 for the root). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, end: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans nest run -> pass -> op -> phase on the
  * driver thread; Spark job and stage spans are added afterwards from the
  * listener's records. Nothing is written until the run ends. When
  * disabled, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, String, Long)] = Nil
  private var nextId = 1L
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now: Long = System.nanoTime() + epochOffset
  def current: Long = stack.headOption.map(_._1).getOrElse(0L)

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def span[A](name: String, kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack = (id, name, kind, now) :: stack
      try body
      finally {
        val (_, n, k, t0) = stack.head
        stack = stack.tail
        add(Span(id, parent, n, k, t0, now))
      }
    }

  def add(s: Span): Unit = synchronized { done += s }
  def spans: Seq[Span] = synchronized { done.toList }
}

object Trace {
  /** Nanoseconds of [lo, hi) covered by the union of `intervals`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (clipped.nonEmpty) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(s.start, s.end, c))
    }.toMap
  }
}
