package perfbench

import scala.collection.mutable

/** One traced interval. Times are nanoseconds on one clock; `parent`
  * is the id of the enclosing span, or -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. Overlapping
    * intervals (concurrent jobs) count once. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else if (b > curE) curE = b
    }
    if (open) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(s.start, s.end, cs))
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** In-memory span recorder. The benchmark's own spans open and close on
  * the driver thread as a stack; spans reported by Spark listeners are
  * added from the listener thread with an explicit parent. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 0

  def newId(): Int = synchronized { nextId += 1; nextId }

  def open(name: String, layer: String): Int = synchronized {
    val id = newId()
    stack.push((id, name, layer, System.nanoTime()))
    id
  }

  def close(id: Int): Span = synchronized {
    val (sid, name, layer, t0) = stack.head
    require(sid == id, s"span $id closed out of order (open: $sid)")
    stack.pop()
    val s = Span(sid, stack.headOption.map(_._1).getOrElse(-1), name, layer,
      t0, System.nanoTime())
    spans += s
    s
  }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }
}
