package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call: its name, nanosecond bounds, the span it ran inside
  * (-1 at top level) and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single driver thread. Spans nest by
  * call structure; nothing is written until the run ends. When disabled,
  * [[apply]] only runs the body. */
final class Spans(val runId: String, val enabled: Boolean) {
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, runId, t0, System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
}

object Spans {

  /** Self time per span id: its duration minus the durations of its
    * direct children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Per span name: (calls, total seconds, self seconds), by name. */
  def summary(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      (name, ss.length, ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }
  }
}
