package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `delta` holds the Spark counters that
  * moved between its start and end boundary (zero when untraced). */
final case class Span(
    id: Int, parent: Int, name: String, op: String, pass: Int,
    startNs: Long, endNs: Long, delta: Snap
) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Every span records its wall time. When `counters` is
  * set (the traced run), each boundary first drains the listener bus
  * so that a span owns exactly the events its calls posted, then
  * snapshots the counters. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  var counters: Option[Counters] = None
  var drain: () => Unit = () => ()
  private var stack: List[Int] = Nil

  def span[T](name: String, op: String, pass: Int)(body: => T): T = {
    val c = counters
    if (c.isDefined) drain()
    val s0 = c.fold(Snap())(_.snap)
    // Started spans = finished + open, so this id is unique.
    val id = spans.size + stack.size
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      if (c.isDefined) drain()
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, name, op, pass, t0, t1, c.fold(Snap())(_.snap - s0))
    }
  }

  /** Self time per span name over the spans `keep` selects: each span's
    * duration minus the time its direct children cover. */
  def selfSeconds(keep: Span => Boolean): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(s => s.endNs - s.startNs).sum
    }
    spans.filter(keep).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }
}
