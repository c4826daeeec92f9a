package graftbench

import scala.collection.mutable

/** In-memory spans: name, parent, start and end. Written out once, when
  * the run ends, with each span's self time (its duration minus the part
  * its children cover). Times are epoch milliseconds, the clock Spark's
  * job events use, read at nanosecond resolution. */
final class Trace {
  import Trace.Span

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String, parent: Int)(f: Int => T): T = {
    val id = spans.size
    spans += Span(id, parent, name, nowMs, Double.NaN)
    try f(id) finally spans(id) = spans(id).copy(endMs = nowMs)
  }

  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = {
    spans += Span(spans.size, parent, name, startMs, endMs)
    spans.size - 1
  }

  def end(id: Int): Unit = spans(id) = spans(id).copy(endMs = nowMs)

  def get(id: Int): Span = spans(id)

  /** Direct children of `id` (a child is always recorded after its parent). */
  def children(id: Int): Seq[Span] = spans.view.drop(id + 1).filter(_.parent == id).toSeq

  /** The innermost span under `root` whose interval holds `t`. */
  def innermost(root: Int, t: Double): Int = {
    val kids = spans.iterator.filter(s => s.parent == root && s.startMs <= t && t <= s.endMs).toSeq
    kids.headOption.map(k => innermost(k.id, t)).getOrElse(root)
  }

  def all: Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val cover = Layers.covered(kids.getOrElse(s.id, Nil).map(c =>
        (math.round(c.startMs * 1000), math.round(c.endMs * 1000))).toSeq,
        math.round(s.startMs * 1000), math.round(s.endMs * 1000)) / 1000
      (s, s.endMs - s.startMs - cover)
    }
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)
}
