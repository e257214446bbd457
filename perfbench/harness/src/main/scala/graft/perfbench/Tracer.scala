package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded at the benchmark's own call boundaries: one
  * span per call into a layer, nested by the calling thread's open spans.
  * Nothing is written until [[toJson]] at the end of the run. When
  * disabled, [[span]] only runs its body.
  */
final class Tracer(enabled: Boolean) {
  /** Spans are recorded only while on; starts as `enabled`. */
  @volatile var on: Boolean = enabled

  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Runs `body` inside a span named `name`; `op` groups the spans of one
    * benchmark operation (one query, request or micro-batch). `parent`
    * applies only when the thread has no open span.
    */
  def span[T](name: String, op: String = "", parent: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get()
      val id = spans.synchronized {
        spans += Span(spans.size, stack.headOption.getOrElse(parent), name, op,
          System.nanoTime(), -1L)
        spans.size - 1
      }
      open.set(id :: stack)
      try body
      finally {
        val end = System.nanoTime()
        spans.synchronized { spans(id) = spans(id).copy(endNs = end) }
        open.set(stack)
      }
    }

  /** The calling thread's innermost open span, -1 if none: pass it as
    * `parent` to nest a span another thread opens on this one's behalf.
    */
  def current: Int = open.get().headOption.getOrElse(-1)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Sum of self seconds per span name. */
  def selfSeconds: Map[String, Double] = Tracer.selfSeconds(all)

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** A span's self time is its duration minus the part of its interval
    * covered by its children (overlapping children counted once).
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.durNs - covered) / 1e9
      }.sum
    }
  }
}
