package graft.perfbench

import scala.collection.mutable

/** One timed interval. `parent` is the id of the span that was open when
  * this one started (0 for a root); spans of one client operation share
  * `request`. Times are `System.nanoTime` values. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, request: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. Spans are held in memory
  * and written out when the run ends. When disabled, [[span]] runs its body
  * and records nothing, so the untraced run pays no tracing cost. Spans
  * nest on one client thread; [[attach]] adds intervals observed elsewhere
  * (Spark listener events) under the innermost span that covers them. */
final class Tracer(val enabled: Boolean) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  private var request = 0L

  /** Start a new client operation: spans opened from now on share its id. */
  def newRequest(): Long = { request += 1; request }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      open.push((id, name, System.nanoTime()))
      try body
      finally {
        val (_, _, start) = open.pop()
        val parent = if (open.isEmpty) 0 else open.top._1
        closed += Span(id, name, start, System.nanoTime(), parent, request)
      }
    }

  /** Record an interval measured outside the span stack as a child of the
    * innermost closed span that covers it. */
  def attach(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val host = closed.filter(s => s.startNs <= startNs && endNs <= s.endNs)
        .minByOption(_.durNs)
      nextId += 1
      closed += Span(nextId, name, startNs, endNs, host.map(_.id).getOrElse(0),
        host.map(_.request).getOrElse(0L))
    }

  def spans: Seq[Span] = closed.toSeq.sortBy(_.id)
}

object Tracer {

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children may overlap each other; the covered
    * part is their union, clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total and self milliseconds per span name. */
  def byName(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6)
    }
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"request":${s.request},""" +
        s""""self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
