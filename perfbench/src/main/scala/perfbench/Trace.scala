package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. `parent` is 0 for an
  * operation's root span; every span of one operation shares `opId`. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** layer = the span name up to its first dot ("table.scan" -> "table") */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled, `op`/`span` only run their body, so
  * the untraced run pays one branch per call. Spans are kept in memory and
  * written out by the caller once the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  // (spanId, opId) frames of the calling thread, innermost first
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** root span of a new operation */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else record(name, 0L, ids.incrementAndGet())(body)

  /** child span of the calling thread's current span (a root span of a
    * fresh operation when none is open) */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else stack.get() match {
      case (parent, opId) :: _ => record(name, parent, opId)(body)
      case Nil => record(name, 0L, ids.incrementAndGet())(body)
    }

  private def record[T](name: String, parent: Long, opId: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val saved = stack.get()
    stack.set((id, opId) :: saved)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(saved)
      spans.add(Span(id, parent, opId, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** this tracer for even-numbered operations, a disabled one for odd: a
    * traced run interleaves traced and untraced operations, so their
    * difference measures the tracing overhead free of warm-up drift */
  def alternate(i: Long): Tracer = if (enabled && i % 2 == 0) this else Tracer.Off
}

object Tracer {
  val Off = new Tracer(false)
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children clipped to the parent, overlapping
    * children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** total length of a set of intervals, overlaps counted once */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** summed self time per layer, in ms */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  def toJsonLine(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}
