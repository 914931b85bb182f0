package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is -1 for a root span; spans of
  * one pass or operation share a `trace` id. `attrs` holds the counters
  * recorded at the same boundary (rows, bytes, task cpu, ...).
  */
final case class Span(id: Int, name: String, trace: Int, parent: Int,
                      startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the driver thread. With `enabled` false a
  * span is a plain call: nothing is recorded and the counter source is
  * never read. `counters` is sampled at both ends of every span, and the
  * differences land in the span's attributes.
  */
final class Tracer(val enabled: Boolean,
                   counters: () => Map[String, Double] = () => Map.empty) {
  private final class Open(val id: Int, val name: String, val trace: Int,
                           val parent: Int, val startNs: Long,
                           val before: Map[String, Double]) {
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  }
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Open] = Nil
  private var nextId = 0
  private var traceId = 0
  private var ownNanos = 0L

  /** Time spent sampling counters and recording spans: the tracing's own
    * cost inside the traced calls.
    */
  def ownNs: Long = ownNanos

  /** Starts a new trace id for the following root spans. */
  def newTrace(): Unit = traceId += 1

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    val before = counters()
    val start = System.nanoTime()
    ownNanos += start - t0
    val o = new Open(nextId, name, traceId,
      stack.headOption.map(_.id).getOrElse(-1), start, before)
    nextId += 1
    stack = o :: stack
    try body
    finally {
      val end = System.nanoTime()
      val after = counters()
      stack = stack.tail
      val deltas = after.map { case (k, v) => k -> (v - o.before.getOrElse(k, 0.0)) }
      done += Span(o.id, o.name, o.trace, o.parent, o.startNs, end,
        deltas ++ o.attrs)
      ownNanos += System.nanoTime() - end
    }
  }

  /** Attaches a count to the innermost open span (dropped when off). */
  def annotate(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** Attaches a count to the most recently closed span called `name`. */
  def annotateLast(name: String, key: String, value: Double): Unit =
    if (enabled) {
      val i = done.lastIndexWhere(_.name == name)
      if (i >= 0) done(i) = done(i).copy(attrs = done(i).attrs + (key -> value))
    }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {
  /** Self time of every span: its duration minus the part of its own
    * interval that its children cover (overlapping children count once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** One JSON object per line: name, ids, start/end, self time, counters. */
  def toJsonLines(spans: Seq[Span]): Seq[String] = {
    val self = selfNs(spans)
    spans.map { s =>
      Json.obj(Seq(
        "name" -> Json.str(s.name), "id" -> s.id.toString,
        "trace" -> s.trace.toString, "parent" -> s.parent.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> self(s.id).toString,
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))
    }
  }
}
