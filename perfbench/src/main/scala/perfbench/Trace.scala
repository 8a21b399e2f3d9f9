package perfbench

import scala.collection.mutable

/** Spans recorded around every call the benchmark makes into a graft
  * layer: workload → op → layer call. Off (the untraced run), `span`
  * only runs its body. On, each span keeps its name, op id, parent,
  * start and end, plus the [[Probe]] counters at both boundaries; the
  * probe is drained at each boundary so the counters belong to the span.
  * The time that bookkeeping takes is the tracing overhead: it is kept
  * out of every span's self time and reported on its own.
  * Spans stay in memory and are written out at exit.
  */
final class Trace(val enabled: Boolean, probe: Probe) {
  import Trace.Span

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var opId = -1
  /** Time spent recording spans and counters. */
  var overheadNs = 0L
  /** Set during the warm-up, which records nothing. */
  var paused = false

  /** Read the counters; the time it takes is charged to the open span. */
  private def counters(): Map[String, Double] = {
    val t0 = System.nanoTime()
    probe.drain()
    val c = probe.snapshot()
    val dt = System.nanoTime() - t0
    overheadNs += dt
    stack.headOption.foreach(_.tracerNs += dt)
    c
  }

  /** A top-level op span: child spans carry its id. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val before = counters()
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), opId, name,
        System.nanoTime(), 0L, before, Map.empty)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        s.after = counters()
      }
    }

  /** Self time per layer (span duration minus the time its children and
    * the tracer cover), summed over spans; the layer is the span name up
    * to its first dot, and top-level op spans count as `workload`. */
  def selfSeconds(): Map[String, Double] = {
    val childTime = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.end - s.start)
    spans.groupBy(s => if (s.parent < 0) "workload" else s.name.takeWhile(_ != '.'))
      .map { case (layer, ss) =>
        layer -> ss.map(s => s.end - s.start - childTime(s.id) - s.tracerNs).sum / 1e9
      }
  }

  def toJson: String = {
    val opNames = spans.filter(_.parent < 0).map(s => s.op -> s.name).toMap
    spans.map { s =>
      val delta = (s.after.keySet ++ s.before.keySet).toSeq.sorted.flatMap { k =>
        val d = s.after.getOrElse(k, 0.0) - s.before.getOrElse(k, 0.0)
        if (d != 0.0) Some(k -> d) else None
      }
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "op_name" -> opNames.getOrElse(s.op, ""), "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "tracer_ns" -> s.tracerNs,
        "counters" -> Json.Raw(Json.obj(delta))))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, var end: Long,
      before: Map[String, Double], var after: Map[String, Double], var tracerNs: Long = 0L)
}
