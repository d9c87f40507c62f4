package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is one call into a layer, timed from the benchmark's side:
  * name, start, end, parent span and the trace id of the iteration it
  * belongs to. Spans stay in memory and are written once, when the run
  * ends. With tracing off every call runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, trace: Int, name: String,
                        start: Long, var end: Long = -1L)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = 0

  /** start a new trace id: one per workload iteration */
  def newTrace(): Unit = traceId += 1

  /** later spans are outside the measured iterations: trace id 0 */
  def endTraces(): Unit = traceId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), traceId, name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** name -> (count, total seconds, self seconds) over the measured
    * iterations (set-up and kernel-probe spans carry trace id 0); self
    * time is the span's
    * duration minus the time its child spans cover */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.filter(_.trace > 0).groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => s.end - s.start).sum / 1e9,
        ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9))
    }
  }

  def toJson(t0: Long): String = Json.value(spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_us" -> (s.start - t0) / 1000, "end_us" -> (s.end - t0) / 1000)))
}
