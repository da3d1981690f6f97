package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/**
 * In-memory span recorder for the traced run. A span is one call into a
 * layer: its layer, name, start, end, parent span and op id. Spans are kept
 * in memory while the run measures and written out as JSON lines when it
 * ends. A disabled tracer runs the body and records nothing.
 */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[T](layer: String, name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, layer, name, op, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** A span measured by someone else (Catalyst's phase tracker, the
   * streaming engine's progress report), placed under span `parent`. */
  def record(layer: String, name: String, op: String, startNs: Long, endNs: Long, parent: Int): Unit =
    if (enabled) spans += Span(spans.size, parent, layer, name, op, startNs, endNs)

  /** Id of the most recently opened span. */
  def lastId: Int = spans.size - 1

  /** Id of the innermost open span, -1 outside any. */
  def current: Int = stack.headOption.getOrElse(-1)

  def count: Int = spans.size

  /** Seconds per (op, layer, name), summed over matching spans. */
  def durations: Map[(String, String, String), Double] =
    spans.groupBy(s => (s.op, s.layer, s.name)).map { case (k, ss) => k -> ss.map(s => s.endNs - s.startNs).sum / 1e9 }

  /** Seconds of self time per layer: a span's duration minus its
   * children's, summed over every span of the layer under a root span of
   * layer "op". */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    def root(s: Span): Span = if (s.parent < 0) s else root(spans(s.parent))
    spans.filter(s => root(s).layer == "op").groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.endNs - s.startNs - childNs(s.id))).sum / 1e9
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Main.json.writeValueAsString(s))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, name: String, op: String, startNs: Long, endNs: Long)
}
