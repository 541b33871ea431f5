package perfbench

import scala.collection.mutable

/** One timed interval around a call into a layer. Children are the spans
  * opened while this one was open; they run one after another on the
  * op's thread, so the part of this span they cover is the sum of their
  * durations. */
final class Span(val layer: String) {
  var startNs: Long = 0L
  var endNs: Long = 0L
  val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  def durationNs: Long = endNs - startNs
  def selfNs: Long = durationNs - children.map(_.durationNs).sum
}

/** Span recorder for one op at a time, kept in memory. `span` opens a
  * child of the innermost open span; when a body throws, the innermost
  * layer open at the throw is kept as the failing layer. */
final class Tracer {
  private val stack = mutable.Stack.empty[Span]
  private var failed: Option[String] = None

  /** Runs `body` as the op's root span and returns it with its result. */
  def op[T](layer: String)(body: => T): (Span, Either[Throwable, T]) = {
    stack.clear(); failed = None
    val root = new Span(layer)
    stack.push(root)
    root.startNs = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    root.endNs = System.nanoTime()
    stack.clear()
    (root, out)
  }

  def span[T](layer: String)(body: => T): T = {
    val s = new Span(layer)
    stack.top.children += s
    stack.push(s)
    s.startNs = System.nanoTime()
    try body
    catch { case e: Throwable => if (failed.isEmpty) failed = Some(layer); throw e }
    finally { s.endNs = System.nanoTime(); stack.pop() }
  }

  /** The layer that was open when the last op's body threw. */
  def failedLayer: Option[String] = failed
}

object Trace {
  /** The benchmark's bound on [[unattributedFrac]]: an op's layer spans
    * must account for all but this share of its wall time. */
  val UnattributedBound = 0.05

  /** Self seconds per layer over a span tree; a layer entered twice in
    * one op adds up. */
  def selfSeconds(root: Span): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.empty[String, Double]
    def walk(s: Span): Unit = {
      acc(s.layer) = acc.getOrElse(s.layer, 0.0) + s.selfNs / 1e9
      s.children.foreach(walk)
    }
    walk(root)
    acc.toMap
  }

  /** Share of the op's wall time spent in none of its layer spans: the
    * benchmark's own work between calls. */
  def unattributedFrac(root: Span): Double =
    if (root.durationNs <= 0) 0.0 else root.selfNs.toDouble / root.durationNs

  /** First line of a throwable's message, for the failure record. */
  def firstLine(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.toSeq.headOption.getOrElse("")).getOrElse("")
}
