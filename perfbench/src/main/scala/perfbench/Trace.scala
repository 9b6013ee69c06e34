package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a module: `name` is
  * "<module>.<what>", `parent` the index of the enclosing span (-1 at
  * the root), `op` the operation it belongs to.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int) {
  def module: String = name.takeWhile(_ != '.')
  def ns: Long = end - start
}

/** Span recorder for the benchmark's own call sites. With tracing off
  * `span` only runs its body; with tracing on, spans are kept in memory
  * (one client thread, so a plain stack tracks nesting) and written out
  * once the run ends.
  */
final class Trace(enabled: Boolean) {
  private var paused = false
  def on: Boolean = enabled && !paused

  /** Run `body` without recording spans (untimed warm-up work). */
  def quiet[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var currentOp = -1

  /** Run `body` as operation `op`: spans opened inside carry its id. */
  def op[T](opId: Int)(body: => T): T = {
    currentOp = opId
    try body finally currentOp = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), currentOp)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** Self time per module in seconds: each span's duration minus the
    * part of it its child spans cover (children never overlap: one
    * thread).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.ns)
    spans.indices.groupMapReduce(i => spans(i).module)(i => spans(i).ns - childNs(i))(_ + _)
      .map { case (m, ns) => m -> ns / 1e9 }
  }

  /** Total seconds inside spans named `name`, and how many there were. */
  def total(name: String): (Double, Int) = {
    val xs = spans.filter(_.name == name)
    (xs.map(_.ns).sum / 1e9, xs.size)
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}"""
      sb += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
