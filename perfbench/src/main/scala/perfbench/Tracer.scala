package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** Spans for the traced run: (name, start, end, parent, op id), kept in
  * memory and written out when the run ends. A disabled tracer runs a
  * span's body and records nothing, and skips [[aside]] passes.
  *
  * [[aside]] runs a measurement pass that is not part of the op (an
  * upstream frame run into Spark's `noop` sink). Its time is subtracted
  * from the op's wall time and its jobs are tagged `aside:<name>`.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  private var op = ""

  def inOp[T](id: String)(body: => T): T = {
    op = id
    sc.setLocalProperty(Attribution.OpKey, id)
    try body
    finally sc.setLocalProperty(Attribution.OpKey, null)
  }

  def span[T](name: String)(body: => T): T = record(name, aside = false)(body)

  /** Run `body` outside the op's accounting, and only when tracing: an
    * untraced op never pays for a measurement pass.
    */
  def aside(name: String)(body: => Unit): Unit =
    if (enabled) record(name, aside = true)(body)

  private def record[T](name: String, aside: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse("")
      val tag = if (aside) s"aside:$name" else name
      stack ::= tag
      sc.setLocalProperty(Attribution.SpanKey, tag)
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(tag, op, parent, wall0, wall0 + (System.nanoTime() - t0) / 1000000L,
          (System.nanoTime() - t0) / 1e9)
        stack = stack.tail
        sc.setLocalProperty(Attribution.SpanKey, stack.headOption.orNull)
      }
    }

  /** Total seconds of spans named `name` (or `aside:name`) in op `id`. */
  def seconds(id: String, name: String): Double =
    spans.iterator.filter(s => s.op == id && s.name == name).map(_.seconds).sum

  def asideSeconds(id: String): Double =
    spans.iterator.filter(s => s.op == id && s.name.startsWith("aside:"))
      .map(_.seconds).sum

  def spansOf(id: String): Seq[Span] = spans.filter(_.op == id).toSeq

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"name":${Json.str(s.name)},"op":${Json.str(s.op)},""" +
        s""""parent":${Json.str(s.parent)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"seconds":${s.seconds}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(name: String, op: String, parent: String,
      startMs: Long, endMs: Long, seconds: Double)
}
