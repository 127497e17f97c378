package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed region of benchmark code around a public engine call. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * Span recorder. Spans nest; each carries name, start, end, parent and the
 * id of the operation (job, pass) it belongs to. They are kept in memory and
 * written once when the run ends. Task counters come from [[TaskListener]]:
 * the innermost open span id rides on the `perfbench.span` local property,
 * and a span closes only after the listener bus has drained, so every task
 * it caused is attributed before the next span starts.
 */
final class Tracer(sc: SparkContext, listener: TaskListener) {
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def span[T](name: String, op: Int)(body: => T): (T, Span) = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op, 0L)
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(TaskListener.SpanKey, s.id.toString)
    val t0 = System.nanoTime()
    val out =
      try { val o = body; org.apache.spark.PerfbenchBus.drain(sc); o }
      finally {
        spans(s.id) = s.copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(TaskListener.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    (out, spans(s.id))
  }

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counters of a span and all its descendants. */
  def inclusive(id: Int): Counters = {
    val c = new Counters
    c += listener.spanCounters(id)
    children(id).foreach(ch => c += inclusive(ch.id))
    c
  }

  /** Wall time not covered by child spans. */
  def selfS(id: Int): Double =
    spans(id).wallS - children(id).map(_.wallS).sum

  def all: Seq[Span] = spans.toSeq

  /** One JSON object per span, written at the end of the run. */
  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      val c = inclusive(s.id)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
        "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(selfS(s.id)),
        "cpu_s" -> Json.num(c.cpuNs / 1e9),
        "shuffle_mb" -> Json.num(c.shuffleWrite / 1e6),
        "spill_mb" -> Json.num(c.spill / 1e6), "jobs" -> Json.num(c.jobs)))
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for flat result objects. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
