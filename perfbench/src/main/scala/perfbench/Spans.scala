package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span store, written out once when the run ends. A span has
  * an id, a parent id (-1 for a root), a name and start/end times in
  * epoch milliseconds. Harness timings come from `System.nanoTime` and
  * are mapped onto the epoch-millisecond clock Spark's listener events
  * use, so both kinds of span share one time axis.
  */
final class Spans {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  import Spans.Span
  private val spans = ArrayBuffer.empty[Span]

  def epochMs(nanos: Long): Double = wall0 + (nanos - nano0) / 1e6

  def open(name: String, parent: Int, startNanos: Long): Int =
    openMs(name, parent, epochMs(startNanos))

  def openMs(name: String, parent: Int, startMs: Double): Int = synchronized {
    spans += Span(spans.length, parent, name, startMs, Double.NaN)
    spans.length - 1
  }

  def close(id: Int, endNanos: Long): Unit = synchronized { spans(id).end = epochMs(endNanos) }

  def add(name: String, parent: Int, startNanos: Long, endNanos: Long): Int =
    addMs(name, parent, epochMs(startNanos), epochMs(endNanos))

  def addMs(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    spans += Span(spans.length, parent, name, startMs, endMs)
    spans.length - 1
  }

  def json: String = synchronized {
    spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)).mkString("[", ",\n", "]")
  }
}

object Spans {
  private final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double)
}

/** Just enough JSON writing for the harness's flat records. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
