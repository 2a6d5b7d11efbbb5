package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into each engine layer: name, start,
  * end, parent span and call id, kept in memory and written once at the
  * end. With tracing off, `span` only runs its body. Spans are recorded
  * from the single driving thread. */
final class Trace(val enabled: Boolean) {
  private final case class Span(id: Int, name: String, startNs: Long,
      endNs: Long, parent: Int, call: Int)

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var lastId = 0
  /** Id of the workload operation the next spans belong to (0 = set-up). */
  var call = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, call)
      }
    }

  def size: Int = spans.size

  def write(path: String): Unit = {
    val rows = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "call" -> s.call)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Minimal JSON rendering for the benchmark's own result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String = value(kvs.toMap)
}
