package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into the program: name,
  * start, end, parent and run id. Disabled (the untraced run), `span`
  * only runs its body. Spans are written out once, when the run ends.
  */
final class Trace(enabled: Boolean, runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any])

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val t0 = System.nanoTime()

  def on: Boolean = enabled

  def span[A](name: String, attrs: => Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, start - t0, System.nanoTime() - t0, attrs)
        stack = stack.tail
      }
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the flat values the benchmark emits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
      java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
