package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer. A span
  * records its run id, name, start and end and the id of the span it ran
  * inside; spans are written out once, at the end, with epoch-nanosecond
  * times. Spark's listener events add spans of their own (`record`),
  * whose parent is the innermost benchmark span that encloses them. When
  * disabled, `span` only runs its body and `record` drops the event. */
final class Tracer(val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)

  // nanoTime + base = epoch nanoseconds
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val events = mutable.ArrayBuffer[(String, Long, Long)]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0 + base, System.nanoTime() + base, parent)
        stack.pop(); ()
      }
    }

  /** A span reported by a listener, in epoch nanoseconds. */
  def record(name: String, startEpochNs: Long, endEpochNs: Long): Unit =
    if (enabled) events.synchronized { events += ((name, startEpochNs, endEpochNs)); () }

  def all: Seq[Span] = {
    val own = spans.toSeq
    val evs = events.synchronized(events.toSeq)
    own ++ evs.zipWithIndex.map { case ((name, s, e), i) =>
      val parent = own.filter(p => p.start <= s && e <= p.end)
        .sortBy(p => p.end - p.start).headOption.map(_.id).getOrElse(0)
      Span(nextId + i, name, s, e, parent)
    }
  }

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, all.map { s =>
      s"""{"run_id":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
        s""""start":${s.start},"end":${s.end},"parent":${s.parent}}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    ()
  }
}

/** Minimal JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
