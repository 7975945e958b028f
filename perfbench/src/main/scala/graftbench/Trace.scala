package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into each layer of the program.
 * A span's layer is its name up to the first '.', and its self time is its
 * duration minus the durations of its direct children (the client is single
 * threaded, so children never overlap). Disabled tracers cost one branch. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, label: String,
      t0: Long, var t1: Long, var childNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, label: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, label,
        System.nanoTime(), 0L, 0L)
      spans += s
      stack = s :: stack
      try f
      finally {
        s.t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption.foreach(p => p.childNs += s.t1 - s.t0)
      }
    }

  private def layer(name: String): String = name.takeWhile(_ != '.')

  /** The spans at or below spans named `root` whose label is in `labels`. */
  private def inside(root: String, labels: Set[String]): Seq[Span] = {
    val in = Array.fill(spans.length)(false)
    spans.foreach(s => in(s.id) = (s.name == root && labels(s.label)) || (s.parent >= 0 && in(s.parent)))
    spans.filter(s => in(s.id)).toSeq
  }

  /** Seconds of self time per layer below the roots (their own included). */
  def selfSeconds(root: String, labels: Set[String]): Map[String, Double] =
    inside(root, labels).groupBy(s => layer(s.name))
      .map { case (l, ss) => l -> ss.map(s => (s.t1 - s.t0 - s.childNs) / 1e9).sum }

  /** Total seconds of the spans named `name` below the roots. */
  def seconds(root: String, labels: Set[String], name: String): Double =
    inside(root, labels).filter(_.name == name).map(s => (s.t1 - s.t0) / 1e9).sum

  def writeJsonl(path: Path): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","label":"${s.label}",""" +
        s""""start_ns":${s.t0},"end_ns":${s.t1},"self_ns":${s.t1 - s.t0 - s.childNs}}""" + "\n"
    }
    Files.writeString(path, sb.toString)
  }
}
