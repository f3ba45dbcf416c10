package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer. A span
  * is named `<layer>.<call>`; its parent is the span open on the same
  * thread when it started (or an explicit parent for spans synthesized
  * from listener events). Disabled tracers record nothing.
  */
final class Tracer(@volatile var enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      thread: String) {
    def layer: String = name.takeWhile(_ != '.')
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** The span currently open on this thread, or 0. */
  def current: Int = open.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        record(id, parent, name, t0, t1)
      }
    }

  /** Record a span measured elsewhere (e.g. from a listener event). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else { val id = newId(); record(id, parent, name, startNs, endNs); id }

  private def record(id: Int, parent: Int, name: String, t0: Long, t1: Long): Unit =
    synchronized(spans += Span(id, parent, name, t0, t1, Thread.currentThread.getName))

  def all: Seq[Span] = synchronized(spans.toList)

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children, summed by layer (ms).
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupMapReduce(_.layer) { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (if (b > from) sum + (b - from) else sum, math.max(reach, b))
        }._1
      (s.endNs - s.startNs - covered) / 1e6
    }(_ + _)
  }

  def dump(path: Path, extra: Seq[(String, String)]): Unit = {
    val ss = all
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val rows = ss.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "end_ms" -> Json.num((s.endNs - t0) / 1e6), "thread" -> Json.str(s.thread)))
    }
    Files2.write(path, Json.obj(extra :+ ("spans" -> Json.arr(rows))) + "\n")
  }
}
