package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory spans around the benchmark's calls into each layer.
  *
  * A span records its name, start, end, the span that caused it and the
  * request it belongs to. Spans are kept in memory and written once when
  * the run ends; a disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = new ThreadLocal[String]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name,
          Option(request.get).getOrElse(""), t0, t1))
      }
    }

  /** Run `body` with every span it opens tagged with request `id`. */
  def withRequest[T](id: String)(body: => T): T = {
    val prev = request.get
    request.set(id)
    try body finally request.set(prev)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: count, total ms and self ms (duration minus the part
    * of it that child spans cover). */
  def summary: Map[String, Map[String, Double]] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.end - s.start).sum
      val self = group.map { s =>
        val covered = Tracer.union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start) - covered
      }.sum
      name -> Map("count" -> group.size.toDouble, "total_ms" -> total / 1e6,
        "self_ms" -> self / 1e6)
    }
  }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end))
    } finally out.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, request: String,
      start: Long, end: Long)

  /** Length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    covered
  }
}
