package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** In-memory spans and counts around calls into the engine's public
  * functions. Disabled, `span` runs its body and records nothing; enabled,
  * it records name, start, end, parent span and trace id. Spans nest per
  * thread: a span opened inside another on the same thread is its child
  * and shares its trace id. A span with no enclosing span starts a new
  * trace. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, trace: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  private val spans  = new ConcurrentLinkedQueue[Span]()
  private val ids    = new AtomicLong()
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stack  = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }
  private val t0     = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id    = ids.incrementAndGet()
      val tr    = outer.headOption.map(_._1).getOrElse(id)
      val par   = outer.headOption.map(_._2).getOrElse(0L)
      stack.set((tr, id) :: outer)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, tr, par, name, start, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Record an interval measured elsewhere (e.g. a client-timed request)
    * as a trace of its own. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val id = ids.incrementAndGet()
      spans.add(Span(id, id, 0L, name, startNs, endNs))
    }

  def count(name: String): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new AtomicLong()).incrementAndGet()

  def all: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.durNs / 1e6)

  def counted(name: String): Long = Option(counts.get(name)).map(_.get).getOrElse(0L)

  /** Per span name: count, total ms and self ms (a span's duration minus
    * the part of its interval covered by its child spans). */
  def selfTimes: Map[String, Map[String, Any]] = Tracer.selfTimes(all.map(s =>
    (s.id, s.parent, s.name, s.startNs, s.endNs)))

  def dump(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, Json.render(ListMap(
      "spans" -> all.sortBy(_.startNs).map(s => ListMap("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000)),
      "counts" -> counts.asScala.map { case (k, v) => k -> v.get }.toMap,
      "self_times" -> selfTimes)))
}

object Tracer {
  /** Self time over (id, parent, name, start, end) tuples. */
  def selfTimes(spans: Seq[(Long, Long, String, Long, Long)]): Map[String, Map[String, Any]] = {
    val children = spans.groupBy(_._2)
    spans.groupBy(_._3).map { case (name, ss) =>
      val selfNs = ss.map { case (id, _, _, s, e) => (e - s) - covered(s, e, children.getOrElse(id, Nil).map(c => (c._4, c._5))) }
      name -> Map("n" -> ss.size, "total_ms" -> ss.map(x => x._5 - x._4).sum / 1e6, "self_ms" -> selfNs.sum / 1e6)
    }
  }

  /** Length of the union of `ivs` clipped to [s, e]. */
  def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur   = s
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1).sortBy(_._1).foreach {
      case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { total += b - from; cur = b }
    }
    total
  }
}
