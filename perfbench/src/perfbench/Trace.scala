package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/**
 * Harness-side spans. Each span records its name, start, end, the span
 * that caused it (parent, per thread) and the id of the operation it
 * belongs to (one load cycle, one lookup, one append, one query). Spans
 * stay in memory; [[write]] dumps them as JSON lines when the run ends.
 * While tracing is off a span is just the call it wraps.
 */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val ops = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  // (current span id, current op id) of this thread; a thread started
  // inside a span inherits it as parent
  private val current = new InheritableThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  def apply[T](name: String)(f: => T): T = timed(name, newOp = false)(f)

  /** A span that starts a new operation id. */
  def op[T](name: String)(f: => T): T = timed(name, newOp = true)(f)

  private def timed[T](name: String, newOp: Boolean)(f: => T): T =
    if (!enabled) f
    else {
      val (parent, parentOp) = current.get
      val id = ids.incrementAndGet()
      val op = if (newOp) ops.incrementAndGet() else parentOp
      current.set((id, op))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        current.set((parent, parentOp))
      }
    }

  /** Adds to a named counter, recorded at the same boundary as a span. */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a: Double, b: Double) => a + b)

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  def reset(): Unit = { spans.clear(); counters.clear() }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval its children cover (children of one parent may
    * overlap when they run on different threads). */
  def selfSeconds: Map[String, Double] = {
    val spansNow = all
    val children = spansNow.groupBy(_.parent)
    spansNow.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = coveredNs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Length of the union of [start, end) intervals. */
  def coveredNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def write(path: java.nio.file.Path): Unit = {
    val m = Json.mapper
    val lines = all.sortBy(_.startNs).map { s =>
      val n = m.createObjectNode()
      n.put("id", s.id); n.put("parent", s.parent); n.put("op", s.op)
      n.put("name", s.name); n.put("start_ns", s.startNs); n.put("end_ns", s.endNs)
      m.writeValueAsString(n)
    }
    // the last line: self time per span name, in seconds
    val self = m.createObjectNode()
    selfSeconds.toSeq.sortBy(_._1).foreach { case (k, v) => self.put(k, v) }
    val summary = m.createObjectNode()
    summary.set[com.fasterxml.jackson.databind.JsonNode]("self_seconds", self)
    java.nio.file.Files.write(path, (lines :+ m.writeValueAsString(summary)).asJava)
  }
}
