package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch nanoseconds; `parent` is 0 for a
  * root span; `op` is shared by every span of one benchmark operation
  * (0 outside any op).
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Long)

/** In-memory span recorder. Spans are added once their interval is
  * known (an op or probe the benchmark timed, a Spark job, a pipeline
  * stage, a micro-batch); nothing is kept unless `enabled`. The list is
  * written out once, when the run ends.
  */
final class Tracer(enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  /** Record a span and return its id (for its children's `parent`). */
  def add(name: String, start: Long, end: Long, parent: Long, op: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, name, start, end, parent, op))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))
}

/** Epoch-aligned nanosecond clock, so spans opened by the benchmark and
  * intervals reported by Spark's listeners (epoch milliseconds) share
  * one time axis.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochNanos = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNanos + (System.nanoTime() - baseNanos)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** Interval arithmetic behind self time and idle time. */
object Intervals {

  /** Length of the union of `parts`, each clipped to [lo, hi). */
  def coverage(parts: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = parts.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> ((s.end - s.start) - coverage(c, s.start, s.end))
    }.toMap
  }
}

/** Maps a Spark call site to the graft module that issued the job. */
object CallSite {
  /** Module of the innermost `graft.` frame of a call-site stack (one
    * frame per line, innermost first, as in `StageInfo.details`), or
    * "bench" when no graft frame issued the job.
    */
  def module(stack: String): String =
    stack.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .find(_.startsWith("graft."))
      .map(frameModule).getOrElse("bench")

  def frameModule(frame: String): String = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
    cls.lift(1).getOrElse("") match {
      case "sources" => "sources"
      case "operators" | "functions" => "operators"
      case "plans" => "plans"
      case "streaming" => "streaming"
      case p if p.startsWith("GraftSession") => "session"
      case _ => "pipeline"
    }
  }
}
