package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One recorded span: a call into a layer, with the span that caused it and
 *  the benchmark operation it belongs to. Times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Per-name totals over a set of spans (nanoseconds). */
final case class SpanAgg(count: Int, total: Long, self: Long, durations: Seq[Long])

/**
 * In-memory span recorder. Spans are opened by the benchmark around its own
 * calls into a layer's public functions; the program itself carries none.
 * Disabled, [[op]] and [[span]] are plain calls. Enabled, every other
 * operation is traced, so traced and untraced operations share the same
 * moment of the run and their latencies give the tracing overhead; spans
 * opened outside any operation (set-up) are always recorded. The parent of
 * a span is the innermost span open on the same thread.
 */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val ops = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Id of the operation running on this thread: 0 outside any, -1 inside
   *  an untraced one. */
  private val curOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Whether the operation running on this thread is traced. */
  def tracing: Boolean = enabled && curOp.get() > 0

  /** Run `body` as one benchmark operation: its spans share one id. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ops.incrementAndGet()
      curOp.set(if (id % 2 == 0) id else -1L)
      try span(name)(body) finally curOp.set(0L)
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || curOp.get() < 0) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, name, parent, curOp.get(), t0, t1))
      }
    }

  def recorded: Seq[Span] = {
    val b = Vector.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}

object Tracer {

  /** Self time of every span: its duration minus the part of its interval
   *  that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }

  def aggregate(spans: Seq[Span]): Map[String, SpanAgg] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> SpanAgg(ss.size, ss.map(_.dur).sum, ss.map(s => self(s.id)).sum,
        ss.map(_.dur))
    }
  }
}
