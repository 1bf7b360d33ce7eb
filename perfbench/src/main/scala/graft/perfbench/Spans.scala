package graft.perfbench

import scala.collection.mutable

/** One timed boundary crossing. Times are epoch microseconds; `parent`
  * is 0 for a root span; `op` ties every span of one benchmark
  * operation together. */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = math.max(0L, endUs - startUs)

  def json: String = {
    val n = name.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"id":$id,"parent":$parent,"op":$op,"kind":"$kind","name":"$n",""" +
      s""""start_us":$startUs,"end_us":$endUs}"""
  }
}

object Spans {

  /** Self time of `span`: its duration minus the part of its interval
    * covered by the union of its children (children may overlap each
    * other — parallel jobs — and may stick out of the parent, as an
    * asynchronously reported event can; only the covered part of the
    * parent's own interval is subtracted). */
  def selfUs(span: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c =>
      (math.max(c.startUs, span.startUs), math.min(c.endUs, span.endUs)))
    span.durUs - Stats.unionLength(clipped)
  }

  /** Self time per span id over a whole span set. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfUs(s, kids.getOrElse(s.id, Nil))).toMap
  }

  /** Attach each orphan span (parent 0, not an operation) to the
    * innermost span of the same operation among `candidates` whose
    * interval contains the orphan's start. */
  def nest(orphan: Span, candidates: Seq[Span]): Long = {
    val holders = candidates.filter(c => c.op == orphan.op && c.id != orphan.id &&
      c.startUs <= orphan.startUs && orphan.startUs <= c.endUs)
    if (holders.isEmpty) 0L else holders.minBy(_.durUs).id
  }
}

/** In-memory span store; written once, when the run ends. */
final class SpanLog {
  private val next = new java.util.concurrent.atomic.AtomicLong(1)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def newId(): Long = next.getAndIncrement()

  def add(s: Span): Unit = synchronized { buf += s }

  def add(parent: Long, op: Long, kind: String, name: String,
      startUs: Long, endUs: Long): Long = {
    val id = newId()
    add(Span(id, parent, op, kind, name, startUs, endUs))
    id
  }

  def snapshot: Seq[Span] = synchronized(buf.toSeq)
}

/** Epoch-microsecond clock anchored once to the wall clock and then
  * advanced by System.nanoTime, so spans measured here share a time
  * base with Spark's own (epoch-millisecond) event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}
