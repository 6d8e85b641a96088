package perfbench

import scala.collection.mutable

/** Spans of the traced run and their self-time accounting.
  *
  * The chain is workload → op → phase (build, action, prepare, core, merge,
  * sink, readback) → Spark job, and every span of one op carries the op's
  * id. Spans stay in memory and are written out when the run ends. A
  * layer's self time is its span's duration minus the part of that
  * interval its child spans cover; where jobs of several layers overlap,
  * the overlap is split evenly between them, so the self times of one op
  * sum to its wall time.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Epoch microseconds from the monotonic clock, aligned once with the wall
  * clock so that harness spans line up with Spark's epoch-millisecond
  * listener times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
  def fromNs(ns: Long): Long = baseMs * 1000L + (ns - baseNs) / 1000L
}

object Intervals {
  /** Length covered by the union of `iv` (each (start, end)). */
  def covered(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.toSeq.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Splits the time covered by labelled intervals between their labels:
    * each elementary slice goes in equal shares to the labels active in
    * it. The shares sum to [[covered]] of the same intervals. */
  def split(iv: Seq[(String, Long, Long)]): Map[String, Double] = {
    val live = iv.filter(x => x._3 > x._2)
    val cuts = live.flatMap(x => Seq(x._2, x._3)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (Seq(a, b) <- cuts.sliding(2) if cuts.size > 1) {
      val active = live.filter(x => x._2 <= a && x._3 >= b)
      if (active.nonEmpty) {
        val share = (b - a).toDouble / active.size
        active.foreach(x => out(x._1) += share)
      }
    }
    out.toMap
  }
}

/** The spans of one run, recorded only when tracing is on. */
final class SpanLog {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def add(parent: Int, op: Int, name: String, layer: String, s: Long, e: Long): Int = {
    next += 1
    spans += Span(next, parent, op, name, layer, s, e)
    next
  }
  def all: Seq[Span] = spans.toSeq
}
