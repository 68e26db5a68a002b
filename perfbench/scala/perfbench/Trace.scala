package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable

final case class SpanRec(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into each layer. Each span runs its
  * Spark jobs under a job group named after the span, so the [[Probe]]
  * attributes tasks to exactly one span (the innermost one).
  */
final class Tracer(sc: SparkContext) {
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some((_, outer)) => sc.setJobGroup(outer, outer)
        case None             => sc.clearJobGroup()
      }
      recs += SpanRec(id, name, parent, t0, t1)
    }
  }

  def spans: Seq[SpanRec] = recs.toSeq
}

object Trace {

  /** Length of the union of the intervals. */
  def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its direct children cover.
    */
  def selfNs(spans: Seq[SpanRec]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - coveredNs(cover))
    }.toMap
  }

  /** Self seconds summed per span name. */
  def selfSecondsByName(spans: Seq[SpanRec]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
