package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be
  * tested on its own: order statistics, the tail rule, interval
  * algebra for self and driver time, and time-window attribution.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail of a timing sample: the highest order statistic that
    * still has at least `beyond` samples above it, with the percentile
    * it sits at. With fewer than `beyond + 1` samples no such statistic
    * exists; the maximum is returned with `ruleMet = false`.
    */
  final case class Tail(value: Double, percentile: Double, beyondCount: Int,
                        n: Int, ruleMet: Boolean)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n > beyond) {
      val idx = n - 1 - beyond
      Tail(s(idx), 100.0 * (idx + 1) / n, beyond, n, ruleMet = true)
    } else Tail(s(n - 1), 100.0, 0, n, ruleMet = false)
  }

  /** Half-open interval [start, end). */
  final case class Iv(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
  }

  /** Union of intervals as a sorted list of disjoint intervals. */
  def union(ivs: Seq[Iv]): List[Iv] = {
    val sorted = ivs.filter(_.length > 0).sortBy(_.start)
    sorted.foldLeft(List.empty[Iv]) {
      case (last :: rest, iv) if iv.start <= last.end =>
        Iv(last.start, math.max(last.end, iv.end)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  def covered(ivs: Seq[Iv]): Double = union(ivs).map(_.length).sum

  /** `a` minus the union of `bs`, as disjoint intervals. */
  def subtract(a: Iv, bs: Seq[Iv]): List[Iv] = {
    var out = List.empty[Iv]
    var cur = a.start
    for (b <- union(bs) if b.end > a.start && b.start < a.end) {
      if (b.start > cur) out ::= Iv(cur, b.start)
      cur = math.max(cur, b.end)
    }
    if (cur < a.end) out ::= Iv(cur, a.end)
    out.reverse
  }

  /** A span as the arithmetic sees it: times in epoch milliseconds. */
  final case class SpanIv(id: Int, parent: Int, start: Double, end: Double) {
    def iv: Iv = Iv(start, end)
  }

  /** Self intervals of each span: its own interval minus the parts its
    * direct children cover.
    */
  def selfIntervals(spans: Seq[SpanIv]): Map[Int, List[Iv]] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> subtract(s.iv, kids.getOrElse(s.id, Nil).map(_.iv))).toMap
  }

  def selfTime(spans: Seq[SpanIv]): Map[Int, Double] =
    selfIntervals(spans).map { case (id, ivs) => id -> ivs.map(_.length).sum }

  /** The innermost span open at time `t`: among the spans whose
    * interval holds `t`, the one that started last. Spans come from
    * one thread and nest, so that is the deepest one. Work submitted
    * from another thread while a span is open (an operator's own
    * thread pool) lands in that span too.
    */
  def innermost(spans: Seq[SpanIv], t: Double): Option[Int] = {
    var best: SpanIv = null
    for (s <- spans if s.start <= t && t < s.end)
      if (best == null || s.start >= best.start) best = s
    Option(best).map(_.id)
  }

  /** Per span, the part of its self time with none of its own tasks
    * running: planning, driver probes, listing, collects.
    */
  def driverTime(spans: Seq[SpanIv], tasksBySpan: Map[Int, Seq[Iv]]): Map[Int, Double] =
    selfIntervals(spans).map { case (id, selfIvs) =>
      val busy = tasksBySpan.getOrElse(id, Nil)
      id -> selfIvs.map(iv => subtract(iv, busy).map(_.length).sum).sum
    }
}
