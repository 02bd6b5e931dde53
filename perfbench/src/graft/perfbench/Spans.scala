package graft.perfbench

/** One traced interval. `parent` is the id of the span that caused it
  * (-1 for an op). Times are wall-clock milliseconds, the clock Spark's
  * listener events carry.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

object Spans {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(cs, s.start, s.end))
    }.toMap
  }

  /** Self milliseconds summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupMapReduce(_.layer)(s => self(s.id))(_ + _)
  }
}
