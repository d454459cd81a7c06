package perfbench

/** One traced interval. Spans of one pass share `pass`; `parent` is the
  * id of the span that caused this one (0 for a pass). Times are epoch ms. */
final case class Span(id: Int, parent: Int, pass: Int, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

object Trace {
  /** Length of the union of `iv`, each interval clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, iv: Iterable[(Double, Double)]): Double = {
    val xs = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter(x => x._2 > x._1).toSeq.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    xs.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Self time per span kind, in seconds: each span's duration minus the
    * part of its interval that its children cover, summed over the kind. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        s.durMs - covered(s.startMs, s.endMs, cs)
      }.sum / 1000.0
    }
  }
}
