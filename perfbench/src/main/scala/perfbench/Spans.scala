package perfbench

/** One timed interval of a traced run. Times are epoch milliseconds (the
  * listener's job times share that clock); `parent` is the enclosing
  * span's id, -1 for a request root. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, request: String) {
  def millis: Long = end - start

  def json: String =
    s"""{"id":$id,"name":"$name","start":$start,"end":$end,"parent":$parent,"request":"$request"}"""
}

object Spans {

  /** Length of the union of intervals after clipping them to [lo, hi]. */
  def coveredMillis(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its length minus the part of it that its child
    * spans cover. Overlapping children count once, and a child reaching
    * past its parent counts only inside it. */
  def selfMillis(span: Span, children: Seq[Span]): Long =
    span.millis - coveredMillis(children.map(c => (c.start, c.end)), span.start, span.end)
}
