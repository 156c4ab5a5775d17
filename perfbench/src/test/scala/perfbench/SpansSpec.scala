package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(s: Long, e: Long, id: Int = 0, parent: Int = -1) =
    Span(id, "s", s, e, parent, "r0")

  test("self time without children is the span's length") {
    assert(Spans.selfMillis(span(100, 350), Nil) == 250)
  }

  test("disjoint children are subtracted one by one") {
    val kids = Seq(span(110, 150), span(200, 260))
    assert(Spans.selfMillis(span(100, 300), kids) == 100)
  }

  test("overlapping children count once") {
    val kids = Seq(span(110, 200), span(150, 250), span(240, 260))
    // union is [110, 260): 150 ms of a 200 ms span
    assert(Spans.selfMillis(span(100, 300), kids) == 50)
  }

  test("a child reaching past its parent counts only inside it") {
    val kids = Seq(span(50, 150), span(280, 400))
    assert(Spans.selfMillis(span(100, 300), kids) == 200 - 50 - 20)
    assert(Spans.selfMillis(span(100, 300), Seq(span(0, 1000))) == 0)
    assert(Spans.selfMillis(span(100, 300), Seq(span(300, 400), span(0, 100))) == 200)
  }

  test("covered time ignores empty and inverted intervals") {
    assert(Spans.coveredMillis(Seq((5L, 5L), (9L, 3L), (0L, 10L)), 0, 10) == 10)
    assert(Spans.coveredMillis(Nil, 0, 10) == 0)
  }

  test("spans serialize to one JSON object each") {
    assert(Span(3, "job7", 10, 20, 1, "r4").json ==
      """{"id":3,"name":"job7","start":10,"end":20,"parent":1,"request":"r4"}""")
  }
}
