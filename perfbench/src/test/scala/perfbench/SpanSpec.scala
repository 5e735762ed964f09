package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, "pass0", start * 1000000000L, end * 1000000000L)

  test("self time is duration minus the children's cover") {
    val spans = Seq(s(0, -1, 0, 10), s(1, 0, 1, 3), s(2, 0, 4, 8), s(3, 2, 5, 6))
    val self = Span.selfSeconds(spans)
    assert(self(0) == 4.0) // 10 - (2 + 4)
    assert(self(1) == 2.0)
    assert(self(2) == 3.0) // 4 - 1
    assert(self(3) == 1.0)
    // self times of a tree add up to the root's duration
    assert(self.values.sum == 10.0)
  }

  test("overlapping children count once and are clipped to the parent") {
    val spans = Seq(s(0, -1, 0, 10), s(1, 0, 2, 6), s(2, 0, 4, 9), s(3, 0, 8, 12))
    assert(Span.selfSeconds(spans)(0) == 2.0) // covered [2, 10)
  }

  test("a leaf's self time is its duration") {
    assert(Span.selfSeconds(Seq(s(7, -1, 3, 5)))(7) == 2.0)
  }
}
