package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SplitSpec extends AnyFunSuite {

  test("unnamed events take the next named event's name, at the end the last one's") {
    assert(Tracer.fillNames(Seq(None, Some("a"), None, None, Some("b"), None)) ==
      Seq(Some("a"), Some("a"), Some("b"), Some("b"), Some("b"), Some("b")))
    assert(Tracer.fillNames(Seq(None, None)) == Seq(None, None))
  }

  test("segments cover the gaps before events, skip covered events and merge neighbours") {
    val segs = Tracer.segments(0, 100, Seq(
      (10L, "a"), // [0, 10]: the gap before it and the event
      (30L, "a"), // merges with the one before
      (25L, "b"), // ends inside the previous event: adds nothing
      (60L, "b"),
      (120L, "c"))) // clipped to the parent
    assert(segs == Seq(("a", 0L, 30L), ("b", 30L, 60L), ("c", 60L, 100L)))
  }

  test("time after the last event stays the parent's own") {
    val segs = Tracer.segments(0, 100, Seq((40L, "a")))
    val spans = Span(0, "p", -1, "pass0", 0, 100) +:
      segs.zipWithIndex.map { case ((n, a, b), i) => Span(i + 1, n, 0, "pass0", a, b) }
    assert(Span.selfSeconds(spans)(0) == 60 / 1e9)
  }
}
