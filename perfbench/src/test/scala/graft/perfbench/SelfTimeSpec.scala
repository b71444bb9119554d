package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, layer: String, start: Long, end: Long) =
    Span(id, parent, 0, replay = false, s"s$id", layer, start, end)

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      span(1, 0, "driver", 0, 100),
      span(2, 1, "spark", 10, 40),
      span(3, 1, "spark", 30, 60),  // overlaps span 2
      span(4, 1, "spark", 90, 120), // runs past the parent's end
      span(5, 2, "store", 12, 20),
      span(6, 2, "store", 15, 25))  // parallel reads of one task
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10))
    assert(self(2) == 30 - 13)
    assert(self(3) == 30)
    assert(self(5) == 8 && self(6) == 10)
    assert(Tracer.selfByLayer(spans) == Map("driver" -> 40L, "spark" -> (17L + 30L + 30L), "store" -> 18L))
  }
}
