package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(samples(1000)) == ((99.0, 990.0)))
    assert(Stats.tail(samples(999)) == ((95.0, 950.0)))
    assert(Stats.tail(samples(100)) == ((90.0, 90.0)))
    assert(Stats.tail(samples(200)) == ((95.0, 190.0)))
    assert(Stats.tail(samples(40)) == ((75.0, 30.0)))
    assert(Stats.tail(samples(20000)) == ((99.9, 19980.0)))
    // every candidate percentile leaves fewer than ten above it: the maximum
    assert(Stats.tail(samples(39)) == ((100.0, 39.0)))
    assert(Stats.tail(samples(5)) == ((100.0, 5.0)))
  }

  test("median averages the two middle samples of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L)
    assert(Stats.unionLength(Seq((5L, 5L))) == 0L)
  }
}
