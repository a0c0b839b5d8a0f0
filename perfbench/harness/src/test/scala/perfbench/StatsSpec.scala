package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geomean of positive values") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("interval union counts overlaps and nesting once") {
    // [0,10) and [5,15) overlap; [20,25) nests inside [18,30)
    val iv = Seq(0L -> 10L, 5L -> 15L, 18L -> 30L, 20L -> 25L)
    assert(Stats.unionLength(iv, 0, 100) == 15 + 12)
  }

  test("interval union clips to the window and ignores empty intervals") {
    val iv = Seq(-5L -> 5L, 8L -> 8L, 9L -> 7L, 95L -> 120L)
    assert(Stats.unionLength(iv, 0, 100) == 5 + 5)
    assert(Stats.unionLength(Nil, 0, 100) == 0)
  }

  test("driver time is wall minus the stage-busy union") {
    // a 1 s call with two overlapping stages busy from 100 to 700 ms
    val busy = Stats.unionLength(Seq(100L -> 500L, 300L -> 700L), 0, 1000)
    assert(1.0 - busy / 1e3 == 0.4)
  }
}
