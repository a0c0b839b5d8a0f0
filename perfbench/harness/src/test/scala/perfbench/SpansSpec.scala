package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("self time is duration minus direct children") {
    val spans = Seq(
      Span(0, "pass", -1, "r", 0, 100),
      Span(1, "import", 0, "r", 0, 60),
      Span(2, "parse", 1, "r", 5, 45),
      Span(3, "validate", 0, "r", 60, 90))
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 10L, 1 -> 20L, 2 -> 40L, 3 -> 30L))
  }

  test("summary adds calls, totals and self time per name") {
    val spans = Seq(
      Span(0, "q", -1, "r", 0, 3000000000L),
      Span(1, "q/run", 0, "r", 0, 2000000000L),
      Span(2, "q", -1, "r", 3000000000L, 4000000000L))
    val byName = Spans.summary(spans).map(s => s._1 -> (s._2, s._3, s._4)).toMap
    assert(byName("q") == ((2, 4.0, 2.0)))
    assert(byName("q/run") == ((1, 2.0, 2.0)))
  }

  test("the recorder nests spans by call structure and keeps the run id") {
    val rec = new Spans("run-1", enabled = true)
    rec("outer") { rec("inner")(()); rec("inner")(()) }
    val all = rec.all
    assert(all.map(_.name) == Seq("outer", "inner", "inner"))
    assert(all.tail.forall(_.parent == all.head.id))
    assert(all.forall(_.runId == "run-1"))
    assert(Spans.selfTimes(all)(all.head.id) <= all.head.durNs)
  }

  test("a disabled recorder only runs the body") {
    val rec = new Spans("run-2", enabled = false)
    assert(rec("x")(41 + 1) == 42)
    assert(rec.all.isEmpty)
  }
}
