package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, metric: String, start: Long, end: Long) =
    Span(id, parent, s"s$id", metric, 0L, start, end)

  test("self time is the duration minus the children's cover") {
    // op [0,100): construct [10,40) with a nested manifest read [15,25),
    // then an action [50,90)
    val spans = Seq(
      span(1, 0, Trace.Unattributed, 0, 100),
      span(2, 1, "SparkEntry.construct_s", 10, 40),
      span(3, 2, "sources.manifest_s", 15, 25),
      span(4, 1, "operators.exec_s", 50, 90))
    assert(Trace.selfTimesNs(spans) == Map(1L -> 30L, 2L -> 20L, 3L -> 10L, 4L -> 40L))
    val byMetric = Trace.selfTimeByMetric(spans)
    assert(byMetric("SparkEntry.construct_s") == 20e-9)
    assert(byMetric(Trace.Unattributed) == 30e-9)
  }

  test("overlapping children are covered once") {
    val spans = Seq(span(1, 0, "a", 0, 10), span(2, 1, "b", 2, 6), span(3, 1, "b", 4, 8))
    assert(Trace.selfTimesNs(spans)(1L) == 4L)
  }
}
