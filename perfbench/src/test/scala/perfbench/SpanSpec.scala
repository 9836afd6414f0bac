package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  test("union length merges overlaps and clips to the parent") {
    assert(Span.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L)), 0L, 100L) == 50L)
    assert(Span.unionLength(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L)
    assert(Span.unionLength(Nil, 0L, 100L) == 0L)
    assert(Span.unionLength(Seq((10L, 20L), (10L, 20L)), 0L, 100L) == 10L)
  }

  test("self time is the span minus the union of its children") {
    val spans = Seq(
      Span(0, 1, "op", None, 0, 100),
      Span(1, 1, "ingest.parse", Some(0), 10, 30),
      Span(2, 1, "noise.ground", Some(0), 30, 90),
      Span(3, 1, "job", Some(2), 35, 60),
      Span(4, 1, "job", Some(2), 50, 80))
    val self = Span.selfTimes(spans)
    assert(self == Map(0 -> 20L, 1 -> 20L, 2 -> 15L, 3 -> 25L, 4 -> 30L))
    // without overlapping siblings the self times add up to the root's wall
    assert(Span.selfTimes(spans.take(4)).values.sum == 100L)
  }

  test("the tracer nests spans and hangs recorded jobs under the innermost span") {
    val t = new Tracer
    var jobStart = 0L
    t.span(7, "op") {
      t.span(7, "noise.ground") {
        jobStart = System.nanoTime()
        Thread.sleep(2)
      }
    }
    t.record("job", jobStart, jobStart + 1000)
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("op").parent.isEmpty)
    assert(byName("noise.ground").parent.contains(byName("op").id))
    assert(byName("job").parent.contains(byName("noise.ground").id))
    assert(t.spans.forall(_.op == 7))
  }
}
