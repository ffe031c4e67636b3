package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  //  op 0: root [0,100]
  //          a [10,40]
  //          b [50,90]
  //            c [60,70]
  //  op 1: root [200,260]
  //          d [190,220]   starts before its parent: clipped to [200,220]
  //          e [210,230]   overlaps d: [220,230] is new
  private val spans = Seq(
    Span(0, "op", -1, 0, 0, 100),
    Span(1, "a", 0, 0, 10, 40),
    Span(2, "b", 0, 0, 50, 90),
    Span(3, "c", 2, 0, 60, 70),
    Span(4, "op", -1, 1, 200, 260),
    Span(5, "d", 4, 1, 190, 220),
    Span(6, "e", 4, 1, 210, 230))

  test("self time is duration minus what child spans cover") {
    val self = Span.selfTimes(spans)
    assert(self(0) == 30)
    assert(self(1) == 30)
    assert(self(2) == 30)
    assert(self(3) == 10)
    assert(self(4) == 30)
  }

  test("self times of an op's spans sum to the op's wall time") {
    val self = Span.selfTimes(spans.take(4))
    assert(spans.take(4).map(s => self(s.id)).sum == 100)
  }

  test("the tracer nests spans under the open op and records nothing when off") {
    val t = new Tracer
    t.op(0, "op")(t.span("x")(()))
    assert(t.spans.isEmpty)
    t.enabled = true
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    t.onEnter = seen += _
    t.op(7, "op")(t.span("x")(t.span("y")(())))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("y").parent == byName("x").id)
    assert(byName("x").parent == byName("op").id)
    assert(byName("op").parent == -1)
    assert(t.spans.forall(_.op == 7))
    assert(seen.last == -1)
  }

  test("a paused tracer records nothing and resumes afterwards") {
    val t = new Tracer
    t.enabled = true
    t.op(0, "op")(())
    t.paused(t.span("check")(()))
    assert(t.enabled)
    assert(t.spans.map(_.name) == Seq("op"))
  }
}
