package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("percentile interpolates between ranks; median of an even sample") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(math.abs(Stats.percentile((1 to 11).map(_.toDouble), 90) - 10.0) < 1e-9)
  }

  test("the supported percentile leaves at least ten samples beyond it") {
    assert(Stats.supportedPercentile(100) === Some(90))
    assert(Stats.supportedPercentile(99) === Some(75))
    assert(Stats.supportedPercentile(200) === Some(95))
    assert(Stats.supportedPercentile(1000) === Some(99))
    assert(Stats.supportedPercentile(20) === Some(50))
    assert(Stats.supportedPercentile(19) === None)
  }

  test("interval union counts overlaps once; driver gap is the uncovered rest") {
    assert(Stats.unionLength(Nil) === 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) === 25)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) === 100)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) === 0)
    // jobs sticking out of the operation window are clipped to it
    assert(Stats.gapLength(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L))) === 60)
    assert(Stats.gapLength(0, 100, Nil) === 100)
  }

  test("geomean of positive samples") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }

  test("span self time subtracts the union of child spans, by layer") {
    val spans = Seq(
      Span(1, -1, 0, "api.request", 0, 100),
      Span(2, 1, 0, "intent.compile", 10, 40),
      Span(3, 1, 0, "api.preview", 30, 90),
      Span(4, 3, 0, "spark.job", 50, 95))
    val self = Tracer.selfTimeNs(spans)
    // request: 100 - union([10,40),[30,90)) = 100 - 80
    // preview: 60 - [50,90) clipped = 60 - 40
    assert(self("api") === 20 + 20)
    assert(self("intent") === 30)
    assert(self("spark") === 45)
  }

  test("a tracer records nested spans with their parent and operation") {
    val tr = new Tracer(true)
    tr.op = 7
    tr.span("api.request")(tr.span("intent.route")(()))
    val Seq(inner, outer) = tr.all
    assert(inner.parent === outer.id && outer.parent === -1)
    assert(inner.op === 7 && inner.name === "intent.route")
    assert(Tracer.innermostAt(tr.all, inner.startNs).map(_.id) === Some(inner.id))
    val off = new Tracer(false)
    assert(off.span("x")(42) === 42 && off.all.isEmpty)
  }

  test("the seeded request list is a function of the seed") {
    val a = Requests.build(11, 3)
    assert(a === Requests.build(11, 3))
    assert(a !== Requests.build(12, 3))
    // every round holds each kind of request once, whatever the seed
    val round = Requests.build(11, 1)
    assert(round.count(_.kind == "ask_data") === Requests.dataPrompts.size)
    assert(round.count(_.kind == "ask_doc") === Requests.docPrompts.size)
    assert(round.count(_.kind == "forecast") === Requests.algos.size)
    assert(round.map(_.key).toSet.subsetOf(Requests.universe.map(_.key).toSet))
  }

  test("digests ignore row order and last-bit float noise") {
    assert(Digest.cells(Seq(Seq(1, "a"), Seq(2, "b"))) === Digest.cells(Seq(Seq(2, "b"), Seq(1, "a"))))
    assert(Digest.cells(Seq(Seq(0.1 + 0.2))) === Digest.cells(Seq(Seq(0.3))))
    assert(Digest.cells(Seq(Seq(0.3))) !== Digest.cells(Seq(Seq(0.31))))
  }
}
