package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {

  test("an operation that throws is failed and left out of latency") {
    val rec = new Recorder
    rec.run("read")(42)
    val (op, r) = rec.run("read")(throw new IllegalStateException("boom"))
    assert(r.isEmpty)
    assert(!op.ok && op.failure.exists(_.contains("boom")))
    assert(rec.attempted == 2 && rec.failed == 1)
    assert(rec.ms("read").size == 1)
  }

  test("an operation whose answer is wrong is failed and left out of latency") {
    val rec = new Recorder
    val (good, a) = rec.run("read")(1 + 1)
    rec.check(good, "sum")(a.contains(2))
    val (bad, b) = rec.run("read")(1 + 2)
    rec.check(bad, "sum")(b.contains(2))
    val (worse, _) = rec.run("read")(0)
    rec.check(worse, "divide")(1 / worse.index * 0 == 1)
    assert(good.ok && !bad.ok && !worse.ok)
    assert(rec.failed == 2 && rec.ms("read") == Seq(good.ms))
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("a span's self time is its length minus what its children cover") {
    val t0 = 1000000L
    val spans = Seq(
      Span(0, "op", -1, t0, t0 + 10000),
      Span(1, "sinks.exec", 0, t0 + 1000, t0 + 9000),
      Span(2, "spark.job", 1, t0 + 2000, t0 + 5000),
      Span(3, "spark.job", 1, t0 + 4000, t0 + 6000))
    assert(Tracer.union(Seq((0L, 3L), (2L, 5L), (7L, 8L))) == 6L)
    val self = new Tracer(null).selfMs(spans)
    assert(self(0) == 2.0 && self(1) == 4.0 && self(2) == 3.0)
  }
}
