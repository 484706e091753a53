package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {
  private def recorder(timeoutS: Double = 30.0) = new Recorder(new Tracer(false), timeoutS)

  test("correct operations each leave one latency sample") {
    val rec = recorder()
    (1 to 3).foreach(i => rec.op("read", s"ok$i")(i)(v => Stats.expectEq(v, i, "value")))
    assert(rec.attempted == 3 && rec.failed == 0)
    assert(rec.samples.map(_.name) == Seq("ok1", "ok2", "ok3"))
  }

  test("a throwing operation counts as failed and adds no latency sample") {
    val rec = recorder()
    rec.op("read", "ok")(1)(_ => ())
    val out = rec.op[Int]("read", "boom")(throw new IllegalStateException("boom"))(_ => ())
    assert(out.isEmpty)
    assert(rec.attempted == 2 && rec.failed == 1)
    assert(rec.samples.map(_.name) == Seq("ok"))
    assert(rec.failures.head.contains("boom"))
  }

  test("a wrong answer counts as failed and adds no latency sample") {
    val rec = recorder()
    val out = rec.op("read", "wrong")(41)(v => Stats.expectEq(v, 42, "answer"))
    assert(out.isEmpty)
    assert(rec.attempted == 1 && rec.failed == 1 && rec.samples.isEmpty)
    assert(rec.failures.head.contains("wrong answer"))
  }

  test("an operation that overruns its timeout counts as failed") {
    var cancelled = List.empty[String]
    val rec = new Recorder(new Tracer(false), 0.05,
      cancel = g => synchronized { cancelled ::= g })
    rec.op("read", "slow") { Thread.sleep(300); 1 } (_ => ())
    assert(rec.failed == 1 && rec.samples.isEmpty)
    assert(rec.failures.head.contains("timed out"))
    assert(synchronized(cancelled) == List("perfbench-0"))
  }

  test("failures raise the error rate the traced run reports") {
    val rec = recorder()
    rec.op("read", "ok")(1)(_ => ())
    rec.op[Int]("read", "boom")(throw new RuntimeException("x"))(_ => ())
    rec.op("read", "wrong")(0)(v => Stats.expect(v == 1, "wrong"))
    rec.op("read", "ok2")(1)(_ => ())
    assert(rec.failed.toDouble / rec.attempted == 0.5)
    assert(rec.samples.size == 2)
  }

  test("a span's self time excludes the time its children cover") {
    val s = Seq(Span(0, -1, 0, "op.read", 0L, 1000L), Span(1, 0, 0, "api.mcp", 100L, 600L),
      Span(2, 1, 0, "engine.x", 200L, 300L))
    val self = Tracer.selfTimes(s)
    assert(self(0) == 500e-9 && self(1) == 400e-9 && self(2) == 100e-9)
  }

  test("canonical rows agree across integer, decimal and double renderings") {
    assert(Canon.value(java.lang.Long.valueOf(3)) == Canon.value(java.lang.Double.valueOf(3.0)))
    assert(Canon.value(new java.math.BigDecimal("2.50")) == Canon.value(java.lang.Double.valueOf(2.5)))
  }
}
