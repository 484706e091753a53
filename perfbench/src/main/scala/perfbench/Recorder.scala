package perfbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.collection.mutable.ArrayBuffer

/** One completed, correct, timed call. */
final case class Sample(kind: String, name: String, seconds: Double,
    traced: Boolean, op: Int)

/** Closed-loop operation runner: one client thread, one call at a time.
  *
  * Each call is timed from outside; its check runs after the clock stops.
  * A call that throws, overruns `timeoutS` or fails its check counts as
  * failed and leaves no latency sample, so a failure can never read as a
  * fast operation. `group` tags the call's Spark jobs (and lets the
  * watchdog cancel them); it is a parameter so the runner can be tested
  * without a Spark session. */
final class Recorder(tracer: Tracer, timeoutS: Double,
    group: Option[String] => Unit = _ => (), cancel: String => Unit = _ => ()) {
  val samples = ArrayBuffer.empty[Sample]
  val failures = ArrayBuffer.empty[String]
  /** (op, startMs, endMs) of every call, failed ones included: the window
    * listener events are attributed by. */
  val windows = ArrayBuffer.empty[(Int, Long, Long)]
  var attempted = 0
  private var nextOp = 0
  private lazy val watchdog: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }

  def failed: Int = failures.size

  /** Runs `call` as one operation of class `kind`; returns its value when
    * the call succeeded and passed `check` (which throws on a wrong
    * answer). */
  def op[T](kind: String, name: String)(call: => T)(check: T => Unit): Option[T] = {
    val id = nextOp
    nextOp += 1
    attempted += 1
    val g = s"perfbench-$id"
    group(Some(g))
    tracer.op = id
    val dog = watchdog.schedule(new Runnable { def run(): Unit = cancel(g) },
      (timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span(s"op.$kind")(call))
      catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    dog.cancel(false)
    group(None)
    tracer.op = -1
    windows += ((id, startMs, endMs))
    val verdict = result match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(_) if seconds > timeoutS => Some(f"timed out after $seconds%.1f s")
      case Right(v) =>
        try { check(v); None }
        catch { case e: Throwable => Some(s"wrong answer: ${e.getMessage}") }
    }
    verdict match {
      case Some(why) =>
        failures += s"$kind/$name: ${why.take(300)}"
        None
      case None =>
        samples += Sample(kind, name, seconds, tracer.enabled, id)
        result.toOption
    }
  }

  def stop(): Unit = watchdog.shutdownNow()
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Thrown by a check when an output differs from its expected value. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new AssertionError(what)

  def expectEq[A](got: A, want: A, what: String): Unit =
    expect(got == want, s"$what: got $got, expected $want")
}
