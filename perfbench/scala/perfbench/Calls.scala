package perfbench

import scala.collection.mutable

/** A call failed: it threw. The rest of its pass is skipped. */
final class CallFailed(msg: String, cause: Throwable) extends RuntimeException(msg, cause)

/** Closed-loop call accounting. Each call into the engine runs in its own
  * span, is timed, and is then checked by its gates; a call that throws or
  * fails a gate counts once as failed. Gates run after the clock stops. */
final class Calls(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  private val last = mutable.Map[String, Double]()
  private var total = 0.0

  /** Seconds spent inside calls so far: a pass's time excludes its gates. */
  def spent: Double = total

  /** Duration of the latest call with this name. */
  def seconds(name: String): Double = last(name)

  def apply[T](name: String)(body: => T)(gates: T => Seq[String]): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try tracer.span(name)(body)
      catch {
        case e: Exception =>
          failed += 1
          problems += s"$name threw $e"
          throw new CallFailed(s"$name threw", e)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    last(name) = secs
    total += secs
    val bad = gates(out)
    if (bad.nonEmpty) {
      failed += 1
      problems ++= bad.map(b => s"$name: $b")
    }
    out
  }
}

object Calls {

  /** A gate: empty when `ok`, else the description of the mismatch. */
  def expect(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)

  def same[A](what: String, got: A, want: A): Seq[String] =
    expect(got == want, s"$what: got $got, expected $want")
}
