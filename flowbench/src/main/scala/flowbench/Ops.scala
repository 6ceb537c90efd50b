package flowbench

import scala.util.control.NonFatal

/** Failure accounting: every operation and output check is counted as
  * attempted; one that throws or fails is counted as failed and logged
  * with its exception class and message. Nothing is turned into a
  * sentinel value.
  */
final class Ops {
  private var attemptedN = 0L
  private var failedN = 0L

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Runs `body` as one operation; None when it threw. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    synchronized(attemptedN += 1)
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(what, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** One output check: attempted, and failed unless `ok` holds. */
  def check(what: String)(ok: => Boolean): Boolean =
    attempt(what)(ok) match {
      case Some(true) => true
      case Some(false) =>
        fail(what, "check failed")
        false
      case None => false
    }

  /** Adds `n` attempted units of work of which `bad` failed (events
    * offered to a stream, say), logging the failures under `what`.
    */
  def tally(what: String, n: Long, bad: Long): Unit = {
    synchronized(attemptedN += n)
    if (bad > 0) fail(what, s"$bad of $n failed", bad)
  }

  private def fail(what: String, why: String, n: Long = 1): Unit = {
    synchronized(failedN += n)
    System.err.println(s"[flowbench] FAILED $what: $why")
  }
}
