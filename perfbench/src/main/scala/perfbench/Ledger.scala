package perfbench

import scala.collection.mutable.ArrayBuffer

/** Attempted operations and their outcomes.
  *
  * An operation runs timed and returns its output check, which runs
  * untimed. An operation that throws, or whose check throws or reports a
  * mismatch, is a failure: it counts in [[failedShare]] and its time is
  * never recorded as a sample. */
final class Ledger {
  import Ledger._

  private val outcomes = ArrayBuffer.empty[Outcome]

  /** Run `op` timed, then its check. Returns the seconds when both
    * succeeded. */
  def attempt(name: String)(op: => Check): Option[Double] = {
    val t0 = System.nanoTime()
    val c0 = cpuNanos()
    val outcome =
      try {
        val check = op
        val dt = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNanos() - c0) / 1e9
        try check() match {
          case None => Outcome(name, Some(dt), None, cpu)
          case Some(why) => Outcome(name, None, Some(s"wrong output: $why"), 0.0)
        } catch { case e: Throwable => Outcome(name, None, Some(s"check threw: $e"), 0.0) }
      } catch { case e: Throwable => Outcome(name, None, Some(s"threw: $e"), 0.0) }
    outcome.error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    outcome.seconds.foreach(s => System.err.println(f"[perfbench] $name $s%.3f s"))
    outcomes += outcome
    outcome.seconds
  }

  def attempted: Int = outcomes.size
  def failed: Int = outcomes.count(_.error.nonEmpty)
  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  /** Seconds of every successful operation, in order. */
  def times: Seq[Double] = outcomes.flatMap(_.seconds).toSeq
  /** Process CPU seconds (all threads) of every successful operation. */
  def cpuTimes: Seq[Double] = outcomes.filter(_.seconds.nonEmpty).map(_.cpuSeconds).toSeq
  def errors: Seq[String] = outcomes.flatMap(o => o.error.map(o.name + ": " + _)).toSeq
}

object Ledger {
  /** Output check: None when the output is correct, else the mismatch. */
  type Check = () => Option[String]
  val Ok: Check = () => None

  final case class Outcome(name: String, seconds: Option[Double],
      error: Option[String], cpuSeconds: Double)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = os.getProcessCpuTime
}
