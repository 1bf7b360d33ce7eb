package graft.perfbench

import scala.collection.mutable

/** Attempt/failure accounting for one run. Every timed operation is
  * recorded exactly once: a failed operation (it threw, or its result
  * did not match the expectation) counts against `attempted` and never
  * contributes a timing sample, so a regression that breaks an
  * operation can never read as a speed-up. */
final class Ledger {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def failed: Int = failures.size
  def failureNotes: Seq[String] = failures.toSeq

  /** Record a timed operation's outcome: only a correct one
    * (Right(true)) adds its latency to `kind`'s samples; a failure is
    * noted under the operation's `name`. */
  def record(kind: String, name: String, ms: Double, outcome: Either[Throwable, Boolean]): Unit = {
    attempted += 1
    outcome match {
      case Right(true) => samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      case Right(false) => failures += s"$name: wrong result"
      case Left(e) => failures += s"$name: ${e.getClass.getName}: ${e.getMessage}"
    }
  }

  /** A failed check that is not a timed operation (a set-up or
    * verification step). */
  def fail(note: String): Unit = { attempted += 1; failures += note }

  def kinds: Seq[String] = samples.keys.toSeq
  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def all: Seq[Double] = samples.values.flatten.toSeq
}
