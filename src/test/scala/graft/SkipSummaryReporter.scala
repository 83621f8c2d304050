package graft

import org.scalatest.Reporter
import org.scalatest.events.{Event, RunAborted, RunCompleted, RunStopped, TestCanceled}

/** Prints one line at the end of a test run with the canceled tests per
  * suite, most first — `canceled: SocialBronzeSpec 16, GomusGoldenSpec
  * 13, ...` or `canceled: none` — so a test that canceled on a missing
  * fixture never reads as one that passed. Wired in through build.sbt's
  * `Test / testOptions` (`-C`). */
class SkipSummaryReporter extends Reporter {
  private val canceled = scala.collection.mutable.Map.empty[String, Int]

  def apply(event: Event): Unit = synchronized {
    event match {
      case e: TestCanceled =>
        canceled(e.suiteName) = canceled.getOrElse(e.suiteName, 0) + 1
      case _: RunCompleted | _: RunStopped | _: RunAborted =>
        println(if (canceled.isEmpty) "canceled: none"
          else canceled.toSeq.sortBy { case (suite, n) => (-n, suite) }
            .map { case (suite, n) => s"$suite $n" }
            .mkString("canceled: ", ", ", ""))
      case _ => ()
    }
  }
}
