package graft

import org.apache.spark.sql.SparkSession

/** The suites' session: `LocalSpark.builder(4)`. Per suite, not one
  * singleton, so a suite that stops its session does not break the suites
  * after it (the next suite's `getOrCreate` builds a new one).
  */
trait SharedSpark {
  lazy val spark: SparkSession = LocalSpark.builder(4).getOrCreate()
}

object SharedSpark {

  /** Stop whatever session is alive and build `b` afresh: `getOrCreate`
    * would otherwise hand back the live session, ignoring `b`'s static
    * settings and extensions. Suites that do this [[release]] when done, so
    * the suites after them get a plain `SharedSpark` session.
    */
  def fresh(b: SparkSession.Builder): SparkSession = {
    release()
    b.getOrCreate()
  }

  /** Stop the live session, if any, and forget it. */
  def release(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
