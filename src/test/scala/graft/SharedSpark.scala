package graft

import org.apache.spark.sql.SparkSession

/** The suites' session: `LocalSpark.builder(4)`. Per suite, not one
  * singleton, so a suite that stops its session does not break the suites
  * after it (the next suite's `getOrCreate` builds a new one).
  */
trait SharedSpark {
  lazy val spark: SparkSession = LocalSpark.builder(4).getOrCreate()

  // jobs started while `body` runs, counted between two canary jobs: the
  // listener bus is FIFO, so once the closing canary's jobs land, every
  // job `body` started has been counted (canary pattern of Round11pSpec)
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val canary = new java.util.concurrent.atomic.AtomicInteger(0)
    val Canary = "graft-jobs-canary"
    val tStart = System.currentTimeMillis()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.time >= tStart) {
          val desc = Option(js.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          if (desc == Canary) canary.incrementAndGet() else jobs.incrementAndGet()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(Canary)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (canary.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(canary.get() >= 1, "canary never ran — listener broken")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
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
