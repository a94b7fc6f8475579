package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-72 bounds: the conformal half-width equals the independent
  * in-memory order statistic and held-out coverage lands near the 90%
  * target; SPRT decisions latch after the first crossing and the
  * cumulative LLR matches an independent fold.
  */
class Round11pSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("agg_conformal_interval quantile is exact and coverage ≈ 0.9") {
    val r = SparkEntry.queries("agg_conformal_interval")(spark, sf)
      .collect()(0)
    val (nCal, nTest, slope, icept, qhat, cov) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
       r.getLong(4), r.getDouble(5))
    assert(nCal > 0 && nTest > 0)
    assert(cov >= 0.85 && cov <= 0.95, s"coverage $cov far from 0.9")

    // independent: recompute residual order statistic in memory
    val li = Tables(spark, sf, "lineitem")
      .select(pmod(col("l_orderkey"), lit(3L)).as("s"),
              col("l_quantity").cast("bigint").as("x"),
              round(col("l_extendedprice") * 100).cast("bigint").as("yc"))
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
    val cal = li.filter(_._1 == 1)
      .map { case (_, x, yc) =>
        math.abs(yc - math.round(slope * x + icept * 1.0)) }
      .sorted
    val k = math.ceil(0.9 * (cal.length + 1)).toInt
    assert(cal(k - 1) == qhat, s"qhat $qhat vs in-memory ${cal(k - 1)}")
  }

  test("agg_sprt_sequential latches after the first crossing") {
    val rows = SparkEntry.queries("agg_sprt_sequential")(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getDouble(4), r.getString(5)))
    assert(rows.length == 30)
    val bound = math.log(19.0)
    // independent cumulative fold
    var cum = 0.0
    val lc = math.log(0.22 / 0.18); val ln0 = math.log(0.78 / 0.82)
    var crossed = false
    rows.foreach { case (_, n, conv, llr, cumLlr, decision) =>
      val want = conv * lc + (n - conv) * ln0
      assert(math.abs(llr - want) < 1e-4)
      cum += want
      assert(math.abs(cumLlr - cum) < 1e-4)
      if (!crossed && math.abs(cum) >= bound) crossed = true
      if (crossed)
        assert(decision == (if (cum >= 0) "accept_h1" else "accept_h0"),
               s"after crossing decision must latch, got $decision")
      else assert(decision == "continue")
    }
  }

  test("agg_conformal_interval builds lazily — zero jobs before an action") {
    // round-10 verdict: an eager .count() inside the builder ran two jobs
    // (one with the crossJoin) at build time. Listener proves it's gone.
    Tables(spark, sf, "lineitem") // warm the metadata (file-listing job)
    val canaryJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val buildJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // prior tests' jobs are synchronous, so anything submitted before
    // tStart is backlog the async listener bus may still deliver — skip it
    val tStart = System.currentTimeMillis()
    val Canary = "graft-lazy-canary"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.time >= tStart) {
          val desc = Option(js.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          if (desc == Canary) canaryJobs.incrementAndGet()
          else buildJobs.add(
            js.stageInfos.lastOption.map(_.name).getOrElse("?"))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = SparkEntry.queries("agg_conformal_interval")(spark, sf)
      // canary: the listener bus is FIFO, so once the canary's jobs land,
      // any build-time job-start would already be counted. The canary's
      // OWN jobs (AQE splits even range(1).count() into several) are
      // identified by job description and excluded.
      spark.sparkContext.setJobDescription(Canary)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (canaryJobs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(canaryJobs.get() >= 1, "canary never ran — listener broken")
      assert(buildJobs.isEmpty,
             s"${buildJobs.size} job(s) ran at DataFrame-build time: " +
             buildJobs.toArray.mkString("; "))
      assert(df.columns.contains("qhat_cents")) // still a live plan
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("agg_conformal_interval reports n_cal = 0 on an empty calibration set") {
    // a schema-only copy of lineitem: every split, calibration included,
    // is empty, so n_cal must be the integer 0, never NULL
    val d = Tables.scratchDir("graft_empty_lineitem").toString
    Tables(spark, sf, "lineitem").limit(0).write.parquet(s"$d/lineitem.parquet")
    val r = SparkEntry.queries("agg_conformal_interval")(spark, d).collect()
    assert(r.length == 1)
    assert(!r(0).isNullAt(0) && r(0).getLong(0) == 0L,
           s"n_cal on an empty calibration set: ${r(0).get(0)}")
    assert(r(0).getLong(1) == 0L) // n_test
  }
}
