package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 wave 29: adjustment conservation and streak recomputation. */
class Round10ccSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_calendar_adjust: the adjustment conserves total revenue") {
    val out = SparkEntry.queries("ts_calendar_adjust")(spark, sf).collect()
    val raw = out.map(_.getAs[Long]("cents")).map(BigDecimal(_)).sum
    val adj = out.map(r => BigDecimal(r.getAs[Double]("adjusted_cents"))).sum
    // Σ_dow dow_cents · (total·dow_n)/(dow_cents·n_days) = total exactly;
    // only the per-day 2-dp rounding perturbs it
    assert((adj - raw).abs <= BigDecimal(0.005) * out.length,
      s"adjusted sum $adj vs raw $raw")
  }

  test("ts_daily_streak matches a driver-side consecutive-day walk") {
    val out = SparkEntry.queries("ts_daily_streak")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_streaks"), r.getAs[Long]("longest_streak"),
         r.getAs[Long]("active_days"))).toMap
    val days = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
      .collect().groupBy(_.getLong(0))
    val expect = days.map { case (u, rows) =>
      val ds = rows.map(_.getDate(1).toLocalDate.toEpochDay).sorted
      val runs = scala.collection.mutable.ArrayBuffer[Long](1L)
      for ((a, b) <- ds.zip(ds.tail))
        if (b == a + 1) runs(runs.length - 1) += 1 else runs += 1L
      u -> (runs.length.toLong, runs.max, ds.length.toLong)
    }
    assert(out == expect)
  }
}
