package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 fifth wave: invariants stronger than the oracle hash alone. */
class Round9eSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("window_bollinger: bands bracket the mid, symmetric within rounding") {
    val out = SparkEntry.queries("window_bollinger")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val (m, u, l) = (r.getAs[Double]("mid"), r.getAs[Double]("band_up"),
        r.getAs[Double]("band_dn"))
      u >= m && m >= l && math.abs((u - m) - (m - l)) < 2e-6
    })
  }

  test("agg_winsorized_mean lies between raw trimmed bounds and damps outliers") {
    val out = SparkEntry.queries("agg_winsorized_mean")(spark, sf).collect()
    assert(out.nonEmpty)
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
      .groupBy("event_type")
      .agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
           avg(col("c")).as("mean")).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    for (r <- out) {
      val t = r.getAs[String]("event_type")
      val wm = r.getAs[Double]("winsorized_mean")
      assert(wm >= raw(t).getAs[Long]("mn").toDouble &&
             wm <= raw(t).getAs[Long]("mx").toDouble)
    }
  }

  test("ts_hourly_topk: at most 2 per hour, ranked by count desc") {
    val out = SparkEntry.queries("ts_hourly_topk")(spark, sf).collect()
    val byHr = out.groupBy(_.getAs[Long]("hr"))
    assert(byHr.values.forall(_.length <= 2))
    for ((_, rows) <- byHr if rows.length == 2) {
      val s = rows.sortBy(_.getAs[Long]("rnk"))
      assert(s(0).getAs[Long]("n") >= s(1).getAs[Long]("n"))
    }
  }

  test("agg_subsample_jackknife: 16 resamples, halves within binomial bounds") {
    val out = SparkEntry.queries("agg_subsample_jackknife")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("resample")).toSeq == (0L until 16L))
    val total = Tables.events(spark, sf).count().toDouble
    // each half-sample size is Binomial(n, 1/2): allow 5 sigma
    val sigma = math.sqrt(total) / 2
    assert(out.forall(r =>
      math.abs(r.getAs[Long]("n") - total / 2) < 5 * sigma + 1))
    // resample means cluster around the full mean
    val full = Tables.events(spark, sf)
      .agg(avg(round(col("value") * 100).cast("bigint"))).head().getDouble(0)
    val means = out.map(_.getAs[Double]("mean_c"))
    assert(math.abs(means.sum / means.length - full) < 0.05 * math.abs(full) + 50)
  }
}
