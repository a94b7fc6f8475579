package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 sixth wave: invariants stronger than the oracle hash alone. */
class Round9fSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_rolling_dau: window superset of hourly actives, bounded by total") {
    val out = SparkEntry.queries("ts_rolling_dau")(spark, sf).collect()
      .map(r => r.getAs[Long]("hr") -> r.getAs[Long]("dau24")).toMap
    val hourly = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000L").as("hr"))
      .distinct().groupBy("hr").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getAs[Long]("hr") -> r.getAs[Long]("n")).toMap
    val total = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.keySet == hourly.keySet, "one output row per observed hour")
    for ((hr, dau) <- out) {
      assert(dau >= hourly(hr), "24h window must cover the single hour")
      assert(dau <= total)
    }
    // at least one hour's rolling window exceeds its single-hour count
    assert(out.exists { case (hr, dau) => dau > hourly(hr) })
  }

  test("agg_assoc_rules: metrics consistent, lift formula reproduced") {
    val out = SparkEntry.queries("agg_assoc_rules")(spark, sf).collect()
    assert(out.length == 10)
    val items = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nOrders = items.select("l_orderkey").distinct().count()
    for (r <- out) {
      val (ab, a, b) = (r.getAs[Long]("supp_ab"), r.getAs[Long]("supp_a"),
        r.getAs[Long]("supp_b"))
      assert(ab <= a && ab <= b, "pair support bounded by item supports")
      assert(math.abs(r.getAs[Double]("confidence") - ab.toDouble / a) < 1e-6)
      assert(math.abs(r.getAs[Double]("lift") -
        ab.toDouble * nOrders / (a.toDouble * b)) < 1e-6)
    }
  }

  test("ts_interpurchase_hist: buckets capped, total = orders - customers") {
    val out = SparkEntry.queries("ts_interpurchase_hist")(spark, sf).collect()
    assert(out.forall(r => {
      val b = r.getAs[Long]("gap_weeks"); b >= 0 && b <= 12
    }))
    val orders = Tables(spark, sf, "orders")
    val nOrders = orders.count()
    val nCust = orders.select("o_custkey").distinct().count()
    assert(out.map(_.getAs[Long]("n")).sum == nOrders - nCust,
      "every order except each customer's first contributes one gap")
  }

  test("scalar_slugify: lowercase hyphen-delimited alnum, no edge hyphens") {
    val out = SparkEntry.queries("scalar_slugify")(spark, sf).collect()
    val re = "^[a-z0-9]+(-[a-z0-9]+)*$".r
    assert(out.forall(r => re.matches(r.getAs[String]("slug"))))
  }
}
