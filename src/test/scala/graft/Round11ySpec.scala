package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-81 bounds: the Chow statistic matches a driver refit of all
  * three regressions (and the split fits can never lose to the pooled
  * one), and Kruskal-Wallis matches a driver implementation on true
  * average ranks with tie correction.
  */
class Round11ySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("ts_chow_break_test matches a driver refit") {
    val r = SparkEntry.queries("ts_chow_break_test")(spark, sf).collect()(0)
    val daily = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("y"))
      .collect().map(w => w.getLong(0) -> w.getLong(1)).toMap
    val pts = (1 to 30).map(t => (t.toDouble, daily.getOrElse(t.toLong, 0L).toDouble))
    def ols(p: Seq[(Double, Double)]): (Double, Double, Double) = {
      val n = p.length
      val (st, sy) = (p.map(_._1).sum, p.map(_._2).sum)
      val stt = p.map(q => q._1 * q._1).sum
      val sty = p.map(q => q._1 * q._2).sum
      val b = (n * sty - st * sy) / (n * stt - st * st)
      val a = (sy - b * st) / n
      val rss = p.map { case (t, y) => val e = y - a - b * t; e * e }.sum
      (a, b, rss)
    }
    val (_, b1, rss1) = ols(pts.take(15))
    val (_, b2, rss2) = ols(pts.drop(15))
    val (_, bp, rssp) = ols(pts)
    val f = ((rssp - rss1 - rss2) / 2) / ((rss1 + rss2) / (30 - 4))
    assert(math.abs(r.getDouble(0) - b1) < 1e-5, "first-half slope")
    assert(math.abs(r.getDouble(1) - b2) < 1e-5, "second-half slope")
    assert(math.abs(r.getDouble(2) - bp) < 1e-5, "pooled slope")
    assert(math.abs(r.getDouble(3) - rss1) < 1e-3, "first RSS")
    assert(math.abs(r.getDouble(4) - rss2) < 1e-3, "second RSS")
    assert(math.abs(r.getDouble(5) - rssp) < 1e-3, "pooled RSS")
    assert(math.abs(r.getDouble(6) - f) < 1e-4, "Chow F")
    assert(rss1 + rss2 <= rssp + 1e-9, "splitting cannot raise total RSS")
    assert(r.getBoolean(7) == (r.getDouble(6) > 3.369))
  }

  test("agg_kruskal_wallis matches a driver rank implementation") {
    val r = SparkEntry.queries("agg_kruskal_wallis")(spark, sf).collect()(0)
    val obs = Tables.events(spark, sf)
      .select(round(col("value") * 100).cast("bigint").as("cents"),
              col("event_type"))
      .collect().map(w => (w.getLong(0), w.getString(1)))
    val n = obs.length
    // true average ranks with ties
    val sorted = obs.sortBy(_._1)
    val rankOf = sorted.map(_._1).zipWithIndex.groupBy(_._1)
      .view.mapValues(g => g.map(_._2 + 1.0).sum / g.size).toMap
    val groups = obs.groupBy(_._2)
    val rterm = groups.values.map { g =>
      val rs = g.map(o => rankOf(o._1)).sum
      rs * rs / g.size
    }.sum
    val hRaw = 12.0 / (n.toDouble * (n + 1)) * rterm - 3 * (n + 1)
    val tie3 = obs.groupBy(_._1).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    val c = 1.0 - tie3.toDouble / (n.toDouble * n * n - n)
    assert(r.getLong(0) == groups.size, "group count")
    assert(r.getLong(1) == n, "N")
    assert(math.abs(r.getDouble(2) - hRaw) < 1e-4, "raw H")
    assert(math.abs(r.getDouble(3) - c) < 1e-6, "tie correction")
    assert(math.abs(r.getDouble(4) - hRaw / c) < 1e-4, "adjusted H")
    assert(r.getDouble(4) >= 0.0)
  }
}
