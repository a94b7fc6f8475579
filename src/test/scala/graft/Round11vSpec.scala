package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-78 bounds: the Gumbel fit reproduces a driver method-of-moments
  * computation and its return levels are monotone in the period; the
  * Hodges-Lehmann estimate equals the brute-force median of all Walsh
  * averages and sits inside the diff range.
  */
class Round11vSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("agg_gumbel_return_period matches driver method-of-moments") {
    val r = SparkEntry.queries("agg_gumbel_return_period")(spark, sf)
      .collect()(0)
    val mx = Tables(spark, sf, "orders")
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(max(round(col("o_totalprice") * 100).cast("bigint")).as("mx"))
      .collect().map(_.getLong(1))
    val n = mx.length.toDouble
    val mean = mx.map(BigDecimal(_)).sum.toDouble / n
    val varr = (mx.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble -
      mx.map(BigDecimal(_)).sum.toDouble * mx.map(BigDecimal(_)).sum.toDouble / n) / (n - 1)
    val std = math.sqrt(varr)
    val beta = std * math.sqrt(6.0) / math.Pi
    val mu = mean - 0.5772156649015329 * beta
    def rl(t: Int): Double = mu - beta * math.log(-math.log(1.0 - 1.0 / t))
    assert(r.getLong(0) == mx.length)
    assert(math.abs(r.getDouble(1) - mean) < 1e-4, "mean")
    assert(math.abs(r.getDouble(2) - std) < 1e-4, "std")
    assert(math.abs(r.getDouble(3) - mu) < 1e-4, "mu")
    assert(math.abs(r.getDouble(4) - beta) < 1e-4, "beta")
    assert(math.abs(r.getDouble(5) - rl(10)) < 1e-3, "rl 10")
    assert(math.abs(r.getDouble(6) - rl(100)) < 1e-3, "rl 100")
    assert(math.abs(r.getDouble(7) - rl(365)) < 1e-3, "rl 365")
    // longer period → rarer event → higher return level
    assert(r.getDouble(5) < r.getDouble(6) && r.getDouble(6) < r.getDouble(7))
    // the 1-in-10-days level is above the mean daily max
    assert(r.getDouble(5) > r.getDouble(1))
  }

  test("agg_hodges_lehmann equals the brute-force Walsh median") {
    val r = SparkEntry.queries("agg_hodges_lehmann")(spark, sf).collect()(0)
    val daily = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("x"))
      .collect().map(w => w.getLong(0) -> w.getLong(1)).toMap
    val x = (1 to 30).map(t => daily.getOrElse(t.toLong, 0L))
    val diffs = (1 until 30).map(t => (x(t) - x(t - 1)).toDouble)
    val walsh = for (i <- diffs.indices; j <- i until diffs.length)
      yield (diffs(i) + diffs(j)) / 2
    def med(v: Seq[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    assert(r.getLong(0) == walsh.size && walsh.size == 435)
    assert(math.abs(r.getDouble(1) - med(walsh)) < 1e-9, "HL estimate")
    assert(math.abs(r.getDouble(2) - med(diffs)) < 1e-9, "plain median")
    assert(r.getDouble(1) >= diffs.min && r.getDouble(1) <= diffs.max)
  }
}
