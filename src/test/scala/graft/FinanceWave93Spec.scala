package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-93 invariants: the EMA/Wilder recursions equal their CLOSED
  * FORMS (weighted sums over the raw closes — a different computation
  * shape than the fold), RSI stays in [0,100], and VaR/ES equal the
  * brute-force order statistics.
  */
class FinanceWave93Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  private def closes(): Array[Long] = {
    val m = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(sum(round(col("value") * 100).cast("bigint")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 30).map(t => m.getOrElse(t.toLong, 0L)).toArray
  }

  test("RSI equals the Wilder closed form and stays in [0,100]") {
    val c = closes()
    val gains = (1 until 30).map(i => math.max(c(i) - c(i - 1), 0L))
    val losses = (1 until 30).map(i => math.max(c(i - 1) - c(i), 0L))
    // closed form: ag_t = (13/14)^(t-15) * seed + (1/14) * sum over
    // j=16..t of (13/14)^(t-j) * gain_j
    def closed(xs: Seq[Long], t: Int): Double = {
      val seed = xs.take(14).sum / 14.0
      val w = 13.0 / 14.0
      math.pow(w, t - 15) * seed +
        (16 to t).map(j => math.pow(w, t - j) * xs(j - 2) / 14.0).sum
    }
    val rows = SparkEntry.queries("window_rsi_wilder")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                           r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 16 && rows.head._1 == 15L)
    rows.foreach { case (t, close, ag, al, rsi) =>
      assert(close == c(t.toInt - 1))
      assert(math.abs(ag - closed(gains, t.toInt)) < 1e-4, s"ag at $t")
      assert(math.abs(al - closed(losses, t.toInt)) < 1e-4, s"al at $t")
      assert(rsi >= 0.0 && rsi <= 100.0)
      if (al > 1e-9)
        assert(math.abs(rsi - (100.0 - 100.0 / (1.0 + ag / al))) < 1e-4)
    }
  }

  test("MACD EMAs equal their closed forms; histogram = macd - signal") {
    val c = closes()
    def ema(k: Double, t: Int): Double = {
      val j = 1 - k
      math.pow(j, t - 1) * c(0) +
        (2 to t).map(i => k * math.pow(j, t - i) * c(i - 1)).sum
    }
    val rows = SparkEntry.queries("window_macd_signal")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
                           r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.length == 30)
    rows.foreach { case (t, e12, e26, macd, sig, hist) =>
      assert(math.abs(e12 - ema(2.0 / 13.0, t.toInt)) < 1e-3, s"ema12 at $t")
      assert(math.abs(e26 - ema(2.0 / 27.0, t.toInt)) < 1e-3, s"ema26 at $t")
      assert(math.abs(macd - (e12 - e26)) < 2e-6)
      assert(math.abs(hist - (macd - sig)) < 2e-6)
    }
  }

  test("VaR/ES equal brute-force order statistics of the return list") {
    val c = closes()
    val rets = (1 until 30).map(i => c(i) - c(i - 1)).sorted
    val r = SparkEntry.queries("agg_value_at_risk")(spark, sf).collect()(0)
    assert(r.getLong(0) == 29)
    assert(r.getLong(1) == -rets(1), "VaR95 = -(2nd smallest)")
    assert(r.getLong(2) == -rets(0), "VaR99 = -(smallest)")
    assert(math.abs(r.getDouble(3) - (-(rets(0) + rets(1)) / 2.0)) < 1e-9)
  }
}
