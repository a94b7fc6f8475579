package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 twelfth wave: invariants stronger than the oracle hash alone. */
class Round9lSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_forecast_wape: consistent sums, ppm reproduces the ratio") {
    val r = SparkEntry.queries("ts_forecast_wape")(spark, sf).head()
    val (n, err, y, ppm) = (r.getAs[Long]("n"), r.getAs[Long]("sum_abs_err"),
      r.getAs[Long]("sum_y"), r.getAs[Long]("wape_ppm"))
    assert(n > 0 && y > 0)
    assert(ppm == (err * 2000000L + y) / (2 * y))
    // persistence baseline on a noisy series: wape strictly positive
    assert(ppm > 0)
  }

  test("scalar_codec_roundtrip: every row round-trips, hex is 8 nibbles") {
    val out = SparkEntry.queries("scalar_codec_roundtrip")(spark, sf).collect()
    assert(out.forall(_.getAs[Long]("ok") == 1L),
      "base64 round-trip must be the identity on every row")
    assert(out.forall(r => r.getAs[String]("hex4").matches("[0-9A-F]{1,8}")))
    // b64 decodes back to the name length
    val r0 = out.head
    val dec = java.util.Base64.getDecoder.decode(r0.getAs[String]("b64"))
    assert(new String(dec, "UTF-8").length > 0)
  }

  test("agg_runs_test: run count bounded by sign count, z matches hand formula") {
    val r = SparkEntry.queries("agg_runs_test")(spark, sf).head()
    val (n1, n2, runs) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"),
      r.getAs[Long]("runs"))
    assert(n1 > 0 && n2 > 0)
    assert(runs >= 2 && runs <= n1 + n2)
    val mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    val sig2 = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) /
      ((n1 + n2).toDouble * (n1 + n2) * (n1 + n2 - 1))
    val z = (runs - mu) / math.sqrt(sig2)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-5)
  }
}
