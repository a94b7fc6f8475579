package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 twentieth wave: invariants stronger than the oracle hash alone. */
class Round9tSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_laplace_rate: smoothing pulls every rate toward 1/2") {
    val out = SparkEntry.queries("agg_laplace_rate")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (raw, sm) = (r.getAs[Long]("raw_ppm"), r.getAs[Long]("smoothed_ppm"))
      val mid = 500000L
      assert(math.abs(sm - mid) <= math.abs(raw - mid) + 1,
        s"smoothed $sm must be no farther from 1/2 than raw $raw")
      assert(r.getAs[Long]("x") <= r.getAs[Long]("n"))
    }
  }

  test("source_csv_permissive: corrupt rows quarantined, clean cents exact") {
    val r = SparkEntry.queries("source_csv_permissive")(spark, sf).head()
    val orders = Tables(spark, sf, "orders")
    val bad = orders.filter(col("o_orderkey") % 11 === 0).count()
    val good = orders.count() - bad
    assert(bad > 0, "fixture must produce corrupt rows")
    assert(r.getAs[Long]("n_corrupt") == bad)
    assert(r.getAs[Long]("n_clean") == good)
    val cents = orders.filter(col("o_orderkey") % 11 =!= 0)
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint"))).head().getLong(0)
    assert(r.getAs[Long]("clean_cents") == cents)
  }
}
