package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-85 invariants: the ridge path hits OLS at λ=0 and shrinks
  * monotonically; the quantile-grid argmin equals an in-memory brute
  * force and the fitted slopes are monotone in τ.
  */
class RegressionWave85Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def xy() = Tables(spark, sf, "lineitem")
    .select(col("l_quantity").cast("bigint"),
            round(col("l_extendedprice") * 100).cast("bigint"))
    .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("ridge: lambda=0 equals OLS, shrinkage monotone decreasing") {
    val data = xy()
    val n = data.length.toDouble
    val sx = data.map(_._1).sum.toDouble
    val sy = data.map(_._2.toDouble).sum
    val sxx = data.map(t => t._1 * t._1).sum.toDouble
    val sxy = data.map(t => t._1.toDouble * t._2).sum
    val ols = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val rows = SparkEntry.queries("agg_ridge_regression")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
                           r.getDouble(3)))
    assert(rows.length == 3 && rows(0)._1 == 0L)
    assert(math.abs(rows(0)._2 - ols) < 1e-3, s"ols ${rows(0)._2} vs $ols")
    assert(math.abs(rows(0)._4 - 1.0) < 1e-9, "shrinkage at lambda=0 is 1")
    // shrinkage is toward ZERO (the fixture's slope happens to be
    // negative, so the signed value rises) — compare magnitudes
    assert(math.abs(rows(0)._2) > math.abs(rows(1)._2) &&
           math.abs(rows(1)._2) > math.abs(rows(2)._2),
           "slope magnitude must shrink as lambda grows")
    assert(rows.forall(r => r._4 > 0 && r._4 <= 1.0 + 1e-9))
  }

  test("quantile grid equals brute force and slopes are monotone in tau") {
    val data = xy()
    def loss(w10: Long, s: Long): Long = data.iterator.map { case (x, yc) =>
      val r = yc - s * x
      if (r >= 0) w10 * r else (w10 - 10) * r
    }.sum
    val want = Seq(1L, 5L, 9L).map { w =>
      val best = (0L to 4000L by 100L).map(s => (loss(w, s), s)).min
      (w / 10.0, best._2, best._1)
    }
    val got = SparkEntry.queries("agg_quantile_regression_grid")(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    assert(got(0)._2 <= got(1)._2 && got(1)._2 <= got(2)._2,
           "fitted slope must be non-decreasing in tau")
  }
}
