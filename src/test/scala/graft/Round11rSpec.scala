package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-74 bounds: the UNPIVOT reshape conserves the wide frame's cell
  * values exactly (long form pivots back to the identical wide form),
  * and the Granger F-statistic equals an independently-written dense
  * OLS fit of both nested models (normal equations solved by Gaussian
  * elimination rather than Cramer's rule).
  */
class Round11rSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("sql_unpivot_clause conserves the wide frame cell-for-cell") {
    val long = SparkEntry.queries("sql_unpivot_clause")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    Tables.views(spark, sf)
    val wide = spark.sql(
      """SELECT c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
        |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer GROUP BY c_mktsegment""".stripMargin).collect()
    assert(wide.nonEmpty)
    assert(long.size == wide.length * 3, "three long rows per wide row")
    wide.foreach { r =>
      val seg = r.getString(0)
      assert(long((seg, "n_customers")) == r.getLong(1))
      assert(long((seg, "n_nations")) == r.getLong(2))
      assert(long((seg, "bal_cents")) == r.getLong(3))
    }
  }

  test("ts_granger_lag1 matches a Gaussian-elimination OLS refit") {
    val r = SparkEntry.queries("ts_granger_lag1")(spark, sf).collect()(0)
    assert(r.getLong(0) == 29)
    // rebuild the 29 lagged observations independently
    val daily = Tables.events(spark, sf)
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
           sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"))
      .collect().map(w => w.getLong(0) -> (w.getLong(1), w.getLong(2))).toMap
    val y = (1 to 30).map(t => daily.getOrElse(t.toLong, (0L, 0L))._1.toDouble)
    val x = (1 to 30).map(t => daily.getOrElse(t.toLong, (0L, 0L))._2.toDouble)
    val obs = (1 until 30).map(t => (y(t), y(t - 1), x(t - 1)))
    // generic least squares via Gaussian elimination with partial pivot
    def ols(rows: Seq[(Double, Array[Double])]): (Array[Double], Double) = {
      val k = rows.head._2.length
      val a = Array.ofDim[Double](k, k + 1)
      rows.foreach { case (yy, xs) =>
        for (i <- 0 until k) {
          for (j <- 0 until k) a(i)(j) += xs(i) * xs(j)
          a(i)(k) += xs(i) * yy
        }
      }
      for (p <- 0 until k) {
        val piv = (p until k).maxBy(i => math.abs(a(i)(p)))
        val t = a(p); a(p) = a(piv); a(piv) = t
        for (i <- 0 until k if i != p) {
          val f = a(i)(p) / a(p)(p)
          for (j <- p to k) a(i)(j) -= f * a(p)(j)
        }
      }
      val beta = (0 until k).map(i => a(i)(k) / a(i)(i)).toArray
      val rss = rows.map { case (yy, xs) =>
        val e = yy - xs.zip(beta).map(p2 => p2._1 * p2._2).sum
        e * e
      }.sum
      (beta, rss)
    }
    val (bR, rssR) = ols(obs.map(o => (o._1, Array(1.0, o._2))))
    val (bU, rssU) = ols(obs.map(o => (o._1, Array(1.0, o._2, o._3))))
    val f = (rssR - rssU) / (rssU / (obs.length - 3))
    assert(math.abs(r.getDouble(1) - bR(1)) < 1e-5, "restricted lag-y beta")
    assert(math.abs(r.getDouble(2) - rssR) < 1e-4, "restricted RSS")
    assert(math.abs(r.getDouble(3) - bU(1)) < 1e-5, "unrestricted lag-y beta")
    assert(math.abs(r.getDouble(4) - bU(2)) < 1e-5, "unrestricted lag-x beta")
    assert(math.abs(r.getDouble(5) - rssU) < 1e-4, "unrestricted RSS")
    assert(math.abs(r.getDouble(6) - f) < 1e-4, "F statistic")
    assert(r.getBoolean(7) == (r.getDouble(6) > 4.225))
    assert(rssU <= rssR + 1e-9, "adding a regressor cannot raise RSS")
  }
}
