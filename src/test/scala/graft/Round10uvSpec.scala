package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 21–22: smoother/diagnostic recomputations. */
class Round10uvSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("window_median3_smooth: true running median of three for sampled users") {
    val out = SparkEntry.queries("window_median3_smooth")(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    val hist = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
              round(col("value") * 100).cast("bigint").as("x"))
      .collect().groupBy(_.getLong(0))
    for ((u, rows) <- out.take(10)) {
      val xs = hist(u).sortBy(r => (r.getLong(1), r.getLong(2)))
      val byId = rows.map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("x_smooth")).toMap
      for (i <- xs.indices) {
        val expect =
          if (i == 0 || i == xs.length - 1) xs(i).getLong(3)
          else Seq(xs(i - 1).getLong(3), xs(i).getLong(3), xs(i + 1).getLong(3)).sorted.apply(1)
        assert(byId(xs(i).getLong(2)) == expect)
      }
    }
  }

  test("ts_durbin_watson: statistic in (0, 4), matching a centered recomputation") {
    val out = SparkEntry.queries("ts_durbin_watson")(spark, sf).collect()
    assert(out.length == 5)
    val spine = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000L").as("hr"))
      .count().collect().groupBy(_.getString(0))
    for (r <- out) {
      val dw = r.getAs[Double]("dw")
      assert(dw > 0.0 && dw < 4.0)
      val cs = spine(r.getAs[String]("event_type"))
        .sortBy(_.getLong(1)).map(_.getLong(2).toDouble)
      val m = cs.sum / cs.length
      val e = cs.map(_ - m)
      val expect = e.zip(e.tail).map { case (a, b) => (b - a) * (b - a) }.sum /
        e.map(x => x * x).sum
      assert(math.abs(dw - expect) < 1e-4, s"dw $dw vs $expect")
    }
  }

  test("ts_ljung_box: Q non-negative and matching a driver-side recomputation") {
    val out = SparkEntry.queries("ts_ljung_box")(spark, sf).collect()
    val spine = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000L").as("hr"))
      .count().collect().groupBy(_.getString(0))
    for (r <- out) {
      val q = r.getAs[Double]("ljung_box_q")
      assert(q >= 0.0)
      val byHr = spine(r.getAs[String]("event_type"))
        .map(x => x.getLong(1) -> x.getLong(2)).toMap
      val n = byHr.size
      val qe = (1 to 10).map { k =>
        val pairs = byHr.toSeq.collect {
          case (h, x) if byHr.contains(h + k) => (x.toDouble, byHr(h + k).toDouble)
        }
        val nk = pairs.length
        val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
        val sxy = pairs.map(p => p._1 * p._2).sum
        val (sxx, syy) = (pairs.map(p => p._1 * p._1).sum, pairs.map(p => p._2 * p._2).sum)
        val r2 = math.pow(nk * sxy - sx * sy, 2) /
          ((nk * sxx - sx * sx) * (nk * syy - sy * sy))
        r2 / (n - k)
      }.sum * n * (n + 2)
      assert(math.abs(q - qe) < 1e-3, s"Q $q vs $qe")
    }
  }

  test("scalar_bytes_humanize: the rendered string inverts to the byte count") {
    val out = SparkEntry.queries("scalar_bytes_humanize")(spark, sf).collect()
    val units = Map("B" -> 1L, "KiB" -> 1024L, "MiB" -> 1048576L, "GiB" -> 1073741824L)
    for (r <- out) {
      val Array(num, unit) = r.getAs[String]("human").split(" ")
      val approx = num.toDouble * units(unit)
      val actual = r.getAs[Long]("n_bytes").toDouble
      assert(approx <= actual + 1e-6, "mantissa floors, never rounds up")
      assert(actual - approx < 0.01 * units(unit) + 1e-6,
        "two-decimal mantissa is within one hundredth of a unit")
    }
  }
}
