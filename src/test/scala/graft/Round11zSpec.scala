package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-82 bounds: Brown-Forsythe matches a driver recomputation on
  * true medians and raw absolute deviations, and Friedman matches the
  * classical textbook statistic computed from true (undoubled) average
  * ranks.
  */
class Round11zSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("agg_levene_test matches driver Brown-Forsythe") {
    val r = SparkEntry.queries("agg_levene_test")(spark, sf).collect()(0)
    val obs = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("bigint"))
      .collect().map(w => (w.getString(0), w.getLong(1)))
    def median(v: Seq[Long]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val groups = obs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val z = groups.map { case (g, v) =>
      val m = median(v)
      g -> v.map(x => math.abs(x - m))
    }
    val n = obs.length
    val k = groups.size
    val grand = z.values.flatten.sum / n
    val between = z.map { case (_, zs) =>
      val m = zs.sum / zs.size
      zs.size * (m - grand) * (m - grand)
    }.sum / (k - 1)
    val within = z.values.map { zs =>
      val m = zs.sum / zs.size
      zs.map(x => (x - m) * (x - m)).sum
    }.sum / (n - k)
    val f = between / within
    assert(r.getLong(0) == k && r.getLong(1) == n)
    assert(math.abs(r.getDouble(2) - f) < 1e-3, s"BF F: got ${r.getDouble(2)} want $f")
    assert(r.getBoolean(3) == (r.getDouble(2) > 2.372))
  }

  test("agg_friedman_test matches the textbook rank statistic") {
    val r = SparkEntry.queries("agg_friedman_test")(spark, sf).collect()(0)
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"),
               datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("y"))
      .collect().map(w => (w.getString(0), w.getLong(1)) -> w.getLong(2)).toMap
    val types = daily.keys.map(_._1).toSeq.distinct.sorted
    val k = types.size
    val n = 30
    // true average ranks within each day
    val ranks = (1 to n).map { t =>
      val vals = types.map(g => g -> daily.getOrElse((g, t.toLong), 0L))
      val avgRank = vals.map(_._2).distinct.map { v =>
        val below = vals.count(_._2 < v)
        val ties = vals.count(_._2 == v)
        v -> (below + (ties + 1) / 2.0)
      }.toMap
      vals.map { case (g, v) => g -> avgRank(v) }.toMap
    }
    val rj = types.map(g => ranks.map(_(g)).sum)
    val sumR2 = rj.map(x => x * x).sum
    val sumr2 = ranks.flatMap(_.values).map(x => x * x).sum
    val num = (k - 1) * (sumR2 - n.toDouble * n * k * (k + 1) * (k + 1) / 4)
    val den = sumr2 - n.toDouble * k * (k + 1) * (k + 1) / 4
    val chi2 = num / den
    assert(r.getLong(0) == n && r.getLong(1) == k)
    assert(math.abs(r.getDouble(2) - chi2) < 1e-4,
           s"Friedman chi2: got ${r.getDouble(2)} want $chi2")
    assert(r.getBoolean(3) == (r.getDouble(2) > 9.488))
  }
}
