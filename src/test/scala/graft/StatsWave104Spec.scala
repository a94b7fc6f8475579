package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-104 invariants at sf0.001: Cook's distance against a literal
  * per-row OLS recompute (plus the sum-of-leverages = 2 identity),
  * Goldfeld-Quandt against per-half regressions, and Page's L against
  * a doubled-rank census (plus the ΣR identity b·k(k+1)).
  */
class StatsWave104Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private lazy val li: Array[(Long, Int, Long, Long)] =
    Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity").cast("bigint"),
              expr("CAST(round(l_extendedprice) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))

  private def ols(rows: Seq[(Long, Long)]): (Double, Double, Double) = {
    val n = rows.length.toDouble
    val sx = rows.map(_._1).sum.toDouble
    val sy = rows.map(_._2).sum.toDouble
    val sxx = rows.map(r => r._1 * r._1).sum.toDouble
    val syy = rows.map(r => r._2 * r._2).sum.toDouble
    val sxy = rows.map(r => r._1 * r._2).sum.toDouble
    val b = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    val a = sy / n - b * sx / n
    val sse = (syy - sy * sy / n) - b * (sxy - sx * sy / n)
    (a, b, sse)
  }

  test("cook's distance top-10 matches per-row recompute; sum(h) = p") {
    val xy = li.map(r => (r._3, r._4)).toSeq
    val (a, b, sse) = ols(xy)
    val n = xy.length.toDouble
    val s2 = sse / (n - 2)
    val sx = xy.map(_._1).sum.toDouble
    val sxc = xy.map(r => r._1 * r._1).sum.toDouble - sx * sx / n
    val hs = xy.map(r => 1.0 / n + (r._1 - sx / n) * (r._1 - sx / n) / sxc)
    assert(math.abs(hs.sum - 2.0) < 1e-6, "sum of leverages = p")
    val cooks = li.map { r =>
      val e = r._4 - a - b * r._3
      val h = 1.0 / n + (r._3 - sx / n) * (r._3 - sx / n) / sxc
      ((r._1, r._2), e * e * h / (2 * s2 * (1 - h) * (1 - h)))
    }
    val expect = cooks.sortBy { case ((ok, ln), d) => (-d, ok, ln) }.take(10)
    val got = SparkEntry.queries("agg_cooks_distance_top")(spark, sf)
      .collect()
    got.zip(expect).foreach { case (g, ((ok, ln), d)) =>
      assert(g.getLong(0) == ok && g.getInt(1) == ln, "top-10 identity")
      assert(math.abs(g.getDouble(4) - d) < 1e-4, s"cooks at ($ok,$ln)")
    }
  }

  test("goldfeld-quandt matches per-half regressions") {
    val lo = li.filter(_._3 <= 25).map(r => (r._3, r._4)).toSeq
    val hi = li.filter(_._3 > 25).map(r => (r._3, r._4)).toSeq
    val (_, _, sseLo) = ols(lo)
    val (_, _, sseHi) = ols(hi)
    val f = (sseHi / (hi.length - 2)) / (sseLo / (lo.length - 2))
    val r = SparkEntry.queries("agg_goldfeld_quandt")(spark, sf)
      .collect().head
    assert(r.getLong(0) == hi.length.toLong && r.getLong(1) == lo.length.toLong)
    assert(math.abs(r.getDouble(2) - sseHi) < math.abs(sseHi) * 1e-9 + 1e-3)
    assert(math.abs(r.getDouble(3) - sseLo) < math.abs(sseLo) * 1e-9 + 1e-3)
    assert(math.abs(r.getDouble(4) - f) < 1e-5, "F ratio")
    assert(r.getDouble(4) > 0.0)
  }

  test("page's L matches the doubled-rank census; sum R = b*k*(k+1)") {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val daily = Tables.events(spark, sf)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
               col("event_type")).agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .toMap
    val days = daily.keys.map(_._1).toSeq.distinct
    // doubled rank of type t within day: 2·#{less} + #{equal-others} + 2
    val r2 = for (day <- days; t <- types;
                  c <- daily.get((day, t)).toSeq) yield {
      val others = types.filter(_ != t).flatMap(u => daily.get((day, u)))
      ((t, day),
       2L * others.count(_ < c) + others.count(_ == c) + 2L)
    }
    val rj = types.zipWithIndex.map { case (t, i) =>
      (i + 1L, r2.filter(_._1._1 == t).map(_._2).sum)
    }
    val l2 = rj.map { case (j, r) => j * r }.sum
    val b = days.length.toLong
    val k = types.length.toLong
    assert(rj.map(_._2).sum == b * k * (k + 1), "doubled rank-sum identity")
    val row = SparkEntry.queries("ts_page_trend_test")(spark, sf)
      .collect().head
    assert(row.getLong(0) == l2, "L doubled")
    assert(row.getLong(1) == b && row.getLong(2) == k)
    assert(row.getLong(3) == b * k * (k + 1) * (k + 1) / 2)
    val z = (l2 - b * k * (k + 1) * (k + 1) / 2).toDouble / 2 /
      math.sqrt(b.toDouble * k * k * (k + 1) * (k * k - 1) / 144)
    assert(math.abs(row.getDouble(4) - z) < 1e-5, "z")
  }
}
