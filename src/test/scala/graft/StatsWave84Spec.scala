package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-84 invariants: every statistic recomputed independently in
  * memory from the raw fixture (different code path: Scala collections,
  * not SQL), plus the classical identities each test must satisfy.
  */
class StatsWave84Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def events() = Tables.events(spark, sf)
    .select(col("event_type"), col("user_id"),
            datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
              .cast("bigint").as("t"),
            round(col("value") * 100).cast("bigint").as("c"))
    .collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("wilcoxon signed-rank matches an in-memory rank computation") {
    val ev = events().filter(_._1 == "purchase")
    val byDay = ev.groupBy(_._3).view.mapValues { rows =>
      rows.count(_._2 % 2 == 0).toLong - rows.count(_._2 % 2 == 1)
    }.toMap
    val diffs = byDay.values.filter(_ != 0).toSeq
    val n = diffs.length
    // average ranks of |d| with ties
    val sorted = diffs.map(math.abs).sorted
    def avgRank(v: Long): Double = {
      val lo = sorted.indexOf(v) + 1; val hi = sorted.lastIndexOf(v) + 1
      (lo + hi) / 2.0
    }
    val wPlus = diffs.filter(_ > 0).map(d => avgRank(math.abs(d))).sum
    val r = SparkEntry.queries("agg_wilcoxon_signed_rank")(spark, sf)
      .collect()(0)
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - wPlus) < 1e-9, s"w+ ${r.getDouble(1)} vs $wPlus")
    // identity: W+ + W− = n(n+1)/2
    assert(math.abs(r.getDouble(1) + r.getDouble(2) - n * (n + 1) / 2.0) < 1e-9)
  }

  test("jarque-bera moments match and uniform quantities are platykurtic") {
    val xs = Tables(spark, sf, "lineitem")
      .select(col("l_quantity").cast("bigint")).collect().map(_.getLong(0))
    val n = xs.length.toDouble
    val mu = xs.sum / n
    def m(p: Int) = xs.map(x => math.pow(x - mu, p)).sum / n
    val skew = m(3) / math.pow(m(2), 1.5)
    val kurt = m(4) / (m(2) * m(2)) - 3.0
    val r = SparkEntry.queries("agg_jarque_bera")(spark, sf).collect()(0)
    assert(r.getLong(0) == xs.length)
    assert(math.abs(r.getDouble(1) - skew) < 1e-4, s"skew ${r.getDouble(1)} vs $skew")
    assert(math.abs(r.getDouble(2) - kurt) < 1e-4)
    assert(r.getDouble(2) < 0, "uniform-ish quantities must be platykurtic")
    assert(r.getBoolean(4), "JB must reject normality decisively here")
  }

  test("mood median counts match the in-memory 2xk table") {
    val ev = events()
    val cs = ev.map(_._4).sorted
    val med2 = // doubled median, matching SQL median interpolation
      if (cs.length % 2 == 1) 2 * cs(cs.length / 2)
      else cs(cs.length / 2 - 1) + cs(cs.length / 2)
    val above = ev.count(e => 2 * e._4 > med2).toDouble
    val nTot = ev.length.toDouble
    val chi2 = ev.groupBy(_._1).map { case (_, rows) =>
      val ng = rows.length.toDouble
      val a = rows.count(e => 2 * e._4 > med2).toDouble
      val ea = ng * above / nTot; val eb = ng * (nTot - above) / nTot
      (a - ea) * (a - ea) / ea + ((ng - a) - eb) * ((ng - a) - eb) / eb
    }.sum
    val r = SparkEntry.queries("agg_mood_median_test")(spark, sf).collect()(0)
    assert(r.getLong(0) == 5 && r.getLong(1) == ev.length)
    assert(math.abs(r.getDouble(2) - chi2) < 1e-4, s"chi2 ${r.getDouble(2)} vs $chi2")
  }

  test("chapman capture-recapture matches in-memory window overlap") {
    val ev = events()
    val first = ev.filter(_._3 <= 15).map(_._2).toSet
    val second = ev.filter(_._3 >= 16).map(_._2).toSet
    val m = (first & second).size
    val want = (first.size + 1).toDouble * (second.size + 1) / (m + 1) - 1.0
    val r = SparkEntry.queries("agg_capture_recapture")(spark, sf).collect()(0)
    assert(r.getLong(0) == first.size && r.getLong(1) == second.size &&
           r.getLong(2) == m)
    assert(math.abs(r.getDouble(3) - want) < 1e-6)
    // the estimate can never undershoot either observed sample
    assert(r.getDouble(3) >= math.max(first.size, second.size) - 1e-9)
  }
}
