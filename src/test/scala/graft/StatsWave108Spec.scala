package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Waves 108–109 invariants at sf0.001: HHI against a literal share
  * recompute (plus the 1/n ≤ HHI ≤ 1 bounds), Brier/ECE/lift from the
  * raw hash scores, and drawdown/%K from sequential scans of the daily
  * revenue curve.
  */
class StatsWave108Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private lazy val scored: Array[(Long, Long)] = Tables.events(spark, sf)
    .select(expr("pmod(CAST(conv(substring(md5(CAST(event_id AS STRING))," +
                 " 1, 8), 16, 10) AS BIGINT), 1000)"),
            when(col("event_type") === "purchase", 1L).otherwise(0L))
    .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("herfindahl matches the share recompute and its bounds") {
    val rev = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sf, "nation"),
            col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_suppkey"),
              expr("CAST(round(l_extendedprice / 1000) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = SparkEntry.queries("agg_herfindahl_hhi")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rev.groupBy(_._1).foreach { case (nation, rows) =>
      val bySupp = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
      val tot = bySupp.values.sum
      val sq = bySupp.values.map(d => d * d).sum
      val (nSupp, hhi) = got(nation)
      assert(nSupp == bySupp.size.toLong, s"suppliers at $nation")
      assert(hhi == sq * 1000000L / (tot * tot), s"hhi at $nation")
      // equal-shares lower bound 1e6/n, monopoly upper bound 1e6
      assert(hhi >= 1000000L / bySupp.size - 1 && hhi <= 1000000L)
    }
  }

  test("brier and ECE match the raw hash-score recompute") {
    val n = scored.length.toLong
    val brierNum = scored.map { case (k, y) =>
      val dKy = k - 1000 * y; dKy * dKy }.sum
    val eceNum = scored.groupBy(_._1 / 100).values.map { b =>
      math.abs(1000 * b.map(_._2).sum - b.map(_._1).sum) }.sum
    val r = SparkEntry.queries("agg_brier_ece")(spark, sf).collect().head
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - brierNum.toDouble / (1e6 * n)) < 1e-6)
    assert(math.abs(r.getDouble(2) - eceNum.toDouble / (1000.0 * n)) < 1e-6)
    // a hash score carries no signal: Brier ≈ p(1-p) + variance of score,
    // and must never exceed the trivial bound 1
    assert(r.getDouble(1) > 0 && r.getDouble(1) <= 1.0)
  }

  test("decile lift matches the recompute; lifts average to 1") {
    val byD = scored.groupBy(_._1 / 100).view
      .mapValues(b => (b.length.toLong, b.map(_._2).sum)).toMap
    val n = scored.length.toLong
    val conv = scored.map(_._2).sum
    val rows = SparkEntry.queries("agg_lift_curve_decile")(spark, sf)
      .collect()
    assert(rows.length == byD.size)
    var weighted = 0L
    rows.foreach { r =>
      val (nD, convD) = byD(r.getLong(0))
      assert(r.getLong(1) == nD && r.getLong(2) == convD)
      assert(r.getLong(3) == convD * 1000000L / nD)
      assert(r.getLong(4) == convD * n * 1000000L / (nD * conv))
      weighted += r.getLong(4) * nD
    }
    // Σ n_d·lift_d ≈ N·1e6 (floor-division slack ≤ one ppm per row)
    assert(math.abs(weighted - n * 1000000L) <= n)
  }

  test("max drawdown and stochastic %K match sequential scans") {
    val daily = Tables(spark, sf, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"),
              expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    var (cum, peak, maxDd, troughDay, peakAt) = (0L, Long.MinValue, -1L, -1L, 0L)
    daily.foreach { case (day, c) =>
      cum += c; peak = math.max(peak, cum)
      val dd = peak - cum
      if (dd > maxDd) { maxDd = dd; troughDay = day; peakAt = peak }
    }
    val r = SparkEntry.queries("ts_max_drawdown")(spark, sf).collect().head
    assert(r.getLong(0) == maxDd && r.getLong(1) == troughDay &&
           r.getLong(2) == peakAt)
    val ks = SparkEntry.queries("ts_stochastic_osc")(spark, sf).collect()
      .map(r2 => (r2.getLong(0), if (r2.isNullAt(2)) -1L else r2.getLong(2)))
      .toMap
    val xs = daily.map(_._2)
    daily.zipWithIndex.foreach { case ((day, v), i) =>
      val win = xs.slice(math.max(0, i - 13), i + 1)
      val (lo, hi) = (win.min, win.max)
      val expect = if (hi == lo) -1L else (v - lo) * 1000000L / (hi - lo)
      assert(ks(day) == expect, s"%K at $day")
    }
  }
}
