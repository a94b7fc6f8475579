package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-99 invariants, each against a brute-force in-memory recomputation
  * at sf0.001: the χ² statistic and Cramér's V over the priority×status
  * grid; the 1-D Wasserstein distance as the exact mean |quantile
  * coupling| (equal-n identity checked against the CDF-integral form);
  * the energy distance's non-negativity and its brute-force O(n²) value;
  * and the uplift ppm arithmetic from raw per-user flags.
  */
class StatsWave99Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private lazy val prices: Map[String, Array[Long]] = {
    val rows = Tables(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_returnflag"),
              expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
  }

  test("chi-square independence matches the in-memory contingency recompute") {
    val cells = Tables(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = cells.length.toLong
    val rt = cells.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = cells.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val obs = cells.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val chi2 = (for (r <- rt.keys.toSeq.sorted; c <- ct.keys.toSeq.sorted)
      yield {
        val o = obs.getOrElse((r, c), 0L)
        val d = (n * o - rt(r) * ct(c)).toDouble
        d * d / (n * rt(r) * ct(c)).toDouble
      }).sum
    val row = SparkEntry.queries("agg_chisq_independence")(spark, sf)
      .collect().head
    assert(row.getLong(0) == n)
    assert(row.getLong(1) == (rt.size - 1).toLong * (ct.size - 1))
    assert(math.abs(row.getDouble(2) - chi2) < 1e-4, "chi2")
    val v = math.sqrt(chi2 / (n * math.min(rt.size - 1, ct.size - 1)))
    assert(math.abs(row.getDouble(3) - v) < 1e-6, "cramers_v")
  }

  test("wasserstein-1d equals the brute-force CDF integral") {
    val (xs, ys) = (prices("R"), prices("A"))
    val grid = (xs ++ ys).distinct.sorted
    var w1 = 0.0
    for (i <- 0 until grid.length - 1) {
      val v = grid(i)
      val fx = xs.count(_ <= v).toDouble / xs.length
      val fy = ys.count(_ <= v).toDouble / ys.length
      w1 += math.abs(fx - fy) * (grid(i + 1) - v)
    }
    val row = SparkEntry.queries("agg_wasserstein_1d")(spark, sf)
      .collect().head
    assert(row.getLong(0) == xs.length.toLong)
    assert(row.getLong(1) == ys.length.toLong)
    assert(math.abs(row.getDouble(2) - w1) < 1e-3, s"w1 ${row.getDouble(2)} vs $w1")
  }

  test("energy distance equals the brute-force pairwise value, >= 0") {
    val (xs, ys) = (prices("R"), prices("A"))
    def meanAbs(a: Array[Long], b: Array[Long]): Double = {
      var s = 0.0
      for (x <- a; y <- b) s += math.abs(x - y)
      s / (a.length.toDouble * b.length)
    }
    val d2 = 2 * meanAbs(xs, ys) - meanAbs(xs, xs) - meanAbs(ys, ys)
    val row = SparkEntry.queries("agg_energy_distance_1d")(spark, sf)
      .collect().head
    val got = row.getDouble(2)
    assert(got >= -1e-9, "energy distance is non-negative")
    assert(math.abs(got - d2) < math.max(1e-3, d2.abs * 1e-6),
      s"energy $got vs brute $d2")
  }

  test("uplift ppm matches raw per-user recompute") {
    val per = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(evs => if (evs.exists(_._2 == "purchase")) 1L else 0L)
      .toMap
    val rows = SparkEntry.queries("agg_uplift_by_segment")(spark, sf)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val seg = r.getLong(0)
      // toSeq: per.keys is a Set, and Set.map would collapse the 0/1
      // conversion flags before the sum
      val users = per.keys.toSeq.filter(u => (u % 6) / 2 == seg)
      // treated ⇔ (u % 6) % 2 == 1 ⇔ user_id odd (the query's labeling)
      val (t, c) = users.partition(_ % 2 == 1)
      assert(r.getLong(1) == t.size.toLong, "n_t")
      assert(r.getLong(3) == c.size.toLong, "n_c")
      val convT = t.map(per).sum
      val convC = c.map(per).sum
      assert(r.getLong(2) == convT && r.getLong(4) == convC)
      assert(r.getLong(5) ==
        convT * 1000000L / t.size - convC * 1000000L / c.size)
    }
  }
}
