package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-103 invariants at sf0.001, each against an O(n²) brute-force
  * recomputation the distributed grid machinery must reproduce exactly:
  * Jonckheere's doubled U, Cliff's delta counts, gamma / Somers' D pair
  * censuses, and the Mahalanobis top-10 (plus its mean-d² ≈ 2 identity).
  */
class StatsWave103Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("jonckheere doubled U matches the O(n^2) pair census") {
    val rows = Tables(spark, sf, "orders")
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS INT)"),
              expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val groups = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var jt2 = 0L
    for (i <- 1 to 5; j <- (i + 1) to 5; x <- groups(i); y <- groups(j))
      jt2 += (if (x < y) 2L else if (x == y) 1L else 0L)
    val ns = (1 to 5).map(groups(_).length.toLong)
    val n = ns.sum
    val r = SparkEntry.queries("agg_jonckheere_trend")(spark, sf)
      .collect().head
    assert(r.getLong(0) == jt2, "doubled JT")
    assert(r.getLong(1) == n)
    assert(r.getLong(2) == n * n - ns.map(x => x * x).sum, "doubled E[JT]x2")
    val z = (jt2 - (n * n - ns.map(x => x * x).sum)).toDouble / 2 /
      math.sqrt((n * n * (2 * n + 3) -
                 ns.map(x => x * x * (2 * x + 3)).sum).toDouble / 72)
    assert(math.abs(r.getDouble(3) - z) < 1e-5, "z")
  }

  test("cliff delta matches the O(n^2) dominance census") {
    val rows = Tables(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_returnflag"),
              expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val xs = rows.filter(_._1 == "R").map(_._2)
    val ys = rows.filter(_._1 == "A").map(_._2)
    var (gt, lt, ties) = (0L, 0L, 0L)
    for (x <- xs; y <- ys) {
      if (x > y) gt += 1 else if (x < y) lt += 1 else ties += 1
    }
    val r = SparkEntry.queries("agg_cliff_delta")(spark, sf).collect().head
    assert(r.getLong(0) == xs.length.toLong && r.getLong(1) == ys.length.toLong)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((gt, lt, ties)))
    assert(r.getLong(5) ==
      Math.floorDiv((gt - lt) * 1000000L, xs.length.toLong * ys.length))
    assert(gt + lt + ties == xs.length.toLong * ys.length, "census total")
  }

  test("gamma and somers' D match the pair census identities") {
    val rows = Tables(spark, sf, "lineitem")
      .select(col("l_quantity").cast("bigint"),
              expr("CAST(round(l_discount * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var (conc, disc) = (0L, 0L)
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val ((x1, y1), (x2, y2)) = (rows(i), rows(j))
      if (x1 != x2 && y1 != y2) {
        if ((x1 < x2) == (y1 < y2)) conc += 1 else disc += 1
      }
    }
    val n = rows.length.toLong
    val tX = rows.groupBy(_._1).values
      .map(g => g.length.toLong * (g.length - 1) / 2).sum
    val r = SparkEntry.queries("agg_gamma_somers_d")(spark, sf)
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == ((conc, disc)))
    assert(r.getLong(2) == n * (n - 1) / 2 && r.getLong(3) == tX)
    assert(r.getLong(4) ==
      Math.floorDiv((conc - disc) * 1000000L, conc + disc), "gamma")
    assert(r.getLong(5) ==
      Math.floorDiv((conc - disc) * 1000000L, n * (n - 1) / 2 - tX),
      "somers")
  }

  test("mahalanobis top-10 matches brute force; mean d2 identity holds") {
    val rows = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity").cast("bigint"),
              expr("CAST(round(l_extendedprice) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val n = rows.length.toDouble
    val (mx, my) = (rows.map(_._3).sum / n, rows.map(_._4).sum / n)
    val vx = rows.map(r => (r._3 - mx) * (r._3 - mx)).sum / n
    val vy = rows.map(r => (r._4 - my) * (r._4 - my)).sum / n
    val cxy = rows.map(r => (r._3 - mx) * (r._4 - my)).sum / n
    val det = vx * vy - cxy * cxy
    val d2s = rows.map { r =>
      val (dx, dy) = (r._3 - mx, r._4 - my)
      ((r._1, r._2, r._3, r._4),
       (vy * dx * dx - 2 * cxy * dx * dy + vx * dy * dy) / det)
    }
    // population Mahalanobis: mean d² over all rows = dimension = 2
    assert(math.abs(d2s.map(_._2).sum / n - 2.0) < 1e-6, "mean d2 = p")
    val expect = d2s.sortBy { case ((ok, ln, _, _), d2) => (-d2, ok, ln) }
      .take(10)
    val got = SparkEntry.queries("agg_mahalanobis_top_outliers")(spark, sf)
      .collect()
    assert(got.length == 10)
    got.zip(expect).foreach { case (g, ((ok, ln, x, y), d2)) =>
      assert(g.getLong(0) == ok && g.getInt(1) == ln)
      assert(g.getLong(2) == x && g.getLong(3) == y)
      assert(math.abs(g.getDouble(4) - d2) < 1e-4, s"d2 at ($ok,$ln)")
    }
  }
}
