package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Waves 101–102 invariants at sf0.001, each against a brute-force
  * in-memory recomputation: the 2×2 measure suite from raw cell counts
  * (plus the OR/RR/Q consistency identities), Cochran's Q from per-user
  * treatment triples, and every R/S block ratio from a sequential scan.
  */
class StatsWave101Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("2x2 measures match raw cell counts and each other") {
    val urgent = Tables(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val cust = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val a = cust.count(c => c._2 > 5000.0 && urgent(c._1)).toLong
    val b = cust.count(c => c._2 > 5000.0 && !urgent(c._1)).toLong
    val cc = cust.count(c => c._2 <= 5000.0 && urgent(c._1)).toLong
    val dd = cust.count(c => c._2 <= 5000.0 && !urgent(c._1)).toLong
    val r = SparkEntry.queries("agg_epi_2x2_measures")(spark, sf)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((a, b, cc, dd)))
    assert(r.getLong(4) == a * dd * 1000000L / (b * cc), "OR ppm")
    assert(r.getLong(5) == a * (cc + dd) * 1000000L / (cc * (a + b)), "RR")
    assert(r.getLong(6) ==
      (a * dd - b * cc) * 1000000L / (a * dd + b * cc), "Yule Q")
    val phi = (a * dd - b * cc).toDouble /
      math.sqrt(((a + b) * (cc + dd) * (a + cc) * (b + dd)).toDouble)
    assert(math.abs(r.getDouble(7) - phi) < 1e-6, "phi")
    // Yule's Q = (OR−1)/(OR+1): consistency between the two measures
    val or = a.toDouble * dd / (b * cc)
    assert(math.abs(r.getLong(6).toDouble / 1e6 - (or - 1) / (or + 1)) < 1e-3)
  }

  test("cochran q matches per-user treatment triples") {
    val per = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues { evs =>
        def heavy(t: String) = if (evs.count(_._2 == t) >= 14) 1L else 0L
        (heavy("click"), heavy("view"), heavy("purchase"))
      }.toMap
    val (c1, c2, c3) = (per.values.map(_._1).sum, per.values.map(_._2).sum,
                        per.values.map(_._3).sum)
    val rs = per.values.map(t => t._1 + t._2 + t._3)
    val (sr, sr2) = (rs.sum, rs.map(x => x * x).sum)
    val q = 2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) -
                   (c1 + c2 + c3) * (c1 + c2 + c3)) / (3 * sr - sr2)
    val r = SparkEntry.queries("agg_cochran_q")(spark, sf).collect().head
    assert(r.getLong(0) == per.size.toLong)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((c1, c2, c3)))
    assert(r.getLong(4) == 2L, "dof")
    assert(3 * sr != sr2, "fixture gives a non-degenerate denominator")
    assert(math.abs(r.getDouble(5) - q) < 1e-5, "Q")
    assert(r.getDouble(5) >= 0.0, "Q is a scaled sum of squares")
  }

  test("hurst R/S ratios match a sequential per-block scan") {
    val hourly = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 3600000000")).collect()
      .map(_.getLong(0)).groupBy(identity).view
      .mapValues(_.length.toLong).toSeq.sortBy(_._1)
    val expect = (for (scale <- Seq(24L, 72L)) yield {
      hourly.groupBy { case (hr, _) => hr / scale }.toSeq
        .filter(_._2.length >= 8)
        .flatMap { case (block, rows) =>
          val xs = rows.sortBy(_._1).map(_._2)
          val n = xs.length
          val s1 = xs.sum
          val s2 = xs.map(x => x * x).sum
          val sd = math.sqrt((s2.toDouble - s1.toDouble * s1 / n) / n)
          if (sd <= 0) None
          else {
            var cum = 0L
            val devs = xs.zipWithIndex.map { case (x, i) =>
              cum += x
              cum.toDouble - (i + 1).toDouble * s1 / n
            }
            Some(((scale, block), (n.toLong, devs.max - devs.min, sd)))
          }
        }
    }).flatten.toMap
    val got = SparkEntry.queries("ts_hurst_rescaled_range")(spark, sf)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, (n, range, sd)) =>
      val (gn, grs) = got(k)
      assert(gn == n, s"n_hours at $k")
      assert(math.abs(grs - range / sd) < 1e-5, s"rs at $k")
      assert(grs >= 0.0, "R/S is nonnegative")
    }
  }
}
