package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-52 bounds: McNemar discordance reconciles with the classifier's
  * own confusion counts; calibration bins conserve the population and
  * bound every ppm; the PSI fold is non-negative and reconciles with a
  * driver-side recomputation.
  */
class Round10vvSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_mcnemar_test discordance matches a driver-side recomputation") {
    val row = SparkEntry.queries("agg_mcnemar_test")(spark, sf).collect().head
    val responders = Tables(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1998)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val cust = Tables(spark, sf, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment").collect()
    val triples = cust.map { r =>
      val truth = if (responders(r.getLong(0))) 1 else 0
      val pa = if (r.getDouble(1) >= 4500) 1 else 0
      val pb = if (Set("BUILDING", "AUTOMOBILE")(r.getString(2))) 1 else 0
      (truth, pa, pb)
    }
    val b = triples.count { case (t, a, bb) => a == t && bb != t }.toLong
    val c = triples.count { case (t, a, bb) => a != t && bb == t }.toLong
    assert(row.getLong(0) == triples.length.toLong)
    assert(row.getLong(1) == b && row.getLong(2) == c)
    assert(b + c > 0, "the paired rules must disagree somewhere")
    val chi = math.pow(math.abs(b - c) - 1.0, 2) / (b + c)
    assert(math.abs(row.getDouble(3) - chi) < 1e-6)
  }

  test("agg_calibration_bins conserves the population with bounded ppms") {
    val rows = SparkEntry.queries("agg_calibration_bins")(spark, sf).collect()
    val total = Tables(spark, sf, "customer").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val bin = r.getLong(0)
      assert(bin >= 0 && bin <= 9)
      val mp = r.getLong(2); val obs = r.getLong(3)
      assert(mp >= 0 && mp <= 1000000 && obs >= 0 && obs <= 1000000)
      assert(r.getLong(4) == math.abs(mp - obs))
      // bin i's mean predicted probability sits inside the bin's band
      // (bin 9 is the clamp bucket, so only the lower edge binds there)
      assert(mp >= bin * 100000 - 1)
      if (bin < 9) assert(mp <= (bin + 1) * 100000)
    }
  }

  test("ts_psi_drift reconciles with a smoothed driver recomputation") {
    val rows = SparkEntry.queries("ts_psi_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    val e = Tables.events(spark, sf)
      .select(expr("least(cast(round(value * 100) as bigint) div 2000L, 24L)")
                .as("band"),
              (col("ts").cast("date") < to_date(lit("2024-01-16"))).as("pre"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val ta = e.count(_._2).toLong; val tb = e.count(!_._2).toLong
    val byBand = e.groupBy(_._1)
    assert(rows.length == byBand.size)
    var psi = 0.0
    rows.foreach { r =>
      val xs = byBand(r.getLong(0))
      val na = xs.count(_._2).toLong; val nb = xs.count(!_._2).toLong
      assert(r.getLong(1) == na && r.getLong(2) == nb)
      val p = ((na + 1) * 2000000L + ta + 25) / (2 * (ta + 25))
      val q = ((nb + 1) * 2000000L + tb + 25) / (2 * (tb + 25))
      assert(r.getLong(3) == p && r.getLong(4) == q)
      val term = (p - q).toDouble / 1e6 * (math.log(p.toDouble) - math.log(q.toDouble))
      assert(math.abs(r.getDouble(5) - term) < 1e-6)
      assert(term >= -1e-12, "every PSI term is non-negative")
      psi += term
    }
    assert(psi >= 0.0 && psi < 0.5, s"PSI total $psi out of the stable range")
  }
}
