package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-56 bounds: the MDE formula reconciles with a driver recompute
  * (and shrinks with √n); raking hits both uniform margins and is stable
  * under doubled iterations (fixpoint reached).
  */
class Round10zzSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_power_analysis_mde matches a from-scratch recompute") {
    val rows = SparkEntry.queries("agg_power_analysis_mde")(spark, sf).collect()
    assert(rows.length == 5)
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("bigint"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    rows.foreach { r =>
      val xs = raw(r.getString(0)).map(_._2)
      val n = xs.length.toLong
      val sc = xs.sum; val q = xs.map(x => x * x).sum
      val varc = (q.toDouble - sc.toDouble * sc / n) / (n - 1)
      val mdeAbs = (1.959964 + 0.841621) *
        math.sqrt(2.0 * varc / (n.toDouble / 2.0)) / 100.0
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - sc.toDouble / n / 100.0) < 1e-5)
      assert(math.abs(r.getDouble(3) - math.sqrt(varc) / 100.0) < 1e-5)
      assert(math.abs(r.getDouble(4) - mdeAbs) < 1e-5)
      assert(math.abs(r.getDouble(5) - mdeAbs * 100.0 / (sc.toDouble / n)) < 1e-5)
      assert(r.getDouble(4) > 0 && r.getDouble(5) > 0)
    }
  }

  test("agg_ipf_raking hits both uniform margins at the fixpoint") {
    val rows = SparkEntry.queries("agg_ipf_raking")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                 r.getDouble(3), r.getDouble(4)))
    val total = rows.map(_._3).sum.toDouble
    val nations = rows.map(_._1).distinct
    val segments = rows.map(_._2).distinct
    val rowT = total / nations.length
    val colT = total / segments.length
    nations.foreach { nk =>
      val s = rows.filter(_._1 == nk).map(_._5).sum
      assert(math.abs(s - rowT) < 1e-3, s"nation $nk margin $s vs $rowT")
    }
    segments.foreach { sg =>
      val s = rows.filter(_._2 == sg).map(_._5).sum
      assert(math.abs(s - colT) < 1e-3, s"segment $sg margin $s vs $colT")
    }
    // weights positive; raked = weight * n (to rounding)
    rows.foreach { case (_, _, n, w, raked) =>
      assert(w > 0)
      assert(math.abs(raked - w * n) < 2e-3)
    }
    // total mass conserved
    assert(math.abs(rows.map(_._5).sum - total) < 1e-2)
  }
}
