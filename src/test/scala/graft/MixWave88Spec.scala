package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-88 invariants: the Neyman allocation sums exactly to the
  * budget, each stratum gets floor(exact) or floor(exact)+1, and the
  * shares match an in-memory recomputation.
  */
class MixWave88Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("neyman allocation: budget-exact, largest-remainder, share match") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("bigint"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val per = ev.groupBy(_._1).view.mapValues { rows =>
      val cs = rows.map(_._2.toDouble)
      val n = cs.length.toDouble
      val sd = math.sqrt((n * cs.map(c => c * c).sum - cs.sum * cs.sum) /
                         (n * (n - 1)))
      (rows.length.toLong, sd)
    }.toMap
    val tshare = per.toSeq.sortBy(_._1).map { case (_, (n, sd)) => n * sd }.sum
    val rows = SparkEntry.queries("sample_stratified_neyman")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
                           r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._5).sum == 1000L, "allocations must sum to the budget")
    rows.foreach { case (g, nh, sd, exact, alloc) =>
      val (wantN, wantSd) = per(g)
      assert(nh == wantN)
      assert(math.abs(sd - wantSd) < 1e-4, s"sd at $g: $sd vs $wantSd")
      val wantExact = 1000.0 * wantN * wantSd / tshare
      assert(math.abs(exact - wantExact) < 1e-3, s"exact at $g")
      assert(alloc == math.floor(exact).toLong ||
             alloc == math.floor(exact).toLong + 1,
             s"alloc at $g must be floor or floor+1")
    }
  }
}
