package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 eighteenth wave: invariants stronger than the oracle hash alone. */
class Round9rSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_discrete_hazard: at-risk telescopes, hazards within [0,1]") {
    val out = SparkEntry.queries("ts_discrete_hazard")(spark, sf).collect()
      .sortBy(_.getAs[Long]("k"))
    assert(out.nonEmpty)
    // at_risk(k) = at_risk(k+1) + events(k) for consecutive observed weeks
    for (Array(a, b) <- out.sliding(2).map(_.toArray)
         if b.getAs[Long]("k") == a.getAs[Long]("k") + 1)
      assert(a.getAs[Long]("n_at_risk") ==
        b.getAs[Long]("n_at_risk") + a.getAs[Long]("n_events"))
    assert(out.forall(r => r.getAs[Long]("hazard_ppm") <= 1000000L))
    // the first observed week's at-risk is the total gap count
    val orders = Tables(spark, sf, "orders")
    val totalGaps = orders.count() - orders.select("o_custkey").distinct().count()
    assert(out.head.getAs[Long]("n_at_risk") == totalGaps)
    // the capped terminal week has hazard 1 by construction
    assert(out.last.getAs[Long]("k") == 12L ||
      out.last.getAs[Long]("hazard_ppm") == 1000000L)
  }

  test("graph_assortativity: bounded coefficient over the symmetric edge set") {
    val r = SparkEntry.queries("graph_assortativity")(spark, sf).head()
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9)
    assert(r.getAs[Long]("m") % 2 == 0, "symmetrized edge count is even")
  }

  test("agg_lorenz_curve: shares increase to 1, convexity holds") {
    val out = SparkEntry.queries("agg_lorenz_curve")(spark, sf).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(out.last.getAs[Long]("cum_share_ppm") == 1000000L)
    val shares = out.map(_.getAs[Long]("cum_share_ppm"))
    assert(shares.zip(shares.tail).forall { case (a, b) => b >= a })
    // customers partition exactly
    val nCust = Tables(spark, sf, "orders").select("o_custkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_cust")).sum == nCust)
    // Lorenz convexity: later deciles hold at least the mean share
    val n = out.map(_.getAs[Long]("n_cust")).sum.toDouble
    val tot = out.map(_.getAs[Long]("cents")).sum.toDouble
    val topShare = out.last.getAs[Long]("cents") / tot
    val topFrac = out.last.getAs[Long]("n_cust") / n
    assert(topShare >= topFrac - 1e-9,
      "the richest decile must hold at least its population share")
  }
}
