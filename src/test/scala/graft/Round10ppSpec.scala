package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-46 bound: the experimentation-platform statistics hold their
  * defining algebraic identities against an independent recomputation
  * from the raw events table.
  */
class Round10ppSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_diff_in_diff: estimate equals the cell-mean identity") {
    val r = SparkEntry.queries("agg_diff_in_diff")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val Seq(mtp, mtpre, mcp, mcpre, did) = (0 until 5).map(row.getDouble)
    // the estimate must be the interaction of its own published cell means
    assert(math.abs(did - ((mtp - mtpre) - (mcp - mcpre))) < 2e-6)
    assert(Seq(mtp, mtpre, mcp, mcpre).forall(_ > 0.0))
  }

  test("agg_srm_check: arm counts conserve the distinct-user total") {
    val row = SparkEntry.queries("agg_srm_check")(spark, sf).collect().head
    val (nt, nc, chi2) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(nt + nc == users, s"arm counts $nt+$nc != $users users")
    // published chi2 must match its own counts (2-cell, 50/50 expected)
    val d = (nt - nc).toDouble
    assert(math.abs(chi2 - d * d / (nt + nc)) < 2e-6)
  }

  test("agg_cuped_adjustment: adjusted means preserve the outcome total") {
    val rows = SparkEntry.queries("agg_cuped_adjustment")(spark, sf).collect()
    assert(rows.length == 2)
    // CUPED is mean-preserving: sum_a n_a * adj_a == sum_a n_a * raw_a
    // (the theta terms telescope: sum_a n_a (xbar_a - xbar) = 0).
    val rawTot = rows.map(r => r.getLong(1) * r.getDouble(2)).sum
    val adjTot = rows.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(rawTot - adjTot) / math.max(1.0, math.abs(rawTot)) < 1e-6,
           s"mean preservation violated: raw=$rawTot adj=$adjTot")
    // variance reduction is the point: adjusted arm means pull toward
    // each other unless the covariate is uncorrelated — assert they are
    // finite and the arms stayed distinct units
    assert(rows.map(_.getInt(0)).toSet == Set(0, 1))
  }
}
