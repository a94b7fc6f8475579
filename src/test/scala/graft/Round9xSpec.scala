package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 twenty-fourth wave: invariants stronger than the oracle hash alone. */
class Round9xSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("window_turning_points: alternation bound and interior count") {
    val out = SparkEntry.queries("window_turning_points")(spark, sf).collect()
    for (r <- out) {
      val (n, p, t) = (r.getAs[Long]("n_interior"), r.getAs[Long]("n_peaks"),
        r.getAs[Long]("n_troughs"))
      assert(p + t <= n)
      // peaks and troughs strictly alternate, so they differ by at most 1
      assert(math.abs(p - t) <= 1, s"peaks $p troughs $t must alternate")
    }
    val ev = Tables.events(spark, sf)
    val interiorTotal = ev.count() - 2 * ev.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_interior")).sum == interiorTotal)
  }

  test("scalar_luhn_check: every minted number passes independent validation") {
    val out = SparkEntry.queries("scalar_luhn_check")(spark, sf).collect()
    def luhnValid(num: String): Boolean = {
      val digits = num.reverse.map(_ - '0')
      val s = digits.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      s % 10 == 0
    }
    assert(out.nonEmpty)
    assert(out.forall(r => luhnValid(r.getAs[String]("account_number"))),
      "the appended check digit must satisfy the standard Luhn validation")
    assert(out.forall(r => r.getAs[String]("account_number").length == 9))
  }
}
