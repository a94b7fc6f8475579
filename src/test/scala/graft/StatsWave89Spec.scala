package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-89 invariants: the permutation test's exceed count equals an
  * in-memory replay of the SAME md5 re-randomizations; beta-binomial
  * shrinkage contracts every day toward the prior mean.
  */
class StatsWave89Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("permutation test matches an in-memory md5 replay") {
    val ev = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("bigint"),
              col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.length
    val tObs = mean(ev.filter(_._3 % 2 == 0).map(_._2).toSeq) -
               mean(ev.filter(_._3 % 2 == 1).map(_._2).toSeq)
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def lastHexEven(s: String): Boolean = {
      val h = mdig.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "02468ace".contains(h.last)
    }
    val exceed = (0 until 200).count { b =>
      val (a, rest) = ev.partition(e => lastHexEven(s"${e._1}:$b"))
      val t = mean(a.map(_._2).toSeq) - mean(rest.map(_._2).toSeq)
      math.abs(t) >= math.abs(tObs)
    }
    val r = SparkEntry.queries("agg_permutation_test")(spark, sf).collect()(0)
    assert(math.abs(r.getDouble(2) -
                    math.rint(tObs * 1e6) / 1e6) < 1e-9)
    assert(r.getLong(3) == 200)
    assert(r.getLong(4) == exceed, s"exceed ${r.getLong(4)} vs $exceed")
    assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0)
  }

  test("beta-binomial shrinkage contracts toward the prior mean") {
    val rows = SparkEntry.queries("agg_beta_binomial_shrinkage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getDouble(4), r.getDouble(5),
                           r.getDouble(6)))
    assert(rows.length == 30)
    val alpha = rows.head._6; val beta = rows.head._7
    assert(alpha > 0 && beta > 0, s"MoM prior must be proper: $alpha, $beta")
    val prior = alpha / (alpha + beta)
    rows.foreach { case (t, n, conv, raw, shrunk, _, _) =>
      assert(math.abs(shrunk - prior) <= math.abs(raw - prior) + 1e-9,
             s"day $t must contract toward the prior mean")
      // posterior mean is strictly between raw rate and prior mean
      assert(shrunk >= math.min(raw, prior) - 1e-9 &&
             shrunk <= math.max(raw, prior) + 1e-9)
    }
  }
}
