package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 nineteenth wave: invariants stronger than the oracle hash alone. */
class Round9sSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("tpch_q7: no same-nation pairs, both roles of nation exercised") {
    val out = SparkEntry.queries("tpch_q7")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r =>
      r.getAs[String]("supp_nation") != r.getAs[String]("cust_nation")))
    // role-playing: some nation appears on BOTH sides across the result
    val supp = out.map(_.getAs[String]("supp_nation")).toSet
    val cust = out.map(_.getAs[String]("cust_nation")).toSet
    assert(supp.intersect(cust).nonEmpty)
    assert(out.forall(r => {
      val y = r.getAs[Int]("l_year"); y == 1996 || y == 1997
    }))
  }

  test("window_runlength_encode: runs tile each user's sequence exactly") {
    val out = SparkEntry.queries("window_runlength_encode")(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(out.map(_.getAs[Long]("run_len")).sum == nEvents,
      "run lengths must sum to the event count")
    // adjacent runs for one user never share a type (maximality)
    val uid = out.head.getAs[Long]("user_id")
    val runs = out.filter(_.getAs[Long]("user_id") == uid)
      .sortBy(_.getAs[Long]("first_event")).map(_.getAs[String]("event_type"))
    assert(runs.zip(runs.tail).forall { case (a, b) => a != b },
      "adjacent runs must differ in type, else they weren't maximal")
  }

  test("agg_cohens_d matches the hand formula from raw data") {
    val r = SparkEntry.queries("agg_cohens_d")(spark, sf).head()
    def stats(t: String) = {
      val vs = Tables.events(spark, sf).filter(col("event_type") === t)
        .select(round(col("value") * 100).cast("bigint")).collect()
        .map(_.getLong(0).toDouble)
      (vs.length, vs.sum / vs.length,
       vs.map(v => v * v).sum - vs.sum * vs.sum / vs.length)
    }
    val (n1, m1, ssd1) = stats("click")
    val (n2, m2, ssd2) = stats("error")
    val d = (m1 - m2) / math.sqrt((ssd1 + ssd2) / (n1 + n2 - 2))
    assert(math.abs(r.getAs[Double]("cohens_d") - d) < 1e-5)
  }
}
