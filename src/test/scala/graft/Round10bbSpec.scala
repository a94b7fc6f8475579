package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 wave 28: fixpoint and containment checks. */
class Round10bbSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_markov_stationary: a probability vector fixed under the transition matrix") {
    val out = SparkEntry.queries("agg_markov_stationary")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("stationary_p"))
    assert(out.length == 5)
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-6)
    assert(out.forall(_._2 > 0.0))
    // rebuild P and check the fixpoint residual
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
              col("event_id"), col("event_type"))
      .collect().groupBy(_.getLong(0))
    val counts = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    for ((_, rows) <- ev) {
      val seq = rows.sortBy(r => (r.getLong(1), r.getLong(2))).map(_.getString(3))
      seq.zip(seq.tail).foreach(p => counts(p) += 1)
    }
    val states = out.map(_._1)
    val pi = out.toMap
    for (j <- states) {
      val pj = states.map { i =>
        val rowSum = states.map(k => counts((i, k))).sum.toDouble
        pi(i) * counts((i, j)) / rowSum
      }.sum
      assert(math.abs(pj - pi(j)) < 1e-6, s"fixpoint violated at $j: $pj vs ${pi(j)}")
    }
  }

  test("agg_markov_stationary is deterministic across runs") {
    val q = SparkEntry.queries("agg_markov_stationary")
    assert(q(spark, sf).collect().toSeq == q(spark, sf).collect().toSeq)
  }

  test("join_point_in_rect matches a driver-side containment scan") {
    val out = SparkEntry.queries("join_point_in_rect")(spark, sf).collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[Long]("n_inside")).toMap
    val pts = Tables(spark, sf, "customer").select("c_custkey").collect()
      .map(_.getLong(0)).map(k => (k * 17 % 12000, k * 31 % 36000))
    val rects = Tables(spark, sf, "nation").select("n_nationkey").collect()
      .map(_.getAs[Number](0).longValue).map { n =>
        n -> (n % 5 * 2400, n % 5 * 2400 + 2400, n * 1440 % 36000, n * 1440 % 36000 + 7200)
      }
    val expect = rects.map { case (n, (la, lb, va, vb)) =>
      n -> pts.count { case (slat, slon) =>
        slat >= la && slat < lb && slon >= va && slon < vb
      }.toLong
    }.filter(_._2 > 0).toMap
    assert(out == expect)
  }
}
