package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 seventh wave: invariants stronger than the oracle hash alone. */
class Round9gSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("cdc_snapshot_diff: all four classes present, counts reconcile") {
    val out = SparkEntry.queries("cdc_snapshot_diff")(spark, sf).collect()
      .map(r => r.getAs[String]("change_type") -> r).toMap
    assert(out.keySet == Set("insert", "delete", "update", "unchanged"))
    val n = Tables(spark, sf, "orders").count()
    val v1 = out.values.map(_.getAs[Long]("n")).sum
    // every key in v1 ∪ v2 classified exactly once: |v1 ∪ v2| = all keys
    // (v1 misses %10==0, v2 misses %10==1 — union covers everything)
    assert(v1 == n)
    // inserts are v2-only keys: exactly the %10==0 keys
    val ins = Tables(spark, sf, "orders")
      .filter(col("o_orderkey") % 10 === 0).count()
    assert(out("insert").getAs[Long]("n") == ins)
    assert(out("unchanged").getAs[Long]("delta_cents") == 0L)
    assert(out("update").getAs[Long]("delta_cents") ==
      out("update").getAs[Long]("n") * 500L)
  }

  test("agg_ab_test_z: cohorts partition users, z matches hand formula") {
    val r = SparkEntry.queries("agg_ab_test_z")(spark, sf).head()
    val (n0, x0, n1, x1) = (r.getAs[Long]("n0"), r.getAs[Long]("x0"),
      r.getAs[Long]("n1"), r.getAs[Long]("x1"))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(n0 + n1 == users)
    assert(x0 <= n0 && x1 <= n1)
    if (x0 + x1 > 0 && x0 + x1 < n0 + n1) {
      val p = (x0 + x1).toDouble / (n0 + n1)
      val z = (x0.toDouble / n0 - x1.toDouble / n1) /
        math.sqrt(p * (1 - p) * (1.0 / n0 + 1.0 / n1))
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-6)
    } else assert(r.getAs[Double]("z") == 0.0)
  }

  test("agg_pct_of_total: shares sum to 1 per returnflag") {
    val out = SparkEntry.queries("agg_pct_of_total")(spark, sf).collect()
    val byFlag = out.groupBy(_.getAs[String]("l_returnflag"))
    for ((_, rows) <- byFlag) {
      val s = rows.map(_.getAs[Double]("share")).sum
      assert(math.abs(s - 1.0) < 1e-5, s"shares sum to $s")
    }
  }

  test("window_pct_change matches a sequential recompute for one user") {
    val out = SparkEntry.queries("window_pct_change")(spark, sf).collect()
    assert(out.nonEmpty)
    val uid = out.head.getAs[Long]("user_id")
    val seq = Tables.events(spark, sf).filter(col("user_id") === uid)
      .select(col("event_id"), round(col("value") * 100).cast("bigint").as("c"))
      .orderBy("event_id").collect()
    val expected = seq.sliding(2).collect {
      case Array(a, b) if a.getAs[Long]("c") != 0 =>
        val (num, den) = (b.getAs[Long]("c") - a.getAs[Long]("c"), a.getAs[Long]("c"))
        val sign = if (num * den < 0) -1L else 1L
        (b.getAs[Long]("event_id"),
         sign * ((math.abs(num) * 2000000L + math.abs(den)) / (2 * math.abs(den))))
    }.toMap
    val got = out.filter(_.getAs[Long]("user_id") == uid)
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("pct_change_ppm")).toMap
    assert(got.keySet == expected.keySet)
    for ((k, v) <- expected)
      assert(got(k) == v, s"event $k: got ${got(k)} want $v")
  }
}
