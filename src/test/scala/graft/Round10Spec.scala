package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves: invariants stronger than the oracle hash alone — each
  * test recomputes the quantity a different way (or checks a structural
  * identity) so a shared bug in the query and its oracle can't hide.
  */
class Round10Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("tpch_q14: promo share is a true partition of total revenue") {
    val r = SparkEntry.queries("tpch_q14")(spark, sf).collect()(0)
    val promo = r.getAs[Long]("promo_revenue_c")
    val total = r.getAs[Long]("total_revenue_c")
    assert(promo >= 0 && promo <= total)
    // recompute the non-promo complement directly
    Tables.views(spark, sf)
    val nonPromo = spark.sql(
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS c
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND p_type <> 'PROMO'""".stripMargin).collect()(0).getAs[Long]("c")
    assert(promo + nonPromo == total)
  }

  test("tpch_q15: returned suppliers all carry the global max revenue") {
    val out = SparkEntry.queries("tpch_q15")(spark, sf).collect()
    assert(out.nonEmpty)
    val revs = out.map(_.getAs[Long]("total_revenue_c")).distinct
    assert(revs.length == 1, "every returned supplier ties the max")
  }

  test("tpch_q4 counts orders, never lineitem multiplicities") {
    val out = SparkEntry.queries("tpch_q4")(spark, sf)
    val total = out.agg(sum("order_count")).collect()(0).getLong(0)
    Tables.views(spark, sf)
    val distinctOrders = spark.sql(
      """SELECT count(DISTINCT o_orderkey) AS n FROM orders JOIN lineitem
        |ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY""".stripMargin)
      .collect()(0).getAs[Long]("n")
    assert(total == distinctOrders)
  }

  test("tpch_q22: cohort is inactive (anti) and strictly above average") {
    Tables.views(spark, sf)
    val out = SparkEntry.queries("tpch_q22")(spark, sf)
    val picked = out.agg(sum("numcust")).collect()(0).getLong(0)
    // independently: customers with positive balance, no recent order,
    // balance strictly above the float average of the positive cohort —
    // the integer cross-multiply must agree with the float comparison
    // here because no balance ties the average to the ulp.
    val n = spark.sql(
      """WITH pos AS (SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS b
        |             FROM customer WHERE c_acctbal > 0.0)
        |SELECT count(*) AS n FROM pos
        |WHERE b > (SELECT avg(b) FROM pos)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |""".stripMargin).collect()(0).getAs[Long]("n")
    assert(picked == n)
  }

  test("agg_entropy_bygroup: entropy bounded by log2(#types), zero for single-type users") {
    val out = SparkEntry.queries("agg_entropy_bygroup")(spark, sf).collect()
    assert(out.nonEmpty)
    val maxBits = math.log(5.0) / math.log(2.0) + 1e-9
    for (r <- out) {
      val h = r.getAs[Double]("entropy_bits")
      assert(h >= -1e-9 && h <= maxBits, s"entropy $h out of [0, log2 5]")
    }
    // a user with all events of one type must score exactly 0
    val ev = Tables.events(spark, sf)
    val singleType = ev.groupBy("user_id")
      .agg(countDistinct("event_type").as("k")).filter(col("k") === 1)
      .select("user_id").collect().map(_.getLong(0)).toSet
    if (singleType.nonEmpty)
      assert(out.filter(r => singleType(r.getAs[Long]("user_id")))
        .forall(_.getAs[Double]("entropy_bits") == 0.0))
  }

  test("ts_order_latency_hist: bucket counts sum to the order count") {
    val out = SparkEntry.queries("ts_order_latency_hist")(spark, sf)
    val total = out.agg(sum("n_orders")).collect()(0).getLong(0)
    // inner join: only orders with at least one lineitem have a latency
    val orders = Tables(spark, sf, "lineitem")
      .select("l_orderkey").distinct().count()
    assert(total == orders, "every shipped order lands in exactly one week bucket")
  }

  test("ts_dow_hour_profile: a 7×4 (or smaller) partition of all events") {
    val out = SparkEntry.queries("ts_dow_hour_profile")(spark, sf).collect()
    assert(out.length <= 28)
    assert(out.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sf).count())
    assert(out.forall(r => r.getAs[Long]("iso_dow") >= 1 && r.getAs[Long]("iso_dow") <= 7))
    assert(out.forall(r => r.getAs[Long]("band6h") >= 0 && r.getAs[Long]("band6h") <= 3))
  }

  test("window_anomaly_spike: every reported hour really is >3× its predecessor") {
    val out = SparkEntry.queries("window_anomaly_spike")(spark, sf).collect()
    assert(out.forall(r => r.getAs[Long]("c") > 3 * r.getAs[Long]("prev_c")))
  }

  test("ts_burstiness_fano: matches a direct var_pop/mean recomputation") {
    val out = SparkEntry.queries("ts_burstiness_fano")(spark, sf).collect()
    val direct = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000L").as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg((var_pop(col("c")) / avg(col("c"))).as("fano"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("fano")).toMap
    for (r <- out) {
      val f = r.getAs[Double]("fano")
      assert(math.abs(f - direct(r.getAs[String]("event_type"))) < 1e-4,
        s"fano $f vs direct ${direct(r.getAs[String]("event_type"))}")
    }
  }

  test("scalar_ipv4_parse: numeric form inverts back to the dotted quad") {
    val out = SparkEntry.queries("scalar_ipv4_parse")(spark, sf).collect()
    for (r <- out.take(500)) {
      val n = r.getAs[Long]("ip_num")
      val quad = Seq(n >> 24 & 255, n >> 16 & 255, n >> 8 & 255, n & 255).mkString(".")
      assert(quad == r.getAs[String]("ip"))
      assert(r.getAs[String]("net24") == quad.split("\\.").init.mkString(".") + ".0")
    }
  }
}
