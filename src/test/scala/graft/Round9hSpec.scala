package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 eighth wave: invariants stronger than the oracle hash alone. */
class Round9hSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("adt_nested_variant: all three leaves hit, cents only on card branch") {
    val out = SparkEntry.queries("adt_nested_variant")(spark, sf).collect()
    val descr = out.map(_.getAs[String]("descr"))
    assert(descr.exists(_.startsWith("card:")))
    assert(descr.contains("cash"))
    assert(descr.contains("unpaid"))
    for (r <- out) {
      val isCard = r.getAs[String]("descr").startsWith("card:")
      assert(r.isNullAt(r.fieldIndex("card_cents")) != isCard,
        "card_cents present iff the nested match took the Card arm")
    }
  }

  test("quality_cast_audit: exact failure counts for both injected classes") {
    val out = SparkEntry.queries("quality_cast_audit")(spark, sf).collect()
      .map(r => r.getAs[String]("field") -> r).toMap
    val badP = Tables(spark, sf, "part").filter(col("p_partkey") % 13 === 0).count()
    val badO = Tables(spark, sf, "orders").filter(col("o_orderkey") % 17 === 0).count()
    assert(badP > 0 && badO > 0, "fixtures must inject both failure classes")
    assert(out("part.retailprice AS DOUBLE").getAs[Long]("n_fail") == badP)
    assert(out("orders.orderdate AS DATE").getAs[Long]("n_fail") == badO)
  }

  test("agg_percentile_disc: monotone quantiles that exist in the data") {
    val out = SparkEntry.queries("agg_percentile_disc")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (p25, p50, p75, p95) = (r.getAs[Long]("p25"), r.getAs[Long]("p50"),
        r.getAs[Long]("p75"), r.getAs[Long]("p95"))
      assert(p25 <= p50 && p50 <= p75 && p75 <= p95)
      val t = r.getAs[String]("event_type")
      val vals = Tables.events(spark, sf).filter(col("event_type") === t)
        .select(round(col("value") * 100).cast("bigint")).collect()
        .map(_.getLong(0)).toSet
      assert(Seq(p25, p50, p75, p95).forall(vals.contains),
        "discrete percentiles must be actual data values")
    }
  }
}
