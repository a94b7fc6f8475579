package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 seventeenth wave: invariants stronger than the oracle hash alone. */
class Round9qSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("typed_map_groups: per-group fold matches the DataFrame aggregate") {
    val typed = SparkEntry.queries("typed_map_groups")(spark, sf).collect()
    val rel = Tables(spark, sf, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"),
           min(struct((-round(col("o_totalprice") * 100).cast("bigint")).as("p"),
                      col("o_orderkey").as("k")))("k").as("top_orderkey"))
      .orderBy("c_custkey").collect()
    assert(typed.toSeq == rel.toSeq,
      "compiled per-group fold must equal the declarative aggregate")
  }

  test("typed_cogroup_join keeps order-less customers (outer semantics)") {
    val out = SparkEntry.queries("typed_cogroup_join")(spark, sf).collect()
    val nCust = Tables(spark, sf, "customer").count()
    assert(out.length.toLong == nCust, "one row per customer, orders or not")
    val orderless = out.filter(_.getAs[Long]("n_orders") == 0L)
    assert(orderless.forall(_.getAs[Long]("cents") == 0L))
    // cents reconcile with the global total
    val total = Tables(spark, sf, "orders")
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint"))).head().getLong(0)
    assert(out.map(_.getAs[Long]("cents")).sum == total)
  }
}
