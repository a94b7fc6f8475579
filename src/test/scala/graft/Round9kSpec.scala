package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 eleventh wave (TPC-H classics): result invariants plus the
  * plan shapes the queries exist to demonstrate.
  */
class Round9kSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("tpch_q6 pushes its date range to the parquet scan") {
    val plan = SparkEntry.queries("tpch_q6")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"shipdate filter must reach the scan:\n$plan")
    val row = SparkEntry.queries("tpch_q6")(spark, sf).head()
    assert(row.getAs[Long]("revenue_c") > 0)
  }

  test("tpch_q3/q10: ranked revenue descending with unique tiebreaks") {
    for (name <- Seq("tpch_q3", "tpch_q10")) {
      val out = SparkEntry.queries(name)(spark, sf).collect()
      assert(out.nonEmpty, s"$name empty")
      val rev = out.map(_.getAs[Long]("revenue_c"))
      assert(rev.zip(rev.tail).forall { case (a, b) => a >= b }, s"$name not sorted")
    }
  }

  test("tpch_q18: every reported order genuinely exceeds the quantity bar") {
    val out = SparkEntry.queries("tpch_q18")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("qty") > 300))
    // spot-check one order's quantity against a direct sum
    val r0 = out.head
    val direct = Tables(spark, sf, "lineitem")
      .filter(col("l_orderkey") === r0.getAs[Long]("o_orderkey"))
      .agg(sum(col("l_quantity"))).head().getDouble(0)
    assert(direct.toLong == r0.getAs[Long]("qty"))
  }
}
