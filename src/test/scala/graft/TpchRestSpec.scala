package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TPC-H completion wave: invariants stronger than the oracle hash —
  * each recomputes the quantity by a different plan shape so a shared
  * bug in query and oracle can't hide, plus plan gates proving the
  * correlated subqueries decorrelated (no nested-loop/cartesian).
  */
class TpchRestSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("tpch_q12 buckets partition the filtered join exactly") {
    val out = SparkEntry.queries("tpch_q12")(spark, sf).collect()
    val total = out.map(r => r.getAs[Long]("high_line_count") +
      r.getAs[Long]("low_line_count")).sum
    Tables.views(spark, sf)
    val expect = spark.sql(
      """SELECT count(*) AS n FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
      .collect()(0).getAs[Long]("n")
    assert(total == expect && out.length <= 2)
  }

  test("tpch_q13 distribution accounts for every customer and every filtered order") {
    val out = SparkEntry.queries("tpch_q13")(spark, sf).collect()
    val customers = out.map(_.getAs[Long]("custdist")).sum
    val orders = out.map(r => r.getAs[Long]("c_count") * r.getAs[Long]("custdist")).sum
    assert(customers == Tables(spark, sf, "customer").count())
    Tables.views(spark, sf)
    val expect = spark.sql(
      """SELECT count(*) AS n FROM orders JOIN customer ON c_custkey = o_custkey
        |WHERE o_orderpriority <> '3-MEDIUM'""".stripMargin)
      .collect()(0).getAs[Long]("n")
    assert(orders == expect)
  }

  test("tpch_q17 keeps exactly the lines under 0.2x their part's average quantity") {
    val r = SparkEntry.queries("tpch_q17")(spark, sf).collect()(0)
    // independent recomputation: explicit aggregate + join, no subquery
    val li = Tables(spark, sf, "lineitem")
    val avgq = li.groupBy("l_partkey")
      .agg(avg("l_quantity").as("aq"))
    val expect = li.join(Tables(spark, sf, "part"),
        li("l_partkey") === col("p_partkey"))
      .join(avgq, "l_partkey")
      .filter(col("p_brand") === "Brand#13" && col("l_quantity") < col("aq") * 0.2)
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("c"),
           count(lit(1)).as("n")).collect()(0)
    assert(Option(r.getAs[Long]("total_c")).getOrElse(0L) ==
      Option(expect.getAs[Long]("c")).getOrElse(0L))
    assert(r.getAs[Long]("n_lines") == expect.getAs[Long]("n"))
  }

  test("tpch_q11 keeps exactly the parts above twice the average share") {
    Tables.views(spark, sf)
    val scoped = spark.sql(
      """SELECT l_partkey AS ps_partkey,
        |       CAST(round(l_extendedprice * 100) AS BIGINT) AS val_c
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_8')""".stripMargin)
    val total = scoped.agg(sum("val_c")).collect()(0).getLong(0)
    val nparts = scoped.select(countDistinct("ps_partkey")).collect()(0).getLong(0)
    val byPart = scoped.groupBy("ps_partkey").agg(sum("val_c").as("v")).collect()
      .map(r => r.getAs[Long]("ps_partkey") -> r.getAs[Long]("v")).toMap
    val kept = SparkEntry.queries("tpch_q11")(spark, sf).collect()
      .map(r => r.getAs[Long]("ps_partkey") -> r.getAs[Long]("value_c")).toMap
    assert(kept.nonEmpty)
    kept.foreach { case (p, v) =>
      assert(byPart(p) == v && v * nparts > 2L * total) }
    byPart.foreach { case (p, v) =>
      assert(kept.contains(p) == (v * nparts > 2L * total)) }
  }

  test("tpch_q21 waits: shared order (semi) and sole late supplier (anti) hold") {
    Tables.views(spark, sf)
    // independent recomputation via window counts instead of EXISTS
    val expect = spark.sql(
      """WITH flagged AS (
        |  SELECT l_suppkey, l_orderkey,
        |         CAST(l_shipdate > o_orderdate + INTERVAL 60 DAY AS INT) AS late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per_order AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS nsupp,
        |         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nlate
        |  FROM flagged GROUP BY l_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM flagged JOIN per_order USING (l_orderkey)
        |  JOIN supplier ON s_suppkey = l_suppkey
        |WHERE late = 1 AND nsupp > 1 AND nlate = 1
        |GROUP BY s_name""".stripMargin)
      .collect().map(r => r.getAs[String]("s_name") -> r.getAs[Long]("numwait")).toMap
    val got = SparkEntry.queries("tpch_q21")(spark, sf).collect()
      .map(r => r.getAs[String]("s_name") -> r.getAs[Long]("numwait")).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("correlated TPC-H plans decorrelate: no cartesian/nested-loop anywhere") {
    for (k <- Seq("tpch_q2", "tpch_q11", "tpch_q17", "tpch_q20", "tpch_q21")) {
      val plan = SparkEntry.queries(k)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$k plans a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$k plans a nested loop")
    }
  }
}
