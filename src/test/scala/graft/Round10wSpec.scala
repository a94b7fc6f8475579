package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 wave 23: sweep-line and ledger-reconciliation checks. */
class Round10wSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_peak_concurrency matches a driver-side sweep at minute granularity") {
    val row = SparkEntry.queries("ts_peak_concurrency")(spark, sf).collect()(0)
    val evs = Tables.events(spark, sf)
      .select(expr("unix_micros(ts)").as("us")).collect().map(_.getLong(0))
    val starts = evs.map(_ / 60000000L).groupBy(identity).map { case (k, v) => k -> v.length }
    val ends = evs.map(u => (u + 300000000L) / 60000000L)
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val ms = (starts.keySet ++ ends.keySet).toSeq.sorted
    var active = 0L; var best = (Long.MinValue, Long.MinValue)
    for (m <- ms) {
      active += starts.getOrElse(m, 0) - ends.getOrElse(m, 0)
      if (active > best._2) best = (m, active)
    }
    assert(row.getAs[Long]("peak_minute") == best._1)
    assert(row.getAs[Long]("peak_active") == best._2)
  }

  test("agg_revenue_recognition: the ledger reconciles to the source cents exactly") {
    val out = SparkEntry.queries("agg_revenue_recognition")(spark, sf).collect()
    val source = Tables(spark, sf, "lineitem")
      .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("ls"))
      .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(year(col("ls")) * 12 + month(col("ls")) >=
        year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")))
      .collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("rec_cents")).sum == source,
      "every prorated cent lands in exactly one month")
    val months = out.map(_.getAs[Long]("month_idx"))
    assert(months.zip(months.tail).forall { case (a, b) => a < b })
  }
}
