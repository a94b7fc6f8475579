package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 24–25: motif conservation, rank-table shape, and
  * calendar recomputations against java.time.
  */
class Round10xySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_event_trigrams: motif counts conserve the windowed positions") {
    val out = SparkEntry.queries("ts_event_trigrams")(spark, sf).collect()
    assert(out.length <= 125)
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(_.getLong(1))
    assert(out.map(_.getAs[Long]("n")).sum ==
      perUser.map(n => math.max(0L, n - 2)).sum)
  }

  test("text_zipf_rank: contiguous ranks, non-increasing counts, unit head") {
    val out = SparkEntry.queries("text_zipf_rank")(spark, sf).collect()
    val ranks = out.map(_.getAs[Long]("rank"))
    assert(ranks.toSeq == (1L to out.length).toSeq)
    val ns = out.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    assert(out.head.getAs[Double]("rel_freq") == 1.0)
  }

  test("quality_freshness_report: staleness non-negative and maxima genuine") {
    val out = SparkEntry.queries("quality_freshness_report")(spark, sf).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[Long]("staleness_days") >= 0))
    val maxShip = Tables(spark, sf, "lineitem")
      .agg(max(col("l_shipdate").cast("date"))).collect()(0).getDate(0)
    assert(out.find(_.getAs[String]("table_name") == "lineitem").get
      .getAs[java.sql.Date]("latest") == maxShip)
  }

  test("agg_affinity_index matches the exact floor formula per cell") {
    val out = SparkEntry.queries("agg_affinity_index")(spark, sf).collect()
    val cells = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nt = cells.values.sum
    val nseg = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val npr = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    for (r <- out) {
      val k = (r.getAs[String]("seg"), r.getAs[String]("pr"))
      val expect = cells(k) * nt * 1000000L / (nseg(k._1) * npr(k._2))
      assert(r.getAs[Long]("affinity_ppm") == expect)
    }
  }

  test("ts_time_to_nth_event: the row really is the user's third purchase") {
    val out = SparkEntry.queries("ts_time_to_nth_event")(spark, sf).collect()
    val purch = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .collect().groupBy(_.getLong(0))
    for (r <- out) {
      val u = r.getAs[Long]("user_id")
      val third = purch(u).sortBy(x => (x.getLong(1), x.getLong(2))).apply(2).getLong(1)
      assert(r.getAs[Long]("third_purchase_us") == third)
      assert(r.getAs[Long]("activation_us") ==
        third - r.getAs[Long]("first_us"))
    }
  }

  test("scalar_isoweek_parts agrees with java.time's ISO week fields") {
    val out = SparkEntry.queries("scalar_isoweek_parts")(spark, sf).collect()
    val wf = java.time.temporal.WeekFields.ISO
    for (r <- out.take(2000)) {
      val d = r.getAs[java.sql.Date]("dt").toLocalDate
      assert(r.getAs[Long]("iso_year") == d.get(wf.weekBasedYear()))
      assert(r.getAs[Long]("iso_week") == d.get(wf.weekOfWeekBasedYear()))
      assert(r.getAs[Long]("doy") == d.getDayOfYear)
      assert(r.getAs[Long]("qtr") == (d.getMonthValue - 1) / 3 + 1)
    }
  }
}
