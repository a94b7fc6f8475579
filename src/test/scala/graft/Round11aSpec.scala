package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-57 bounds: the ROC table is monotone and anchored at (1e6, 1e6);
  * the exact AUC matches a brute-force pairwise comparison (the
  * probabilistic definition), and the Youden row equals the table's max.
  */
class Round11aSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def scoredPop(): Array[(Long, Long)] = {
    val resp = Tables(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1998)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    Tables(spark, sf, "customer")
      .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("bigint"))
      .collect()
      .map(r => (r.getLong(1), if (resp(r.getLong(0))) 1L else 0L))
  }

  test("agg_roc_points is monotone and hits (1e6, 1e6) at the tail") {
    val rows = SparkEntry.queries("agg_roc_points")(spark, sf).collect()
    val tpr = rows.map(_.getLong(3)); val fpr = rows.map(_.getLong(4))
    assert(tpr.zip(tpr.tail).forall { case (a, b) => b >= a })
    assert(fpr.zip(fpr.tail).forall { case (a, b) => b >= a })
    assert(tpr.last == 1000000L && fpr.last == 1000000L)
    rows.foreach(r => assert(r.getLong(5) == r.getLong(3) - r.getLong(4)))
    // population conservation
    val pop = scoredPop()
    assert(rows.map(_.getLong(1)).sum == pop.length.toLong)
    assert(rows.map(_.getLong(2)).sum == pop.count(_._2 == 1L).toLong)
  }

  test("agg_auc_youden matches the brute-force pairwise AUC") {
    val row = SparkEntry.queries("agg_auc_youden")(spark, sf).collect().head
    val pop = scoredPop()
    val pos = pop.filter(_._2 == 1L).map(_._1)
    val neg = pop.filter(_._2 == 0L).map(_._1)
    assert(row.getLong(0) == pos.length.toLong)
    assert(row.getLong(1) == neg.length.toLong)
    // AUC = P(score_pos > score_neg) + 0.5 P(tie), exact over all pairs
    var num = 0L
    pos.foreach { p => neg.foreach { n =>
      if (p > n) num += 2L else if (p == n) num += 1L
    } }
    val denom = 2L * pos.length * neg.length
    val aucPpm = (num * 1000000L + denom / 2) / denom
    assert(row.getLong(2) == aucPpm, s"${row.getLong(2)} vs $aucPpm")

    // Youden row = the ROC table's maximum J (lowest threshold on ties)
    val roc = SparkEntry.queries("agg_roc_points")(spark, sf).collect()
    val bestJ = roc.map(_.getLong(5)).max
    val bestRow = roc.filter(_.getLong(5) == bestJ).minBy(_.getLong(0))
    assert(row.getLong(3) == bestJ)
    assert(row.getLong(4) == bestRow.getLong(0))
  }

  test("ts_did_event_study covers the full offset spine with sane means") {
    val rows = SparkEntry.queries("ts_did_event_study")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (-7L to 7L))
    rows.foreach { r =>
      // empty arms (possible at tiny SF) surface as NULL means, never 0/0
      assert(r.isNullAt(3) == (r.getLong(1) == 0L))
      assert(r.isNullAt(4) == (r.getLong(2) == 0L))
      if (r.getLong(1) > 0 && r.getLong(2) > 0) {
        assert(math.abs(r.getDouble(5) -
          (r.getDouble(3) - r.getDouble(4))) < 2e-6)
      } else assert(r.isNullAt(5))
    }
    // driver recompute for one offset (0: intervention day)
    val treated = Tables.events(spark, sf)
      .filter(col("event_type") === "signup")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val day0 = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("date").as("dt"),
              round(col("value") * 100).cast("bigint").as("c"))
      .collect()
      .filter(_.getDate(1).toLocalDate ==
              java.time.LocalDate.parse("2024-01-16"))
      .map(r => (treated(r.getLong(0)), r.getLong(2)))
    val t = day0.filter(_._1).map(_._2)
    val c = day0.filterNot(_._1).map(_._2)
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getLong(1) == t.length.toLong && r0.getLong(2) == c.length.toLong)
    assert(math.abs(r0.getDouble(3) - t.sum.toDouble / t.length / 100.0) < 1e-5)
  }
}
