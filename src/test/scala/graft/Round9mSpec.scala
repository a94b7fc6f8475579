package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 thirteenth wave: invariants stronger than the oracle hash alone. */
class Round9mSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_bitmap_distinct: per-type counts exact, ALL is the true union") {
    val out = SparkEntry.queries("agg_bitmap_distinct")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_distinct")).toMap
    val ev = Tables.events(spark, sf)
    for ((t, n) <- out if t != "ALL") {
      val exact = ev.filter(col("event_type") === t)
        .select("user_id").distinct().count()
      assert(n == exact, s"bitmap count for $t must be exact")
    }
    val union = ev.select("user_id").distinct().count()
    assert(out("ALL") == union, "merged bitmaps must give the exact union")
    // union is genuinely smaller than the sum (users span types)
    assert(out("ALL") < out.filter(_._1 != "ALL").values.sum)
  }

  test("text_langid_confusion: rows sum to docs, recall_ppm consistent") {
    val out = SparkEntry.queries("text_langid_confusion")(spark, sf).collect()
    val nDocs = Tables(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n")).sum == nDocs)
    val byLang = out.groupBy(_.getAs[String]("lang"))
    for ((_, rows) <- byLang) {
      val nTrue = rows.map(_.getAs[Long]("n")).sum
      for (r <- rows)
        assert(r.getAs[Long]("recall_ppm") ==
          (r.getAs[Long]("n") * 2000000L + nTrue) / (2 * nTrue))
    }
  }
}
