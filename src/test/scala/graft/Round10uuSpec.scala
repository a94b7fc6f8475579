package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-51 checks: name-aligned union preserves every row and null-fills
  * exactly the pre-schema rows; expanding folds are conservation-exact
  * and monotone in training size; the paired t matches a from-scratch
  * driver recomputation.
  */
class Round10uuSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("set_union_by_name aligns by name and null-fills missing column") {
    val rows = SparkEntry.queries("set_union_by_name")(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.length.toLong == total)
    rows.foreach { r =>
      val isPurchase = r.getString(2) == "purchase"
      // v_cents present iff the row came from the post-schema batch
      assert(r.isNullAt(3) == !isPurchase,
             s"event ${r.getLong(0)}: v_cents nullability wrong")
      // name alignment: user_id stayed a plausible user, event_type a type
      assert(Set("click", "error", "purchase", "signup", "view")(r.getString(2)))
    }
  }

  test("ts_expanding_cv_folds is conservation-exact and expanding") {
    val rows = SparkEntry.queries("ts_expanding_cv_folds")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    val e = Tables.events(spark, sf)
      .select(col("ts").cast("date").as("dt"),
              (col("event_type") === "purchase").as("p")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getBoolean(1)))
    rows.foreach { r =>
      val cutoff = java.time.LocalDate.parse("2024-01-01")
        .plusDays(r.getLong(0) * 7)
      val train = e.filter(_._1.isBefore(cutoff))
      val test = e.filter(x => !x._1.isBefore(cutoff) &&
                               x._1.isBefore(cutoff.plusDays(7)))
      assert(r.getLong(1) == train.length.toLong)
      assert(r.getLong(2) == test.length.toLong)
      val tp = train.count(_._2).toLong; val n = train.length.toLong
      assert(r.getLong(3) == (tp * 2000000L + n) / (2L * n))
    }
    // expanding property: train size strictly grows with the fold index
    val tn = rows.map(_.getLong(1))
    assert(tn.zip(tn.tail).forall { case (a, b) => b > a })
  }

  test("agg_paired_ttest matches a from-scratch recomputation") {
    val row = SparkEntry.queries("agg_paired_ttest")(spark, sf).collect().head
    val mid = java.time.LocalDate.parse("2024-01-16")
    val perUser = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("date").as("dt"),
              round(col("value") * 100).cast("bigint").as("c")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
      .groupBy(_._1)
      .map { case (_, xs) =>
        val pre = xs.filter(_._2.isBefore(mid)); val post = xs.filterNot(_._2.isBefore(mid))
        (pre.length, post.length, pre.map(_._3).sum, post.map(_._3).sum)
      }
      .filter(x => x._1 > 0 && x._2 > 0)
      .map(x => x._4 - x._3).toSeq
    val n = perUser.length.toLong
    val sd = perUser.sum
    val qd = perUser.map(x => x * x).sum
    assert(row.getLong(0) == n)
    val meanDiff = sd.toDouble / n / 100
    assert(math.abs(row.getDouble(1) - meanDiff) < 1e-5)
    val t = (sd.toDouble / n) /
      math.sqrt((qd.toDouble - sd.toDouble * sd / n) / (n - 1) / n)
    assert(math.abs(row.getDouble(2) - t) < 1e-5)
  }
}
