package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-50 bounds: Shapley efficiency (the axiomatic invariant — the
  * attributions sum to v(grand coalition) − v(empty)) plus a from-scratch
  * recomputation of one channel's value, and l-diversity cross-checked
  * against a driver-side distinct count.
  */
class Round10ttSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def maskGrid(): Map[Long, (Long, Long)] =
    Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(collect_set("event_type").as("types"))
      .collect()
      .map { r =>
        val ts = r.getSeq[String](1).toSet
        val mask = (if (ts("click")) 1L else 0L) + (if (ts("error")) 2L else 0L) +
                   (if (ts("signup")) 4L else 0L) + (if (ts("view")) 8L else 0L)
        (mask, if (ts("purchase")) 1L else 0L)
      }
      .groupBy(_._1)
      .map { case (m, xs) => m -> (xs.length.toLong, xs.map(_._2).sum) }

  test("agg_shapley_attribution satisfies efficiency and matches recompute") {
    val rows = SparkEntry.queries("agg_shapley_attribution")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
           Seq("click", "error", "signup", "view"))

    val grid = maskGrid()
    def v(mask: Long): Long = grid.get(mask) match {
      case Some((n, ncv)) => (ncv * 2000000L + n) / (2L * n)
      case None => 0L
    }
    // efficiency: sum of x24 attributions = 24 * (v(15) - v(0))
    val sumX24 = rows.map(_.getLong(1)).sum
    assert(sumX24 == 24L * (v(15) - v(0)),
           s"efficiency violated: $sumX24 vs ${24L * (v(15) - v(0))}")

    // from-scratch Shapley for every channel
    val w = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    rows.zipWithIndex.foreach { case (r, c) =>
      val bit = 1L << c
      val phi = (0L until 16L).filter(m => (m & bit) == 0)
        .map(m => w(java.lang.Long.bitCount(m)) * (v(m + bit) - v(m))).sum
      assert(r.getLong(1) == phi, s"channel ${r.getString(0)}: $phi")
      assert(math.abs(r.getDouble(2) - phi.toDouble / 24e6) < 1e-6)
    }
  }

  test("quality_l_diversity counts distinct sensitive classes per group") {
    val rows = SparkEntry.queries("quality_l_diversity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val want = Tables(spark, sf, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
              when(col("c_acctbal") < 0, "neg")
                .when(col("c_acctbal") < 4500, "mid")
                .otherwise("high").as("cls"))
      .collect()
      .map(r => ((r.getInt(0), r.getString(1)), r.getString(2)))
      .groupBy(_._1)
      .map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._2).distinct.length.toLong) }
    assert(rows.length == want.size)
    rows.foreach { r =>
      val (n, l) = want((r.getInt(0), r.getString(1)))
      assert(r.getLong(2) == n && r.getLong(3) == l)
      assert(r.getLong(4) == (if (l >= 3) 1L else 0L))
      assert(l >= 1 && l <= 3)
    }
  }
}
