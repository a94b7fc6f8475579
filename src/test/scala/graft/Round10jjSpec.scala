package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-40 invariants: Theil–Sen and Mann–Kendall recomputed in-driver
  * from the same monthly rollup, plus the no-cartesian plan gate for
  * the pair stage.
  */
class Round10jjSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def monthly(): Map[(Int, Int), Long] =
    Tables(spark, sf, "lineitem")
      .groupBy(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"))
      .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("rev"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("agg_theil_sen_trend matches a driver-side median of pairwise slopes") {
    val mm = monthly()
    val got = SparkEntry.queries("agg_theil_sen_trend")(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    got.foreach { case (yr, (nPairs, slope)) =>
      val pts = mm.collect { case ((y, m), v) if y == yr => (m, v) }.toSeq.sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- pts.indices if pts(j)._1 > pts(i)._1
      } yield (pts(j)._2 - pts(i)._2).toDouble / (pts(j)._1 - pts(i)._1)).sorted
      assert(nPairs == slopes.length)
      val med = slopes(math.ceil(slopes.length / 2.0).toInt - 1)
      assert(math.abs(slope - BigDecimal(med).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"year $yr: $slope vs $med")
    }
  }

  test("agg_mann_kendall S and tie-corrected variance match a driver recomputation") {
    val mm = monthly().map { case ((y, m), v) => (y * 12 + m) -> v }
    val pts = mm.toSeq.sortBy(_._1).map(_._2)
    val s = (for (i <- pts.indices; j <- pts.indices if j > i)
      yield java.lang.Long.signum(pts(j) - pts(i)).toLong).sum
    val n = pts.length.toLong
    val tie18 = pts.groupBy(identity).values.map(_.length.toLong)
      .filter(_ > 1).map(t => t * (t - 1) * (2 * t + 5)).sum
    val r = SparkEntry.queries("agg_mann_kendall")(spark, sf).collect()(0)
    assert(r.getAs[Long]("s_stat") == s)
    assert(r.getAs[Long]("n_points") == n)
    assert(r.getAs[Long]("var18") == n * (n - 1) * (2 * n + 5) - tie18)
  }

  test("pair stages run on the bounded grid without a cartesian") {
    for (k <- Seq("agg_theil_sen_trend", "agg_mann_kendall")) {
      val plan = SparkEntry.queries(k)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$k plans a cartesian")
    }
  }
}
