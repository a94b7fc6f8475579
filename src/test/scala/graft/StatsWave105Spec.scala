package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-105 invariant at sf0.001: the Quade statistic against a literal
  * textbook recomputation with mid-ranks (blocks ranked by sample range,
  * treatments ranked within block), plus the doubled-rank identities.
  */
class StatsWave105Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("quade F matches the textbook mid-rank recomputation") {
    val daily = Tables.events(spark, sf)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
               col("event_type")).agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .toMap
    val days = daily.keys.map(_._1).toSeq.distinct.sorted
    val types = daily.keys.map(_._2).toSeq.distinct.sorted
    val (b, k) = (days.length, types.length)
    def midRank(xs: Seq[Long], x: Long): Double =
      xs.count(_ < x) + (xs.count(_ == x) + 1) / 2.0
    val ranges = days.map(d => d ->
      (types.map(t => daily((d, t))).max - types.map(t => daily((d, t))).min))
      .toMap
    val q = days.map(d => d ->
      midRank(days.map(ranges), ranges(d))).toMap
    val r = (for (d <- days; t <- types) yield ((d, t),
      midRank(types.map(u => daily((d, u))), daily((d, t))))).toMap
    val sMat = for (d <- days; t <- types)
      yield ((d, t), q(d) * (r((d, t)) - (k + 1) / 2.0))
    val a = sMat.map { case (_, s) => s * s }.sum
    val sj = types.map(t => sMat.filter(_._1._2 == t).map(_._2).sum)
    val bStat = sj.map(s => s * s).sum / b
    val f = (b - 1) * bStat / (a - bStat)
    val row = SparkEntry.queries("agg_quade_test")(spark, sf).collect().head
    assert(row.getLong(0) == b.toLong && row.getLong(1) == k.toLong)
    // quarter-unit identities: a16 = 16·A, b16 = 16·b·B
    assert(row.getLong(2) == math.round(16 * a), "A in quarter units")
    assert(row.getLong(3) == math.round(16.0 * b * bStat),
      "sum S_j^2 in quarter units")
    assert(math.abs(row.getDouble(4) - f) < 1e-5, "F")
  }
}
