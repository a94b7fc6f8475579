package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-86 invariants: the matrix profile equals an in-memory brute
  * force over all window pairs; Pettitt's CUSUM extremum equals the
  * direct double-sum definition.
  */
class TsWave86Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("matrix profile equals brute force (ssd, argmin, motif flag)") {
    val daily = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(sum(round(col("value") * 100).cast("bigint")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the brute force below assumes a complete spine (every day has at
    // least one purchase); assert it so a sparser future fixture fails
    // loudly here instead of diverging silently
    assert((1L to 30L).forall(daily.contains), "fixture lost a purchase day")
    def win(i: Long): Option[Seq[Long]] = {
      val vs = (0 until 5).map(k => daily.get(i + k))
      if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
    }
    val idx = (1L to 26L).filter(i => win(i).isDefined)
    def ssd(i: Long, j: Long): Long =
      win(i).get.zip(win(j).get).map { case (a, b) => (a - b) * (a - b) }.sum
    val brute = idx.map { i =>
      val best = idx.filter(j => math.abs(i - j) >= 3)
        .map(j => (ssd(i, j), j)).min
      i -> best
    }.toMap
    val rows = SparkEntry.queries("ts_matrix_profile_motif")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getBoolean(3)))
    assert(rows.length == idx.length)
    rows.foreach { case (i, nnJ, s, _) =>
      assert(brute(i) == ((s, nnJ)), s"profile at $i: got ($s,$nnJ) want ${brute(i)}")
    }
    val mssd = rows.map(_._3).min
    assert(rows.filter(_._4).forall(_._3 == mssd) && rows.count(_._4) >= 1)
  }

  test("pettitt U_t extremum equals the direct definition") {
    val xs = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    def u(t: Long): Long = (for {
      (ti, xi) <- xs; (tj, xj) <- xs
      if ti <= t && tj > t
    } yield java.lang.Long.signum(xi - xj).toLong).sum
    val cands = xs.map(_._1).map(t => (math.abs(u(t)), t))
    val k = cands.map(_._1).max
    val tStar = cands.filter(_._1 == k).map(_._2).min
    val r = SparkEntry.queries("ts_pettitt_test")(spark, sf).collect()(0)
    assert(r.getLong(0) == xs.length)
    assert(r.getLong(1) == tStar, s"t* ${r.getLong(1)} vs $tStar")
    assert(r.getLong(2) == k, s"K ${r.getLong(2)} vs $k")
  }
}
