package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-73 bounds: DTW equals an independently-written top-down
  * memoized recursion and respects the diagonal upper bound; the
  * Viterbi path equals the classical backpointer formulation and beats
  * reference paths in likelihood.
  */
class Round11qSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  private def daily(et: String): Array[Long] = {
    val d = Tables.events(spark, sf)
      .filter(col("event_type") === et)
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 30).map(t => d.getOrElse(t.toLong, 0L)).toArray
  }

  test("ts_dtw_distance equals top-down memoized DTW") {
    val r = SparkEntry.queries("ts_dtw_distance")(spark, sf).collect()(0)
    val dtw = r.getLong(1)
    val (a, b) = (daily("purchase"), daily("click"))
    val memo = scala.collection.mutable.Map[(Int, Int), Long]()
    def go(i: Int, j: Int): Long = memo.getOrElseUpdate((i, j), {
      val c = math.abs(a(i) - b(j))
      if (i == 0 && j == 0) c
      else if (i == 0) c + go(0, j - 1)
      else if (j == 0) c + go(i - 1, 0)
      else c + math.min(go(i - 1, j), math.min(go(i - 1, j - 1), go(i, j - 1)))
    })
    assert(dtw == go(29, 29), s"dtw $dtw vs memo ${go(29, 29)}")
    val diag = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    assert(dtw <= diag, "DTW must not exceed the diagonal alignment")
  }

  test("ts_hmm_viterbi equals the backpointer formulation") {
    val rows = SparkEntry.queries("ts_hmm_viterbi")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.length == 30)
    val y = rows.sortBy(_._1).map(_._2)
    def lg(x: Double) = math.log(x)
    def e(hi: Boolean, o: Int): Double =
      if (hi) { if (o == 1) lg(0.7) else lg(0.3) }
      else { if (o == 1) lg(0.25) else lg(0.75) }
    // classical forward DP with backpointers, ties prefer hi
    val v = Array.ofDim[Double](30, 2) // 0 = hi, 1 = lo
    val bp = Array.ofDim[Int](30, 2)
    v(0)(0) = lg(0.5) + e(hi = true, y(0))
    v(0)(1) = lg(0.5) + e(hi = false, y(0))
    val tr = Array(Array(lg(0.85), lg(0.15)), Array(lg(0.30), lg(0.70)))
    (1 until 30).foreach { t =>
      Seq(0, 1).foreach { st =>
        val fromHi = v(t - 1)(0) + tr(0)(st)
        val fromLo = v(t - 1)(1) + tr(1)(st)
        val (best, arg) = if (fromHi >= fromLo) (fromHi, 0) else (fromLo, 1)
        v(t)(st) = e(st == 0, y(t)) + best
        bp(t)(st) = arg
      }
    }
    var cur = if (v(29)(0) >= v(29)(1)) 0 else 1
    val path = Array.ofDim[Int](30)
    path(29) = cur
    (29 until 0 by -1).foreach { t => cur = bp(t)(cur); path(t - 1) = cur }
    val want = path.map(st => if (st == 0) "hi" else "lo")
    assert(rows.sortBy(_._1).map(_._3).sameElements(want))
    // decoded likelihood beats the constant reference paths
    def like(p: Seq[Int]): Double = {
      var s2 = lg(0.5) + e(p.head == 0, y(0))
      (1 until 30).foreach(t => s2 += tr(p(t - 1))(p(t)) + e(p(t) == 0, y(t)))
      s2
    }
    val got = rows.sortBy(_._1).map(r => if (r._3 == "hi") 0 else 1).toSeq
    assert(like(got) >= like(Seq.fill(30)(0)) - 1e-12)
    assert(like(got) >= like(Seq.fill(30)(1)) - 1e-12)
  }
}
