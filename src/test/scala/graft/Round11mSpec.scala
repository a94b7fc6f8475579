package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-69 bounds: k-center picks equal an independent in-memory greedy
  * (exact, including distances), and the Kalman gain follows the
  * Riccati convergence (monotone decreasing to the steady state) while
  * the level stays within the observation envelope.
  */
class Round11mSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sample_kcenter_greedy equals the in-memory greedy") {
    val got = SparkEntry.queries("sample_kcenter_greedy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val emb = Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var s2 = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s2 += t * t; i += 1 }
      math.sqrt(s2)
    }
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Double)]((0L, 0.0))
    while (chosen.size < 12) {
      val pick = emb.keysIterator
        .filterNot(id => chosen.exists(_._1 == id))
        .map(id => (id, chosen.map(c => dist(emb(id), emb(c._1))).min))
        .minBy { case (id, dd) => (-dd, id) }
      chosen += pick
    }
    val want = chosen.toSeq.zipWithIndex.map { case ((id, dd), i) =>
      (i + 1L, id,
       BigDecimal(dd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
  }

  test("ts_kalman_filter_1d gain converges and level is bounded") {
    val rows = SparkEntry.queries("ts_kalman_filter_1d")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
                           if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.length == 30)
    assert(rows.head._4.isEmpty, "day-1 gain must be NULL")
    val gains = rows.flatMap(_._4)
    assert(gains.length == 29)
    // Riccati: from P0 = R the gain decreases monotonically to its fixpoint
    assert(gains.zip(gains.tail).forall { case (a, b) => b <= a + 1e-9 },
           "gain must be non-increasing")
    val kss = gains.last
    // steady state of K = (P+Q)/(P+Q+R) with P = (1-K)(P+Q):
    // K² R = Q (1-K)  →  for Q=25, R=400: K ≈ 0.2207
    assert(math.abs(kss - 0.2207) < 0.01, s"steady-state gain $kss")
    val (ys, ls) = (rows.map(_._2), rows.map(_._3))
    assert(ls.forall(l => l >= ys.min - 1e-9 && l <= ys.max + 1e-9),
           "level must stay inside the observation envelope")
  }
}
