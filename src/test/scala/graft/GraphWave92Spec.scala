package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-92 invariants: the unrolled HITS rounds equal an in-memory
  * replay over the re-minted block graph; scores are normalized to
  * [0, 1] with the max attained.
  */
class GraphWave92Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("HITS raw scores equal an in-memory replay of the two rounds") {
    val nDocs = Tables(spark, sf, "documents").count()
    val edges = (0L until nDocs).filter(_ % 4 != 0).flatMap { v =>
      val base = (v / 8) * 8
      val size = math.min(8L, nDocs - base)
      (1L to (1 + v % 2)).map(k => (v, base + (((v - base) * 3 + k) % size)))
        .filter { case (a, b) => a != b }
    }.distinct
    val a1 = edges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def outSum(score: Map[Long, Long]): Map[Long, Long] =
      edges.groupBy(_._1).view
        .mapValues(_.map(e => score.getOrElse(e._2, 0L)).sum).toMap
    def inSum(score: Map[Long, Long]): Map[Long, Long] =
      edges.groupBy(_._2).view
        .mapValues(_.map(e => score.getOrElse(e._1, 0L)).sum).toMap
    val h1 = outSum(a1)
    val a2 = inSum(h1)
    val h2 = outSum(a2)
    val rows = SparkEntry.queries("graph_hits_hub_authority")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getDouble(4)))
    assert(rows.length == nDocs)
    rows.foreach { case (v, ar, hr, auth, hub) =>
      assert(ar == a2.getOrElse(v, 0L), s"auth_raw at $v")
      assert(hr == h2.getOrElse(v, 0L), s"hub_raw at $v")
      assert(auth >= 0.0 && auth <= 1.0 && hub >= 0.0 && hub <= 1.0)
    }
    assert(rows.exists(_._4 == 1.0) && rows.exists(_._5 == 1.0),
           "the max hub/authority must normalize to exactly 1")
  }
}
