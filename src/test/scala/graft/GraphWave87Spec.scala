package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-87 invariants: exact closeness equals an in-memory all-pairs
  * BFS over the same minted block graph, and the Wasserman-Faust form
  * stays inside [0, 1].
  */
class GraphWave87Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("closeness equals in-memory BFS on the minted graph") {
    val nDocs = Tables(spark, sf, "documents").count()
    // re-mint the block edges independently
    val edges = (0L until nDocs).filter(_ % 4 != 0).flatMap { v =>
      val base = (v / 8) * 8
      val size = math.min(8L, nDocs - base)
      (1L to (1 + v % 2)).map { k =>
        val dst = base + (((v - base) * 3 + k) % size)
        (v, dst)
      }.filter { case (a, b) => a != b }
    }.distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // level-synchronous BFS: distances strictly by frontier level
    def bfsLevels(v: Long): Map[Long, Long] = {
      var dist = Map(v -> 0L)
      var frontier = Set(v); var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(dist.contains)
        next.foreach(u => dist += u -> d)
        frontier = next
      }
      dist
    }
    val rows = SparkEntry.queries("graph_closeness_exact")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3)))
    assert(rows.length == nDocs)
    rows.foreach { case (v, reach, dsum, cl) =>
      val dist = bfsLevels(v) - v
      assert(reach == dist.size, s"reach at $v")
      assert(dsum == dist.values.sum, s"dsum at $v")
      val want = if (dsum > 0)
        math.rint((reach.toDouble / (nDocs - 1)) * (reach.toDouble / dsum)
                  * 1e6) / 1e6
      else 0.0
      assert(math.abs(cl - want) < 1e-9, s"closeness at $v")
      assert(cl >= 0.0 && cl <= 1.0)
    }
    // the %4 singletons must be isolated unless someone points at them
    assert(rows.count(_._2 == 0) > 0, "fixture must have isolated docs")
  }
}
