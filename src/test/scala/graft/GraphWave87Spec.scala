package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-87 invariants: exact closeness equals an in-memory all-pairs
  * BFS over the same minted block graph, and the Wasserman-Faust form
  * stays inside [0, 1]; the BFS itself matches on a hub-skewed graph.
  */
class GraphWave87Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def adjacency(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  // level-synchronous BFS: distances strictly by frontier level
  private def bfsLevels(adj: Map[Long, Set[Long]], v: Long): Map[Long, Long] = {
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
    val adj = adjacency(edges)
    val rows = SparkEntry.queries("graph_closeness_exact")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3)))
    assert(rows.length == nDocs)
    rows.foreach { case (v, reach, dsum, cl) =>
      val dist = bfsLevels(adj, v) - v
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

  test("closenessDist equals in-memory BFS on a hub graph") {
    // hub 0 with edges to and from each of 1..200 (k² = 40,000 two-hop
    // paths through one vertex), plus a 20-hop chain hanging off the hub
    val spokes = (1L to 200L).flatMap(i => Seq((0L, i), (i, 0L)))
    val chain = (0L +: (1000L until 1020L)).sliding(2).map(p => (p(0), p(1))).toSeq
    val edges = spokes ++ chain
    val adj = adjacency(edges)
    val got = graft.operators.Graph
      .closenessDist(spark.createDataFrame(edges).toDF("src", "dst"))
      .filter(col("u") =!= col("v"))
      .groupBy("v").agg(count(lit(1)), sum(col("dd")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val vertices = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    vertices.foreach { v =>
      val dist = bfsLevels(adj, v) - v
      val (reach, dsum) = got.getOrElse(v, (0L, 0L))
      assert(reach == dist.size, s"reach at $v")
      assert(dsum == dist.values.sum, s"dsum at $v")
    }
    assert(got(1L) == ((220L, 1L + 2 * 199 + (2L to 21L).sum)), "spoke 1 reaches all")
  }
}
