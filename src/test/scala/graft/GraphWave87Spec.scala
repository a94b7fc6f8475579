package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-87 invariants: exact closeness equals an in-memory all-pairs
  * BFS over the same minted block graph, and the Wasserman-Faust form
  * stays inside [0, 1]; `Graph.bfs` itself matches on a hub-skewed graph,
  * uncapped and capped at 4 hops.
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

  // hub 0 with edges to and from each of 1..200 (k² = 40,000 two-hop
  // paths through one vertex), plus a 20-hop chain 1000 → … → 1019 hanging
  // off the hub
  private val hubEdges: Seq[(Long, Long)] = {
    val spokes = (1L to 200L).flatMap(i => Seq((0L, i), (i, 0L)))
    val chain = (0L +: (1000L until 1020L)).sliding(2).map(p => (p(0), p(1))).toSeq
    spokes ++ chain
  }

  // Graph.bfs over `edges` from `seeds` (source, start vertex)
  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
                  hops: Option[Int]) =
    graft.operators.Graph.bfs(spark.createDataFrame(edges).toDF("src", "dst"),
                              spark.createDataFrame(seeds).toDF("s", "v"), hops)

  test("closenessDist equals in-memory BFS on a hub graph") {
    val edges = hubEdges
    val adj = adjacency(edges)
    val vertices = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val got = bfs(edges, vertices.map(v => (v, v)), None)
      .filter(col("s") =!= col("v"))
      .groupBy("s").agg(count(lit(1)), sum(col("dd")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vertices.foreach { v =>
      val dist = bfsLevels(adj, v) - v
      val (reach, dsum) = got.getOrElse(v, (0L, 0L))
      assert(reach == dist.size, s"reach at $v")
      assert(dsum == dist.values.sum, s"dsum at $v")
    }
    assert(got(1L) == ((220L, 1L + 2 * 199 + (2L to 21L).sum)), "spoke 1 reaches all")
  }

  test("bfs capped at 4 hops equals in-memory BFS cut at 4 on a hub graph") {
    val adj = adjacency(hubEdges)
    val sources = Seq(0L, 1000L) // the hub and the chain head
    def within4(v: Long): Map[Long, Long] = bfsLevels(adj, v).filter(_._2 <= 4)
    // two sources: each keeps its own distances
    val perSource = bfs(hubEdges, sources.map(v => (v, v)), Some(4)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(perSource == sources.flatMap(s => within4(s).map { case (v, d) => (s, v) -> d }).toMap)
    // one virtual source over the set: the nearer source's distance
    val merged = bfs(hubEdges, sources.map(v => (0L, v)), Some(4)).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(merged == sources.map(within4).reduce { (a, b) =>
      (a.keySet ++ b.keySet).map(v =>
        v -> math.min(a.getOrElse(v, Long.MaxValue), b.getOrElse(v, Long.MaxValue))).toMap
    })
    assert(merged(1004L) == 4L && !merged.contains(1005L), "the cap cuts the chain")
  }
}
