package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-66 bounds: the Borůvka forest equals an independent in-memory
  * Kruskal under the same lexicographic (w, a, b) order (exact edge-set
  * equality at two scale factors), and MMR's diversified pick starts at
  * the relevance argmax while strictly reducing average intra-set
  * similarity vs the plain top-10 cut. The sequential-greedy recursion
  * itself is independently replayed by the DuckDB recursive-CTE oracle.
  */
class Round11jSpec extends AnyFunSuite with SharedSpark {

  /** Kruskal with union-find under lexicographic (w, a, b). */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    edges.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; out += ((a, b, w)) }
    }
    out.toSet
  }

  private def mintedEdges(sf: String): Seq[(Long, Long, Long)] = {
    val ids = Tables(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    val n = ids.length.toLong
    ids.filter(_ % 4 != 0).flatMap { src =>
      (1 to (1 + (src % 2).toInt)).map(k => (src * 3 + k) % n)
        .filter(_ != src)
        .map(dst => (math.min(src, dst), math.max(src, dst)))
    }.distinct.map { case (a, b) =>
      (a, b, java.lang.Math.floorMod(a * 31 + b * 17, 997L))
    }.toSeq
  }

  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"graph_mst_boruvka equals Kruskal at $sf") {
      val got = SparkEntry.queries("graph_mst_boruvka")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = kruskal(mintedEdges(sf))
      assert(got == want,
             s"boruvka ${got.size} vs kruskal ${want.size}; " +
             s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    }
  }

  test("sim_mmr_diversified starts at argmax rel and diversifies") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_mmr_diversified")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10)
    assert(rows.map(_._1).toSeq == (1L to 10L), "ranks must be 1..10")
    // rank 1 is the relevance argmax (MMR's first pick ignores diversity)
    assert(rows.head._3 == rows.map(_._3).max)

    // avg pairwise sim of the MMR set <= that of the plain top-10-by-rel
    val emb = Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = emb(0L)
    val topByRel = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (id, cos(e, q)) }
      .sortBy { case (id, r) => (-r, id) }.take(10).map(_._1)
    def avgPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- (i + 1) until ids.size)
        yield cos(emb(ids(i)), emb(ids(j)))
      ps.sum / ps.size
    }
    val mmrIds = rows.map(_._2).toSeq
    assert(avgPairSim(mmrIds) <= avgPairSim(topByRel) + 1e-9,
           "MMR set must not be MORE self-similar than the plain top-k")
  }
}
