package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-42 bounds: binary-quantized rerank recall vs the exact top-5,
  * and the bounded-heap plan gate.
  */
class Round10llSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sim_binary_rerank: exact cosine recall through the 1-bit prefilter") {
    val got = SparkEntry.queries("sim_binary_rerank")(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(got.nonEmpty && got.values.forall(_.size == 5))
    // exact float cosine top-5 per query, computed in-driver
    val vecs = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val recalls = got.map { case (q, ids) =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(vecs(q), vecs(v)), v)).take(5).toSet
      (ids & exact).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    // 32 hamming candidates out of 500 vectors: the sign prefilter must
    // carry most of the true top-5 through to the exact rerank
    assert(mean >= 0.5, f"mean recall@5 $mean%.2f below the 1-bit prefilter floor")
  }

  test("sim_binary_rerank plans bounded heaps, not per-query window sorts") {
    val plan = SparkEntry.queries("sim_binary_rerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.linesIterator.take(8).mkString("\n"))
    assert(!plan.contains("WindowExec"))
  }
}
