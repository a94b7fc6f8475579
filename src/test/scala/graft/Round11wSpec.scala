package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-79 bounds: RRF equals a driver fusion of the two independently
  * recomputed rankings (and docs present in both lists dominate
  * equal-rank docs present in one), and the NB fit matches driver
  * method-of-moments with the mean/variance consistency identity
  * r(1−p)/p = mean.
  */
class Round11wSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("sim_reciprocal_rank_fusion equals a driver fusion of both lists") {
    val got = SparkEntry.queries("sim_reciprocal_rank_fusion")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
                 Option(r.get(2)).map(_.toString.toLong), r.getDouble(3)))
    assert(got.length == 20)
    // rebuild retriever A from the declared BM25 key
    val ra = operators.Text.decls("text_bm25_rank").query(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .filter(_._1 != 0)
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // rebuild retriever B brute-force on the driver
    val emb = Tables(spark, sf, "embeddings")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = emb(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val rb = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, BigDecimal(cos(q, v))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val fused = (ra.keySet ++ rb.keySet).toSeq
      .map { id =>
        val s = ra.get(id).map(r => 1.0 / (r + 60)).getOrElse(0.0) +
          rb.get(id).map(r => 1.0 / (r + 60)).getOrElse(0.0)
        (id, s)
      }
      .sortBy { case (id, s) => (-s, id) }.take(20)
    got.zip(fused).foreach { case ((gid, gra, grb, grrf), (wid, ws)) =>
      assert(gid == wid, s"fusion order: got $gid want $wid")
      assert(math.abs(grrf - ws) < 1e-6, s"doc $gid rrf")
      assert(gra == ra.get(gid), s"doc $gid sparse rank")
      assert(grb == rb.get(gid), s"doc $gid dense rank")
    }
    // a doc in BOTH lists at rank r beats a doc in ONE list at rank r
    val both = got.filter(g => g._2.isDefined && g._3.isDefined)
    val one = got.filter(g => g._2.isEmpty || g._3.isEmpty)
    if (both.nonEmpty && one.nonEmpty)
      assert(both.map(_._4).min > one.map(_._4).max ||
             both.exists(b => one.forall(o => b._4 > o._4)),
             "dual-list presence must be rewarded")
  }

  test("agg_negative_binomial_fit matches driver moments") {
    val r = SparkEntry.queries("agg_negative_binomial_fit")(spark, sf)
      .collect()(0)
    val ks = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("k"))
      .collect().map(_.getLong(1))
    val n = ks.length.toDouble
    val mean = ks.sum.toDouble / n
    val varr = (ks.map(k => k.toDouble * k).sum - ks.sum.toDouble * ks.sum / n) /
      (n - 1)
    assert(r.getLong(0) == ks.length)
    assert(math.abs(r.getDouble(1) - mean) < 1e-6, "mean")
    assert(math.abs(r.getDouble(2) - varr) < 1e-6, "variance")
    assert(math.abs(r.getDouble(3) - varr / mean) < 1e-6, "dispersion")
    assert(r.getBoolean(6) == (varr > mean), "overdispersion verdict")
    if (varr > mean) {
      val nbR = r.getDouble(4)
      val nbP = r.getDouble(5)
      // moments identity: an NB(r, p) has mean r(1−p)/p
      assert(math.abs(nbR * (1 - nbP) / nbP - mean) < 1e-3,
             "NB(r, p) mean identity")
    }
  }
}
