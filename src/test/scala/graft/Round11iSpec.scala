package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-65 bounds: multiprobe candidates are a strict superset of the
  * single-probe key's (so recall can only rise) and hit a recall floor
  * against the exact >=0.90 pair set; the Misra-Gries two-pass answer
  * equals the exact heavy-hitter set by brute force.
  */
class Round11iSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sim_ann_lsh_multiprobe: non-vacuous planted truth, recall floor, superset") {
    val multi = SparkEntry.queries("sim_ann_lsh_multiprobe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.nonEmpty, "multiprobe returned 0 pairs — vacuous again")

    // exact >= 0.90 pair set, brute force over the SAME planted corpus the
    // key retrieves from (every planted (v, v+1000000) pair has cosine
    // >= sqrt(1-0.09) = 0.9539 by construction, so truth >= 500 pairs —
    // assert non-emptiness UNCONDITIONALLY, never guard on it)
    val emb = graft.operators.Similarity.plantedEmbeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      i <- emb.indices; j <- (i + 1) until emb.length
      if cos(emb(i)._2, emb(j)._2) >= 0.90
    } yield {
      val (x, y) = (emb(i)._1, emb(j)._1)
      (math.min(x, y), math.max(x, y))
    }).toSet
    assert(truth.size >= emb.length / 2,
           s"planted truth must cover every row pair, got ${truth.size}")
    val recall = truth.count(multi).toDouble / truth.size
    assert(recall >= 0.9, s"multiprobe recall $recall over ${truth.size}")

    // superset: single-probe candidates on the SAME planted corpus are
    // contained in the multiprobe candidates (flip 0 is the home bucket)
    val planted = graft.operators.Similarity.plantedEmbeddings(spark, sf)
    val singleCand = graft.operators.Similarity
      .srpCandidates(planted, 4, graft.operators.PipelineExt.SrpBitsPerTable,
                     multiprobe = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multiCand = graft.operators.Similarity
      .srpCandidates(planted, 4, graft.operators.PipelineExt.SrpBitsPerTable,
                     multiprobe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(singleCand.subsetOf(multiCand),
           s"missing ${(singleCand -- multiCand).take(5)} single-probe candidates")
    // and multiprobe recall over truth is no worse than single-probe's
    val singleHits = truth.count { case (a, b) =>
      singleCand((a, b)) && cos(emb.find(_._1 == a).get._2,
                                emb.find(_._1 == b).get._2) >= 0.90 }
    assert(truth.count(multiCand) >= singleHits)
  }

  test("srpCandidates shifts every pair for ids shifted by 2^31") {
    // bucketing depends only on the embedding, so shifting every id by
    // 2^31 shifts each emitted pair by exactly that amount: the one pair
    // path carries ids past 32 bits unchanged
    val planted = graft.operators.Similarity.plantedEmbeddings(spark, sf)
    val shift = 1L << 31
    val base = graft.operators.Similarity
      .srpCandidates(planted, 4, graft.operators.PipelineExt.SrpBitsPerTable,
                     multiprobe = true)
      .collect().map(r => (r.getLong(0) + shift, r.getLong(1) + shift)).toSet
    val shifted = graft.operators.Similarity
      .srpCandidates(planted.withColumn("vec_id", col("vec_id") + shift),
                     4, graft.operators.PipelineExt.SrpBitsPerTable,
                     multiprobe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.nonEmpty, "no candidates — test is vacuous")
    assert(shifted == base,
           s"shifted ids diverged: ${(shifted -- base).take(3)} extra, " +
           s"${(base -- shifted).take(3)} missing")
  }

  test("agg_heavy_hitters_mg_exact equals the exact heavy-hitter set") {
    val rows = SparkEntry.queries("agg_heavy_hitters_mg_exact")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val counts = Tables(spark, sf, "documents")
      .select("text").collect().flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = counts.values.sum
    val want = counts.filter { case (_, c) => c * 64L > n }
    assert(want.nonEmpty, "fixture has no heavy hitters — test is vacuous")
    assert(rows == want, s"got ${rows.size} vs ${want.size} exact")
  }
}
