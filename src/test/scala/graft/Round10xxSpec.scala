package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-54 bounds: NDCG reconciles with a from-scratch driver fold and
  * sits in (0, 1]; the BH step-up satisfies its defining property (every
  * rejected rank ≤ k*, none above) against an independent recomputation
  * with Scala's own math.
  */
class Round10xxSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_ndcg_at_k reconciles with a driver-side DCG fold") {
    val row = SparkEntry.queries("agg_ndcg_at_k")(spark, sf).collect().head
    val ndcg = row.getDouble(3)
    assert(ndcg > 0.0 && ndcg <= 1.0 + 1e-9, s"ndcg=$ndcg")

    val top = SparkEntry.queries("text_bm25_rank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (-x._3, x._1))
    val dcg = top.zipWithIndex.map { case ((_, rel, _), i) =>
      (math.pow(2.0, rel.toDouble) - 1.0) / (math.log(i + 2.0) / math.log(2.0))
    }.sum
    assert(math.abs(row.getDouble(1) - dcg) < 1e-4, s"${row.getDouble(1)} vs $dcg")

    val rels = Tables(spark, sf, "documents")
      .select(col("doc_id"),
              explode(functions.TextOps.tokens(col("text"))).as("t"))
      .filter(col("t").isin("data", "spark", "query"))
      .groupBy("doc_id").agg(countDistinct("t").as("rel"))
      .collect().map(_.getLong(1)).sortBy(-_).padTo(15, 0L).take(15)
    val idcg = rels.zipWithIndex.map { case (rel, i) =>
      (math.pow(2.0, rel.toDouble) - 1.0) / (math.log(i + 2.0) / math.log(2.0))
    }.sum
    assert(math.abs(row.getDouble(2) - idcg) < 1e-4)
    assert(math.abs(ndcg - dcg / idcg) < 1e-4)
    assert(row.getDouble(1) <= row.getDouble(2) + 1e-9, "DCG <= IDCG always")
  }

  test("agg_benjamini_hochberg satisfies the step-up property") {
    val rows = SparkEntry.queries("agg_benjamini_hochberg")(spark, sf).collect()
    val m = rows.length
    assert(m == 25)
    assert(rows.map(_.getLong(4)).toSeq == (1 to m).map(_.toLong))
    // independent recompute of z and p per nation
    val cust = Tables(spark, sf, "customer")
      .select(col("c_nationkey").cast("long"),
              round(col("c_acctbal") * 100).cast("bigint")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val gn = cust.length.toLong
    val gs = cust.map(_._2).sum
    val gq = cust.map(x => x._2 * x._2).sum
    def phi(x: Double): Double = {
      val t = 1.0 / (1.0 + 0.2316419 * x)
      1.0 - 0.3989422804014327 * math.exp(-x * x / 2.0) *
        (0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t -
         1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t)
    }
    val byNation = cust.groupBy(_._1).map { case (k, xs) =>
      val n = xs.length.toLong; val s = xs.map(_._2).sum
      val z = math.abs(s.toDouble / n - gs.toDouble / gn) /
        math.sqrt((gq.toDouble - gs.toDouble * gs / gn) / gn / n)
      k -> (n, z, 2.0 * (1.0 - phi(z)))
    }
    rows.foreach { r =>
      val (n, z, p) = byNation(r.getLong(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - z) < 1e-5)
      assert(math.abs(r.getDouble(3) - p) < 1e-5)
    }
    // the defining step-up property on the key's own (p, thr, rejected)
    val ps = rows.map(_.getDouble(3))
    val thr = rows.map(_.getDouble(5))
    val rej = rows.map(_.getLong(6))
    val kstar = (0 until m).filter(i => ps(i) <= thr(i) + 1e-12)
      .lastOption.map(_ + 1).getOrElse(0)
    (0 until m).foreach { i =>
      assert(rej(i) == (if (i < kstar) 1L else 0L),
             s"rank ${i + 1}: rejected=${rej(i)} but k*=$kstar")
    }
    // rejections are a prefix of the p-ordered ranks
    assert(rej.zip(rej.tail).forall { case (a, b) => a >= b })
  }
}
