package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Waves 106–107 invariants at sf0.001: the typed grouped surfaces
  * against brute-force recomputes (above-mean membership by exact
  * cross-multiply; semigroup reduce equal to the grouped aggregate),
  * and ROUGE-2 against a literal clipped-bigram census.
  */
class TypedWave106Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("flatMapGroups above-mean rows match the cross-multiply census") {
    val orders = Tables(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
              expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = orders.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      val n = os.length.toLong
      val tot = os.map(_._3).sum
      os.filter(o => o._3 * n > tot).map(o => (ck, o._2, o._3, n))
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("typed_flatmap_groups")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expect, "above-mean membership")
    // sanity: strictly-above-mean is always a strict minority-or-equal
    // subset, never the whole group (for groups of ≥ 2 distinct values)
    assert(got.length < orders.length)
  }

  test("reduceGroups equals the grouped aggregate") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"),
              expr("CAST(round(l_quantity * 100) AS BIGINT)"),
              expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = li.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).sum, g.map(_._3).min)).toSeq
      .map { case (ok, (q, us)) => (ok, q, us) }
      .sortBy(t => (-t._2, t._1)).take(20)
    val got = SparkEntry.queries("typed_reduce_groups")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect)
  }

  test("rouge-2 matches a literal clipped-bigram recompute") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def bigrams(t: String): Map[String, Int] = {
      val w = t.split(" ", -1)
      w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    val expect = docs.keys.toSeq.sorted.flatMap { id =>
      docs.get(id + 1).map { cand =>
        val rg = bigrams(docs(id))
        val cg = bigrams(cand)
        val overlap = rg.map { case (g, c) =>
          math.min(c, cg.getOrElse(g, 0)) }.sum.toLong
        val tot = rg.values.sum.toLong
        (id, overlap, tot, overlap * 1000000L / tot)
      }
    }
    val top = expect.sortBy(t => (-t._4, t._1)).take(20)
    val got = SparkEntry.queries("text_rouge2_adjacent")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == top, "rouge-2 top-20")
    got.foreach(t => assert(t._4 >= 0 && t._4 <= 1000000L,
      "recall ppm in [0, 1e6]"))
  }
}
