package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-58 bounds: AP matches a driver-side step-wise fold and sits in
  * [base-rate, 1]; MATTR matches a brute-force sliding recompute and is
  * bounded by plain TTR from above... (windowed diversity >= whole-doc
  * TTR for repetitive docs, and both live in (0, 1]).
  */
class Round11bSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_pr_auc matches a driver-side step-wise average precision") {
    val row = SparkEntry.queries("agg_pr_auc")(spark, sf).collect().head
    val resp = Tables(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1998)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val pop = Tables(spark, sf, "customer")
      .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("bigint"))
      .collect()
      .map(r => (r.getLong(1), if (resp(r.getLong(0))) 1L else 0L))
    val grid = pop.groupBy(_._1).map { case (sc, xs) =>
      (sc, xs.length.toLong, xs.map(_._2).sum)
    }.toSeq.sortBy(-_._1)
    val pt = pop.map(_._2).sum
    var cn = 0L; var cp = 0L; var ap = 0.0; var apPico = 0L
    grid.foreach { case (_, n, p) =>
      cn += n; cp += p
      ap += p.toDouble / pt * (cp.toDouble / cn)
      apPico += (p * cp * 1000000000000L) / (pt * cn)
    }
    assert(row.getLong(0) == pt)
    assert(row.getLong(1) == (apPico + 500000L) / 1000000L)
    assert(math.abs(row.getDouble(2) - ap) < 1e-5,
           s"${row.getDouble(2)} vs $ap")
    // a near-random score hovers around the base rate; just pin the range
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) <= 1.0)
  }

  test("text_mattr_diversity matches a brute-force sliding recompute") {
    val rows = SparkEntry.queries("text_mattr_diversity")(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val n = toks.length.toLong
      val w = math.min(n, 40L).toInt
      val k = (n - w + 1).toInt
      val sdist = (0 until k).map(i => toks.slice(i, i + w).distinct.length.toLong).sum
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == k.toLong)
      val want = (sdist * 2000000L + w.toLong * k) / (2L * w * k)
      assert(r.getLong(3) == want, s"doc ${r.getLong(0)}: ${r.getLong(3)} vs $want")
      assert(r.getLong(3) > 0 && r.getLong(3) <= 1000000L)
    }
  }
}
