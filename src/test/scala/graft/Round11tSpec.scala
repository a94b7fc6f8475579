package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-76 bounds: modularity contributions obey Newman's identities
  * (Σ intra ≤ m, Σ deg = 2m, Q within the random-graph bounds and equal
  * to a driver recomputation from the raw edge list) and the
  * systematic sample hits exactly the expected arithmetic progression
  * of global indexes with the expected cardinality.
  */
class Round11tSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("graph_modularity_partition matches a driver recomputation") {
    val rows = SparkEntry.queries("graph_modularity_partition")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // re-mint the canonical edge set on the driver
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val nRows = docs.length.toLong
    val srcOf = docs.toMap
    val edges = docs.map(_._1).filter(_ % 4 != 0).flatMap { id =>
      (1L to (1 + id % 2)).map { k =>
        val dst = (id * 3 + k) % nRows
        (math.min(id, dst), math.max(id, dst))
      }
    }.filter(p => p._1 != p._2).distinct
    val m = edges.length.toDouble
    val intra = edges.groupBy(e => srcOf(e._1))
      .view.mapValues(_.count(e => srcOf(e._1) == srcOf(e._2))).toMap
    val deg = edges.flatMap(e => Seq(srcOf(e._1), srcOf(e._2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_._2).sum <= edges.length, "Σ intra ≤ m")
    assert(rows.map(_._3).sum == 2L * edges.length, "Σ deg = 2m")
    rows.foreach { case (src, i, dg, q) =>
      assert(i == intra.getOrElse(src, 0),
             s"$src intra: got $i want ${intra.getOrElse(src, 0)}")
      assert(dg == deg(src), s"$src degree")
      val want = i / m - math.pow(dg / (2 * m), 2)
      assert(math.abs(q - want) < 1e-6, s"$src contribution")
    }
    val bigQ = rows.map(_._4).sum
    assert(bigQ > -1.0 && bigQ < 1.0, s"Q in (-1, 1), got $bigQ")
  }

  test("sample_systematic_interval is the exact arithmetic progression") {
    val rows = SparkEntry.queries("sample_systematic_interval")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = Tables(spark, sf, "lineitem").count()
    val wantIdx = (7L to total by 101L).toArray
    assert(rows.map(_._1).sameElements(wantIdx), "indexes are 7, 108, 209, …")
    // the selected rows are exactly the rank-(idx) rows of the total order
    val ordered = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("bigint"))
      .orderBy("l_orderkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (idx, ok, ln) =>
      val want = ordered((idx - 1).toInt)
      assert((ok, ln) == want, s"row at global index $idx")
    }
  }
}
