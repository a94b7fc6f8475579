package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 tenth wave: invariants stronger than the oracle hash alone. */
class Round9jSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("recursive_cte_closure: hop 0 is the seed set, frontiers shrink via root arrivals") {
    val out = SparkEntry.queries("recursive_cte_closure")(spark, sf).collect()
    val byHop = out.map(r => r.getAs[Int]("hop") -> r.getAs[Long]("n")).toMap
    val nParts = Tables(spark, sf, "part").count()
    assert(byHop(0) == nParts, "hop 0 must contain every part once")
    assert(out.length == 6, "hops 0..5 present (keys are large enough)")
    // frontier never grows: a node leaves when its ancestor reaches 1
    val ns = out.sortBy(_.getAs[Int]("hop")).map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a })
    // spot-check the binary lift for one node
    val k = Tables(spark, sf, "part").agg(max(col("p_partkey"))).head().getLong(0)
    assert(k / 2 / 2 == k >> 2)
  }

  test("scalar_interval_arith: clamped month-end semantics spot-checked") {
    val out = SparkEntry.queries("scalar_interval_arith")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out.take(200)) {
      val d3 = r.getAs[java.sql.Date]("plus_3mo").toLocalDate
      val me = r.getAs[java.sql.Date]("month_end").toLocalDate
      assert(me.getDayOfMonth == me.lengthOfMonth, "month_end is a real month end")
      assert(!d3.isBefore(me.minusMonths(1)), "plus_3mo moved forward")
    }
  }

  test("multimodal_audio_window_stub: 50% overlap, energies match direct byte sums") {
    val out = SparkEntry.queries("multimodal_audio_window_stub")(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet)
    for ((id, rows) <- byDoc.take(50)) {
      val bytes = docs(id).getBytes("UTF-8")
      val expWins = (bytes.length + 63) / 64
      assert(rows.length == Iterator.from(0, 64).takeWhile(_ < bytes.length).size)
      for (r <- rows) {
        val st = r.getAs[Long]("win_id").toInt * 64
        val end = math.min(st + 128, bytes.length)
        val energy = bytes.slice(st, end).map(_ & 0xFF).map(_.toLong).sum
        assert(r.getAs[Long]("energy") == energy)
        assert(r.getAs[Long]("win_bytes") == end - st)
      }
    }
  }
}
