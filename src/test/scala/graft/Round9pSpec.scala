package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 sixteenth wave: invariants stronger than the oracle hash alone. */
class Round9pSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_markov_transitions: row-stochastic in ppm, mass conserved") {
    val out = SparkEntry.queries("agg_markov_transitions")(spark, sf).collect()
    assert(out.nonEmpty)
    val byFrom = out.groupBy(_.getAs[String]("from_type"))
    for ((_, rows) <- byFrom) {
      val ppm = rows.map(_.getAs[Long]("p_ppm")).sum
      // half-away rounding keeps each row within 1 ppm of exact
      assert(math.abs(ppm - 1000000L) <= rows.length,
        s"row ppm sums to $ppm across ${rows.length} cells")
    }
    // total transitions = events - one per user (last event has no next)
    val ev = Tables.events(spark, sf)
    val expect = ev.count() - ev.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n")).sum == expect)
  }

  test("multimodal_end2end: frame features reconcile with document sizes") {
    val out = SparkEntry.queries("multimodal_end2end")(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("len")).toMap
    assert(out.length == docs.size)
    for (r <- out) {
      val len = docs(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("total_bytes") == len,
        "frames must tile the payload exactly")
      assert(r.getAs[Long]("n_frames") == (len + 255) / 256)
      val ppm = r.getAs[Long]("mean_head_ppm")
      assert(ppm >= 32L * 1000000 && ppm <= 126L * 1000000,
        "mean head byte stays in the printable-ASCII band")
    }
  }
}
