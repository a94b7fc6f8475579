package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 twenty-first wave: invariants stronger than the oracle hash alone. */
class Round9uSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sim_range_radius: all cosines above the bar, per-query hit sets sane") {
    val out = SparkEntry.queries("sim_range_radius")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Double]("cos") >= 0.25))
    val qids = out.map(_.getAs[Long]("q_id")).distinct.sorted
    assert(qids.forall(q => q % 100 == 0 && q < 400))
    // no query returns itself
    assert(out.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("vec_id")))
  }

  test("sim_recall_at_k: full-vector self-recall is 1, recall bounded") {
    val out = SparkEntry.queries("sim_recall_at_k")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => {
      val h = r.getAs[Long]("n_hits"); h >= 0 && h <= 5
    }))
    assert(out.forall(r =>
      r.getAs[Long]("recall_ppm") == (r.getAs[Long]("n_hits") * 2000000L + 5) / 10))
    // determinism across runs
    val again = SparkEntry.queries("sim_recall_at_k")(spark, sf).collect()
    assert(again.toSeq == out.toSeq)
  }
}
