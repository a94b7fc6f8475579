package graft

import org.scalatest.funsuite.AnyFunSuite

/** VecIndex invariants (round-13, verdict item 5): the ANN ladder's
  * trained artifacts — the shared quantized table, the PQ codebooks and
  * codes, the IVFPQ coarse/residual codebooks and codes, the IVF
  * centroids and cells (also read by dedup_semantic_cluster) — are each
  * built AT MOST ONCE per (JVM, sf dir), and every later consumer probes
  * the stored tables (the PairIndex/ShingleIndex one-build discipline).
  * Output equality with the former inline trainings is pinned separately:
  * bit-identical
  * dumps at sf0.01 AND sf0.1 (the trainings are exact-integer / 6-dp
  * rounded, so the parquet round-trip preserves every value), plus the
  * Round9Spec / Round10hhSpec recall bounds.
  */
class VecIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private val families =
    Set("q", "pq", "ivfpq", "ivf").map(f => ("stored", s"vecidx_$f", sf).toString)
  private def builds = Artifacts.builds.count(b => families(b.key))

  test("one build serves the whole ANN ladder, twice over") {
    val before = builds
    val pq1 = SparkEntry.queries("sim_ann_pq")(spark, sf).collect()
    val ivfpq1 = SparkEntry.queries("sim_ann_ivfpq_residual")(spark, sf).collect()
    val ivf1 = SparkEntry.queries("sim_ann_ivf")(spark, sf).collect()
    val dedup1 = SparkEntry.queries("dedup_semantic_cluster")(spark, sf).collect()
    assert(pq1.nonEmpty && ivfpq1.nonEmpty && ivf1.nonEmpty && dedup1.nonEmpty)
    val afterFirst = builds
    // 4 artifact families at most: q, pq, ivfpq, ivf
    assert(afterFirst - before <= 4,
           s"expected <= 4 artifact builds, saw ${afterFirst - before}")
    // second pass: pure probes, ZERO new builds, identical rows
    val pq2 = SparkEntry.queries("sim_ann_pq")(spark, sf).collect()
    val ivfpq2 = SparkEntry.queries("sim_ann_ivfpq_residual")(spark, sf).collect()
    val ivf2 = SparkEntry.queries("sim_ann_ivf")(spark, sf).collect()
    val dedup2 = SparkEntry.queries("dedup_semantic_cluster")(spark, sf).collect()
    assert(builds == afterFirst,
           "a re-run re-trained an artifact instead of probing the store")
    assert(pq1.toSeq == pq2.toSeq && ivfpq1.toSeq == ivfpq2.toSeq &&
           ivf1.toSeq == ivf2.toSeq && dedup1.toSeq == dedup2.toSeq,
           "stored-probe results must equal the first (building) run's")
  }

  // dedup_semantic_cluster routes by sim_ann_ivf's stored centroids: a
  // warm call reads them and runs no IVF training of its own (retraining
  // its 2 Lloyd passes took ~20 jobs per call)
  test("a warm dedup_semantic_cluster call reads the stored IVF centroids") {
    val dedup = SparkEntry.queries("dedup_semantic_cluster")
    dedup(spark, sf).collect()
    val warm = jobsOf(dedup(spark, sf).collect())
    assert(warm <= 10, s"warm dedup_semantic_cluster ran $warm jobs")
  }

  // a warm probe reads its stored tables without a job each: pq reads the
  // quantized table, the codebooks and the codes; ivfpq four tables.
  // Counted under count(), as `graft.Dev prof` runs keys
  test("warm ANN probes start no job to read their stored tables") {
    Seq("sim_ann_pq" -> 7, "sim_ann_ivfpq_residual" -> 9).foreach { case (key, bound) =>
      val q = SparkEntry.queries(key)
      q(spark, sf).count()
      val warm = jobsOf(q(spark, sf).count())
      assert(warm <= bound, s"warm $key ran $warm jobs, bound $bound")
    }
  }
}
