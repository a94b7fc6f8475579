package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-41 bound: the perceptual-hash dedup recovers the planted
  * perturbed copies within the radius contract, through the binary
  * payload path.
  */
class Round10kkSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("multimodal_phash_dedup recovers planted perceptual near-dups within hamming<=3") {
    val rows = SparkEntry.queries("multimodal_phash_dedup")(spark, sf).collect()
    val planted = rows.count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    // a 5-char uppercase prefix flips only the few sampled grid points
    // landing in the prefix (plus mean-borderline bits): ~80-90% of the
    // 500 planted pairs sit inside the radius-3 contract, the rest are
    // legitimately outside it (same shape as dedup_simhash's bound)
    assert(planted >= 350, s"recall too low: $planted/500 planted pairs")
    assert(rows.forall(_.getInt(2) <= 3))
    // the banded candidate path is pigeonhole-complete at radius 3, so
    // precision-side structure is exact: no pair may repeat
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }
}
