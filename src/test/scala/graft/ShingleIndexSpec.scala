package graft

import org.scalatest.funsuite.AnyFunSuite

/** ShingleIndex invariants (round-12): ONE build of the df-capped shingle
  * intersection core serves all three bigram-overlap dedup keys, and the
  * stored pair universe equals the lazy builder's output exactly (the
  * builder plan itself stays under ScaleSpec's gates).
  */
class ShingleIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def builds = Artifacts.builds.count(_.key == ("stored", "shingleidx", sf).toString)

  test("one build serves jaccard, containment, and connected components") {
    val before = builds
    val nj = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).collect()
    val ct = SparkEntry.queries("dedup_containment")(spark, sf).count()
    val cc = SparkEntry.queries("dedup_connected_components")(spark, sf).collect()
    assert(nj.nonEmpty && cc.nonEmpty && ct >= 0)
    val after = builds
    assert(after - before <= 1,
           s"the shingle intersection core must build at most once, built ${after - before}")
    graft.operators.ShingleIndex.intersections(spark, sf) // must not rebuild
    assert(builds == after)
  }

  test("stored intersections equal the lazy builder's output exactly") {
    val stored = graft.operators.ShingleIndex.intersections(spark, sf)
    val (want, cached) = graft.operators.PipelineExt.ngramIntersectionsLazy(spark, sf)
    val extra = stored.exceptAll(want).count()
    val missing = want.exceptAll(stored).count()
    cached.foreach(_.unpersist())
    assert(extra == 0 && missing == 0,
           s"stored pair universe diverges from the builder: +$extra -$missing")
  }
}
