package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 wave 31: density and overlap bound checks. */
class Round10eeSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("text_lexical_density: token conservation and head-exclusion recompute") {
    val out = SparkEntry.queries("text_lexical_density")(spark, sf).collect()
    val tok = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    assert(out.map(_.getAs[Long]("n_tokens")).sum == tok.count())
    val head = tok.groupBy("w").count()
      .orderBy(col("count").desc, col("w")).limit(5)
      .collect().map(_.getString(0)).toSet
    val d0 = tok.filter(col("doc_id") === 0).collect().map(_.getString(1))
    val r0 = out.find(_.getAs[Long]("doc_id") == 0).get
    assert(r0.getAs[Long]("n_content") == d0.count(w => !head(w)))
    assert(out.forall(r => r.getAs[Long]("density_ppm") <= 1000000L))
  }

  test("ts_audience_overlap: intersections bounded by both weeks") {
    val out = SparkEntry.queries("ts_audience_overlap")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (a, b, i) = (r.getAs[Long]("wau_a"), r.getAs[Long]("wau_b"),
        r.getAs[Long]("inter"))
      assert(i <= math.min(a, b))
      assert(r.getAs[Long]("jaccard_ppm") == i * 1000000L / (a + b - i))
    }
  }
}
