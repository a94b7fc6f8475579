package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 fourth wave: invariants stronger than the oracle hash alone. */
class Round9dSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("window_rolling_slope matches a directly-computed OLS on one frame") {
    val out = SparkEntry.queries("window_rolling_slope")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("slope"))))
    // recompute one user's first full frame by hand
    val r0 = out.head
    val uid = r0.getAs[Long]("user_id")
    val frame = Tables.events(spark, sf)
      .filter(col("user_id") === uid)
      .select(col("event_id"), round(col("value") * 100).cast("bigint").as("y"))
      .orderBy("event_id").limit(8).collect()
    val ys = frame.map(_.getAs[Long]("y").toDouble)
    val ts = (1 to 8).map(_.toDouble)
    val n = 8.0
    val slope = (n * ts.zip(ys).map { case (a, b) => a * b }.sum - ts.sum * ys.sum) /
      (n * ts.map(t => t * t).sum - ts.sum * ts.sum)
    assert(math.abs(r0.getAs[Double]("slope") - slope) < 1e-6)
  }

  test("text_sentence_stats: counts consistent and positive") {
    val out = SparkEntry.queries("text_sentence_stats")(spark, sf).collect()
    val nDocs = Tables(spark, sf, "documents").filter(length(trim(col("text"))) > 0).count()
    assert(out.length.toLong == nDocs)
    assert(out.forall(_.getAs[Long]("n_sent") >= 1))
    assert(out.forall(r => r.getAs[Long]("n_words") >= r.getAs[Long]("n_sent") ||
      r.getAs[Double]("words_per_sent") < 8.0))
    assert(out.forall(r => r.getAs[Double]("words_per_sent") >= 0.0))
  }

  test("graph_kcore_peel: monotone shrink with a genuine cascade to a core") {
    val out = SparkEntry.queries("graph_kcore_peel")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("peel_round")).toSeq == Seq(1L, 2L, 3L, 4L))
    val edges = out.map(_.getAs[Long]("n_edges"))
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a },
      "edge count must be non-increasing across peels")
    // the synthetic ring guarantees round 1 peels (ring-only degree is 2 < 3)
    assert(edges(0) > edges(1), "cascade must continue past round 1")
    assert(edges.last > 0, "the dense core must survive all four peels")
  }

  test("scalar_uuid_stable: shape, determinism, uniqueness") {
    val out = SparkEntry.queries("scalar_uuid_stable")(spark, sf).collect()
    val re = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r
    assert(out.forall(r => re.matches(r.getAs[String]("stable_uuid"))))
    assert(out.map(_.getAs[String]("stable_uuid")).distinct.length == out.length,
      "uuids must be unique per natural key")
  }

  test("window_minmax_scale: values in [0,1], extremes hit 0 and 1") {
    val out = SparkEntry.queries("window_minmax_scale")(spark, sf).collect()
    assert(out.forall(r => {
      val v = r.getAs[Double]("scaled"); v >= 0.0 && v <= 1.0
    }))
    val byType = out.groupBy(_.getAs[String]("event_type"))
    for ((_, rows) <- byType if rows.length > 1) {
      assert(rows.exists(_.getAs[Double]("scaled") == 0.0))
      assert(rows.exists(_.getAs[Double]("scaled") == 1.0))
    }
  }
}
