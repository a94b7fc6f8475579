package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 fifteenth wave: invariants stronger than the oracle hash alone. */
class Round9oSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_bounce_rate: bounces within sessions, total sessions >= users") {
    val out = SparkEntry.queries("agg_bounce_rate")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      assert(r.getAs[Long]("n_bounces") <= r.getAs[Long]("n_sessions"))
      assert(r.getAs[Long]("bounce_ppm") <= 1000000L)
    }
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_sessions")).sum >= nUsers,
      "every user contributes at least one session")
  }

  test("window_cumulative_distinct: monotone per user, capped by alphabet") {
    val out = SparkEntry.queries("window_cumulative_distinct")(spark, sf).collect()
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(out.forall(r => {
      val n = r.getAs[Long]("n_types_seen"); n >= 1 && n <= nTypes
    }))
    for ((_, rows) <- out.groupBy(_.getAs[Long]("user_id")).take(20)) {
      val seq = rows.sortBy(_.getAs[Long]("event_id")).map(_.getAs[Long]("n_types_seen"))
      assert(seq.zip(seq.tail).forall { case (a, b) => b >= a && b <= a + 1 },
        "novelty curve is monotone and steps by at most 1")
    }
  }

  test("pipeline_dataset_card: metrics reconcile with direct counts") {
    val out = SparkEntry.queries("pipeline_dataset_card")(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    val docs = Tables(spark, sf, "documents")
    assert(out("n_docs") == docs.count())
    assert(out("n_langs") == docs.select("lang").distinct().count())
    assert(out("total_chars") == docs.agg(sum("n_chars")).head().getLong(0))
    assert(out("total_tokens") > out("n_docs"), "every doc has tokens")
    assert(out("n_short_docs") <= out("n_docs"))
    assert(out("n_exact_dup_docs") >= 0)
  }
}
