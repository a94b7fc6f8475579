package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 19–20: SQL-surface equivalences and sampling/shrinkage
  * properties.
  */
class Round10stSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sql_pivot_clause: pivoted cells rebuild every user's event count") {
    val out = SparkEntry.queries("sql_pivot_clause")(spark, sf).collect()
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == perUser.size)
    for (r <- out) {
      val cells = (1 to 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
      assert(cells.sum == perUser(r.getAs[Long]("user_id")))
    }
  }

  test("sql_lateral_view equals the DataFrame explode formulation") {
    val sqlOut = SparkEntry.queries("sql_lateral_view")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val df = Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().filter(col("count") >= 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sqlOut == df)
  }

  test("sql_cluster_by preserves exactly the source rows") {
    val out = SparkEntry.queries("sql_cluster_by")(spark, sf)
    assert(out.count() == Tables(spark, sf, "orders").count())
    assert(out.select(sum("cents")).collect()(0).getLong(0) ==
      Tables(spark, sf, "orders")
        .select(sum(round(col("o_totalprice") * 100).cast("bigint")))
        .collect()(0).getLong(0))
  }

  test("sample_class_balanced: every class keeps exactly the min class size, deterministically") {
    val q = SparkEntry.queries("sample_class_balanced")
    val a = q(spark, sf).collect()
    val m = Tables.events(spark, sf).groupBy("event_type").count()
      .agg(min("count")).collect()(0).getLong(0)
    assert(a.length == 5)
    assert(a.forall(_.getAs[Long]("n_kept") == m))
    val b = q(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "hash-rank pick has no randomness")
  }

  test("agg_rate_bayes_smooth: shrinkage pulls every user toward the global rate") {
    val out = SparkEntry.queries("agg_rate_bayes_smooth")(spark, sf).collect()
    val g = Tables.events(spark, sf)
      .select(when(round(col("value") * 100).cast("bigint") > 50000L, 1L)
        .otherwise(0L).as("y"))
      .agg(avg("y")).collect()(0).getDouble(0)
    for (r <- out) {
      val raw = r.getAs[Long]("k").toDouble / r.getAs[Long]("n")
      val sm = r.getAs[Double]("rate_smoothed")
      // smoothed rate lies strictly between the raw rate and the prior
      assert(sm >= math.min(raw, g) - 1e-6 && sm <= math.max(raw, g) + 1e-6)
    }
  }

  test("quality_pk_uniqueness: fixture primary keys are unique everywhere") {
    val out = SparkEntry.queries("quality_pk_uniqueness")(spark, sf).collect()
    assert(out.length == 7)
    assert(out.forall(_.getAs[Long]("n_dup_keys") == 0))
    assert(out.forall(r => r.getAs[Long]("n_rows") == r.getAs[Long]("n_distinct_pk")))
  }
}
