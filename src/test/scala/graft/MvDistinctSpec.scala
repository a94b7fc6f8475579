package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-110 invariants: count(DISTINCT dim) is served FROM the summary
  * when the MV's dims are exactly groupings + the distinct column; the
  * extra-dim and non-dim configurations must NOT rewrite (they would
  * over-count); and the rewritten answer equals the raw aggregate.
  */
class MvDistinctSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)

  test("count(distinct dim) serves from the summary and matches raw") {
    graft.plans.MvCatalog.clear(spark)
    val base = operators.Lakehouse.setupMv(spark, sf)
    val q = base.groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_days"))
      .orderBy("event_type")
    assert(scans(q).exists(_.contains("mv_events")),
      s"distinct-dim count must read the summary:\n${scans(q).mkString("\n")}")
    assert(!scans(q).exists(_.contains("events.parquet")),
      "the corpus-sized events scan must be GONE")
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                .cast("bigint").as("day"))
      .groupBy("event_type").agg(countDistinct(col("day")).as("n_days"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq, "distinct counts equal the raw answer")
  }

  test("a dim filter composes with the distinct rewrite") {
    graft.plans.MvCatalog.clear(spark)
    val base = operators.Lakehouse.setupMv(spark, sf)
    val q = base.filter(col("day") <= 10)
      .groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_days"))
    assert(scans(q).exists(_.contains("mv_events")),
      "dim-filtered distinct count must still rewrite")
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                .cast("bigint").as("day"))
      .filter(col("day") <= 10)
      .groupBy("event_type").agg(countDistinct(col("day")).as("n_days"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    q.collect().foreach(r => assert(r.getLong(1) == want(r.getString(0))))
  }

  test("negative controls: extra-dim and non-dim distinct do NOT rewrite") {
    graft.plans.MvCatalog.clear(spark)
    val base = operators.Lakehouse.setupMv(spark, sf)
    // UNGROUPED count(distinct day): the MV still has event_type as an
    // extra dim, so (day) values repeat across types — must NOT rewrite
    // (it would over-count if it naively counted summary rows).
    val ungrouped = base.agg(countDistinct(col("day")).as("n_days"))
    assert(!scans(ungrouped).exists(_.contains("mv_events")),
      "extra-dim distinct must NOT be rewritten")
    val rawDays = Tables.events(spark, sf)
      .select(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                .cast("bigint")).distinct().count()
    assert(ungrouped.collect().head.getLong(0) == rawDays,
      "the unrewritten plan still answers correctly")
    // count(distinct METRIC) — cents is not a dim, must not rewrite
    val metric = base.groupBy("event_type")
      .agg(countDistinct(col("cents")).as("n"))
    assert(!scans(metric).exists(_.contains("mv_events")),
      "non-dim distinct must NOT be rewritten")
  }
}
