package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-95 invariants: the MV rewrite FIRES (the physical scan reads
  * the summary parquet, not the events table), never fires for a
  * non-dimension grouping or a filtered base (the conservative-scope
  * negative controls), and the rewritten answer equals the raw-table
  * aggregate bit for bit.
  */
class LakehouseWave95Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)

  test("the aggregate is rewritten onto the MV and matches the raw answer") {
    val q = SparkEntry.queries("sql_mv_rewrite")(spark, sf)
    val leaves = scans(q)
    assert(leaves.exists(_.contains("mv_events")),
           s"physical scan must read the MV parquet:\n${leaves.mkString("\n")}")
    assert(!leaves.exists(_.contains("events.parquet")),
           "the corpus-sized events scan must be GONE after the rewrite")
    // value-exactness vs the raw table, computed independently
    val got = q.collect().map(r => (r.getString(0), r.getLong(1),
                                    r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("bigint").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"), min("c").as("mn"),
           max("c").as("mx"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq)
  }

  test("negative controls: non-dimension grouping and filtered base do not rewrite") {
    val base = graft.operators.Lakehouse.setupMv(spark, sf)
    // grouping by a non-dimension expression — must read the base
    val nonDim = base.groupBy((col("cents") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"))
    assert(!scans(nonDim).exists(_.contains("mv_events")),
           "a non-dimension grouping must NOT be rewritten")
    // a METRIC filter constrains a non-dim column — must not fire
    val metricFiltered = base.filter(col("cents") > 1000L)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(!scans(metricFiltered).exists(_.contains("mv_events")),
           "a metric-filtered base must NOT be rewritten")
    // stddev is not MV-derivable from (n, sum, min, max) — must not fire
    val sdQ = base.groupBy("event_type").agg(stddev_samp(col("cents")).as("sd"))
    assert(!scans(sdQ).exists(_.contains("mv_events")),
           "stddev is not derivable and must NOT be rewritten")
  }

  test("a DIMENSION filter rolls up through the MV and matches raw") {
    val base = graft.operators.Lakehouse.setupMv(spark, sf)
    val q = base.filter(col("day") <= 10 && col("event_type") =!= "error")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .orderBy("event_type")
    assert(scans(q).exists(_.contains("mv_events")),
           s"dim-filtered aggregate must rewrite:\n${scans(q).mkString("\n")}")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                .cast("bigint").as("day"),
              round(col("value") * 100).cast("bigint").as("c"))
      .filter(col("day") <= 10 && col("event_type") =!= "error")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("avg decomposes onto the MV as sum(sc)/sum(n) and matches raw") {
    val base = graft.operators.Lakehouse.setupMv(spark, sf)
    val avgQ = base.groupBy("event_type").agg(avg(col("cents")).as("m"))
      .orderBy("event_type")
    assert(scans(avgQ).exists(_.contains("mv_events")),
           "avg(metric) must rewrite onto the MV")
    val got = avgQ.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("bigint").as("c"))
      .groupBy("event_type").agg(avg(col("c")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach { case (g, m) =>
      assert(math.abs(m - want(g)) <= 1e-6 * math.abs(want(g)),
             s"avg at $g: MV $m vs raw ${want(g)}")
    }
  }

  test("CREATE MATERIALIZED VIEW DDL registers and the SQL aggregate rewrites") {
    val q = SparkEntry.queries("sql_mv_ddl")(spark, sf)
    val leaves = scans(q)
    assert(leaves.exists(l => l.contains("mv_ddl") || l.contains("graft_mvddl")),
           s"SQL aggregate must be served from the DDL-created summary:\n${leaves.mkString("\n")}")
    assert(!leaves.exists(_.contains("events.parquet")),
           "the corpus-sized events scan must be GONE after the rewrite")
    // a definition without count(*) must be rejected loudly
    Tables.events(spark, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("bigint").as("cents"))
      .createOrReplaceTempView("ev_mvddl_bad")
    val wh = Tables.scratchDir("graft_mvddl_bad").toString
    val e = intercept[IllegalArgumentException](
      graft.Sql.execute(spark, wh,
        "CREATE MATERIALIZED VIEW bad_mv AS SELECT event_type, sum(cents) AS sc FROM ev_mvddl_bad GROUP BY event_type"))
    assert(e.getMessage.contains("count"))
  }

  test("REFRESH rebuilds the summary after base DML; DROP unregisters") {
    // a standalone warehouse table so copy-on-write DML can mutate it
    val wh = Tables.scratchDir("graft_mvlc").toString
    Tables.events(spark, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("bigint").as("cents"))
      .write.mode("overwrite").parquet(s"$wh/ev_lc")
    spark.read.parquet(s"$wh/ev_lc").createOrReplaceTempView("ev_lc")
    graft.Sql.execute(spark, wh,
      "CREATE MATERIALIZED VIEW mv_lc AS SELECT event_type, count(*) AS n, " +
      "sum(cents) AS sc FROM ev_lc GROUP BY event_type")
    def mvTotal(): Long =
      spark.read.parquet(s"$wh/mv_lc")
        .agg(sum(col("n"))).collect()(0).getLong(0)
    val before = mvTotal()
    // mutate the BASE table (copy-on-write DELETE), then refresh
    graft.Sql.execute(spark, wh, "DELETE FROM ev_lc WHERE event_type = 'error'")
    spark.read.parquet(s"$wh/ev_lc").createOrReplaceTempView("ev_lc")
    // count the raw rows WITHOUT an Aggregate node: a plain count() here
    // would itself be MV-rewritten (empty grouping ⊆ dims) and served
    // from the not-yet-refreshed summary — which is exactly the classic
    // stale-until-REFRESH contract this test pins down
    val rawAfter = spark.read.parquet(s"$wh/ev_lc").collect().length.toLong
    assert(rawAfter < before, s"the DELETE itself must shrink the base: $rawAfter")
    // and the STALE serving itself: a rewritable count over the mutated
    // base still answers from the old summary until REFRESH
    val stale = spark.sql("SELECT count(*) AS n FROM ev_lc").collect()(0).getLong(0)
    assert(stale == before, s"before REFRESH the MV serves the old total, got $stale")
    graft.Sql.execute(spark, wh, "REFRESH MATERIALIZED VIEW mv_lc")
    val after = mvTotal()
    assert(after < before, s"refresh must reflect the delete: $after vs $before")
    assert(after == rawAfter, "refreshed summary counts must tile the base")
    val fresh = spark.sql("SELECT count(*) AS n FROM ev_lc").collect()(0).getLong(0)
    assert(fresh == rawAfter, "after REFRESH the rewritten count is current")
    // DROP unregisters: the aggregate goes back to scanning the base
    graft.Sql.execute(spark, wh, "DROP MATERIALIZED VIEW mv_lc")
    val q = spark.sql("SELECT event_type, count(*) AS n FROM ev_lc GROUP BY event_type")
    assert(!scans(q).exists(_.contains("mv_lc")),
           "after DROP the aggregate must not touch the summary")
    val e = intercept[IllegalArgumentException](
      graft.Sql.execute(spark, wh, "REFRESH MATERIALIZED VIEW mv_lc"))
    assert(e.getMessage.contains("unknown"))
  }
}

