package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 MV invariants:
  *   - an UNGROUPED count over an empty (fully dim-filtered) summary is
  *     0, never NULL (the round-11 Count→Sum rewrite returned NULL);
  *   - a decimal metric's rolled-up sum is cast back to the original
  *     aggregate's type (sum-of-sums widens decimal p+10 → p+20);
  *   - the catalog is scoped per SparkSession — a sibling session sees
  *     neither the registrations nor the rewrites;
  *   - cost-based choice: with BOTH a fine (type, day) and a coarse
  *     (type) rollup registered over one base, the coarse query is
  *     served by the SMALLER summary and the fine query by the only one
  *     that can serve it;
  *   - DROP of one named MV never unregisters a sibling over the same
  *     base (the round-11 forget removed every same-base def);
  *   - incremental REFRESH: an append-only base delta is merged into the
  *     summary reading ONLY delta + summary rows (listener-counted),
  *     and the result equals the full recompute bit for bit.
  */
class MvRound12Spec extends AnyFunSuite with SharedSpark
    with org.scalatest.BeforeAndAfterEach {

  // registrations must not leak across tests OR suites: the cost-pick
  // test's coarse rollup over the shared events base would otherwise
  // hijack LakehouseWave95Spec's plan assertions when suites share the
  // session (caught by a suite-order-dependent failure)
  override def beforeEach(): Unit = graft.plans.MvCatalog.clear(spark)
  override def afterEach(): Unit = graft.plans.MvCatalog.clear(spark)

  private val sf = "/root/testdata/sf0.001"

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)

  /** Exact scan root paths — the leaf's toString truncates long scratch
    * paths, so `contains` on it can miss the directory name; and the AQE
    * wrapper is itself a leaf node hiding the scans. */
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collectLeaves().flatMap {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case _ => Nil
      }
    walk(df.queryExecution.executedPlan)
  }

  test("ungrouped count over a fully dim-filtered summary is 0, not NULL") {
    val base = graft.operators.Lakehouse.setupMv(spark, sf)
    val q = base.filter(col("day") === lit(-999L)).agg(count(lit(1)).as("n"))
    assert(scans(q).exists(_.contains("mv_events")),
           s"the ungrouped count must still rewrite:\n${scans(q).mkString("\n")}")
    val row = q.collect()(0)
    assert(!row.isNullAt(0), "count over an empty summary must not be NULL")
    assert(row.getLong(0) == 0L)
    // grouped control: same filter, grouped — zero ROWS, never a NULL row
    val g = base.filter(col("day") === lit(-999L))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(g.collect().isEmpty)
  }

  test("a decimal metric's rollup keeps the original sum type") {
    val base = Tables.events(spark, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("decimal(18,2)").as("dval"))
    val dir = Tables.scratchDir("graft_mvdec").resolve("mv_dec").toString
    val defn = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("dval")).as("sd"))
    defn.write.mode("overwrite").parquet(dir)
    graft.plans.Mv.register(base, defn, spark.read.parquet(dir))
    graft.plans.Mv.enable(spark)
    val q = base.groupBy("event_type").agg(sum(col("dval")).as("s"))
      .orderBy("event_type")
    assert(scans(q).exists(_.contains("mv_dec")), "decimal sum must rewrite")
    // the rewritten output type must equal the UN-rewritten aggregate's
    // (defn's own sum column IS that aggregate, computed before any MV)
    assert(q.schema("s").dataType == defn.schema("sd").dataType,
           s"rolled-up sum widened to ${q.schema("s").dataType}, " +
           s"expected ${defn.schema("sd").dataType}")
    val got = q.collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val want = defn.select(col("event_type"), col("sd")).collect()
      .map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(got == want, "rolled-up decimal sums must match the summary exactly")
  }

  test("the MV catalog is per-session: a sibling session sees nothing") {
    graft.operators.Lakehouse.setupMv(spark, sf)
    val s2 = spark.newSession()
    graft.plans.Mv.enable(s2)
    // the sibling session's catalog is empty — same query, no rewrite
    val base2 = Tables.events(s2, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("bigint").as("cents"))
    val q2 = base2.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(!scans(q2).exists(_.contains("mv_events")),
           "session 2 must not be served from session 1's MV")
    assert(graft.plans.MvCatalog.all(s2).isEmpty)
    assert(graft.plans.MvCatalog.all(spark).nonEmpty)
  }

  test("cost-based pick: the smallest matching summary serves the query") {
    val base = graft.operators.Lakehouse.setupMv(spark, sf) // fine (type, day)
    // a COARSER sibling rollup over the same base: (event_type) only
    val dirC = Tables.scratchDir("graft_mvcoarse").resolve("mv_coarse").toString
    val defC = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    defC.write.mode("overwrite").parquet(dirC)
    graft.plans.Mv.register(base, defC, spark.read.parquet(dirC))
    // coarse query: BOTH match; the coarse summary has fewer rows — wins
    val qc = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    assert(scanPaths(qc).exists(_.contains("mv_coarse")),
           s"coarse query must be served by the SMALLER summary:\n${scanPaths(qc).mkString("\n")}")
    // fine query: only the (type, day) rollup can serve it
    val qf = base.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
    assert(scanPaths(qf).exists(_.contains("mv_events")),
           "the day-grained query must fall through to the fine rollup")
  }

  test("DROP of one named MV leaves a sibling over the same base serving") {
    val wh = Tables.scratchDir("graft_mvsib").toString
    Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
              round(col("value") * 100).cast("bigint").as("cents"))
      .write.mode("overwrite").parquet(s"$wh/ev_sib")
    spark.read.parquet(s"$wh/ev_sib").createOrReplaceTempView("ev_sib")
    graft.Sql.execute(spark, wh,
      "CREATE MATERIALIZED VIEW mv_sib_type AS SELECT event_type, count(*) AS n, " +
      "sum(cents) AS sc FROM ev_sib GROUP BY event_type")
    graft.Sql.execute(spark, wh,
      "CREATE MATERIALIZED VIEW mv_sib_user AS SELECT user_id, count(*) AS n, " +
      "sum(cents) AS sc FROM ev_sib GROUP BY user_id")
    graft.Sql.execute(spark, wh, "DROP MATERIALIZED VIEW mv_sib_user")
    val q = spark.sql(
      "SELECT event_type, count(*) AS n FROM ev_sib GROUP BY event_type")
    assert(scanPaths(q).exists(_.contains("mv_sib_type")),
           s"the surviving sibling must still serve:\n${scanPaths(q).mkString("\n")}")
    val q2 = spark.sql("SELECT user_id, count(*) AS n FROM ev_sib GROUP BY user_id")
    assert(!scanPaths(q2).exists(_.contains("mv_sib_user")),
           "the dropped MV must not serve")
  }

  test("incremental REFRESH merges the append-only delta, reading only delta + summary") {
    val wh = Tables.scratchDir("graft_mvinc").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                .cast("bigint").as("day"),
              round(col("value") * 100).cast("bigint").as("cents"))
    // the delta is the LAST few days — the append-only ingest shape the
    // incremental path exists for (delta ≪ history)
    val cut = ev.agg(max(col("day"))).collect()(0).getLong(0) - 3
    val slice1 = ev.filter(col("day") < cut)
    val slice2 = ev.filter(col("day") >= cut)
    val n1 = slice1.count(); val n2 = slice2.count()
    assert(n1 > 0 && n2 > 0 && n2 * 4 < n1, s"fixture split broken: $n1/$n2")
    slice1.write.mode("overwrite").parquet(s"$wh/ev_inc")
    spark.read.parquet(s"$wh/ev_inc").createOrReplaceTempView("ev_inc")
    graft.Sql.execute(spark, wh,
      "CREATE MATERIALIZED VIEW mv_inc AS SELECT event_type, count(*) AS n, " +
      "sum(cents) AS sc, min(cents) AS mn, max(cents) AS mx " +
      "FROM ev_inc GROUP BY event_type")
    val summaryRows = spark.read.parquet(s"$wh/mv_inc").count()
    // APPEND-ONLY delta: new part files land in the base dir
    slice2.write.mode("append").parquet(s"$wh/ev_inc")
    // count every record any task reads while REFRESH runs
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    // drain the async bus of prior tests' backlog before arming, and of
    // the refresh's own tail before reading the counter
    def drainBus(): Unit = org.apache.spark.sql.graft.Bridge.drainBus(spark)
    drainBus()
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.Sql.execute(spark, wh, "REFRESH MATERIALIZED VIEW mv_inc")
      drainBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    // the refresh read the delta + the old summary (+ the |dims|-sized
    // staging readback), NEVER the history: well under the slice1 corpus
    assert(read.get() > 0, "listener saw no tasks — gate is vacuous")
    assert(read.get() < n1 / 2,
           s"REFRESH read ${read.get()} records — looks like a full recompute " +
           s"(history is $n1 rows, delta $n2, summary $summaryRows)")
    // value-exactness: merged summary == full aggregate over the union
    val got = spark.read.parquet(s"$wh/mv_inc")
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    val want = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
           min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq,
           "incrementally merged summary must equal the full recompute")
    // and the rewritten SQL count serves the FRESH total
    val fresh = spark.sql("SELECT count(*) AS n FROM ev_inc").collect()(0).getLong(0)
    assert(fresh == n1 + n2)
    // a MUTATING change (copy-on-write DELETE) falls back to the full
    // path and still lands on the correct answer
    graft.Sql.execute(spark, wh, "DELETE FROM ev_inc WHERE event_type = 'error'")
    spark.read.parquet(s"$wh/ev_inc").createOrReplaceTempView("ev_inc")
    graft.Sql.execute(spark, wh, "REFRESH MATERIALIZED VIEW mv_inc")
    val afterDelete = spark.read.parquet(s"$wh/mv_inc")
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val rawAfter = spark.read.parquet(s"$wh/ev_inc").count()
    assert(afterDelete == rawAfter,
           "post-DML REFRESH (full path) must tile the mutated base")
  }

  test("sql_mv_refresh_incremental's final aggregate is served from the summary") {
    val q = SparkEntry.queries("sql_mv_refresh_incremental")(spark, sf)
    assert(scanPaths(q).exists(_.contains("mv_incq")),
           s"the post-refresh aggregate must read the summary:\n${scanPaths(q).mkString("\n")}")
    assert(!scanPaths(q).exists(_.contains("ev_incq")),
           "the corpus-sized base scan must be GONE after the rewrite")
    // and it equals the full-table aggregate computed independently
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              round(col("value") * 100).cast("bigint").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("the star-join aggregate is rewritten onto the join MV") {
    val q = SparkEntry.queries("sql_mv_join_rewrite")(spark, sf)
    assert(scanPaths(q).exists(_.contains("mv_star")),
           s"the join aggregate must read the star summary:\n${scanPaths(q).mkString("\n")}\n" +
           q.queryExecution.optimizedPlan.treeString)
    assert(!scanPaths(q).exists(p => p.contains("orders") || p.contains("customer")),
           "neither join side may be scanned after the rewrite")
    // value-exactness vs the raw join, computed independently
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                                    r.getLong(3), r.getLong(4)))
    val fact = Tables(spark, sf, "orders")
      .select(col("o_custkey"),
              round(col("o_totalprice") * 100).cast("bigint").as("cents2"))
    val dim = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val want = fact.join(dim, col("o_custkey") === col("c_custkey"))
      .filter(col("seg") =!= "BUILDING")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("cents2").as("s"),
           min("cents2").as("mn"), max("cents2").as("mx"))
      .orderBy("seg")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq)
  }

  test("a 3-way star MV (fact ⋈ dim ⋈ dim) serves the nested-join aggregate") {
    val fact = Tables(spark, sf, "orders")
      .select(col("o_custkey"),
              round(col("o_totalprice") * 100).cast("bigint").as("ocents"))
    val dim1 = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val dim2 = Tables(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val base = fact.join(dim1, col("o_custkey") === col("c_custkey"))
      .join(dim2, col("c_nationkey") === col("n_nationkey"))
    val dir = Tables.scratchDir("graft_mv3way").resolve("mv_nation").toString
    val defn = base.groupBy("n_name")
      .agg(count(lit(1)).as("n"), sum(col("ocents")).as("sc"))
    defn.write.mode("overwrite").parquet(dir)
    graft.plans.Mv.register(base, defn, spark.read.parquet(dir))
    graft.plans.Mv.enable(spark)
    val q = base.filter(col("n_name") =!= "FRANCE")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"), sum(col("ocents")).as("sum_cents"))
      .orderBy("n_name")
    assert(scanPaths(q).exists(_.contains("mv_nation")),
           s"the 3-way star aggregate must read the summary:\n${scanPaths(q).mkString("\n")}\n" +
           q.queryExecution.optimizedPlan.treeString)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = defn.filter(col("n_name") =!= "FRANCE")
      .select(col("n_name"), col("n"), col("sc"))
      .orderBy("n_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("join-MV negative controls: fact filter and foreign join do not rewrite") {
    val base = graft.operators.Lakehouse.setupJoinMv(spark, sf)
    // a FACT-metric filter constrains a non-dim column — must not fire
    val metricFiltered = base.filter(col("cents") > 1000L)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(!scanPaths(metricFiltered).exists(_.contains("mv_star")),
           "a metric-filtered star base must NOT be rewritten")
    // a DIFFERENT join (orders ⋈ nation-keyed customer projection) — the
    // join condition differs, so the matcher must refuse
    val fact = Tables(spark, sf, "orders")
      .select(col("o_custkey"),
              round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    val dim2 = Tables(spark, sf, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"))
    val other = fact.join(dim2, col("o_custkey") === col("c_nationkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(!scanPaths(other).exists(_.contains("mv_star")),
           "a join on different keys must NOT be served from the MV")
  }
}
