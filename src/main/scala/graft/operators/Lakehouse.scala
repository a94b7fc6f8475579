package graft.operators

/** Lakehouse sinks, sources and layouts: write-audit-publish, partition
  * overwrite, VACUUM, and materialized views with their rewrite.
  * REGISTRY.md maps each key to its file:line.
  */
object Lakehouse {
  import graft.{Decl, GraftCatalog, Tables, declMap}
  import org.apache.spark.sql.functions._

  /** The registered base projection + its summary, shared with the spec
    * so both sides register the identical plans.
    */
  private[graft] def setupMv(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                .cast("bigint").as("day"),
              round(col("value") * 100).cast("bigint").as("cents"))
    val dir = Tables.scratchDir("graft_mv").resolve("mv_events").toString
    val defn = base.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
           min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    defn.write.mode("overwrite").parquet(dir)
    // the user-facing path: dims/count/sum/min/max derived FROM the
    // defining aggregate, no hand-written metric mapping
    graft.plans.Mv.register(base, defn, s.read.parquet(dir))
    graft.plans.Mv.enable(s)
    base
  }

  /** The registered star base (orders ⋈ customer) + its summary — shared
    * with the spec so both register identical plans. */
  private[graft] def setupJoinMv(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame = {
    val fact = Tables(s, d, "orders")
      .select(col("o_custkey"),
              round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    val dim = Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val base = fact.join(dim, col("o_custkey") === col("c_custkey"))
    val dir = Tables.scratchDir("graft_mvjoin").resolve("mv_star").toString
    val defn = base.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
           min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    defn.write.mode("overwrite").parquet(dir)
    graft.plans.Mv.register(base, defn, s.read.parquet(dir))
    graft.plans.Mv.enable(s)
    base
  }

  val decls: Map[String, Decl] = declMap(
    // The Write–Audit–Publish (WAP) pattern — the
    // lakehouse ingestion discipline where a batch lands in a STAGING
    // location, constraint audits run against the staged files (not the
    // in-memory frame — the audit must see exactly what a reader would),
    // violating rows are quarantined, and only the clean subset is
    // atomically published by manifest (the sink_snapshot_time_travel
    // mechanism: publishing is a metadata write, data files never
    // rewrite).
    //
    // The minted batch plants two violation classes on deterministic key
    // rules (negated totalprice on orderkey ≡ 0 mod 97, null priority on
    // orderkey ≡ 1 mod 101), so the audit's work is verifiable: the
    // oracle recomputes the quarantine/publish split from the base table
    // with the same rules — equality proves the staged-file audit saw
    // every row and classified each exactly once.
    //
    // Scale shape: audit predicates are one pass over the staged scan
    // (each constraint a conditional aggregate — no per-constraint
    // re-scan); publish moves KB of manifest, not data.

    "sink_write_audit_publish" -> Decl(
      (s, d) => {
        import java.nio.file.Files
        val dir = Tables.scratchDir("graft_wap")
        // the incoming batch, with planted violations
        val batch = Tables(s, d, "orders")
          .select(col("o_orderkey"),
            when(pmod(col("o_orderkey"), lit(97L)) === 0,
                 -col("o_totalprice")).otherwise(col("o_totalprice"))
              .as("o_totalprice"),
            when(pmod(col("o_orderkey"), lit(101L)) === 1, lit(null))
              .otherwise(col("o_orderpriority")).as("o_orderpriority"))
        // WRITE: stage the batch
        val staging = dir.resolve("staging")
        batch.write.mode("overwrite").parquet(staging.toString)
        // AUDIT: constraints evaluated against the staged FILES
        val staged = s.read.parquet(staging.toString)
        val audited = staged.withColumn("violation",
          when(col("o_totalprice") <= 0, lit("nonpositive_price"))
            .when(col("o_orderpriority").isNull, lit("null_priority"))
            .otherwise(lit(null)))
        val clean = audited.filter(col("violation").isNull)
          .drop("violation")
        val quarantine = dir.resolve("quarantine")
        audited.filter(col("violation").isNotNull)
          .write.mode("overwrite").parquet(quarantine.toString)
        // PUBLISH: clean data files + a manifest naming them (atomic —
        // readers resolve the manifest, which appears only after audit)
        val published = dir.resolve("published")
        clean.write.mode("overwrite").parquet(published.toString)
        Files.writeString(dir.resolve("current.manifest"), published.toString)
        // report from the PUBLISHED/QUARANTINED files, not the frames
        val pubDf = s.read.parquet(
          Files.readString(dir.resolve("current.manifest")))
        val qDf = s.read.parquet(quarantine.toString)
        val pub = pubDf.agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
          .select(lit("published").as("stage"), col("n"), col("cents"))
        val quar = qDf.groupBy(col("violation").as("stage"))
          .agg(count(lit(1)).as("n"),
               sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        pub.unionAll(quar).orderBy("stage")
      },
      Some("""WITH batch AS (
             |  SELECT o_orderkey,
             |         CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
             |              ELSE o_totalprice END AS price,
             |         CASE WHEN o_orderkey % 101 = 1 THEN NULL
             |              ELSE o_orderpriority END AS prio
             |  FROM orders),
             |tagged AS (
             |  SELECT *, CASE WHEN price <= 0 THEN 'nonpositive_price'
             |                 WHEN prio IS NULL THEN 'null_priority'
             |            END AS violation
             |  FROM batch)
             |SELECT 'published' AS stage, count(*) AS n,
             |       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM tagged WHERE violation IS NULL
             |UNION ALL
             |SELECT violation AS stage, count(*) AS n,
             |       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM tagged WHERE violation IS NOT NULL GROUP BY violation
             |ORDER BY stage""".stripMargin)),

    // Dynamic partition overwrite (the lakehouse
    // partial-refresh primitive), growth accounting, and binary-column
    // scalar work.

    // Dynamic partition overwrite: refresh ONE partition of a
    // status-partitioned table in place (the nightly partial reload) —
    // partitions not present in the incoming batch survive untouched.
    // The oracle reproduces the final state relationally: non-F rows as
    // written, F rows re-derived. Dynamic mode only changes overwrites
    // of EXISTING partitioned dirs, and every other sink key writes a
    // fresh scratch dir, so setting it session-wide is safe.
    "sink_dynamic_partition_overwrite" -> Decl(
      (s, d) => {
        val out = Tables.scratchDir("graft_dynpo").resolve("orders_ps").toString
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        base.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  (col("cents") * 2).as("cents"))
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        Tables.canon(
          s.read.parquet(out).select("o_orderkey", "o_orderstatus", "cents"))
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |       CAST(CASE WHEN o_orderstatus = 'F'
             |                 THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
             |                 ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
             |            AS BIGINT) AS cents
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Growth accounting: per week, active users split into new (first
    // week ever) vs returning — the canonical product growth table. One
    // per-user first-week aggregate broadcast back onto the weekly
    // activity grid.
    "ts_new_vs_returning" -> Decl(
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"),
                  expr("unix_micros(ts) div 604800000000L").as("wk"))
          .distinct()
        val first = act.groupBy("user_id").agg(min(col("wk")).as("first_wk"))
        act.join(broadcast(first), "user_id")
          .groupBy("wk")
          .agg(count(lit(1)).as("n_active"),
               sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L)).as("n_new"))
          .select(col("wk"), col("n_active"), col("n_new"),
                  (col("n_active") - col("n_new")).as("n_returning"))
          .orderBy("wk")
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
             |               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
             |             FROM events),
             |f AS (SELECT user_id, min(wk) AS first_wk FROM act GROUP BY user_id)
             |SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
             |       CAST(sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_new,
             |       CAST(count(*) - sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_returning
             |FROM act JOIN f USING (user_id)
             |GROUP BY wk ORDER BY wk""".stripMargin)),

    // Binary-column scalar work: a 16-byte digest blob per document,
    // sliced to its 4-byte prefix (the shard key pattern for content-
    // addressed stores), byte length audited — binary substring/hex/
    // length riding the scan. The oracle mirrors at the hex-string level
    // (hex(substring(blob, 1, 4)) ≡ first 8 hex chars).
    "scalar_binary_ops" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          .select(col("doc_id"),
                  hex(substring(unhex(col("h")), 1, 4)).as("prefix_hex"),
                  length(unhex(col("h"))).cast("bigint").as("n_bytes"),
                  (pmod(conv(substring(col("h"), 1, 8), 16, 10).cast("bigint"),
                        lit(64L))).as("shard"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id, md5(text) AS h FROM documents)
             |SELECT doc_id, upper(substr(h, 1, 8)) AS prefix_hex,
             |       CAST(octet_length(unhex(h)) AS BIGINT) AS n_bytes,
             |       CAST(CAST(('0x' || substr(h, 1, 8))::BIGINT AS BIGINT) % 64
             |            AS BIGINT) AS shard
             |FROM h ORDER BY doc_id""".stripMargin)),

    // Lakehouse VACUUM (retention-driven physical
    // file removal under snapshot isolation) and PCA whitening as a
    // fit→apply pipeline (the learned transform broadcast over the scan).

    // VACUUM — the retention pass every snapshot-isolated table needs:
    // v1 commits two immutable files, v2 COMPACTS them into one rewritten
    // file (dropping the 'P' rows — a delete folded into compaction),
    // retention then expires v1, and vacuum physically deletes every file
    // no LIVE manifest references. The declared result reads v2 AFTER the
    // vacuum — proving the rewrite is self-contained — and reports the
    // exact removed-file census (single-file commits by construction, so
    // the count is deterministic). The oracle recomputes v2's content
    // from the base table. At 100 TB this is the storage-reclaim job:
    // manifests are KB metadata, data files never rewrite except by
    // compaction, and vacuum is a pure metadata-diff + delete.
    "sink_snapshot_vacuum" -> Decl(
      (s, d) => {
        import java.nio.file.Files
        val dir = Tables.scratchDir("graft_vacuum")
        val orders = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        val f1 = dir.resolve("part_a.parquet")
        val f2 = dir.resolve("part_b.parquet")
        val f3 = dir.resolve("compacted.parquet")
        orders.filter(col("o_orderkey") % 2 === 0)
          .coalesce(1).write.parquet(f1.toString)
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .coalesce(1).write.parquet(f2.toString)
        Files.writeString(dir.resolve("v1.manifest"), s"$f1\n$f2")
        // v2 = compaction + delete of the 'P' slice, one rewritten file
        s.read.parquet(f1.toString, f2.toString)
          .filter(col("o_orderstatus") =!= "P")
          .coalesce(1).write.parquet(f3.toString)
        Files.writeString(dir.resolve("v2.manifest"), f3.toString)
        // retention expires v1 → live = {v2} → referenced = {f3}
        Files.delete(dir.resolve("v1.manifest"))
        val referenced = scala.util.Using.resource(Files.list(dir)) { live =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(live.iterator())
            .asScala.filter(_.toString.endsWith(".manifest"))
            .flatMap(m => Files.readString(m).split("\n")).toSet
        }
        val removed = Seq(f1, f2, f3).count { f =>
          val expired = !referenced.contains(f.toString)
          if (expired) GraftCatalog.deleteRecursively(f)
          expired
        }
        s.read.parquet(f3.toString)
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .select(lit("v2_after_vacuum").as("version"), col("n"), col("cents"),
                  lit(removed.toLong).as("files_removed"))
      },
      Some("""SELECT 'v2_after_vacuum' AS version,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS cents,
             |       CAST(2 AS BIGINT) AS files_removed
             |FROM orders WHERE o_orderstatus <> 'P'""".stripMargin)),

    // PCA whitening APPLY — the fit→transform split of an ML pipeline:
    // the fit is the one-pass Gram state + driver eigen (exactly
    // vec_pca_top2_deflate's machinery); the apply broadcasts (μ·v, v,
    // λ) as literal arrays and projects each sampled vector with a fixed
    // LEFT-FOLD dot product (aggregate over zip_with — deterministic
    // float order, unlike a grouped sum), z_k = (x·v_k − μ·v_k)/√λ_k.
    // Oracle-N (eigen); Round9nSpec pins unit variance of the whitened
    // coordinates over the full corpus and determinism across runs.
    "vec_pca_whiten_apply" -> Decl(
      (s, d) => {
        val dim = 64
        val gramUdf = udaf(new graft.functions.VectorGramAgg(dim))
        val row = Tables(s, d, "embeddings")
          .agg(gramUdf(col("embedding")).as("g"))
          .select(col("g.n"), col("g.s"), col("g.g"))
          .head()
        val gram = graft.functions.GramState(
          row.getLong(0), row.getSeq[Double](1).toArray, row.getSeq[Double](2).toArray)
        val cov = graft.functions.VectorGramAgg.covariance(gram, dim)
        val (v1, l1) = graft.functions.VectorGramAgg.topEigen(cov)
        val deflated = Array.tabulate(dim, dim)((i, j) => cov(i)(j) - l1 * v1(i) * v1(j))
        val (v2, l2) = graft.functions.VectorGramAgg.topEigen(deflated)
        val mu = gram.s.map(_ / gram.n)
        def dotMu(v: Array[Double]) = mu.zip(v).map { case (a, b) => a * b }.sum
        val (c1, c2) = (dotMu(v1), dotMu(v2))
        def proj(v: Array[Double], c: Double, l: Double, name: String) = {
          val varr = array(v.toIndexedSeq.map(lit): _*)
          round((expr_dot(varr) - lit(c)) / lit(math.sqrt(l)), 6).as(name)
          }
        def expr_dot(varr: org.apache.spark.sql.Column) =
          aggregate(zip_with(col("embedding"), varr,
                             (x, w) => x.cast("double") * w),
                    lit(0.0), (acc, p) => acc + p)
        Tables(s, d, "embeddings")
          .filter(col("vec_id") % 250 === 0)
          .select(col("vec_id"),
                  proj(v1, c1, l1, "z1"), proj(v2, c2, l2, "z2"))
          .orderBy("vec_id")
      },
      None),

    // Materialized-view acceleration — build a
    // (event_type, day) rollup of the events projection, register it with
    // `graft.plans.MvCatalog`, attach `MvRewrite` to the session's
    // extraOptimizations, and run a plain groupBy(event_type) aggregate
    // over the BASE. The optimizer rewrites it to roll up the summary
    // (the spec proves the physical scan reads the MV parquet, plus a
    // negative control on a non-dimension grouping), while the DuckDB
    // oracle computes the same answer from the RAW table — the hash match
    // proves the rewrite value-exact end to end.
    //
    // 100 TB shape: the rewritten plan reads |event_type × day| rows
    // instead of the corpus — THE lever for repeated dashboard
    // aggregates; counts/sums roll up integer-exactly.

    "sql_mv_rewrite" -> Decl(
      (s, d) => {
        val base = setupMv(s, d)
        base.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
               sum(col("cents")).as("sum_cents"),
               min(col("cents")).as("min_cents"),
               max(col("cents")).as("max_cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       count(*) AS n_events,
             |       CAST(sum(c) AS BIGINT) AS sum_cents,
             |       min(c) AS min_cents,
             |       max(c) AS max_cents
             |FROM (SELECT event_type,
             |             CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // The MV feature as SQL surface — `CREATE
    // MATERIALIZED VIEW name AS <aggregate query>` through `graft.Sql
    // .execute` persists the summary under the warehouse, derives
    // dims/metrics from the defining aggregate, registers it with the
    // rewrite rule, and from then on matching SQL-text aggregates over
    // the same view are silently served from the summary (spec proves
    // the scan switch; the oracle computes from the RAW table).

    "sql_mv_ddl" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_type"),
                  datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                    .cast("bigint").as("day"),
                  round(col("value") * 100).cast("bigint").as("cents"))
          .createOrReplaceTempView("ev_mvddl")
        val wh = Tables.scratchDir("graft_mvddl").toString
        graft.Sql.execute(s, wh,
          """CREATE MATERIALIZED VIEW mv_ddl_events AS
            |SELECT event_type, day, count(*) AS n, sum(cents) AS sc,
            |       min(cents) AS mn, max(cents) AS mx
            |FROM ev_mvddl GROUP BY event_type, day""".stripMargin)
        // this aggregate is rewritten onto the summary by MvRewrite
        s.sql("""SELECT event_type, count(*) AS n_events,
                |       sum(cents) AS sum_cents,
                |       min(cents) AS min_cents, max(cents) AS max_cents
                |FROM ev_mvddl GROUP BY event_type
                |ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |       count(*) AS n_events,
             |       CAST(sum(c) AS BIGINT) AS sum_cents,
             |       min(c) AS min_cents,
             |       max(c) AS max_cents
             |FROM (SELECT event_type,
             |             CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // INCREMENTAL materialized-view maintenance — the
    // lakehouse ingest loop. History lands in a warehouse parquet table, a
    // (event_type, day) MV is created over it, a few days of new events are
    // APPENDED, and `REFRESH MATERIALIZED VIEW` merges ONLY the delta's
    // partial states into the summary (manifest-diffed file listing; see
    // graft.plans.MvMaintain) — O(delta + summary), never O(history). The
    // returned aggregate is then silently served from the refreshed summary
    // while the DuckDB oracle recomputes from the RAW events table: the
    // hash match proves create → append → incremental merge → rewrite is
    // value-exact end to end. MvRound12Spec adds the listener-counted
    // records-read gate proving the refresh never re-scans history.

    "sql_mv_refresh_incremental" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
                  datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                    .cast("bigint").as("day"),
                  round(col("value") * 100).cast("bigint").as("cents"))
        val cut = ev.agg(max(col("day"))).collect()(0).getLong(0) - 3
        val wh = Tables.scratchDir("graft_mvincq").toString
        ev.filter(col("day") < cut).write.parquet(s"$wh/ev_incq")
        s.read.parquet(s"$wh/ev_incq").createOrReplaceTempView("ev_incq")
        graft.Sql.execute(s, wh,
          """CREATE MATERIALIZED VIEW mv_incq AS
            |SELECT event_type, day, count(*) AS n, sum(cents) AS sc
            |FROM ev_incq GROUP BY event_type, day""".stripMargin)
        // the ingest: new days APPEND to the base table (files only —
        // exactly what a 100 TB landing zone does between refreshes)
        ev.filter(col("day") >= cut).write.mode("append").parquet(s"$wh/ev_incq")
        s.read.parquet(s"$wh/ev_incq").createOrReplaceTempView("ev_incq")
        graft.Sql.execute(s, wh, "REFRESH MATERIALIZED VIEW mv_incq")
        // served from the MERGED summary (plan-asserted in the spec)
        s.sql("""SELECT event_type, count(*) AS n_events,
                |       sum(cents) AS sum_cents
                |FROM ev_incq GROUP BY event_type
                |ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |       count(*) AS n_events,
             |       CAST(sum(c) AS BIGINT) AS sum_cents
             |FROM (SELECT event_type,
             |             CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // MV rewrite over a STAR JOIN — the canonical
    // warehouse MV is an aggregate over fact ⋈ dim, and the matcher now
    // recurses through inner Join nodes (either orientation), matching the
    // join conditions semantically and rolling dim-only filters (pushed
    // BELOW the join by the optimizer) up onto the summary. The fixture
    // registers a (c_mktsegment) rollup of orders ⋈ customer and queries a
    // dim-filtered aggregate over the same join; the oracle recomputes the
    // join from the raw tables in DuckDB.
    //
    // 100 TB shape: the dashboard query reads a 5-row summary instead of
    // re-shuffling a fact ⋈ dim join over the corpus — the MV lever
    // extended to the plan shape real warehouses query every day.

    "sql_mv_join_rewrite" -> Decl(
      (s, d) => {
        val base = setupJoinMv(s, d)
        // a DIM filter — pushed below the join by the optimizer, rolled
        // up over the summary by the matcher
        base.filter(col("c_mktsegment") =!= "BUILDING")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
               sum(col("cents")).as("sum_cents"),
               min(col("cents")).as("min_cents"),
               max(col("cents")).as("max_cents"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |       count(*) AS n_orders,
             |       CAST(sum(cents) AS BIGINT) AS sum_cents,
             |       min(cents) AS min_cents,
             |       max(cents) AS max_cents
             |FROM (SELECT c_mktsegment,
             |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |      FROM orders JOIN customer ON o_custkey = c_custkey)
             |WHERE c_mktsegment <> 'BUILDING'
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // COUNT(DISTINCT dim) through the MV rewrite — the
    // classic Calcite distinct-rollup: when the query's distinct column is
    // itself an MV dimension and the MV's dims are exactly the groupings
    // plus that column, the summary holds one row per (group, x) pair and
    // a plain null-skipping Count over the summary IS the distinct count.
    // The same (event_type, day) MV that serves counts/sums/avgs now also
    // serves per-type active-day counts — no second summary needed.
    // MvDistinctSpec pins the scan switch AND the extra-dim negative.

    "sql_mv_distinct_rewrite" -> Decl(
      (s, d) => {
        val base = setupMv(s, d)
        base.groupBy("event_type")
          .agg(countDistinct(col("day")).as("n_days"),
               count(lit(1)).as("n_events"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       count(DISTINCT day) AS n_days,
             |       count(*) AS n_events
             |FROM (SELECT event_type,
             |             CAST(datediff('day', DATE '2023-12-31',
             |                  CAST(CAST(ts AS TIMESTAMP) AS DATE))
             |                  AS BIGINT) AS day
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Two lakehouse scan surfaces the inventory still
    // lacked — parquet SCHEMA EVOLUTION (mergeSchema over files written
    // before and after a column was added; the missing column reads as
    // NULL) and RECURSIVE file lookup (one logical table scattered over
    // nested ingest directories). Both oracled against the RAW table with
    // the same deterministic split.

    // v1 files carry (doc_id, lang); v2 files add n_chars. mergeSchema
    // unions the footers, v1 rows surface NULL n_chars, and the
    // aggregate proves NULL-vs-present accounting per lang. At cluster
    // scale this is the zero-rewrite column-add migration path.
    "source_schema_evolution" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_schevo").toString
        val docs = Tables(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$dir/v1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$dir/v2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$dir/v1", s"$dir/v2")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("n_chars").isNull, 1L).otherwise(0L))
                 .as("n_legacy"),
               sum(coalesce(col("n_chars"), lit(0L))).as("chars_v2"))
          .orderBy("lang")
      },
      Some("""SELECT lang,
             |       count(*) AS n_docs,
             |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_legacy,
             |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars
             |                     ELSE 0 END) AS BIGINT) AS chars_v2
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // One logical table scattered across nested ingest directories
    // (date=.../hour=... style trees without partition columns):
    // recursiveFileLookup discovers every leaf file. The aggregate
    // proves no file was missed vs the raw table.
    "scan_recursive_file_lookup" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_recur").toString
        val docs = Tables(s, d, "documents")
        docs.filter(col("doc_id") % 3 === 0)
          .write.mode("overwrite").parquet(s"$dir/a/x")
        docs.filter(col("doc_id") % 3 === 1)
          .write.mode("overwrite").parquet(s"$dir/a/y/deep")
        docs.filter(col("doc_id") % 3 === 2)
          .write.mode("overwrite").parquet(s"$dir/b")
        s.read.option("recursiveFileLookup", "true").parquet(dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("chars"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin))
  )
}
