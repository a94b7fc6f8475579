package graft.operators

import graft.{Decl, Sql, Tables, declMap}
import org.apache.spark.sql.functions._

/** SURVEY §2.1 scans/sources/sinks, §2.2 projection/filter/predicates,
  * §2.3 joins.
  *
  * Every declared query ends in a canonical total order (`Tables.canon` ⇔
  * oracle `ORDER BY ALL NULLS FIRST`) so the driver's file-order hash compare
  * is deterministic; the sort is eliminated under `Bench`'s `.count()`.
  *
  * 100 TB notes are inline per operator: the plan shapes here (pushed
  * filters, pruned scans, broadcast dims, single-shuffle joins) are exactly
  * the ones that survive a 1000-executor scale-up.
  */
object Relational {

  // ---------------------------------------------------------------- §2.1
  private val scans: Seq[(String, Decl)] = Seq(
    // Full scan, all columns. At 100 TB this is the pathological query by
    // construction; nothing to optimize beyond the vectorized reader.
    "scan_full" -> Decl(
      (s, d) => Tables.canon(Tables(s, d, "lineitem")),
      Some("SELECT * FROM lineitem ORDER BY ALL NULLS FIRST")),

    // Column pruning: ReadSchema in the physical scan must contain exactly
    // these two columns (asserted in RelationalSpec via the explain output).
    "scan_prune_project" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "lineitem").select("l_orderkey", "l_extendedprice")),
      Some("SELECT l_orderkey, l_extendedprice FROM lineitem ORDER BY ALL NULLS FIRST")),

    // Predicate pushdown to parquet row groups (PushedFilters in explain).
    "scan_filter_pushdown" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-06-30 00:00:00").cast("timestamp"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-06-30 00:00:00'
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Sink correctness: write a parquet copy, read it back. The roundtrip is
    // the identity, so the oracle is the plain table.
    "sink_parquet" -> Decl(
      (s, d) => {
        val tmp = Tables.scratchDir("graft_sink")
        val out = tmp.resolve("orders_roundtrip").toString
        Tables(s, d, "orders").write.mode("overwrite").parquet(out)
        Tables.canon(s.read.parquet(out))
      },
      Some("SELECT * FROM orders ORDER BY ALL NULLS FIRST")),

    // Partitioned sink: write orders hive-partitioned by status, read the
    // directory tree back — the on-disk layout §1 of SCALE.md prescribes for
    // fact tables. Partition pruning over this layout is asserted in
    // ScaleSpec; the oracle proves the roundtrip loses nothing.
    "sink_partitioned" -> Decl(
      (s, d) => {
        val tmp = Tables.scratchDir("graft_part")
        val out = tmp.resolve("orders_by_status").toString
        Tables(s, d, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(out)
        Tables.canon(
          s.read.parquet(out).select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"))
      },
      Some("SELECT * FROM orders ORDER BY ALL NULLS FIRST")),

    // MERGE upsert through the session's copy-on-write machinery, as an
    // oracled contract key: seed a target from the 'F' orders, merge in the
    // urgent orders (matched → price bump, unmatched → insert), read the
    // final table back. The DuckDB oracle reproduces the upsert
    // relationally (left join for the update arm, anti join for the insert
    // arm) — proving the mutation path yields exactly the SQL-standard
    // result set, not just "some rows changed".
    "sink_merge_upsert" -> Decl(
      (s, d) => {
        val wh = Tables.scratchDir("graft_mergewh").toString
        Tables(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$wh/merge_target")
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        Sql.execute(s, wh,
          """MERGE INTO merge_target t
            |USING (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
            |       WHERE o_orderpriority = '1-URGENT') s
            |ON t.o_orderkey = s.k
            |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1000
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) VALUES (s.k, s.p)""".stripMargin)
        Tables.canon(
          s.read.parquet(s"$wh/merge_target")
            .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice")))
      },
      Some("""WITH f AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'),
             |u AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
             |      WHERE o_orderpriority = '1-URGENT')
             |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM (
             |  SELECT f.o_orderkey,
             |         CASE WHEN u.k IS NULL THEN f.o_totalprice
             |              ELSE f.o_totalprice + 1000 END AS o_totalprice
             |  FROM f LEFT JOIN u ON f.o_orderkey = u.k
             |  UNION ALL
             |  SELECT u.k, u.p FROM u LEFT JOIN f ON f.o_orderkey = u.k
             |  WHERE f.o_orderkey IS NULL)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Z-order clustered layout: range-partition + sort the fact table by
    // the Morton interleave of (l_partkey, l_suppkey) before writing, so
    // every output file's parquet min/max statistics narrow on BOTH key
    // columns — point/range filters on either dimension prune files at the
    // scan (ScaleSpec asserts the per-file range narrowing against an
    // orderkey-sorted control layout). This is the multi-dimensional
    // clustering lever for 100 TB data skipping; the z key itself is the
    // native codegen'd `InterleaveBits` expression, mirrored in DuckDB by
    // a 16-term shift/add fold.
    "layout_zorder" -> Decl(
      (s, d) => {
        val out = Tables.scratchDir("graft_zorder").resolve("lineitem_z").toString
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
                  col("l_quantity"), col("l_extendedprice"))
        // Min-max quantize BOTH dimensions to the full 16-bit range before
        // interleaving: the raw key domains have unequal bit widths (1 000
        // suppliers vs 20 000 parts), and un-normalized interleaving lets
        // the wider dimension dominate every z-range cut — the narrow
        // column's per-file ranges wouldn't narrow at all. Integer
        // arithmetic (DIV) keeps the quantization engine-exact.
        val dom = li.agg(
          min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        li.crossJoin(broadcast(dom))
          // greatest(…, 1) guards the degenerate single-valued domain: Spark
          // DIV would yield NULL where DuckDB's // raises — a silent
          // cross-engine divergence; with the guard both map to z-bits 0.
          .withColumn("z", graft.functions.ZOrder.interleave16(
            expr("((l_partkey - pmin) * 65535) DIV greatest(pmax - pmin, 1)"),
            expr("((l_suppkey - smin) * 65535) DIV greatest(smax - smin, 1)")))
          .drop("pmin", "pmax", "smin", "smax")
          .repartitionByRange(8, col("z"))
          .sortWithinPartitions("z")
          .write.mode("overwrite").parquet(out)
        Tables.canon(s.read.parquet(out))
      },
      Some("""WITH dom AS (SELECT min(l_partkey) pmin, max(l_partkey) pmax,
             |                    min(l_suppkey) smin, max(l_suppkey) smax
             |             FROM lineitem)
             |SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
             |CAST(list_sum(list_transform(range(0, 16), i ->
             |  (((((l_partkey - pmin) * 65535) // greatest(pmax - pmin, 1) >> i) & 1) << (2 * i)) +
             |  (((((l_suppkey - smin) * 65535) // greatest(smax - smin, 1) >> i) & 1) << (2 * i + 1))
             |)) AS BIGINT) AS z
             |FROM lineitem, dom ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Small-file compaction: repartition by the partition column before a
    // partitionBy write → exactly ONE file per partition directory. This is
    // the nightly compaction job a 100 TB lakehouse runs to keep file
    // counts bounded (a fact table written by 1000 executors otherwise
    // scatters 1000 tiny files into every partition). Roundtrip identity is
    // the oracle; the one-file-per-directory invariant is asserted in
    // ScaleSpec.
    "sink_compacted" -> Decl(
      (s, d) => {
        val out = Tables.scratchDir("graft_compact").resolve("docs_by_lang").toString
        Tables(s, d, "documents")
          .repartition(col("lang"))
          .write.mode("overwrite").partitionBy("lang").parquet(out)
        Tables.canon(
          s.read.parquet(out).select("doc_id", "text", "lang", "source", "n_chars"))
      },
      Some("SELECT * FROM documents ORDER BY ALL NULLS FIRST")),

    // Batch-append — the mutation surface the driver contract keeps
    // ("batch-append and recompute"): write one slice, append the
    // complementary slice, read the union back. On a real deployment this
    // is the nightly-ingest shape (append-only parquet partitions); the
    // oracle proves append lost and duplicated nothing.
    "sink_append" -> Decl(
      (s, d) => {
        val out = Tables.scratchDir("graft_append").resolve("orders_appended").toString
        val o = Tables(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        o.filter(col("o_orderstatus") === "F").write.mode("overwrite").parquet(out)
        o.filter(col("o_orderstatus") =!= "F").write.mode("append").parquet(out)
        Tables.canon(s.read.parquet(out))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Correlated LATERAL join — per-customer top-1 order without a global
    // window: the lateral subquery runs per outer row and its sort+limit
    // stays inside the per-key scope. (Catalyst decorrelates this into a
    // ranked join — same plan family as topk_per_key_native — so there is
    // no per-row re-execution at scale.)
    "join_lateral_topn" -> Decl(
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("customer")
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        Tables.canon(s.sql(
          """SELECT c.c_custkey, c.c_name, t.top_orderkey, t.top_price
            |FROM customer c
            |JOIN LATERAL (
            |  SELECT o.o_orderkey AS top_orderkey, o.o_totalprice AS top_price
            |  FROM orders o WHERE o.o_custkey = c.c_custkey
            |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 1
            |) t""".stripMargin))
      },
      Some("""SELECT c.c_custkey, c.c_name, t.top_orderkey, t.top_price
             |FROM customer c
             |JOIN LATERAL (
             |  SELECT o.o_orderkey AS top_orderkey, o.o_totalprice AS top_price
             |  FROM orders o WHERE o.o_custkey = c.c_custkey
             |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 1
             |) t ON true
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // CSV source: write a CSV copy, read it back with an explicit schema —
    // identity roundtrip proven by the oracle over the original table.
    "source_csv_roundtrip" -> Decl(
      (s, d) => {
        val tmp = Tables.scratchDir("graft_csv")
        val out = tmp.resolve("nation_csv").toString
        Tables(s, d, "nation").write.mode("overwrite").option("header", "true").csv(out)
        Tables.canon(
          s.read.option("header", "true")
            .schema("n_nationkey INT, n_name STRING, n_regionkey INT").csv(out))
      },
      Some("SELECT * FROM nation ORDER BY ALL NULLS FIRST")),

    // ORC source: same roundtrip through the other columnar format.
    "source_orc_roundtrip" -> Decl(
      (s, d) => {
        val tmp = Tables.scratchDir("graft_orc")
        val out = tmp.resolve("supplier_orc").toString
        Tables(s, d, "supplier").write.mode("overwrite").orc(out)
        Tables.canon(s.read.orc(out))
      },
      Some("SELECT * FROM supplier ORDER BY ALL NULLS FIRST")),

    // Avro source: the Kafka-adjacent ingest format. This distribution
    // has no spark-avro connector, so the roundtrip goes through the
    // Hadoop avro-mapred container-file formats (graft.sources.Avro) —
    // splittable files, schema in the job conf, RDD hop confined to the
    // file boundary. Identity proven by the oracle over the original
    // table, schema fidelity asserted in OperatorSpec.
    "source_avro_roundtrip" -> Decl(
      (s, d) => {
        val tmp = Tables.scratchDir("graft_avro")
        val out = tmp.resolve("part_avro").toString
        val src = Tables(s, d, "part")
        graft.sources.Avro.write(src, out)
        Tables.canon(graft.sources.Avro.read(s, out, src.schema))
      },
      Some("SELECT * FROM part ORDER BY ALL NULLS FIRST")),

    // JSON file source: same roundtrip through line-delimited JSON.
    "source_json_file" -> Decl(
      (s, d) => {
        val tmp = Tables.scratchDir("graft_json")
        val out = tmp.resolve("customer_json").toString
        Tables(s, d, "customer").write.mode("overwrite").json(out)
        Tables.canon(
          s.read.schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
            .json(out))
      },
      Some("SELECT * FROM customer ORDER BY ALL NULLS FIRST")),

    // JSON-line source: parse the events.props JSON payload with an explicit
    // schema (from_json → struct → primitive). Codegen-friendly, no UDF.
    "source_jsonline" -> Decl(
      (s, d) => Tables.canon(
        Tables.events(s, d).select(
          col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").cast("bigint").as("k_val"))),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |FROM events ORDER BY ALL NULLS FIRST""".stripMargin)))

  // ---------------------------------------------------------------- §2.2
  private val filters: Seq[(String, Decl)] = Seq(
    "project_compute" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          // 4 dp, not 2: the product of two 2-dp values has exactly 4 true
          // decimals, so 2-dp rounding sits exactly on .005 boundaries where
          // Spark (BigDecimal HALF_UP) and DuckDB (float-domain) disagree;
          // at 4 dp no true value is near a boundary.
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("rfls"))),
      Some("""SELECT l_orderkey, l_linenumber,
             |round(l_extendedprice * (1 - l_discount), 4) AS revenue,
             |l_returnflag || '-' || l_linestatus AS rfls
             |FROM lineitem ORDER BY ALL NULLS FIRST""".stripMargin)),

    "filter_conjunct" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "lineitem")
          .filter((col("l_quantity") > 30 && col("l_discount") < 0.05) ||
                  !(col("l_returnflag") === "A"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
             |FROM lineitem
             |WHERE (l_quantity > 30 AND l_discount < 0.05) OR NOT (l_returnflag = 'A')
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "filter_in_between_like" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
                  col("c_acctbal").between(0, 5000) &&
                  col("c_name").like("%1%"))
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")),
      Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
             |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
             |  AND c_acctbal BETWEEN 0 AND 5000 AND c_name LIKE '%1%'
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Fixtures are null-free: manufacture nulls with nullif, then exercise
    // IS NULL, null-safe equality (<=> ⇔ IS NOT DISTINCT FROM), coalesce.
    "filter_null_semantics" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "customer").select(
          col("c_custkey"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
          expr("nullif(c_mktsegment, 'BUILDING') IS NULL").as("seg_is_null"),
          expr("nullif(c_mktsegment, 'BUILDING')") <=> lit("MACHINERY") as "seg_is_mach",
          coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("NONE")).as("seg_or_none"))),
      Some("""SELECT c_custkey,
             |nullif(c_mktsegment, 'BUILDING') AS seg,
             |nullif(c_mktsegment, 'BUILDING') IS NULL AS seg_is_null,
             |nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'MACHINERY' AS seg_is_mach,
             |coalesce(nullif(c_mktsegment, 'BUILDING'), 'NONE') AS seg_or_none
             |FROM customer ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Correlated EXISTS — Catalyst decorrelates to a left-semi join, which
    // is the scalable plan (one shuffle on the join key, no per-row subquery).
    "predicate_exists_subq" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT c_custkey, c_name FROM customer
                |WHERE EXISTS (SELECT 1 FROM orders
                |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // Scalar subquery in a predicate — planned as a broadcast of one value.
    "predicate_scalar_subq" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
                |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
             |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
             |ORDER BY o_orderkey""".stripMargin)))

  // ---------------------------------------------------------------- §2.3
  private val joins: Seq[(String, Decl)] = Seq(
    // Plain equi join; Catalyst picks the strategy (broadcast at this dim
    // size; SMJ/SHJ once customer outgrows the threshold at cluster scale).
    "join_inner_hash" -> Decl(
      (s, d) => {
        val o = Tables(s, d, "orders"); val c = Tables(s, d, "customer")
        Tables.canon(
          o.join(c, o("o_custkey") === c("c_custkey"), "inner")
            .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
                    round(col("o_totalprice"), 2).as("total")))
      },
      Some("""SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 2) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Explicit broadcast of the 25-row dim — the 100 TB plan: fact side
    // never shuffles.
    "join_broadcast" -> Decl(
      (s, d) => {
        val c = Tables(s, d, "customer"); val n = Tables(s, d, "nation")
        Tables.canon(
          c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
            .select("c_custkey", "c_name", "n_name"))
      },
      Some("""SELECT c_custkey, c_name, n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Pinned sort-merge path: the shuffle-and-sort plan that handles two
    // large co-partitioned fact tables at scale.
    "join_sort_merge" -> Decl(
      (s, d) => {
        val o = Tables(s, d, "orders"); val l = Tables(s, d, "lineitem")
        Tables.canon(
          l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                    round(col("o_totalprice"), 2).as("total")))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, round(o_totalprice, 2) AS total
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "join_shuffle_hash" -> Decl(
      (s, d) => {
        val l = Tables(s, d, "lineitem"); val p = Tables(s, d, "part")
        Tables.canon(
          l.join(p.hint("shuffle_hash"), l("l_partkey") === p("p_partkey"))
            .select("l_orderkey", "l_linenumber", "p_name", "l_quantity"))
      },
      Some("""SELECT l_orderkey, l_linenumber, p_name, l_quantity
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "join_left_outer" -> Decl(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val big = Tables(s, d, "orders").filter(col("o_totalprice") > 450000)
        Tables.canon(
          c.join(big, c("c_custkey") === big("o_custkey"), "left")
            .select(col("c_custkey"), col("o_orderkey"),
                    round(col("o_totalprice"), 2).as("big_total")))
      },
      Some("""SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS big_total
             |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
             |ON c_custkey = o_custkey ORDER BY ALL NULLS FIRST""".stripMargin)),

    "join_full_outer" -> Decl(
      (s, d) => {
        val p = Tables(s, d, "orders").filter(col("o_orderstatus") === "P")
        val neg = Tables(s, d, "customer").filter(col("c_acctbal") < 0)
        Tables.canon(
          p.join(neg, p("o_custkey") === neg("c_custkey"), "full")
            .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"),
                    col("o_orderkey"), round(col("o_totalprice"), 2).as("total")))
      },
      Some("""SELECT c_custkey, round(c_acctbal, 2) AS bal, o_orderkey, round(o_totalprice, 2) AS total
             |FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
             |FULL OUTER JOIN (SELECT * FROM customer WHERE c_acctbal < 0) c
             |ON o_custkey = c_custkey ORDER BY ALL NULLS FIRST""".stripMargin)),

    "join_left_semi" -> Decl(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val big = Tables(s, d, "orders").filter(col("o_totalprice") > 400000)
        Tables.canon(
          c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
            .select("c_custkey", "c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "join_left_anti" -> Decl(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val big = Tables(s, d, "orders").filter(col("o_totalprice") > 400000)
        Tables.canon(
          c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
            .select("c_custkey", "c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Cartesian kept deliberately tiny (5 × 25) — at scale a cross join is
    // only ever sane against a broadcast-sized side.
    "join_cross" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "region").crossJoin(Tables(s, d, "nation"))
          .select("r_name", "n_name")),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Pure non-equi θ-join → BroadcastNestedLoopJoin with the 1k-row side
    // broadcast; at 100 TB this shape demands a broadcastable side or an
    // interval-bucketing rewrite (see join_interval_overlap).
    "join_theta_range" -> Decl(
      (s, d) => {
        val sup = Tables(s, d, "supplier"); val c = Tables(s, d, "customer")
        Tables.canon(
          broadcast(sup).join(c,
              c("c_acctbal") >= sup("s_acctbal") - 10 &&
              c("c_acctbal") <= sup("s_acctbal") + 10)
            .select(col("s_suppkey"), col("c_custkey"),
                    round(col("s_acctbal"), 2).as("s_bal"),
                    round(col("c_acctbal"), 2).as("c_bal")))
      },
      Some("""SELECT s_suppkey, c_custkey, round(s_acctbal, 2) AS s_bal, round(c_acctbal, 2) AS c_bal
             |FROM supplier JOIN customer
             |ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Interval overlap *with an equi key* (user_id): planned as a hash join
    // on the key with the range as residual — the scalable shape (no nested
    // loop over the cross product).
    "join_interval_overlap" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
        val sig = e.filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
        val pur = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        Tables.canon(
          sig.join(pur,
              col("user_id") === col("p_user") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") < col("s_ts") + expr("INTERVAL 2 HOURS"))
            .select("signup_id", "purchase_id"))
      },
      Some("""SELECT s.event_id AS signup_id, p.event_id AS purchase_id
             |FROM events s JOIN events p
             |ON p.user_id = s.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase'
             |AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
             |AND CAST(p.ts AS TIMESTAMP) < CAST(s.ts AS TIMESTAMP) + INTERVAL 2 HOUR
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // As-of join, implemented the linear way: union both sides, one window
    // pass carries the latest click timestamp forward (last ignoreNulls).
    // O(n log n) in one shuffle vs the quadratic join+filter naive plan —
    // this is the shape that survives 100 TB. Oracle states the same
    // semantics as a (quadratic, but sf0.01-sized) join+group.
    "join_asof" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), lit(0).as("kind"),
                  col("ts").as("click_ts"), lit(null).cast("long").as("purchase_id"))
        val purch = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(1).as("kind"),
                  lit(null).cast("timestamp").as("click_ts"), col("event_id").as("purchase_id"))
        // kind sorts clicks before purchases at equal ts ⇒ `<=` semantics.
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.canon(
          clicks.unionAll(purch)
            .withColumn("last_click_ts", last("click_ts", ignoreNulls = true).over(w))
            .filter(col("kind") === 1)
            .select(col("purchase_id").as("event_id"), col("user_id"), col("last_click_ts")))
      },
      Some("""SELECT p.event_id, p.user_id, CAST(max(c.ts) AS TIMESTAMP) AS last_click_ts
             |FROM events p LEFT JOIN events c
             |ON c.user_id = p.user_id AND c.event_type = 'click'
             |AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
             |WHERE p.event_type = 'purchase'
             |GROUP BY p.event_id, p.user_id ORDER BY ALL NULLS FIRST""".stripMargin)),

    // 5-way star: fact ⋈ three dims ⋈ region. Dims broadcast, so the only
    // shuffle is the final partial/final aggregate — the canonical 100 TB
    // star-join plan.
    "join_multiway_star" -> Decl(
      (s, d) => {
        val l = Tables(s, d, "lineitem"); val o = Tables(s, d, "orders")
        val c = Tables(s, d, "customer"); val n = Tables(s, d, "nation")
        val r = Tables(s, d, "region")
        Tables.canon(
          l.join(o, l("l_orderkey") === o("o_orderkey"))
            .join(c, o("o_custkey") === c("c_custkey"))
            .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
            .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
            .groupBy(col("r_name"), col("n_name"))
            .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
                 count(lit(1)).as("n_items")))
      },
      Some("""SELECT r_name, n_name,
             |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |count(*) AS n_items
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY ALL NULLS FIRST""".stripMargin)))

  val decls: Map[String, Decl] = declMap(scans ++ filters ++ joins: _*)
}
