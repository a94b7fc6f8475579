package graft.operators

import graft.{Decl, Tables, declMap}
import graft.functions.WeightedAvg
import org.apache.spark.sql.functions._

/** SURVEY §2.4 aggregations, §2.6 sorts/limits, §2.7 set operations.
  *
  * All aggregates run as HashAggregateExec with partial (map-side) + final
  * phases — the single-shuffle shape that scales linearly with input. Double
  * aggregates are rounded per SURVEY §7.3 R3 (2 dp money, 6 dp ratios).
  */
object Aggregates {

  // ---------------------------------------------------------------- §2.4
  private val aggs: Seq[(String, Decl)] = Seq(
    // TPC-H-Q1-style pricing summary: the flagship multi-aggregate.
    "agg_groupby_pricing" -> Decl(
      (s, d) => Tables(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |round(sum(l_quantity), 2) AS sum_qty,
             |round(sum(l_extendedprice), 2) AS sum_base_price,
             |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             |round(avg(l_quantity), 6) AS avg_qty,
             |round(avg(l_discount), 6) AS avg_disc,
             |count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Exact distinct = Expand + two-phase agg; at 100 TB prefer
    // approx_count_distinct (below) unless exactness is contractual.
    "agg_count_distinct" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .agg(countDistinct(col("o_custkey")).as("n_cust")),
      Some("SELECT count(DISTINCT o_custkey) AS n_cust FROM orders")),

    "agg_multi_distinct" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             countDistinct(col("o_orderstatus")).as("n_status"),
             count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
             |count(DISTINCT o_orderstatus) AS n_status, count(*) AS n_orders
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Variance family computed on l_discount (magnitude ~0.1) so 6 dp
    // rounding has plenty of slack vs cross-engine summation-order noise.
    "agg_stats" -> Decl(
      (s, d) => Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(min(col("l_extendedprice")), 2).as("min_price"),
             round(max(col("l_extendedprice")), 2).as("max_price"),
             round(avg(col("l_discount")), 6).as("avg_disc"),
             round(stddev_samp(col("l_discount")), 6).as("sd_disc"),
             round(var_samp(col("l_discount")), 6).as("var_disc"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |round(min(l_extendedprice), 2) AS min_price,
             |round(max(l_extendedprice), 2) AS max_price,
             |round(avg(l_discount), 6) AS avg_disc,
             |round(stddev_samp(l_discount), 6) AS sd_disc,
             |round(var_samp(l_discount), 6) AS var_disc
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "agg_grouping_sets" -> Decl(
      (s, d) => { Tables.views(s, d); s.sql(GroupingSetsSql) },
      Some(GroupingSetsSql)),

    "agg_rollup" -> Decl(
      (s, d) => { Tables.views(s, d); s.sql(RollupSql) },
      Some(RollupSql)),

    "agg_cube" -> Decl(
      (s, d) => { Tables.views(s, d); s.sql(CubeSql) },
      Some(CubeSql)),

    "agg_having" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .filter(col("n") >= 12)
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY o_custkey HAVING count(*) >= 12
             |ORDER BY o_custkey""".stripMargin)),

    // HLL sketch — implementation-defined result, so no SQL oracle; bounds
    // vs the exact count are asserted in AggregatesSpec. This is the
    // distinct-count to reach for at 100 TB (no Expand blow-up).
    "agg_approx_distinct" -> Decl(
      (s, d) => Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag"),
      None),

    // Per-group collected list, canonicalized by sorting then flattened to a
    // primitive string (output rule R5).
    "agg_collect_sorted" -> Decl(
      (s, d) => Tables(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
             count(lit(1)).as("n"))
        .orderBy("c_nationkey"),
      Some("""SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names, count(*) AS n
             |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // Bivariate statistics: correlation and sample covariance per group,
    // both rounded at 6 dp. Both engines use single-pass co-moment
    // algorithms; |corr|<=1 and the small-magnitude covariance
    // (quantity×discount ≈ units×1e-2) keep 6 dp far above the
    // summation-order noise floor (verified at all three scale factors).
    "agg_corr_covar" -> Decl(
      (s, d) => Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
             round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             |round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // KLL/GK-sketch percentiles — the quantile to reach for at 100 TB: one
    // pass, mergeable partial state, no Expand/sort blow-up (the exact
    // `percentile` below buffers every value per group). Result is an
    // order statistic, not interpolated, and sketch-implementation-defined
    // → no SQL oracle; OperatorSpec bounds it against the exact median.
    "agg_approx_percentile" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("med_approx"),
             expr("approx_percentile(o_totalprice, 0.9, 1000)").as("p90_approx"))
        .orderBy("o_orderpriority"),
      None),

    // Fixed-width histogram: 10 × 50k buckets over order totals, out-of-range
    // clamped into the edge buckets so the histogram is total. Same floor
    // arithmetic on both sides (DuckDB 1.0 has no width_bucket). One
    // partial-agg shuffle on a 10-value key — the shape survives any scale.
    "agg_histogram" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .select(least(greatest(floor(col("o_totalprice") / 50000), lit(0)), lit(9))
                  .cast("int").as("bucket"),
                col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
             round(min("o_totalprice"), 2).as("lo"),
             round(max("o_totalprice"), 2).as("hi"),
             round(avg("o_totalprice"), 6).as("avg_price"))
        .orderBy("bucket"),
      Some("""SELECT CAST(least(greatest(floor(o_totalprice / 50000), 0), 9) AS INT) AS bucket,
             |count(*) AS n, round(min(o_totalprice), 2) AS lo,
             |round(max(o_totalprice), 2) AS hi, round(avg(o_totalprice), 6) AS avg_price
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // min_by/max_by (argmin/argmax): which customer holds the extreme
    // balance per market segment. The ordering key packs (balance, custkey)
    // into one BIGINT — round(bal·100)·2³⁶ + custkey — because (segment,
    // acctbal) ties DO occur at sf0.1 and a bare arg_max would be
    // nondeterministic (SURVEY §7.3 R2). The 36-bit shift keeps the packing
    // collision-free for custkeys up to ~6.9·10¹⁰ (TPC-H SF ~450 000) while
    // bal·100·2³⁶ ≤ 10⁸·2³⁶ ≈ 6.9·10¹⁸ stays inside the BIGINT range.
    "agg_argminmax" -> Decl(
      (s, d) => {
        val ord = round(col("c_acctbal") * 100, 0).cast("bigint") * 68719476736L +
          col("c_custkey")
        Tables(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), ord.as("ord"))
          .groupBy("c_mktsegment")
          .agg(max_by(col("c_custkey"), col("ord")).as("richest_cust"),
               round(max(col("c_acctbal")), 2).as("max_bal"),
               min_by(col("c_custkey"), col("ord")).as("poorest_cust"),
               round(min(col("c_acctbal")), 2).as("min_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |arg_max(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 68719476736 + c_custkey) AS richest_cust,
             |round(max(c_acctbal), 2) AS max_bal,
             |arg_min(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 68719476736 + c_custkey) AS poorest_cust,
             |round(min(c_acctbal), 2) AS min_bal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Conditional aggregation — FILTER-clause aggregates and count_if, the
    // SQL-standard "pivot one metric by predicate". SQL text entry point
    // (EP2) so the query is a 1:1 textual twin of the oracle.
    "agg_filtered" -> Decl(
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderstatus,
                |count(*) AS n,
                |count_if(o_totalprice > 250000) AS n_big,
                |round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS sum_urgent,
                |round(avg(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 6) AS avg_low
                |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderstatus,
             |count(*) AS n,
             |count(*) FILTER (WHERE o_totalprice > 250000) AS n_big,
             |round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS sum_urgent,
             |round(avg(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 6) AS avg_low
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Mergeable HLL sketches (Apache DataSketches built-ins): per-group
    // sketch → per-group estimate, plus hll_union_agg across groups for the
    // global estimate WITHOUT re-scanning the input — the sketch-merge
    // pattern is how a 100 TB pipeline gets cheap distinct counts per
    // partition/day and rolls them up. Sketch internals have no DuckDB twin
    // → oracle-N; OperatorSpec bounds every estimate against the exact
    // distinct count.
    "agg_hll_sketch_union" -> Decl(
      (s, d) => {
        val sk = Tables(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        val per = sk.select(col("o_orderpriority").as("scope"),
                            hll_sketch_estimate(col("sk")).as("est"))
        val all = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
          .select(lit("ALL").as("scope"), col("est"))
        per.unionAll(all).orderBy("scope")
      },
      None),

    // Exact interpolated percentiles (median/p90) — Spark `percentile` and
    // DuckDB `quantile_cont` share the linear-interpolation definition.
    "agg_percentile" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("med"),
             round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |round(quantile_cont(o_totalprice, 0.5), 4) AS med,
             |round(quantile_cont(o_totalprice, 0.9), 4) AS p90
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Pivot on a known value set; empty cells coalesce to 0 (Spark pivot
    // yields null there, DuckDB's FILTER count yields 0).
    "agg_pivot" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
                coalesce(col("O"), lit(0L)).as("n_o"),
                coalesce(col("F"), lit(0L)).as("n_f"),
                coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Unpivot (wide → long); DuckDB twin as a UNION ALL stack.
    "agg_unpivot" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(round(min(col("o_totalprice")), 2).as("min_price"),
             round(max(col("o_totalprice")), 2).as("max_price"))
        .unpivot(Array(col("o_orderpriority")),
                 Array(col("min_price"), col("max_price")), "stat", "value")
        .orderBy("o_orderpriority", "stat"),
      Some("""WITH w AS (SELECT o_orderpriority,
             |  round(min(o_totalprice), 2) AS min_price,
             |  round(max(o_totalprice), 2) AS max_price
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o_orderpriority, 'min_price' AS stat, min_price AS value FROM w
             |UNION ALL
             |SELECT o_orderpriority, 'max_price' AS stat, max_price AS value FROM w
             |ORDER BY o_orderpriority, stat""".stripMargin)),

    // The typed Dataset face of the engine (graft.schema case classes):
    // compile-time-checked filter/groupByKey over Dataset[Customer] — the
    // Spark analog of the reference's statically-typed table access.
    "typed_dataset_agg" -> Decl(
      (s, d) => Tables.typed.customer(s, d)
        .filter(_.c_acctbal > 5000.0)
        .groupByKey(_.c_mktsegment)(org.apache.spark.sql.Encoders.STRING)
        .count()
        .toDF("c_mktsegment", "n")
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n FROM customer
             |WHERE c_acctbal > 5000 GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // Typed pairwise join (Dataset.joinWith → Dataset[(Order, Customer)]),
    // flattened back to primitive columns for the declared output.
    "typed_joinwith" -> Decl(
      (s, d) => {
        val sp = s; import sp.implicits._
        val o = Tables.typed.orders(s, d)
        val c = Tables.typed.customer(s, d)
        o.joinWith(c, o("o_custkey") === c("c_custkey"))
          .filter(p => p._1.o_totalprice > 400000.0)
          .map(p => (p._1.o_orderkey, p._2.c_name, p._1.o_totalprice))
          .toDF("o_orderkey", "c_name", "total")
          .withColumn("total", round(col("total"), 2))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin)),

    // The df.na surface: fill and drop over manufactured nulls.
    "null_fill_drop" -> Decl(
      (s, d) => {
        val withNulls = Tables(s, d, "customer").select(
          col("c_custkey"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
          expr("CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END").as("bal"))
        val filled = withNulls.na.fill(Map("seg" -> "UNKNOWN"))
        filled.na.drop(Seq("bal"))
          .withColumn("bal", round(col("bal"), 2))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |coalesce(nullif(c_mktsegment, 'BUILDING'), 'UNKNOWN') AS seg,
             |round(c_acctbal, 2) AS bal
             |FROM customer WHERE c_acctbal >= 0
             |ORDER BY c_custkey""".stripMargin)),

    // Custom typed Aggregator (graft.functions.WeightedAvg).
    "agg_custom_typed" -> Decl(
      (s, d) => Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(WeightedAvg(col("l_extendedprice"), col("l_quantity")), 2).as("wavg_price"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS wavg_price,
             |count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)))

  // Same SQL text runs on Spark and DuckDB (grouping() cast to INT on both).
  private def GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY ALL NULLS FIRST""".stripMargin

  private def RollupSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |CAST(grouping(o_orderstatus) AS INT) AS g_s,
      |CAST(grouping(o_orderpriority) AS INT) AS g_p,
      |count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY ALL NULLS FIRST""".stripMargin

  private def CubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      |CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY ALL NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- §2.6
  private val sorts: Seq[(String, Decl)] = Seq(
    // Multi-column sort with an explicit nulls-first spec on a manufactured
    // nullable column. SortExec is spillable; a global sort at 100 TB is a
    // range-partitioned shuffle — fine when the output demands total order.
    "sort_multicol" -> Decl(
      (s, d) => Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_name"),
                expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
                round(col("c_acctbal"), 2).as("bal"))
        .orderBy(col("seg").asc_nulls_first, col("bal").desc, col("c_custkey").asc),
      Some("""SELECT c_custkey, c_name, nullif(c_mktsegment, 'BUILDING') AS seg,
             |round(c_acctbal, 2) AS bal
             |FROM customer
             |ORDER BY seg ASC NULLS FIRST, bal DESC NULLS LAST, c_custkey ASC""".stripMargin)),

    // Global top-k: TakeOrderedAndProject — per-partition heaps + driver
    // merge of k rows, never a full sort. THE top-k plan at any scale.
    "topk_order_limit" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
        .orderBy(col("total").desc, col("o_orderkey").asc)
        .limit(10),
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders
             |ORDER BY total DESC NULLS LAST, o_orderkey ASC LIMIT 10""".stripMargin)),

    "limit_offset" -> Decl(
      (s, d) => { Tables.views(s, d); s.sql(LimitOffsetSql) },
      Some(LimitOffsetSql)),

    // Recursive CTE (new in Spark 4.x) — the classic date-spine expansion:
    // a month spine from min to max order date, LEFT JOINed so empty months
    // surface with n=0 (a plain GROUP BY would silently skip them).
    // Recursion GRANULARITY is the scale lesson here: Spark runs one job
    // per recursion step, so the recursion walks YEARS (≈7 steps) and each
    // year expands to its months inline — recursing month-by-month measured
    // 4 s of pure step overhead for the identical 80-row spine. The outer
    // CAST pins DuckDB's DATE-typed date arithmetic to Spark's TIMESTAMP.
    "recursive_cte_spine" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""WITH RECURSIVE years(y, mn, mx) AS (
                |  SELECT date_trunc('year', min(o_orderdate)),
                |         date_trunc('month', min(o_orderdate)),
                |         date_trunc('month', max(o_orderdate)) FROM orders
                |  UNION ALL
                |  SELECT y + INTERVAL 1 YEAR, mn, mx FROM years
                |  WHERE y + INTERVAL 1 YEAR <= mx
                |),
                |months AS (
                |  SELECT CAST(y + make_ym_interval(0, CAST(k AS INT)) AS TIMESTAMP) AS m
                |  FROM years LATERAL VIEW explode(sequence(0, 11)) t AS k
                |  WHERE y + make_ym_interval(0, CAST(k AS INT)) BETWEEN mn AND mx
                |)
                |SELECT m, count(o_orderkey) AS n,
                |       round(sum(o_totalprice), 2) AS total
                |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
                |GROUP BY m ORDER BY m""".stripMargin)
      },
      Some("""WITH RECURSIVE years(y, mn, mx) AS (
             |  SELECT date_trunc('year', min(o_orderdate)),
             |         date_trunc('month', min(o_orderdate)),
             |         date_trunc('month', max(o_orderdate)) FROM orders
             |  UNION ALL
             |  SELECT y + INTERVAL 1 YEAR, mn, mx FROM years
             |  WHERE y + INTERVAL 1 YEAR <= mx
             |),
             |months AS (
             |  SELECT CAST(y + to_months(CAST(k AS INT)) AS TIMESTAMP) AS m
             |  FROM years CROSS JOIN generate_series(0, 11) t(k)
             |  WHERE y + to_months(CAST(k AS INT)) BETWEEN mn AND mx
             |)
             |SELECT m, count(o_orderkey) AS n,
             |       round(sum(o_totalprice), 2) AS total
             |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
             |GROUP BY m ORDER BY m""".stripMargin)))

  private def LimitOffsetSql: String =
    """SELECT o_orderkey, o_custkey FROM orders
      |ORDER BY o_orderkey LIMIT 100 OFFSET 50""".stripMargin

  // ---------------------------------------------------------------- §2.7
  private val sets: Seq[(String, Decl)] = Seq(
    "set_union_all" -> Decl(
      (s, d) => {
        val a = Tables(s, d, "customer").select(
          col("c_nationkey").as("nk"), round(col("c_acctbal"), 2).as("bal"), lit("cust").as("src"))
        val b = Tables(s, d, "supplier").select(
          col("s_nationkey").as("nk"), round(col("s_acctbal"), 2).as("bal"), lit("supp").as("src"))
        Tables.canon(a.unionAll(b))
      },
      Some("""SELECT c_nationkey AS nk, round(c_acctbal, 2) AS bal, 'cust' AS src FROM customer
             |UNION ALL
             |SELECT s_nationkey AS nk, round(s_acctbal, 2) AS bal, 'supp' AS src FROM supplier
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "set_union_distinct" -> Decl(
      (s, d) => {
        val a = Tables(s, d, "customer").select(col("c_nationkey").as("nk"))
        val b = Tables(s, d, "supplier").select(col("s_nationkey").as("nk"))
        Tables.canon(a.union(b).distinct())
      },
      Some("""SELECT c_nationkey AS nk FROM customer
             |UNION SELECT s_nationkey AS nk FROM supplier
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Set + bag intersect in one declared result, tagged by mode.
    "set_intersect" -> Decl(
      (s, d) => {
        val hi = Tables(s, d, "orders").filter(col("o_totalprice") > 300000).select("o_custkey")
        val fin = Tables(s, d, "orders").filter(col("o_orderstatus") === "F").select("o_custkey")
        val setI = hi.intersect(fin).withColumn("mode", lit("set"))
        val bagI = hi.intersectAll(fin).withColumn("mode", lit("bag"))
        Tables.canon(setI.unionAll(bagI))
      },
      Some("""SELECT * FROM (
             |SELECT o_custkey, 'set' AS mode FROM
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000
             |   INTERSECT
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |UNION ALL
             |SELECT o_custkey, 'bag' AS mode FROM
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000
             |   INTERSECT ALL
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |) ORDER BY ALL NULLS FIRST""".stripMargin)),

    "set_except" -> Decl(
      (s, d) => {
        val hi = Tables(s, d, "orders").filter(col("o_totalprice") > 300000).select("o_custkey")
        val fin = Tables(s, d, "orders").filter(col("o_orderstatus") === "F").select("o_custkey")
        val setE = hi.except(fin).withColumn("mode", lit("set"))
        val bagE = hi.exceptAll(fin).withColumn("mode", lit("bag"))
        Tables.canon(setE.unionAll(bagE))
      },
      Some("""SELECT * FROM (
             |SELECT o_custkey, 'set' AS mode FROM
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000
             |   EXCEPT
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |UNION ALL
             |SELECT o_custkey, 'bag' AS mode FROM
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000
             |   EXCEPT ALL
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |) ORDER BY ALL NULLS FIRST""".stripMargin)))

  val decls: Map[String, Decl] = declMap(aggs ++ sorts ++ sets: _*)
}
