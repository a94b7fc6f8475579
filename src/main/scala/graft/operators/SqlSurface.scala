package graft.operators

/** SQL-surface, scalar-family and set-operation keys.
  * REGISTRY.md maps each key to its file:line.
  */
object SqlSurface {
  import graft.{Decl, Tables, declMap}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window
  import graft.functions.StringSimilarity
  import graft.adt.Adt
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  // Poisson(1) CDF breakpoints scaled to the first 6 hex digits of an md5
  // (lowercase hex compares lexicographically == numerically): weight k
  // for u ∈ [CDF(k-1), CDF(k)). The Poisson bootstrap is THE distributed
  // bootstrap: per-row weights are independent of row order and cluster
  // partitioning, so any engine reproduces them from the same hash.
  private val PoissonThresholds =
    Seq("5e2d58", "bc5ab1", "eb715e", "fb2397", "ff1025", "ffd90f", "fffa8b")

  private def q(spark: org.apache.spark.sql.SparkSession, d: String, sql: String) = {
    Tables.views(spark, d)
    graft.Sql.runSql(spark, sql)
  }

  /** Latest order per customer — the canonical DISTINCT ON use. The
    * trailing o_orderkey sort key breaks date ties so both engines keep
    * the same row. */
  private val DistinctOn =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
      |FROM orders
      |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin

  /** Customers' order-priority multiset common to 1996 and 1997:
    * INTERSECT ALL keeps min(m, n) copies of each (custkey, priority)
    * row — the bag semantics DISTINCT set ops can't express. */
  private val IntersectAll =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderpriority FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  INTERSECT ALL
      |  SELECT o_custkey, o_orderpriority FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |ORDER BY o_custkey, o_orderpriority""".stripMargin

  /** 1996 minus 1997 with multiplicity: EXCEPT ALL keeps max(m−n, 0)
    * copies. */
  private val ExceptAll =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderpriority FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  EXCEPT ALL
      |  SELECT o_custkey, o_orderpriority FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |ORDER BY o_custkey, o_orderpriority""".stripMargin

  /** percent_rank / cume_dist of customer balance within nation. The
    * hashed columns are EXACT half-up ppm rationals rebuilt from
    * rank()/count() in integer arithmetic — round(pr, 6) itself is
    * engine-divergent when (k−1)/(n−1) lands on a decimal midpoint
    * (sf0.1 hit 333/640 = 0.5203125: Spark's BigDecimal.valueOf rounds
    * the shortest string up, DuckDB rounds the binary double down).
    * The real window functions stay in the query and `fn_consistent`
    * pins them to within half an ulp-of-ppm of the exact rationals in
    * BOTH engines. */
  private val PercentRankCume =
    """WITH r AS (
      |  SELECT c_custkey, c_nationkey,
      |         percent_rank() OVER w AS pr,
      |         cume_dist() OVER w AS cd,
      |         CAST(rank() OVER w AS BIGINT) AS rk,
      |         CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)),
      |p AS (
      |  SELECT c_custkey, c_nationkey, pr, cd,
      |         CASE WHEN n = 1 THEN 0
      |              ELSE ((rk - 1) * 2000000 + (n - 1) -
      |                    (((rk - 1) * 2000000 + (n - 1)) % (2 * (n - 1)))) /
      |                   (2 * (n - 1)) END AS prq,
      |         (rk * 2000000 + n - ((rk * 2000000 + n) % (2 * n))) /
      |           (2 * n) AS cdq
      |  FROM r)
      |SELECT c_custkey, c_nationkey,
      |       CAST(prq AS BIGINT) AS pr_ppm,
      |       CAST(cdq AS BIGINT) AS cd_ppm,
      |       abs(pr * 1000000 - prq) < 1 AND abs(cd * 1000000 - cdq) < 1
      |         AS fn_consistent
      |FROM p ORDER BY c_custkey""".stripMargin

  /** Business days in [anchor, d): 5 per full week + the weekday
    * remainder capped at 5 (Sat/Sun contribute nothing). Differences
    * g(b) − g(a) are SIGNED — the synthetic fixture ships some lines
    * before their order date and the latency reports that honestly. */
  private def gExpr(dcol: org.apache.spark.sql.Column) = {
    val k = datediff(dcol, to_date(lit("1990-01-01")))
    lit(5) * (k / 7).cast("bigint") + least(pmod(k, lit(7)), lit(5)).cast("bigint")
  }

  /** orders + a two-level ADT: Payment = Paid(method: Method, cents) |
    * Unpaid, where Method = Card(last4) | Cash is itself an ADT nested
    * INSIDE the Paid payload. The encoding composes: a variant field is
    * just a Column, so an inner `Adt.construct` struct nests under the
    * outer payload with no special machinery — the property that makes
    * the StructType encoding closed under composition.
    */
  private def withPayment(s: SparkSession, d: String): DataFrame = {
    val o = Tables(s, d, "orders")
    val method = Adt.construct(
      (col("o_orderkey") % 3 === 0) ->
        Adt.variant("Card")("last4" ->
          lpad((col("o_orderkey") % 10000).cast("string"), 4, "0")),
      (col("o_orderkey") % 3 =!= 0) -> Adt.variant("Cash")())
    o.withColumn("payment", Adt.construct(
      (col("o_orderstatus") =!= "O") ->
        Adt.variant("Paid")(
          "method" -> method,
          "cents" -> round(col("o_totalprice") * 100).cast("bigint")),
      (col("o_orderstatus") === "O") -> Adt.variant("Unpaid")()))
  }
  private def payment: Column = col("payment")

  val decls: Map[String, Decl] = declMap(
    // QUALIFY SQL surface, Kneser–Ney language modeling,
    // and the Poisson bootstrap — the distributed-deterministic uncertainty
    // estimate.

    // QUALIFY clause (the window-filter SQL surface DuckDB/Snowflake/BQ
    // users expect; Spark's parser lacks it) — lowered by
    // Sql.rewriteQualify at the same injection altitude as the ADT
    // grammar. Top event per user by value through a rank predicate. The
    // oracle runs DuckDB's NATIVE QUALIFY — the hash-match proves the
    // rewrite implements the standard semantics, not an approximation.
    "sql_qualify_clause" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        graft.Sql.runSql(s,
          """SELECT user_id, event_id, round(value, 6) AS value FROM events
            |QUALIFY row_number() OVER (PARTITION BY user_id
            |                           ORDER BY value DESC, event_id) = 1
            |ORDER BY user_id""".stripMargin)
      },
      Some("""SELECT user_id, event_id, round(value, 6) AS value FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id
             |                           ORDER BY value DESC, event_id) = 1
             |ORDER BY user_id""".stripMargin)),

    // Interpolated Kneser–Ney bigram probabilities — the LM smoothing
    // every n-gram pipeline actually ships (continuation counts fix the
    // "San Francisco" problem add-one smoothing has). All sufficient
    // statistics are exact integers: c(w1,w2), c(w1·) = Σ c(w1,w2),
    // N1+(w1·) = |{w2}|, N1+(·w2) = |{w1}|, N = |bigram types|; with
    // fixed discount D = 0.75 (exact binary),
    //   P_kn(w2|w1) = (c(w1,w2) − D)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/N.
    // One float expression tree per output row, identical in both
    // engines, rounded once. Top-50 bigrams by count; count-type joins
    // are plain shuffles (the vocabulary grows with the corpus — nothing
    // pinned broadcast).
    "text_kneser_ney_bigram" -> Decl(
      (s, d) => {
        val toks = Tables(s, d, "documents")
          .select(split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
        val big = toks.select(explode(expr(
            "transform(slice(t, 1, size(t) - 1), (x, i) -> struct(x AS w1, t[i + 1] AS w2))"))
            .as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("c12"))
          .localCheckpoint(true)
        val left = big.groupBy("w1")
          .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fwd"))
        val cont = big.groupBy("w2").agg(count(lit(1)).as("n1bwd"))
        val types = big.agg(count(lit(1)).as("nn"))
        big
          .join(left, "w1").join(cont, "w2")
          .crossJoin(broadcast(types))
          .select(col("w1"), col("w2"), col("c12"),
            round((col("c12").cast("double") - 0.75d) / col("c1")
                    + lit(0.75d) * col("n1fwd") / col("c1")
                      * (col("n1bwd").cast("double") / col("nn")), 6)
              .as("p_kn"))
          .orderBy(col("c12").desc, col("w1"), col("w2"))
          .limit(50)
      },
      Some("""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
             |              WHERE len(string_split(text, ' ')) >= 2),
             |big AS (SELECT w1, w2, count(*) AS c12 FROM (
             |          SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |                   i -> {'w1': t[i], 'w2': t[i + 1]}), recursive := true)
             |          FROM toks)
             |        GROUP BY 1, 2),
             |l AS (SELECT w1, sum(c12) AS c1, count(*) AS n1fwd FROM big GROUP BY w1),
             |r AS (SELECT w2, count(*) AS n1bwd FROM big GROUP BY w2),
             |t AS (SELECT count(*) AS nn FROM big)
             |SELECT big.w1, big.w2, CAST(c12 AS BIGINT) AS c12,
             |       round((CAST(c12 AS DOUBLE) - 0.75) / c1
             |             + 0.75 * n1fwd / c1 * (CAST(n1bwd AS DOUBLE) / nn), 6)
             |         AS p_kn
             |FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
             |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin)),

    // IVF-PQ with residual encoding — the billion-vector ANN composition
    // (FAISS's IVFPQ shape): coarse k-means routes each vector to a cell,
    // the RESIDUAL (vector − cell centroid) is product-quantized with
    // global per-subspace codebooks, and a query probes its nprobe=2
    // nearest cells scoring candidates by exact ADC lookup sums. Fully
    // integer-exact: centroids and codebook entries round to the milli
    // grid (deterministic Lloyd variant, VecIndex.ivfpq), so residuals,
    // LUT distances and ADC sums are all BIGINT — no float sum, hence no
    // fold-order hazard. Scale shape: centroids/codebooks are k×dim tiny and
    // broadcast; the corpus shuffles once per Lloyd pass and once to
    // encode; query-side tables (routes, LUTs) grow with |queries| and
    // are therefore shuffled, never broadcast. Approximate → oracle-N;
    // Round10hhSpec bounds recall@10 against the exact integer top-10.
    "sim_ann_ivfpq_residual" -> Decl(
      (s, d) => {
        val (coarse, cb, codes) = VecIndex.ivfpq(s, d)
        val q = VecIndex.quantized(s, d)
        // --- query side: route to nprobe=2 cells, LUT on query residuals
        val qv = q.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("s_id"), col("i"),
                  col("x").as("qx"))
        val route = qv.join(broadcast(coarse), "i")
          .groupBy(col("q_id"), col("cell"))
          .agg(sum((col("qx") - col("cc")) * (col("qx") - col("cc"))).as("d2"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("q_id").orderBy(col("d2"), col("cell"))))
          .filter(col("rk") <= 2)
          .select("q_id", "cell")
        val qresid = qv.join(route, "q_id")
          .join(broadcast(coarse), Seq("cell", "i"))
          .select(col("q_id"), col("cell"), col("s_id"), col("i"),
                  (col("qx") - col("cc")).as("qr"))
        val lut = qresid.join(broadcast(cb), Seq("s_id", "i"))
          .groupBy(col("q_id"), col("cell"), col("s_id"), col("code"))
          .agg(sum((col("qr") - col("cb")) * (col("qr") - col("cb"))).as("d"))
        // --- exact-integer ADC over the probed cells' codes
        val w = Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
        codes.join(lut, Seq("cell", "s_id", "code"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy("q_id", "vec_id")
          .agg(sum(col("d")).as("adc"), count(lit(1)).as("nsub"))
          .filter(col("nsub") === 8) // all 8 subspace LUT hits present
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"),
                  col("vec_id"))
          .orderBy("q_id", "rank")
      },
      None),

    // Poisson bootstrap CI for the mean event value: per (row, resample),
    // weight ~ Poisson(1) derived from md5(resample:event_id) against the
    // fixed CDF thresholds above — row-order- and partitioning-independent,
    // so the 32 resample means are reproducible on any cluster. Weighted
    // sums stay exact BIGINTs (weight × cents); each mean is one terminal
    // division; the CI is the 2nd-smallest / 2nd-largest of the 32 sorted
    // means (a ~93.75% percentile interval). One scan fans out ×32 via a
    // broadcast spine into one partial-aggregating shuffle of 32 groups.
    "agg_bootstrap_ci" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), round(col("value") * 100).cast("bigint").as("c"))
        val spine = ev.sparkSession.range(0, 32).select(col("id").as("b"))
        val h = substring(md5(concat(col("b").cast("string"), lit(":"),
                                     col("event_id").cast("string"))), 1, 6)
        val w = PoissonThresholds.zipWithIndex
          .foldRight(lit(PoissonThresholds.size.toLong)) {
            case ((t, k), els) => when(h < lit(t), k.toLong).otherwise(els)
          }
        val means = ev.crossJoin(broadcast(spine))
          .select(col("b"), col("c"), w.as("w"))
          .groupBy("b")
          .agg(sum(col("w")).as("n"), sum(col("w") * col("c")).as("sum_wc"))
          .select(col("b"),
                  round(col("sum_wc").cast("double") / col("n").cast("double"), 6)
                    .as("mean_c"))
        means.agg(array_sort(collect_list(col("mean_c"))).as("ms"))
          .select(lit(32L).as("n_resamples"),
                  element_at(col("ms"), 2).as("ci_lo"),
                  element_at(col("ms"), 31).as("ci_hi"))
      },
      Some(s"""WITH spine AS (SELECT unnest(generate_series(0, 31)) AS b),
             |ev AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
             |       FROM events),
             |wts AS (SELECT b, c,
             |          CASE ${PoissonThresholds.zipWithIndex.map { case (t, k) =>
                          s"WHEN substr(md5(CAST(b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 6) < '$t' THEN $k"
                        }.mkString(" ")}
             |          ELSE ${PoissonThresholds.size} END AS w
             |        FROM ev CROSS JOIN spine),
             |means AS (SELECT b,
             |            round(CAST(sum(w * c) AS DOUBLE)
             |                  / CAST(sum(w) AS DOUBLE), 6) AS mean_c
             |          FROM wts GROUP BY b)
             |SELECT CAST(32 AS BIGINT) AS n_resamples,
             |       (SELECT mean_c FROM means ORDER BY mean_c LIMIT 1 OFFSET 1)
             |         AS ci_lo,
             |       (SELECT mean_c FROM means ORDER BY mean_c DESC LIMIT 1 OFFSET 1)
             |         AS ci_hi""".stripMargin)),

    // SQL-surface closers — DISTINCT ON (lowered by
    // `Sql.rewriteDistinctOn`, hash-matched against DuckDB's NATIVE
    // DISTINCT ON so the rewrite provably implements the standard
    // semantics), the bag-semantics set operations INTERSECT ALL / EXCEPT
    // ALL (both parsers know these natively; the multiset row-count
    // arithmetic min(m,n) / max(m−n,0) is what the hash-match pins), and
    // the two distribution window functions percent_rank / cume_dist.
    //
    // Scale shapes: DISTINCT ON is one window shuffle partitioned by the
    // ON keys — Catalyst's InferWindowGroupLimit turns the rn=1 filter
    // into a per-partition top-1 group limit, so no group ever
    // materializes fully. INTERSECT/EXCEPT ALL plan as a single
    // count-tagged aggregate + generate (Spark's ReplaceIntersectAll /
    // ReplaceExceptAll rules) — one shuffle on the row value, no join of
    // two sorted sides. The distribution windows partition by nation (a
    // bounded dimension), so every partition is small at any SF.

    "sql_distinct_on" -> Decl((s, d) => q(s, d, DistinctOn), Some(DistinctOn)),
    "set_intersect_all" -> Decl((s, d) => q(s, d, IntersectAll), Some(IntersectAll)),
    "set_except_all" -> Decl((s, d) => q(s, d, ExceptAll), Some(ExceptAll)),
    "window_percent_rank_cume" -> Decl(
      (s, d) => q(s, d, PercentRankCume), Some(PercentRankCume)),

    // IGNORE NULLS window semantics, inline VALUES
    // lookup joins, semver ordering, and tail risk (CVaR). Usual discipline:
    // exact integers, terminal rounded floats, unique-key total orders.

    // IGNORE NULLS window navigation: error rows null out their value;
    // each row recovers the most recent and the second-distinct-recent
    // non-null readings in its trailing 10-row frame — the sparse-sensor
    // navigation surface (first_value/nth_value IGNORE NULLS). Window
    // partitions by user (bounded per-user history).
    "window_nth_ignore_nulls" -> Decl(
      (s, d) => {
        val f = Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(-9, 0)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
                  expr("unix_micros(ts)").as("us"),
                  when(col("event_type") =!= "error",
                       round(col("value") * 100).cast("bigint")).as("x"))
          .select(col("user_id"), col("event_id"), col("x"),
                  last(col("x"), ignoreNulls = true).over(f).as("last_good"),
                  first(col("x"), ignoreNulls = true).over(f).as("oldest_good"),
                  count(col("x")).over(f).as("n_good"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |             CAST(epoch_us(ts) AS BIGINT) AS us,
             |             CASE WHEN event_type <> 'error'
             |                  THEN CAST(round(value * 100) AS BIGINT) END AS x
             |           FROM events)
             |SELECT user_id, event_id, x,
             |       last_value(x IGNORE NULLS) OVER w AS last_good,
             |       first_value(x IGNORE NULLS) OVER w AS oldest_good,
             |       CAST(count(x) OVER w AS BIGINT) AS n_good
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             |             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // Inline VALUES lookup join — the literal dimension table every ETL
    // embeds (priority → SLA weight) joined against the fact, entirely in
    // SQL. The VALUES relation is a local one-pass table Catalyst
    // broadcasts for free.
    "sql_values_lookup" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT w.sla_hours, CAST(count(*) AS BIGINT) AS n_orders,
                |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                |         AS cents
                |FROM orders
                |     JOIN (VALUES ('1-URGENT', 4), ('2-HIGH', 12), ('3-MEDIUM', 24),
                |                  ('4-NOT SPECIFIED', 72), ('5-LOW', 168))
                |          AS w(prio, sla_hours)
                |       ON o_orderpriority = w.prio
                |GROUP BY w.sla_hours ORDER BY w.sla_hours""".stripMargin)
      },
      Some("""SELECT w.sla_hours, CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS cents
             |FROM orders
             |     JOIN (VALUES ('1-URGENT', 4), ('2-HIGH', 12), ('3-MEDIUM', 24),
             |                  ('4-NOT SPECIFIED', 72), ('5-LOW', 168))
             |          AS w(prio, sla_hours)
             |       ON o_orderpriority = w.prio
             |GROUP BY w.sla_hours ORDER BY w.sla_hours""".stripMargin)),

    // Semver mint/parse/order: a deterministic version string per part,
    // split into numeric (major, minor, patch), compared against a pin,
    // and given a zero-padded sortable key — the package-metadata scalar
    // family. Pure per-row integer/string work.
    "scalar_semver_compare" -> Decl(
      (s, d) => {
        Tables(s, d, "part")
          .select(col("p_partkey"),
                  concat((col("p_partkey") % 4L).cast("string"), lit("."),
                         (col("p_partkey") % 30L).cast("string"), lit("."),
                         (col("p_partkey") % 10L).cast("string")).as("ver"))
          .withColumn("major", split(col("ver"), "\\.").getItem(0).cast("bigint"))
          .withColumn("minor", split(col("ver"), "\\.").getItem(1).cast("bigint"))
          .withColumn("patch", split(col("ver"), "\\.").getItem(2).cast("bigint"))
          .select(col("p_partkey"), col("ver"), col("major"), col("minor"), col("patch"),
                  when(col("major") > 2L ||
                       (col("major") === 2L && (col("minor") > 0L || col("patch") > 0L)),
                       1L).otherwise(0L).as("newer_than_2_0_0"),
                  concat(lpad(col("major").cast("string"), 4, "0"), lit("."),
                         lpad(col("minor").cast("string"), 4, "0"), lit("."),
                         lpad(col("patch").cast("string"), 4, "0")).as("sort_key"))
          .orderBy("p_partkey")
      },
      Some("""WITH v AS (
             |  SELECT p_partkey,
             |         CAST(p_partkey % 4 AS VARCHAR) || '.' ||
             |         CAST(p_partkey % 30 AS VARCHAR) || '.' ||
             |         CAST(p_partkey % 10 AS VARCHAR) AS ver
             |  FROM part),
             |p AS (SELECT p_partkey, ver,
             |        CAST(string_split(ver, '.')[1] AS BIGINT) AS major,
             |        CAST(string_split(ver, '.')[2] AS BIGINT) AS minor,
             |        CAST(string_split(ver, '.')[3] AS BIGINT) AS patch
             |      FROM v)
             |SELECT p_partkey, ver, major, minor, patch,
             |       CAST(CASE WHEN major > 2 OR (major = 2 AND (minor > 0 OR patch > 0))
             |                 THEN 1 ELSE 0 END AS BIGINT) AS newer_than_2_0_0,
             |       lpad(CAST(major AS VARCHAR), 4, '0') || '.' ||
             |       lpad(CAST(minor AS VARCHAR), 4, '0') || '.' ||
             |       lpad(CAST(patch AS VARCHAR), 4, '0') AS sort_key
             |FROM p ORDER BY p_partkey""".stripMargin)),

    // Conditional value-at-risk (expected shortfall): the mean of the
    // worst 5% of order totals per priority — the tail the P99 dashboard
    // hides. Fully exact: the 95th discrete percentile from the integer
    // cumulative grid, the tail mass and its cent sum from the SAME grid
    // (boundary values weighted by exactly how much of their multiplicity
    // falls in the tail), one terminal division.
    "agg_tail_cvar" -> Decl(
      (s, d) => {
        val grid = Tables(s, d, "orders")
          .select(col("o_orderpriority").as("pr"),
                  round(col("o_totalprice") * 100).cast("bigint").as("c"))
          .groupBy("pr", "c").agg(count(lit(1)).as("w"))
        val cw = Window.partitionBy("pr").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = grid
          .select(col("pr"), col("c"), col("w"), sum(col("w")).over(cw).as("cum"))
          .join(broadcast(grid.groupBy("pr").agg(sum(col("w")).as("n"))), "pr")
        // tail size k = ceil(n/20); a grid row contributes
        // min(w, max(0, cum − (n − k))) rows to the tail
        cum
          .withColumn("k", expr("(n + 19) div 20"))
          .withColumn("in_tail",
            greatest(lit(0L), least(col("w"), col("cum") - (col("n") - col("k")))))
          .filter(col("in_tail") > 0)
          .groupBy("pr")
          .agg(max(col("k")).as("k"),
               sum(col("in_tail")).as("tail_n"),
               sum(col("in_tail") * col("c")).as("tail_cents"))
          .select(col("pr").as("o_orderpriority"), col("k"), col("tail_n"),
                  col("tail_cents"),
                  expr("tail_cents div tail_n").as("cvar_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH grid AS (SELECT o_orderpriority AS pr,
             |                CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             |                count(*) AS w
             |              FROM orders GROUP BY 1, 2),
             |cum AS (SELECT pr, c, w,
             |          sum(w) OVER (PARTITION BY pr ORDER BY c
             |                       ROWS UNBOUNDED PRECEDING) AS cum,
             |          sum(w) OVER (PARTITION BY pr) AS n
             |        FROM grid),
             |tail AS (SELECT pr, c, w, cum, n, (n + 19) // 20 AS k,
             |           greatest(0, least(w, cum - (n - (n + 19) // 20)))
             |             AS in_tail
             |         FROM cum)
             |SELECT pr AS o_orderpriority, CAST(max(k) AS BIGINT) AS k,
             |       CAST(sum(in_tail) AS BIGINT) AS tail_n,
             |       CAST(sum(in_tail * c) AS BIGINT) AS tail_cents,
             |       CAST(sum(in_tail * c) // sum(in_tail) AS BIGINT) AS cvar_cents
             |FROM tail WHERE in_tail > 0
             |GROUP BY pr ORDER BY o_orderpriority""".stripMargin)),

    // The Spark-4 SQL-surface modernisms a user migrating
    // a semi-structured/parameterized workload expects — the VARIANT type
    // (parse_json + typed variant_get shredding), SQL-defined scalar and
    // table functions (CREATE FUNCTION … RETURN, no JVM closure — fully
    // Catalyst-inlined so codegen sees the expanded expression, nothing
    // opaque in the hot path), EXECUTE IMMEDIATE with positional binds,
    // named parameter markers through the `spark.sql(text, args)` API, and
    // the IDENTIFIER() clause for late-bound table names.
    //
    // Scale notes: every key is a single scan + one map-side-combined
    // aggregate (or a pushed filter); the SQL-UDF bodies inline into the
    // same plan the hand-written expression would produce (verified by
    // Round10rsSpec's plan assertions — no ScalaUDF node anywhere), so the
    // 100 TB behavior is exactly the base aggregate's. VARIANT shredding is
    // per-row work inside whole-stage codegen; at cluster scale the shredded
    // struct would be written once (sink_parquet) rather than re-parsed per
    // query, but the parse itself is linear and partition-local.

    // VARIANT ingestion: parse the JSON props column once into Spark 4's
    // VARIANT type, then shred typed values back out with variant_get
    // (strict, throws on type mismatch) and try_variant_get (NULL on
    // missing path — exercised on a key that never exists). The oracle
    // shreds the same JSON with DuckDB's json_extract_string + CAST.
    // VARIANT never reaches the output schema (the driver's hash compare
    // could not represent it): everything surfaces as BIGINT.
    "sql_variant_shred" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT event_type,
                |       CAST(count(*) AS BIGINT) AS n,
                |       CAST(sum(variant_get(v, '$.k', 'bigint')) AS BIGINT)
                |         AS sum_k,
                |       CAST(max(variant_get(v, '$.k', 'bigint')) AS BIGINT)
                |         AS max_k,
                |       CAST(sum(CASE WHEN try_variant_get(v, '$.absent', 'bigint')
                |                     IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                |         AS n_absent
                |FROM (SELECT event_type, parse_json(props) AS v FROM events)
                |GROUP BY event_type
                |ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |            AS BIGINT) AS sum_k,
             |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |            AS BIGINT) AS max_k,
             |       CAST(sum(CASE WHEN json_extract_string(props, '$.absent')
             |                     IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_absent
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // SQL-defined scalar function: the discounted-revenue-in-cents
    // business rule declared ONCE as CREATE FUNCTION … RETURN and reused
    // by name. Catalyst inlines the body at analysis time — the plan is
    // identical to writing the expression inline (no ScalaUDF, no codegen
    // boundary), which is why this beats a JVM closure at any scale.
    "sql_udf_scalar" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION revenue_cents(
                |  p DOUBLE, disc DOUBLE) RETURNS BIGINT
                |RETURN CAST(round(p * (1 - disc) * 100) AS BIGINT)""".stripMargin)
        s.sql("""SELECT l_returnflag, l_linestatus,
                |       CAST(count(*) AS BIGINT) AS n,
                |       CAST(sum(revenue_cents(l_extendedprice, l_discount))
                |            AS BIGINT) AS revenue_cents
                |FROM lineitem
                |GROUP BY l_returnflag, l_linestatus
                |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |                     AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // SQL-defined TABLE function (UDTF): a parameterized per-year
    // customer-spend report invoked as a relation — `FROM top_spend(1997)`.
    // The body is a full aggregate query; Spark expands it into the plan
    // like a parameterized view (again: no opaque function node). Ties on
    // cents are broken by custkey so the LIMIT is deterministic.
    "sql_udf_table" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION top_spend(yr INT)
                |RETURNS TABLE(o_custkey BIGINT, cents BIGINT)
                |RETURN SELECT o_custkey,
                |              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |                   AS BIGINT) AS cents
                |       FROM orders WHERE year(o_orderdate) = yr
                |       GROUP BY o_custkey""".stripMargin)
        s.sql("""SELECT o_custkey, cents FROM top_spend(1997)
                |ORDER BY cents DESC, o_custkey LIMIT 25""".stripMargin)
      },
      Some("""SELECT o_custkey,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS cents
             |FROM orders WHERE year(o_orderdate) = 1997
             |GROUP BY o_custkey
             |ORDER BY cents DESC, o_custkey LIMIT 25""".stripMargin)),

    // EXECUTE IMMEDIATE: SQL text composed/bound at runtime with
    // positional `?` binds — the dynamic-SQL surface a metadata-driven
    // pipeline generates (per-tenant filters, config-driven thresholds).
    "sql_exec_immediate" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""EXECUTE IMMEDIATE
                |  'SELECT lang, CAST(count(*) AS BIGINT) AS n,
                |          CAST(sum(n_chars) AS BIGINT) AS chars
                |   FROM documents WHERE source = ? GROUP BY lang ORDER BY lang'
                |  USING 'src7'""".stripMargin)
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents WHERE source = 'src7'
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Named parameter markers through the two-arg spark.sql API — the
    // injection-safe programmatic surface (parameters are bound as
    // literals by the parser, never string-spliced). The pushed filter
    // carries both binds to the scan.
    "sql_named_params" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql(
          """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            |FROM documents
            |WHERE lang = :lang AND n_chars >= :minlen
            |ORDER BY doc_id""".stripMargin,
          Map("lang" -> "en", "minlen" -> 300))
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
             |FROM documents
             |WHERE lang = 'en' AND n_chars >= 300
             |ORDER BY doc_id""".stripMargin)),

    // IDENTIFIER() clause: a late-bound table name from a parameter — the
    // templated-DDL/metadata-catalog surface (same report over N tables).
    // Binding an identifier through IDENTIFIER(:tbl) keeps the name out
    // of string-splice territory while the analyzer still resolves a
    // plain table scan (filters push as usual).
    "sql_identifier_clause" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql(
          """SELECT lang, CAST(count(*) AS BIGINT) AS n
            |FROM IDENTIFIER(:tbl)
            |GROUP BY lang ORDER BY lang""".stripMargin,
          Map("tbl" -> "documents"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // SQL-surface completions — the PIVOT clause,
    // HiveQL LATERAL VIEW generators, and Spark's DISTRIBUTE/SORT (CLUSTER
    // BY) partitioning syntax. Each oracle reproduces the semantics in
    // portable SQL (CASE sums / unnest / plain order).

    // SQL PIVOT clause (not the DataFrame API — the parser surface):
    // event counts per user rotated into one column per type. The oracle
    // is the portable CASE-sum rotation.
    "sql_pivot_clause" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT * FROM (
                |  SELECT user_id, event_type FROM events)
                |PIVOT (CAST(count(*) AS BIGINT)
                |       FOR event_type IN ('click' AS n_click, 'error' AS n_error,
                |                          'purchase' AS n_purchase,
                |                          'signup' AS n_signup, 'view' AS n_view))
                |ORDER BY user_id""".stripMargin)
      },
      Some("""SELECT user_id,
             |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
             |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
             |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
             |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
             |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // LATERAL VIEW explode — the HiveQL generator syntax Spark keeps for
    // compatibility: tokenize documents in pure SQL, count term
    // occurrences for terms above a support floor.
    "sql_lateral_view" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT w, CAST(count(*) AS BIGINT) AS n
                |FROM documents
                |LATERAL VIEW explode(split(text, ' ')) t AS w
                |GROUP BY w HAVING count(*) >= 100
                |ORDER BY w""".stripMargin)
      },
      Some("""SELECT w, CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |GROUP BY w HAVING count(*) >= 100
             |ORDER BY w""".stripMargin)),

    // DISTRIBUTE BY + SORT BY (together: CLUSTER BY) — Spark's explicit
    // partition-layout syntax: rows land hash-distributed on the key and
    // sorted within each partition (the pre-bucketing shuffle shape).
    // Result SEMANTICS are just the rows; the declared total order makes
    // the oracle portable while the plan carries the exchange+sort.
    "sql_cluster_by" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT * FROM (
                |  SELECT o_custkey, o_orderkey,
                |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                |  FROM orders
                |  CLUSTER BY o_custkey)
                |ORDER BY o_custkey, o_orderkey""".stripMargin)
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Schema-evolution union (unionByName with missing
    // columns — the heterogeneous-batch append every long-lived pipeline
    // hits), expanding-window time-series cross-validation folds (the
    // temporal CV split that respects causality, vs the random split that
    // leaks the future), and the paired t-test (pre/post within-subject —
    // the within-user experiment readout CUPED/Welch don't cover).
    //
    // Determinism discipline: cents are exact BIGINTs end-to-end; the
    // paired statistics derive mean/sd/t from exact (n, Σd, Σd²) integers
    // in one terminal double expression (Σd² peaks ~1e16 at sf1000 —
    // BIGINT-safe; the wider-scale path swaps to DECIMAL(38,0), the only
    // change); fold boundaries are fixed dates, so every engine sees the
    // identical partition of the fixture's 30-day window.

    // unionByName(allowMissingColumns = true): v1 batches lack the
    // `value` column (pre-instrumentation schema), v2 batches carry it —
    // the union aligns BY NAME (not position) and null-fills the missing
    // column. DuckDB's UNION ALL BY NAME is the exact twin. Positional
    // UNION would silently mis-bind here: v2's column order is permuted
    // to prove name-alignment is what's exercised.
    "set_union_by_name" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
        val v1 = e.filter(col("event_type") =!= "purchase")
          .select(col("event_id"), col("user_id"), col("event_type"))
        val v2 = e.filter(col("event_type") === "purchase")
          .select(col("event_type"), col("user_id"),
                  round(col("value") * 100).cast("bigint").as("v_cents"),
                  col("event_id"))
        Tables.canon(
          v1.unionByName(v2, allowMissingColumns = true)
            .select(col("event_id"), col("user_id"), col("event_type"),
                    col("v_cents")))
      },
      Some("""SELECT event_id, user_id, event_type, v_cents FROM (
             |  SELECT event_id, user_id, event_type FROM events
             |  WHERE event_type <> 'purchase'
             |  UNION ALL BY NAME
             |  SELECT event_type, user_id,
             |         CAST(round(value * 100) AS BIGINT) AS v_cents, event_id
             |  FROM events WHERE event_type = 'purchase')
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Expanding-window temporal CV: four folds with cutoffs one week
    // apart; train = everything strictly before the cutoff (the window
    // EXPANDS — earlier folds train on less), test = the following
    // 7 days. Per fold: sizes and purchase rates (exact ppm). The fold
    // spine is a 4-row broadcast; one conditional aggregate per fold
    // boundary pair — a single scan, no per-fold re-reads.
    "ts_expanding_cv_folds" -> Decl(
      (s, d) => {
        val folds = s.range(1, 5).select(
          col("id").as("fold"),
          date_add(to_date(lit("2024-01-01")), (col("id") * 7).cast("int"))
            .as("cutoff"))
        val e = Tables.events(s, d)
          .select(col("ts").cast("date").as("dt"),
                  when(col("event_type") === "purchase", 1L).otherwise(0L)
                    .as("is_p"))
        e.crossJoin(broadcast(folds))
          .groupBy("fold", "cutoff")
          .agg(
            sum(when(col("dt") < col("cutoff"), 1L).otherwise(0L)).as("train_n"),
            sum(when(col("dt") < col("cutoff"), col("is_p")).otherwise(0L))
              .as("train_p"),
            sum(when(col("dt") >= col("cutoff") &&
                     col("dt") < date_add(col("cutoff"), 7), 1L).otherwise(0L))
              .as("test_n"),
            sum(when(col("dt") >= col("cutoff") &&
                     col("dt") < date_add(col("cutoff"), 7), col("is_p"))
                  .otherwise(0L)).as("test_p"))
          .select(col("fold"), col("train_n"), col("test_n"),
                  expr("(train_p * 2000000L + train_n) div (2L * train_n)")
                    .as("train_rate_ppm"),
                  expr("(test_p * 2000000L + test_n) div (2L * test_n)")
                    .as("test_rate_ppm"))
          .orderBy("fold")
      },
      Some("""WITH folds AS (
             |  SELECT f AS fold,
             |         DATE '2024-01-01' + CAST(f * 7 AS INTEGER) AS cutoff
             |  FROM generate_series(1, 4) AS t(f)),
             |e AS (SELECT CAST(ts AS DATE) AS dt,
             |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
             |      FROM events)
             |SELECT fold,
             |       CAST(sum(CASE WHEN dt < cutoff THEN 1 ELSE 0 END) AS BIGINT)
             |         AS train_n,
             |       CAST(sum(CASE WHEN dt >= cutoff AND dt < cutoff + 7
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS test_n,
             |       CAST((sum(CASE WHEN dt < cutoff THEN is_p ELSE 0 END) * 2000000
             |             + sum(CASE WHEN dt < cutoff THEN 1 ELSE 0 END))
             |            // (2 * sum(CASE WHEN dt < cutoff THEN 1 ELSE 0 END))
             |            AS BIGINT) AS train_rate_ppm,
             |       CAST((sum(CASE WHEN dt >= cutoff AND dt < cutoff + 7
             |                      THEN is_p ELSE 0 END) * 2000000
             |             + sum(CASE WHEN dt >= cutoff AND dt < cutoff + 7
             |                        THEN 1 ELSE 0 END))
             |            // (2 * sum(CASE WHEN dt >= cutoff AND dt < cutoff + 7
             |                        THEN 1 ELSE 0 END)) AS BIGINT) AS test_rate_ppm
             |FROM e CROSS JOIN folds
             |GROUP BY fold, cutoff ORDER BY fold""".stripMargin)),

    // Paired t-test on within-user pre/post spend (Jan 1-15 vs
    // Jan 16-30): d_u = post cents − pre cents for users active in BOTH
    // halves; t = mean(d) / (sd(d)/√n) from exact (n, Σd, Σd²). The
    // within-subject design cancels user-level variance — the reason
    // this test exists next to the unpaired Welch key.
    "agg_paired_ttest" -> Decl(
      (s, d) => {
        val mid = to_date(lit("2024-01-16"))
        val diffs = Tables.events(s, d)
          .select(col("user_id"),
                  (col("ts").cast("date") < mid).as("pre"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("user_id")
          .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("n_pre"),
               sum(when(!col("pre"), 1L).otherwise(0L)).as("n_post"),
               sum(when(col("pre"), col("c")).otherwise(0L)).as("s_pre"),
               sum(when(!col("pre"), col("c")).otherwise(0L)).as("s_post"))
          .filter(col("n_pre") > 0 && col("n_post") > 0)
          .select((col("s_post") - col("s_pre")).as("dd"))
        diffs.agg(count(lit(1)).as("n"), sum(col("dd")).as("sd_"),
                  sum(col("dd") * col("dd")).as("qd"))
          .select(col("n"),
                  round(col("sd_").cast("double") / col("n") / 100, 6)
                    .as("mean_diff"),
                  expr("""round((CAST(sd_ AS DOUBLE) / n) /
                         | sqrt((CAST(qd AS DOUBLE) - CAST(sd_ AS DOUBLE)*sd_/n)
                         |      / (n - 1) / n), 6)""".stripMargin).as("t"))
      },
      Some("""WITH per_user AS (
             |  SELECT user_id,
             |         sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             |                  THEN 1 ELSE 0 END) AS n_pre,
             |         sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
             |                  THEN 1 ELSE 0 END) AS n_post,
             |         sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             |                  THEN CAST(round(value * 100) AS BIGINT)
             |                  ELSE 0 END) AS s_pre,
             |         sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
             |                  THEN CAST(round(value * 100) AS BIGINT)
             |                  ELSE 0 END) AS s_post
             |  FROM events GROUP BY user_id),
             |diffs AS (SELECT s_post - s_pre AS dd FROM per_user
             |          WHERE n_pre > 0 AND n_post > 0),
             |g AS (SELECT count(*) AS n, sum(dd) AS sd_, sum(dd * dd) AS qd
             |      FROM diffs)
             |SELECT CAST(n AS BIGINT) AS n,
             |       round(CAST(sd_ AS DOUBLE) / n / 100, 6) AS mean_diff,
             |       round((CAST(sd_ AS DOUBLE) / n) /
             |             sqrt((CAST(qd AS DOUBLE) - CAST(sd_ AS DOUBLE)*sd_/n)
             |                  / (n - 1) / n), 6) AS t
             |FROM g""".stripMargin)),

    // SQL-surface UNPIVOT clause (the parser-level
    // inverse of wave-19's PIVOT — metric columns rotated into rows, the
    // wide-to-long reshape every metrics warehouse runs before plotting)
    // and a lag-1 Granger causality test between the daily click and
    // purchase series (does yesterday's click count improve today's
    // purchase prediction beyond yesterday's purchases? — the standard
    // lead-indicator screen, here in one aggregate pass via closed-form
    // OLS on both nested models and the F-ratio of their residual sums).
    //
    // Determinism: UNPIVOT emits pure BIGINT metrics under a total order.
    // Granger folds the 29 lagged observations into ten integer-exact
    // sums (counts ≤ ~1e5, triple products ≤ ~5e11 — every intermediate
    // is exactly representable in a double), then both engines evaluate
    // the SAME Cramer-rule expressions over the same exact inputs, so the
    // divisions land on identical IEEE doubles; outputs round 6 dp.
    //
    // Scale shape: UNPIVOT is a generator over an already-aggregated
    // |segments|-row frame. Granger reduces the corpus to the 30-day
    // calendar spine in ONE shuffle (the ts_* discipline); the lag join
    // and the model algebra run on ≤30 rows.

    // SQL UNPIVOT clause (the parser surface, not the DataFrame
    // `.unpivot` API — that is agg_unpivot, Aggregates.scala): rotate
    // three per-segment metric COLUMNS into (metric, val) rows. The
    // oracle is the portable three-branch UNION ALL reshape.
    "sql_unpivot_clause" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT c_mktsegment, metric, val
                |FROM (SELECT c_mktsegment,
                |             CAST(count(*) AS BIGINT) AS n_customers,
                |             CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
                |             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
                |      FROM customer GROUP BY c_mktsegment)
                |UNPIVOT (val FOR metric IN (n_customers, n_nations, bal_cents))
                |ORDER BY c_mktsegment, metric""".stripMargin)
      },
      Some("""WITH a AS (
             |  SELECT c_mktsegment,
             |         CAST(count(*) AS BIGINT) AS n_customers,
             |         CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
             |         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
             |  FROM customer GROUP BY c_mktsegment)
             |SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS val FROM a
             |UNION ALL
             |SELECT c_mktsegment, 'n_nations', n_nations FROM a
             |UNION ALL
             |SELECT c_mktsegment, 'bal_cents', bal_cents FROM a
             |ORDER BY c_mktsegment, metric""".stripMargin)),

    // Lag-1 Granger screen: restricted model y_t = a + b·y_{t-1},
    // unrestricted y_t = a + b·y_{t-1} + c·x_{t-1} (y = daily
    // purchases, x = daily clicks), F = (RSS_r − RSS_u)/(RSS_u/(n−3)).
    // The unrestricted OLS solves its 3×3 normal equations by Cramer's
    // rule — closed form, no iteration, one corpus aggregate.
    "ts_granger_lag1" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
               sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"),
                  coalesce(col("y"), lit(0L)).cast("double").as("y"),
                  coalesce(col("x"), lit(0L)).cast("double").as("x"))
        val lagged = spine.as("a")
          .join(spine.as("b"), col("b.t") === col("a.t") - 1)
          .select(col("a.y").as("y"), col("b.y").as("yl"), col("b.x").as("xl"))
        lagged.agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("y")).as("sy"), sum(col("yl")).as("syl"),
            sum(col("xl")).as("sxl"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("y") * col("yl")).as("syyl"),
            sum(col("y") * col("xl")).as("syxl"),
            sum(col("yl") * col("yl")).as("sylyl"),
            sum(col("yl") * col("xl")).as("sylxl"),
            sum(col("xl") * col("xl")).as("sxlxl"))
          .withColumn("br",
            (col("n") * col("syyl") - col("sy") * col("syl")) /
              (col("n") * col("sylyl") - col("syl") * col("syl")))
          .withColumn("ar", (col("sy") - col("br") * col("syl")) / col("n"))
          .withColumn("rss_r",
            col("syy") - col("ar") * col("sy") - col("br") * col("syyl"))
          .withColumn("det",
            col("n") * (col("sylyl") * col("sxlxl") - col("sylxl") * col("sylxl")) -
              col("syl") * (col("syl") * col("sxlxl") - col("sylxl") * col("sxl")) +
              col("sxl") * (col("syl") * col("sylxl") - col("sylyl") * col("sxl")))
          .withColumn("au",
            (col("sy") * (col("sylyl") * col("sxlxl") - col("sylxl") * col("sylxl")) -
              col("syl") * (col("syyl") * col("sxlxl") - col("sylxl") * col("syxl")) +
              col("sxl") * (col("syyl") * col("sylxl") - col("sylyl") * col("syxl"))) /
              col("det"))
          .withColumn("bu",
            (col("n") * (col("syyl") * col("sxlxl") - col("sylxl") * col("syxl")) -
              col("sy") * (col("syl") * col("sxlxl") - col("sylxl") * col("sxl")) +
              col("sxl") * (col("syl") * col("syxl") - col("syyl") * col("sxl"))) /
              col("det"))
          .withColumn("cu",
            (col("n") * (col("sylyl") * col("syxl") - col("syyl") * col("sylxl")) -
              col("syl") * (col("syl") * col("syxl") - col("syyl") * col("sxl")) +
              col("sy") * (col("syl") * col("sylxl") - col("sylyl") * col("sxl"))) /
              col("det"))
          .withColumn("rss_u",
            col("syy") - col("au") * col("sy") - col("bu") * col("syyl") -
              col("cu") * col("syxl"))
          .withColumn("f_stat",
            (col("rss_r") - col("rss_u")) / (col("rss_u") / (col("n") - 3)))
          .select(col("n").cast("bigint").as("n"),
                  round(col("br"), 6).as("beta_restricted"),
                  round(col("rss_r"), 6).as("rss_r"),
                  round(col("bu"), 6).as("beta_ylag"),
                  round(col("cu"), 6).as("beta_xlag"),
                  round(col("rss_u"), 6).as("rss_u"),
                  round(col("f_stat"), 6).as("f_stat"),
                  (round(col("f_stat"), 6) > 4.225).as("granger_improves"))
      },
      Some("""WITH daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
             |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x
             |  FROM events GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(y, 0) AS DOUBLE) AS y,
             |         CAST(coalesce(x, 0) AS DOUBLE) AS x
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |lagged AS (
             |  SELECT a.y AS y, b.y AS yl, b.x AS xl
             |  FROM spine a JOIN spine b ON b.t = a.t - 1),
             |s AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |         sum(y) AS sy, sum(yl) AS syl, sum(xl) AS sxl,
             |         sum(y*y) AS syy, sum(y*yl) AS syyl, sum(y*xl) AS syxl,
             |         sum(yl*yl) AS sylyl, sum(yl*xl) AS sylxl,
             |         sum(xl*xl) AS sxlxl
             |  FROM lagged),
             |m1 AS (
             |  SELECT *, (n*syyl - sy*syl) / (n*sylyl - syl*syl) AS br FROM s),
             |m2 AS (
             |  SELECT *, (sy - br*syl) / n AS ar,
             |         n*(sylyl*sxlxl - sylxl*sylxl) -
             |           syl*(syl*sxlxl - sylxl*sxl) +
             |           sxl*(syl*sylxl - sylyl*sxl) AS det
             |  FROM m1),
             |m3 AS (
             |  SELECT *, syy - ar*sy - br*syyl AS rss_r,
             |         (sy*(sylyl*sxlxl - sylxl*sylxl) -
             |          syl*(syyl*sxlxl - sylxl*syxl) +
             |          sxl*(syyl*sylxl - sylyl*syxl)) / det AS au,
             |         (n*(syyl*sxlxl - sylxl*syxl) -
             |          sy*(syl*sxlxl - sylxl*sxl) +
             |          sxl*(syl*syxl - syyl*sxl)) / det AS bu,
             |         (n*(sylyl*syxl - syyl*sylxl) -
             |          syl*(syl*syxl - syyl*sxl) +
             |          sy*(syl*sylxl - sylyl*sxl)) / det AS cu
             |  FROM m2),
             |m4 AS (
             |  SELECT *, syy - au*sy - bu*syyl - cu*syxl AS rss_u FROM m3),
             |m5 AS (
             |  SELECT *, (rss_r - rss_u) / (rss_u / (n - 3)) AS f_stat FROM m4)
             |SELECT CAST(n AS BIGINT) AS n,
             |       round(br, 6) AS beta_restricted,
             |       round(rss_r, 6) AS rss_r,
             |       round(bu, 6) AS beta_ylag,
             |       round(cu, 6) AS beta_xlag,
             |       round(rss_u, 6) AS rss_u,
             |       round(f_stat, 6) AS f_stat,
             |       round(f_stat, 6) > 4.225 AS granger_improves
             |FROM m5""".stripMargin)),

    // Native codegen string expressions — Jaro-Winkler
    // fuzzy scoring against a bounded probe set (the entity-resolution
    // scorer; the existing join_fuzzy_name key blocks + Levenshteins,
    // this one exercises the prefix-boosted Jaro family DuckDB also
    // ships) and Unicode NFC cleanup of text polluted with zero-width
    // code points and decomposed accents (the canonical pre-tokenization
    // scrub for scraped training corpora — BOM/ZWSP/ZWNJ/ZWJ stripping +
    // canonical composition).
    //
    // Determinism: Jaro-Winkler is rounded to 6 dp in BOTH engines before
    // the per-probe top-k cut, so rank ties resolve on (score, partkey)
    // identically even if the two implementations differ in the last ulp
    // (they shouldn't — both use the integer-halved transposition count
    // and the 0.7 boost threshold). NFC output is byte-identical: Java's
    // Normalizer and DuckDB's utf8proc implement the same canonical
    // composition.
    //
    // Scale shape: both keys are pure per-row map work riding whole-stage
    // codegen (no UDF boundary, no shuffle beyond the final bounded
    // top-k, which runs on the native TopKPerKey bounded-heap operator —
    // NOT a 5-partition window funnel).

    // Top-20 fuzzy matches per probe name: 5 probe part names
    // broadcast against every other part, scored by the native
    // jaro_winkler expression, cut by bounded per-probe heaps.
    "scalar_jaro_winkler" -> Decl(
      (s, d) => {
        val parts = Tables(s, d, "part")
        val probes = parts.filter(col("p_partkey") <= 5)
          .select(col("p_partkey").as("probe_key"),
                  col("p_name").as("probe_name"))
        val scored = parts.filter(col("p_partkey") > 5)
          .crossJoin(broadcast(probes))
          .select(col("probe_key"), col("p_partkey"),
                  round(StringSimilarity.jaroWinkler(
                          col("probe_name"), col("p_name")), 6).as("sim"))
        val top = graft.plans.TopK.perKey(
          scored, Seq("probe_key"),
          Seq(("sim", true), ("p_partkey", false)), 20)
        // rank over the ≤ 5×20-row cut — bounded, never data-sized
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_key")
          .orderBy(col("sim").desc, col("p_partkey").asc)
        top.withColumn("rank", row_number().over(w))
          .select(col("probe_key"), col("rank"), col("p_partkey"), col("sim"))
          .orderBy("probe_key", "rank")
      },
      Some("""WITH probes AS (
             |  SELECT p_partkey AS probe_key, p_name AS probe_name
             |  FROM part WHERE p_partkey <= 5),
             |scored AS (
             |  SELECT probe_key, p.p_partkey,
             |         round(jaro_winkler_similarity(probe_name, p_name), 6) AS sim
             |  FROM part p CROSS JOIN probes WHERE p.p_partkey > 5),
             |ranked AS (
             |  SELECT probe_key, p_partkey, sim,
             |         row_number() OVER (PARTITION BY probe_key
             |                            ORDER BY sim DESC, p_partkey ASC) AS rank
             |  FROM scored)
             |SELECT probe_key, rank, p_partkey, sim
             |FROM ranked WHERE rank <= 20
             |ORDER BY probe_key, rank""".stripMargin)),

    // NFC cleanup: deterministically pollute each document prefix with
    // a BOM, decomposed accents (e + U+0301), and a trailing ZWSP,
    // then scrub with the native nfc_clean expression. Lengths are
    // code-point counts in both engines, so the composed/stripped
    // deltas line up exactly.
    "text_unicode_normalize" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"),
                  concat(lit("\uFEFF"),
                         replace(substring(col("text"), 1, 120),
                                 lit("e"), lit("e\u0301")),
                         lit("\u200B")).as("dirty"))
          .select(col("doc_id"),
                  StringSimilarity.nfcClean(col("dirty")).as("norm"),
                  length(col("dirty")).cast("bigint").as("len_dirty"))
          .withColumn("len_norm", length(col("norm")).cast("bigint"))
          .withColumn("changed", col("len_dirty") =!= col("len_norm"))
          .select(col("doc_id"), col("norm"), col("len_dirty"),
                  col("len_norm"), col("changed"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         chr(65279) || replace(substr(text, 1, 120), 'e', 'e' || chr(769)) ||
             |           chr(8203) AS dirty
             |  FROM documents),
             |n AS (
             |  SELECT doc_id,
             |         nfc_normalize(replace(replace(dirty, chr(8203), ''),
             |                               chr(65279), '')) AS norm,
             |         CAST(length(dirty) AS BIGINT) AS len_dirty
             |  FROM d)
             |SELECT doc_id, norm, len_dirty,
             |       CAST(length(norm) AS BIGINT) AS len_norm,
             |       len_dirty <> CAST(length(norm) AS BIGINT) AS changed
             |FROM n ORDER BY doc_id""".stripMargin)),

    // Business-day calendar arithmetic (the SLA math
    // every order-fulfillment warehouse runs: business days elapsed
    // between order and ship, and the "due 5 business days out" deadline —
    // in closed form from a Monday anchor, no calendar table, no
    // iteration) and the ORDER BY ALL SQL-surface shorthand (sorts by
    // every select-list column left to right — the DuckDB-pioneered
    // notation Spark 4 also accepts; the oracle runs its native form).
    //
    // Determinism: everything is integer date arithmetic off the Monday
    // 1990-01-01 anchor (all fixture dates are later, so div/mod never
    // see negatives); weekend starts count from the preceding Friday —
    // the convention is pinned in the Scaladoc and the spec cross-checks
    // an independent day-walking implementation.
    //
    // Scale shape: both keys are pure per-row projection / one ordered
    // scan — no shuffle beyond the declared output order.

    // Order→ship business-day latency + the 5-business-day deadline
    // and whether the line met it. bi(d) indexes d among business days
    // (weekends map to the preceding Friday), so deadline = index + 5
    // mapped back through the same bijection.
    "scalar_business_days" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber").cast("bigint").as("l_linenumber"),
                  col("l_shipdate").cast("date").as("ship"))
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
                  col("o_orderdate").cast("date").as("ordered"))
        val k = datediff(col("ordered"), to_date(lit("1990-01-01")))
        val bi = lit(5) * (k / 7).cast("bigint") +
          least(pmod(k, lit(7)), lit(4)).cast("bigint")
        val ti = bi + 5
        li.join(o, "l_orderkey")
          .withColumn("bus_latency", gExpr(col("ship")) - gExpr(col("ordered")))
          .withColumn("due_5bd",
            date_add(to_date(lit("1990-01-01")),
                     (lit(7) * (ti / 5).cast("bigint") + pmod(ti, lit(5)))
                       .cast("int")))
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("ordered"), col("ship"),
                  col("bus_latency"), col("due_5bd"),
                  (col("ship") <= col("due_5bd")).as("met_5bd_sla"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |         CAST(l_shipdate AS DATE) AS ship
             |  FROM lineitem),
             |o AS (
             |  SELECT o_orderkey AS l_orderkey,
             |         CAST(o_orderdate AS DATE) AS ordered
             |  FROM orders),
             |j AS (SELECT * FROM li JOIN o USING (l_orderkey)),
             |g AS (
             |  SELECT *,
             |         date_diff('day', DATE '1990-01-01', ship) AS ks,
             |         date_diff('day', DATE '1990-01-01', ordered) AS ko
             |  FROM j),
             |b AS (
             |  SELECT *,
             |         (5 * (ks // 7) + least(ks % 7, 5)) -
             |           (5 * (ko // 7) + least(ko % 7, 5)) AS bus_latency,
             |         5 * (ko // 7) + least(ko % 7, 4) + 5 AS ti
             |  FROM g)
             |SELECT l_orderkey, l_linenumber, ordered, ship,
             |       CAST(bus_latency AS BIGINT) AS bus_latency,
             |       DATE '1990-01-01' + CAST(7 * (ti // 5) + ti % 5 AS INTEGER)
             |         AS due_5bd,
             |       ship <= DATE '1990-01-01' +
             |               CAST(7 * (ti // 5) + ti % 5 AS INTEGER) AS met_5bd_sla
             |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ORDER BY ALL: per-(returnflag, linestatus) pricing rollup sorted
    // by the shorthand; the oracle runs DuckDB's native ORDER BY ALL.
    "sql_order_by_all" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT l_returnflag, l_linestatus,
                |       CAST(count(*) AS BIGINT) AS n,
                |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                |            AS BIGINT) AS cents
                |FROM lineitem
                |GROUP BY l_returnflag, l_linestatus
                |ORDER BY ALL""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       count(*) AS n,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |            AS BIGINT) AS cents
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY ALL""".stripMargin)),

    // Nested (two-level) ADT pattern matching — the
    // depth dimension of the reference's defining feature — plus a
    // try_cast data-quality audit and discrete percentiles by integer rank.

    // Two-level pattern match: `payment matches Paid(Card(l4), c)` etc.
    // Each arm deconstructs through BOTH levels; output is primitives
    // only (R5). The oracle is the equivalent nested CASE over the same
    // base columns — proving the composed encoding round-trips.
    "adt_nested_variant" -> Decl(
      (s, d) => Tables.canon(
        withPayment(s, d).select(
          col("o_orderkey"),
          Adt.matchOn(payment)(
            "Paid" -> (p => Adt.matchOn(p.getField("method"))(
              "Card" -> (m => concat(lit("card:"), m.getField("last4"))),
              "Cash" -> (_ => lit("cash")))),
            "Unpaid" -> (_ => lit("unpaid"))).as("descr"),
          when(Adt.is(payment, "Paid") &&
               Adt.is(Adt.payload(payment, "Paid").getField("method"), "Card"),
               Adt.payload(payment, "Paid").getField("cents"))
            .as("card_cents"))),
      Some("""SELECT o_orderkey,
             |CASE WHEN o_orderstatus <> 'O' AND o_orderkey % 3 = 0
             |       THEN 'card:' || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0')
             |     WHEN o_orderstatus <> 'O' THEN 'cash'
             |     ELSE 'unpaid' END AS descr,
             |CASE WHEN o_orderstatus <> 'O' AND o_orderkey % 3 = 0
             |       THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS card_cents
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // try_cast ingestion audit — the malformed-input census of a raw
    // feed: dirty strings are derived deterministically from the fixtures
    // (every 13th price becomes 'N/A', every 17th date 'not-a-date'), so
    // both failure classes provably fire; try_cast turns each bad cell
    // into NULL instead of killing the job (the error-safe semantics
    // scalar_try_arith covers for arithmetic), and the audit counts
    // failures per field. One aggregate scan per source table; output
    // bounded by the field list.
    "quality_cast_audit" -> Decl(
      (s, d) => {
        val p = Tables(s, d, "part")
          .select(when(col("p_partkey") % 13 === 0, lit("N/A"))
                    .otherwise(col("p_retailprice").cast("string")).as("raw"))
          .agg(count(lit(1)).as("n"),
               count(when(expr("try_cast(raw AS DOUBLE)").isNull, 1)).as("fails"))
          .select(lit("part.retailprice AS DOUBLE").as("field"),
                  col("n").as("n_checked"), col("fails").as("n_fail"))
        val o = Tables(s, d, "orders")
          .select(when(col("o_orderkey") % 17 === 0, lit("not-a-date"))
                    .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
                    .as("raw"))
          .agg(count(lit(1)).as("n"),
               count(when(expr("try_cast(raw AS DATE)").isNull, 1)).as("fails"))
          .select(lit("orders.orderdate AS DATE").as("field"),
                  col("n").as("n_checked"), col("fails").as("n_fail"))
        p.unionByName(o).orderBy("field")
      },
      Some("""SELECT field, CAST(n_checked AS BIGINT) AS n_checked,
             |       CAST(n_fail AS BIGINT) AS n_fail FROM (
             |  SELECT 'part.retailprice AS DOUBLE' AS field, count(*) AS n_checked,
             |    count(*) FILTER (WHERE try_cast(
             |      CASE WHEN p_partkey % 13 = 0 THEN 'N/A'
             |           ELSE CAST(p_retailprice AS VARCHAR) END AS DOUBLE) IS NULL)
             |      AS n_fail
             |  FROM part
             |  UNION ALL
             |  SELECT 'orders.orderdate AS DATE', count(*),
             |    count(*) FILTER (WHERE try_cast(
             |      CASE WHEN o_orderkey % 17 = 0 THEN 'not-a-date'
             |           ELSE strftime(o_orderdate, '%Y-%m-%d') END AS DATE) IS NULL)
             |  FROM orders)
             |ORDER BY field""".stripMargin)),

    // Discrete percentiles (percentile_disc semantics) — the quantile
    // family's rank-exact member: per event type, the SMALLEST grid value
    // whose cumulative count reaches ⌈q·n⌉ for q ∈ {.25, .5, .75, .95},
    // every comparison an integer cross-multiply on the bounded
    // distinct-cents grid (the weighted-median machinery widened to four
    // quantiles — no interpolation ever crosses engines). Output: one row
    // per type.
    "agg_percentile_disc" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
        // Round-13: eager checkpoint — the grid has FOUR consumer subtrees
        // (GridCum's sample and map passes, its internal per-key totals,
        // and `tot`), each of which otherwise re-runs the events scan +
        // grid aggregate.
        val grid = ev.groupBy("event_type", "c").agg(count(lit(1)).as("w"))
          .localCheckpoint(true)
        val tot = grid.groupBy("event_type").agg(sum(col("w")).as("n"))
        // distributed PrefixSum over the (type, cents) order — a
        // type-partitioned window would serialize the value grid onto
        // |enum| tasks (round-12 gate)
        val cum = GridCum.perKeyCumsum(grid, "event_type", "c", "w", "cum")
          .join(broadcast(tot), "event_type")
        cum.groupBy("event_type")
          .agg(min(when(col("cum") * 4 >= col("n"), col("c"))).as("p25"),
               min(when(col("cum") * 2 >= col("n"), col("c"))).as("p50"),
               min(when(col("cum") * 4 >= col("n") * 3, col("c"))).as("p75"),
               min(when(col("cum") * 20 >= col("n") * 19, col("c"))).as("p95"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |              CAST(round(value * 100) AS BIGINT) AS c
             |            FROM events),
             |grid AS (SELECT event_type, c, count(*) AS w FROM ev GROUP BY 1, 2),
             |cum AS (SELECT event_type, c,
             |          sum(w) OVER (PARTITION BY event_type ORDER BY c
             |                       ROWS UNBOUNDED PRECEDING) AS cum,
             |          sum(w) OVER (PARTITION BY event_type) AS n
             |        FROM grid)
             |SELECT event_type,
             |       CAST(min(CASE WHEN cum * 4 >= n THEN c END) AS BIGINT) AS p25,
             |       CAST(min(CASE WHEN cum * 2 >= n THEN c END) AS BIGINT) AS p50,
             |       CAST(min(CASE WHEN cum * 4 >= n * 3 THEN c END) AS BIGINT) AS p75,
             |       CAST(min(CASE WHEN cum * 20 >= n * 19 THEN c END) AS BIGINT) AS p95
             |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Recursive-CTE transitive closure, the interval
    // date-arithmetic family, and strided audio-style windowing over opaque
    // binary payloads (completing the multimodal plumbing quartet).

    // Recursive transitive closure — hierarchy walking (category trees,
    // org charts, BOM rollups) through Spark 4's WITH RECURSIVE. The
    // hierarchy is the deterministic binary-lift chain anc ← anc div 2
    // over part keys (every node's ancestor path toward 1), capped at 5
    // hops because Spark runs ONE JOB PER RECURSION STEP — the
    // recursion-granularity lesson from recursive_cte_spine: bounded
    // depth is a query constant, and per-hop work is one scan of the
    // previous frontier. Output: the per-hop census of the closure.
    "recursive_cte_closure" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""WITH RECURSIVE a(node, anc, hop) AS (
                |  SELECT p_partkey, CAST(p_partkey AS BIGINT), 0 FROM part
                |  UNION ALL
                |  SELECT node, anc div 2, hop + 1 FROM a
                |  WHERE anc > 1 AND hop < 5
                |)
                |SELECT hop, count(*) AS n, sum(anc) AS anc_sum
                |FROM a GROUP BY hop ORDER BY hop""".stripMargin)
      },
      Some("""WITH RECURSIVE a(node, anc, hop) AS (
             |  SELECT p_partkey, CAST(p_partkey AS BIGINT), 0 FROM part
             |  UNION ALL
             |  SELECT node, anc // 2, hop + 1 FROM a
             |  WHERE anc > 1 AND hop < 5
             |)
             |SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(anc) AS BIGINT) AS anc_sum
             |FROM a GROUP BY hop ORDER BY hop""".stripMargin)),

    // Interval / calendar arithmetic family — the date-math surface every
    // reporting layer leans on: +3 months (end-of-month clamped the same
    // way by both engines), +45 days, last day of month, and integer year
    // distance from a fixed epoch. All outputs are DATEs or BIGINTs (R4:
    // never a raw date_trunc TIMESTAMP).
    "scalar_interval_arith" -> Decl(
      (s, d) => {
        Tables(s, d, "orders")
          .select(col("o_orderkey"),
                  col("o_orderdate").cast("date").as("d"))
          .select(col("o_orderkey"),
                  add_months(col("d"), 3).as("plus_3mo"),
                  date_add(col("d"), 45).as("plus_45d"),
                  last_day(col("d")).as("month_end"),
                  (year(col("d")) - lit(1995)).cast("bigint").as("years_since_95"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
             |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS DATE) AS plus_45d,
             |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |  CAST(year(o_orderdate) - 1995 AS BIGINT) AS years_since_95
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Strided overlapping windows over an opaque "audio" payload — the
    // fourth member of the multimodal plumbing family (meta / frames /
    // resize / windows): 128-byte windows at stride 64 (50% overlap, the
    // STFT batch shape), per-window byte count and integer "energy" (sum
    // of unsigned bytes — the deterministic stub standing in for a real
    // DSP kernel; media libs aren't in this container). Typed-Dataset
    // mapPartitions does the row expansion exactly where a real decoder
    // would batch; ASCII payloads make the SQL oracle expressible.
    "multimodal_audio_window_stub" -> Decl(
      (s, d) => {
        val sp = s; import sp.implicits._
        Tables(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            rows.flatMap { case (id, payload) =>
              val starts = Iterator.from(0, 64).takeWhile(_ < payload.length)
              starts.zipWithIndex.map { case (st, w) =>
                val end = math.min(st + 128, payload.length)
                var energy = 0L
                var i = st
                while (i < end) { energy += payload(i) & 0xFF; i += 1 }
                (id, w.toLong, (end - st).toLong, energy)
              }
            }
          }
          .toDF("doc_id", "win_id", "win_bytes", "energy")
          .orderBy("doc_id", "win_id")
      },
      Some("""SELECT doc_id, CAST(w AS BIGINT) AS win_id,
             |  CAST(least(128, n_chars - w * 64) AS BIGINT) AS win_bytes,
             |  CAST(list_sum(list_transform(
             |    range(CAST(w * 64 + 1 AS INT),
             |          CAST(least(w * 64 + 128, n_chars) + 1 AS INT)),
             |    j -> ascii(substr(text, j, 1)))) AS BIGINT) AS energy
             |FROM documents,
             |     unnest(generate_series(0,
             |       CAST(ceil(n_chars / 64.0) AS INT) - 1)) t(w)
             |WHERE w * 64 < n_chars
             |ORDER BY doc_id, win_id""".stripMargin)),

    // Symmetric difference — the set-operation
    // family's missing member (union / intersect / except ship since round
    // 1; A Δ B completes the algebra).

    // Symmetric difference of two derived key sets — orders that are
    // finished XOR urgent, tagged with which side they came from (the
    // reconciliation view: "in A or B but not both"). Expressed as the
    // union of the two anti joins so each side stays a hash join on the
    // key; the oracle uses the equivalent EXCEPT/UNION algebra. Output
    // is deterministic and key-ordered.
    "set_symmetric_diff" -> Decl(
      (s, d) => {
        val o = Tables(s, d, "orders")
        val a = o.filter(col("o_orderstatus") === "F").select("o_orderkey")
        val b = o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        val onlyA = a.join(b, Seq("o_orderkey"), "left_anti")
          .select(col("o_orderkey"), lit("finished_only").as("side"))
        val onlyB = b.join(a, Seq("o_orderkey"), "left_anti")
          .select(col("o_orderkey"), lit("urgent_only").as("side"))
        onlyA.unionByName(onlyB).orderBy("o_orderkey")
      },
      Some("""WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
             |b AS (SELECT o_orderkey FROM orders
             |      WHERE o_orderpriority = '1-URGENT')
             |SELECT o_orderkey, 'finished_only' AS side
             |FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
             |UNION ALL
             |SELECT o_orderkey, 'urgent_only'
             |FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
             |ORDER BY o_orderkey""".stripMargin))
  )
}
