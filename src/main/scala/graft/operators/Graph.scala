package graft.operators

/** Graph operators: PageRank, components, SCC, spanning forests,
  * centrality and link analysis over the fixture's minted graphs.
  * REGISTRY.md maps each key to its file:line.
  */
object Graph {
  import graft.{Decl, Tables, declMap}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.functions.VectorOps

  private val MaxPartDf = PairIndex.MaxPartDf

  private val BlockSize = 8L

  /** Directed block-minted edges: within each 8-vertex block,
    * v → base + ((off·3 + k) mod size) for k = 1..(1 + v mod 2),
    * skipping v ≡ 0 (mod 4) (dangling singleton SCCs by construction).
    */
  private[operators] def blockEdges(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id"))
    val nRows = Tables.rowCount(s, d, "documents")
    val base = (col("doc_id") / BlockSize).cast("long") * BlockSize
    val size = least(lit(BlockSize), lit(nRows) - base)
    docs.filter(pmod(col("doc_id"), lit(4L)) =!= 0)
      .select(col("doc_id").as("src"),
              explode(sequence(lit(1), (lit(1L) + pmod(col("doc_id"), lit(2L)))
                .cast("int"))).as("k"),
              base.as("base"), size.as("bsz"))
      .select(col("src"),
              (col("base") + pmod((col("src") - col("base")) * 3 + col("k"),
                                  col("bsz"))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The minted undirected doc graph: distinct canonical pairs (a < b) of
    * the directed edges v → (v·3 + k) mod N, k = 1..(1 + v mod 2), for
    * every v ≢ 0 (mod 4).
    */
  private[operators] def mintedPairs(s: SparkSession, d: String): DataFrame = {
    val nRows = Tables.rowCount(s, d, "documents")
    Tables(s, d, "documents").select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(4L)) =!= 0)
      .select(col("doc_id").as("src"),
              explode(sequence(lit(1), (lit(1L) + pmod(col("doc_id"), lit(2L)))
                .cast("int"))).as("k"))
      .select(col("src"), pmod(col("src") * 3 + col("k"), lit(nRows)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /** [[mintedPairs]] in both directions as `(src, dst)`, hash-partitioned
    * by `src` and cut: the adjacency the traversals of the minted doc graph
    * join their frontiers against.
    */
  private[operators] def undirected(s: SparkSession, d: String): DataFrame = {
    val canon = mintedPairs(s, d)
    canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
      .repartition(s.sparkContext.defaultParallelism, col("src"))
      .localCheckpoint(true)
  }

  /** Multi-source BFS distances over `edges(src, dst)`: `(s, v, dd)` for
    * every vertex v reachable from source s, where `seeds(s, v)` are the
    * distinct pairs at distance 0 (a source may start from many vertices:
    * one virtual source over a seed set is `(lit(0), v)`). Pass `edges`
    * cut and hash-partitioned by `src`, as [[undirected]] returns them:
    * every hop reads them once.
    *
    * Semi-naive: the state is one relation (s, v, dd, fr) whose flag `fr`
    * marks the frontier (the pairs first reached at the previous hop).
    * Each hop expands only the frontier by one edge, keeps the pairs the
    * state does not hold yet as the new frontier, and is one [[Fixpoint]]
    * generation: the union of the state and the frontier, cut as it
    * stands (only the seed is hash-partitioned by (s, v), the anti-join's
    * key). Every hop
    * plans the same shape (no per-hop literal), so later hops reuse the
    * first hop's generated code. With `hops = Some(h)` the search stops
    * after hop h (the sampled keys' depth cap); with `None` it runs until a
    * hop reaches nothing and throws after 96 hops.
    */
  private[graft] def bfs(edges: DataFrame, seeds: DataFrame,
                         hops: Option[Int] = None): DataFrame = {
    val n = edges.sparkSession.sparkContext.defaultParallelism
    val seed = seeds
      .select(col("s"), col("v"), lit(0L).as("dd"), lit(true).as("fr"))
      .repartition(n, col("s"), col("v"))
      .localCheckpoint(true)
    val dist = Fixpoint(seed, Seq(count(when(col("fr"), 1))), hops.getOrElse(96),
                        "BFS") { st =>
      val found = st.filter(col("fr")).join(edges, col("v") === col("src"))
        .groupBy(col("s"), col("dst").as("v"))
        .agg(min(col("dd") + 1).as("dd"))
        .join(st, Seq("s", "v"), "left_anti")
      st.select(col("s"), col("v"), col("dd"), lit(false).as("fr"))
        .unionAll(found.select(col("s"), col("v"), col("dd"), lit(true).as("fr")))
    }((r, pass) => r.getLong(0) == 0L || hops.contains(pass))
    dist.select(col("s"), col("v"), col("dd"))
  }

  val decls: Map[String, Decl] = declMap(
    // Per-node graph topology, weekly growth, robust
    // outlier fences, and template-shape detection. All-integer statistics
    // with terminal rounded ratios; bounded spines for every window; every
    // ORDER BY ends in a unique key.

    // Per-node clustering coefficient on the minted doc graph (same edge
    // recipe as graph_triangle_count in Stats): count
    // each oriented triangle once, credit its three corners via an
    // explode, and divide by the wedge capacity deg·(deg−1)/2 — exact
    // integers into one terminal ratio. The low→high orientation bounds
    // the wedge fan-out exactly as in the triangle census.
    "graph_clustering_coeff" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val e = mintedPairs(s, d)
          .repartition(n, col("a"))
          .localCheckpoint(true)
        val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val tri = e.as("e1")
          .join(e.as("e2").hint("shuffle_hash"), col("e1.b") === col("e2.a"))
          .join(e.as("e3").hint("shuffle_hash"),
                col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        val triPerNode = tri
          .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
          .groupBy("v").agg(count(lit(1)).as("t"))
        deg.join(triPerNode, Seq("v"), "left")
          .filter(col("deg") >= 2)
          .select(col("v"), col("deg"), coalesce(col("t"), lit(0L)).as("t"),
                  round(coalesce(col("t"), lit(0L)).cast("double") * 2
                        / (col("deg") * (col("deg") - 1)).cast("double"), 6)
                    .as("cc"))
          .orderBy("v")
      },
      Some("""WITH nn AS (SELECT count(*) AS ni FROM documents),
             |raw AS (SELECT doc_id AS src, (doc_id * 3 + t.k) % nn.ni AS dst
             |        FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |        WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2),
             |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |deg AS (SELECT v, count(*) AS deg FROM (
             |          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
             |        GROUP BY v),
             |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |        FROM e e1 JOIN e e2 ON e1.b = e2.a
             |             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |tpn AS (SELECT v, count(*) AS t FROM (
             |          SELECT x AS v FROM tri UNION ALL
             |          SELECT y AS v FROM tri UNION ALL
             |          SELECT z AS v FROM tri)
             |        GROUP BY v)
             |SELECT deg.v, CAST(deg AS BIGINT) AS deg,
             |       CAST(coalesce(t, 0) AS BIGINT) AS t,
             |       round(CAST(coalesce(t, 0) AS DOUBLE) * 2
             |             / CAST(deg * (deg - 1) AS DOUBLE), 6) AS cc
             |FROM deg LEFT JOIN tpn USING (v)
             |WHERE deg >= 2 ORDER BY deg.v""".stripMargin)),

    // Week-over-week growth per event type: weekly counts (one shuffle,
    // bounded spine) + one lag on the per-type week spine, growth as a
    // terminal ppm ratio of exact counts.
    "ts_week_over_week" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("wk")
        Tables.events(s, d)
          .groupBy(col("event_type"),
                   expr("unix_micros(ts) div 604800000000L").as("wk"))
          .agg(count(lit(1)).as("c"))
          .withColumn("prev_c", lag(col("c"), 1).over(w))
          .filter(col("prev_c").isNotNull)
          .select(col("event_type"), col("wk"), col("c"), col("prev_c"),
                  round((col("c") - col("prev_c")).cast("double")
                        / col("prev_c") * 1e6, 6).as("wow_ppm"))
          .orderBy("event_type", "wk")
      },
      Some("""WITH wkly AS (
             |  SELECT event_type,
             |         CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |lagd AS (SELECT event_type, wk, c,
             |           lag(c) OVER (PARTITION BY event_type ORDER BY wk) AS prev_c
             |         FROM wkly)
             |SELECT event_type, wk, CAST(c AS BIGINT) AS c,
             |       CAST(prev_c AS BIGINT) AS prev_c,
             |       round(CAST(c - prev_c AS DOUBLE) / prev_c * 1e6, 6) AS wow_ppm
             |FROM lagd WHERE prev_c IS NOT NULL
             |ORDER BY event_type, wk""".stripMargin)),

    // Tukey IQR outlier fences per return flag, fully exact: discrete
    // quartiles from the integer cumulative grid (agg_percentile_disc
    // machinery), fences in doubled cents (2q1 − 3·iqr) so the 1.5×
    // multiplier never leaves the integers, and outliers counted from the
    // SAME grid — the raw table is scanned exactly once.
    "quality_outlier_iqr" -> Decl(
      (s, d) => {
        // Round-13: eager checkpoint — the grid has FIVE consumer subtrees
        // (GridCum's sample and map passes, its internal per-key totals,
        // `tot`, and the final fence count), each of which otherwise
        // re-runs the lineitem scan + grid aggregate.
        val grid = Tables(s, d, "lineitem")
          .select(col("l_returnflag"),
                  round(col("l_extendedprice") * 100).cast("bigint").as("c"))
          .groupBy("l_returnflag", "c").agg(count(lit(1)).as("w"))
          .localCheckpoint(true)
        val tot = grid.groupBy("l_returnflag").agg(sum(col("w")).as("n"))
        // distributed PrefixSum over the (flag, cents) order — a
        // flag-partitioned window would serialize the near-unique price
        // grid onto 3 tasks (round-12 gate)
        val q = GridCum.perKeyCumsum(grid, "l_returnflag", "c", "w", "cum")
          .join(broadcast(tot), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(min(when(col("cum") * 4 >= col("n"), col("c"))).as("q1"),
               min(when(col("cum") * 4 >= col("n") * 3, col("c"))).as("q3"))
        grid.join(broadcast(q), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(max(col("q1")).as("q1_cents"), max(col("q3")).as("q3_cents"),
               sum(when(col("c") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3,
                        col("w")).otherwise(0L)).as("n_out_low"),
               sum(when(col("c") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3,
                        col("w")).otherwise(0L)).as("n_out_high"))
          .orderBy("l_returnflag")
      },
      Some("""WITH grid AS (SELECT l_returnflag,
             |                CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
             |                count(*) AS w
             |              FROM lineitem GROUP BY 1, 2),
             |cum AS (SELECT l_returnflag, c, w,
             |          sum(w) OVER (PARTITION BY l_returnflag ORDER BY c
             |                       ROWS UNBOUNDED PRECEDING) AS cum,
             |          sum(w) OVER (PARTITION BY l_returnflag) AS n
             |        FROM grid),
             |q AS (SELECT l_returnflag,
             |        min(CASE WHEN cum * 4 >= n THEN c END) AS q1,
             |        min(CASE WHEN cum * 4 >= n * 3 THEN c END) AS q3
             |      FROM cum GROUP BY l_returnflag)
             |SELECT grid.l_returnflag,
             |       CAST(max(q1) AS BIGINT) AS q1_cents,
             |       CAST(max(q3) AS BIGINT) AS q3_cents,
             |       CAST(sum(CASE WHEN c * 2 < q1 * 2 - (q3 - q1) * 3
             |                     THEN w ELSE 0 END) AS BIGINT) AS n_out_low,
             |       CAST(sum(CASE WHEN c * 2 > q3 * 2 + (q3 - q1) * 3
             |                     THEN w ELSE 0 END) AS BIGINT) AS n_out_high
             |FROM grid JOIN q USING (l_returnflag)
             |GROUP BY grid.l_returnflag ORDER BY grid.l_returnflag""".stripMargin)),

    // Template-shape detection: documents sharing the exact word-length
    // silhouette of their first 12 words are near-certain boilerplate
    // instances. The shape string is bounded (≤12 short tokens), the
    // group-by runs on it directly, and only multi-doc groups surface.
    "text_template_shape" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"),
                  array_join(expr(
                    "transform(slice(split(text, ' '), 1, 12), x -> length(x))"),
                    "-").as("shape"))
          .groupBy("shape")
          .agg(count(lit(1)).as("n_docs"),
               min(col("doc_id")).as("first_doc"),
               max(col("doc_id")).as("last_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy("shape")
      },
      Some("""WITH s AS (SELECT doc_id,
             |             array_to_string(list_transform(
             |               string_split(text, ' ')[1:12], x -> len(x)), '-')
             |               AS shape
             |           FROM documents)
             |SELECT shape, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(min(doc_id) AS BIGINT) AS first_doc,
             |       CAST(max(doc_id) AS BIGINT) AS last_doc
             |FROM s GROUP BY shape HAVING count(*) >= 2
             |ORDER BY shape""".stripMargin)),

    // Link prediction with ordered-fold float
    // determinism, ADT Result-chaining (the reference's sum-type discipline
    // applied to fallible pipelines), and session path analysis.

    // Adamic–Adar link prediction on the co-purchase graph: for the
    // top-20 common-neighbor pairs (the graph_jaccard_neighbors pair
    // machinery, df-capped), score = Σ 1/ln(deg(z)) over shared parts z.
    // FLOAT DETERMINISM: the per-pair contributions are folded in df
    // ORDER (PairIndex's df-histogram fold here, list(... ORDER BY) +
    // list_sum there) so the sum's association order is identical in
    // both engines — no parallel-merge reduction ever touches a double.
    "graph_adamic_adar" -> Decl(
      (s, d) => {
        // The per-pair (common, aa_raw) aggregates come pre-computed from
        // the SHARED PairIndex (built once per session — the df-ordered
        // fold with its oracle-mirrored association order runs in the
        // build, not per consumer). This probe is a pure scan plus
        // a bounded top-k, with the DECIMAL round deferred past the cut:
        // round(double, 6) is a per-row BigDecimal (~40 µs/row — it alone
        // was ~200 s of task time over the 8M sf0.1 pairs), so the top-20
        // is located on the raw score first and only candidate rows are
        // rounded. Equivalence proof: a pair q can enter the ROUNDED
        // top-20 only if round6(q) >= round6(r20) (rounding is monotone
        // and r20, the 20th-largest raw, rounds into the top-20's value
        // range), and round6(x) >= round6(y) implies x >= y - 5e-7 (half a
        // 6-dp grid step each side), so any such q has q >= round6(r20) -
        // 5e-7 >= r20 - 1e-6 > r20 - 1e-5 — the filter retains every
        // candidate able to displace a row; the EXACT original ordering
        // (rounded DESC, a, b) then re-runs on the survivors.
        val p = PairIndex.pairs(s, d)
        val r20 = p.orderBy(col("aa_raw").desc, col("a"), col("b")).limit(20)
          .agg(min(col("aa_raw")).as("r20"))
        p.crossJoin(broadcast(r20))
          .filter(col("aa_raw") >= col("r20") - lit(1e-5))
          .select(col("a"), col("b"), col("common"),
                  round(col("aa_raw"), 6).as("adamic_adar"))
          .orderBy(col("adamic_adar").desc, col("a"), col("b"))
          .limit(20)
      },
      Some(s"""WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |               FROM orders JOIN lineitem
             |                 ON o_orderkey = l_orderkey),
             |pdeg AS (SELECT p, count(*) AS df FROM edges GROUP BY p
             |         HAVING count(*) <= $MaxPartDf AND count(*) >= 2),
             |e AS (SELECT c, edges.p, df FROM edges JOIN pdeg USING (p)),
             |contrib AS (
             |  SELECT x.c AS a, y.c AS b, x.df AS df, count(*) AS cnt
             |  FROM e x JOIN e y ON x.p = y.p AND x.c < y.c
             |  GROUP BY 1, 2, 3),
             |scored AS (
             |  SELECT a, b, sum(cnt) AS common,
             |         round(list_sum(list(cnt / ln(CAST(df AS DOUBLE))
             |                             ORDER BY df)), 6) AS adamic_adar
             |  FROM contrib GROUP BY a, b)
             |SELECT a, b, CAST(common AS BIGINT) AS common, adamic_adar
             |FROM scored
             |ORDER BY adamic_adar DESC, a, b LIMIT 20""".stripMargin)),

    // Result-chained fallible pipeline over the ADT discipline: each
    // order flows through two fallible steps — unit-price derivation
    // (fails on zero quantity-proxy) then a domain check (fails above a
    // bound) — encoded as Ok(value) | Err(stage, reason), pattern-matched
    // into an error taxonomy census plus the Ok-mean. The tag algebra is
    // the reference's sum-type semantics (SURVEY §2.10) on a pipeline
    // shape instead of a storage shape.
    "adt_result_chain" -> Decl(
      (s, d) => {
        val step1Err = col("qty") === 0L
        // `div`, never `/`: Column./ is double division and a truncated
        // double can disagree with exact integer floor at scale
        val unit = expr("cents div qty")
        val step2Err = unit > 5000000L
        Tables(s, d, "orders")
          .select(col("o_orderkey"), (col("o_orderkey") % 7L).as("qty"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
          .select(col("o_orderkey"),
                  when(step1Err, lit("Err"))
                    .when(step2Err, lit("Err")).otherwise(lit("Ok")).as("tag"),
                  when(step1Err, lit("div_zero"))
                    .when(step2Err, lit("domain_bound")).as("reason"),
                  when(!step1Err && !step2Err, unit).as("unit_cents"))
          .groupBy("tag", "reason")
          .agg(count(lit(1)).as("n"),
               sum(col("unit_cents")).as("ok_cents_sum"))
          .orderBy(col("tag"), col("reason"))
      },
      Some("""WITH r AS (
             |  SELECT o_orderkey,
             |         o_orderkey % 7 AS qty,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |t AS (SELECT o_orderkey,
             |        CASE WHEN qty = 0 THEN 'Err'
             |             WHEN cents // qty > 5000000 THEN 'Err'
             |             ELSE 'Ok' END AS tag,
             |        CASE WHEN qty = 0 THEN 'div_zero'
             |             WHEN cents // qty > 5000000 THEN 'domain_bound' END AS reason,
             |        CASE WHEN qty <> 0 AND cents // qty <= 5000000
             |             THEN cents // qty END AS unit_cents
             |      FROM r)
             |SELECT tag, reason, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(unit_cents) AS BIGINT) AS ok_cents_sum
             |FROM t GROUP BY tag, reason
             |ORDER BY tag, reason""".stripMargin)),

    // Session path analysis: per 10-minute-gap session, the ordered
    // event-type trail (capped at 8 hops) — the product-analytics "what
    // do users actually do" query. The trail is assembled from a SORTED
    // collect (struct sort by (us, event_id)) so both engines emit the
    // identical string; sessions reuse the gaps-and-islands machinery.
    "ts_session_path" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
        val brk = when(col("us") - lag(col("us"), 1).over(w) > 600000000L, 1L)
          .otherwise(0L)
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
          .withColumn("sid",
            sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sess.groupBy("user_id", "sid")
          .agg(count(lit(1)).as("depth"),
               array_join(slice(expr(
                 "transform(array_sort(collect_list(struct(us, event_id, event_type))), p -> p.event_type)"),
                 1, 8), "->").as("path"))
          .groupBy("path")
          .agg(count(lit(1)).as("n_sessions"), max(col("depth")).as("max_depth"))
          .filter(col("n_sessions") >= 2)
          .orderBy("path")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |             CAST(epoch_us(ts) AS BIGINT) AS us
             |           FROM events),
             |m AS (SELECT user_id, event_id, event_type, us,
             |        CASE WHEN us - lag(us) OVER (PARTITION BY user_id
             |               ORDER BY us, event_id) > 600000000
             |             THEN 1 ELSE 0 END AS brk
             |      FROM e),
             |s AS (SELECT user_id, event_id, event_type, us,
             |        sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |                       ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM m),
             |paths AS (SELECT user_id, sid, count(*) AS depth,
             |            array_to_string(list(event_type ORDER BY us, event_id)[1:8],
             |                            '->') AS path
             |          FROM s GROUP BY 1, 2)
             |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
             |       CAST(max(depth) AS BIGINT) AS max_depth
             |FROM paths GROUP BY path HAVING count(*) >= 2
             |ORDER BY path""".stripMargin)),

    // Sampled harmonic centrality (multi-source BFS
    // with exact-rational accumulation) and rolling skewness from exact
    // integer moment sums.

    // Harmonic centrality from the %97 seed set (the bfs_layers sources),
    // depth ≤ 4, on the minted doc graph: per node Σ 1/d(s, v) over the
    // sampled sources. EXACT-RATIONAL TRICK: with d ∈ {1,2,3,4} the
    // contribution 12/d is an INTEGER — the whole accumulation stays
    // BIGINT twelfths until one terminal division. `bfs` from the sampled
    // sources, capped at 4 hops: per hop one adjacency join + one anti
    // join against the seen pairs; the oracle is DuckDB's native
    // recursive CTE.
    "graph_harmonic_sampled" -> Decl(
      (s, d) => {
        val sources = Tables(s, d, "documents").select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(97L)) === 0)
        bfs(undirected(s, d), sources.select(col("doc_id").as("s"), col("doc_id").as("v")),
            Some(4))
          .filter(col("dd") >= 1L)
          .groupBy("v")
          .agg(count(lit(1)).as("n_sources"),
               sum(expr("12L div dd")).as("harmonic12"))
          .select(col("v").as("doc_id"), col("n_sources"), col("harmonic12"),
                  round(col("harmonic12").cast("double") / 12.0d, 6).as("harmonic"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE nn AS (SELECT count(*) AS ni FROM documents),
             |raw AS (SELECT doc_id AS src, (doc_id * 3 + t.k) % nn.ni AS dst
             |        FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |        WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2),
             |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |          FROM raw WHERE src <> dst),
             |adj AS (SELECT a AS u, b AS w FROM canon
             |        UNION ALL SELECT b AS u, a AS w FROM canon),
             |bfs(s, v, dist) AS (
             |  SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id % 97 = 0
             |  UNION
             |  SELECT b.s, adj.w, b.dist + 1
             |  FROM bfs b JOIN adj ON adj.u = b.v
             |  WHERE b.dist < 4),
             |md AS (SELECT s, v, min(dist) AS dist FROM bfs GROUP BY s, v)
             |SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS n_sources,
             |       CAST(sum(12 // dist) AS BIGINT) AS harmonic12,
             |       round(CAST(sum(12 // dist) AS DOUBLE) / 12.0, 6) AS harmonic
             |FROM md WHERE dist >= 1
             |GROUP BY v ORDER BY doc_id""".stripMargin)),

    // Rolling 20-event skewness of a user's value stream: Σx, Σx², Σx³
    // as exact BIGINT window sums (cents ≤ 10⁵ ⇒ Σx³ ≤ 2·10¹⁶ — no
    // overflow), the standardized third moment assembled in ONE terminal
    // double expression with identical operation order in both engines.
    "window_rolling_skew" -> Decl(
      (s, d) => {
        val f = Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(-19, 0)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
                  expr("unix_micros(ts)").as("us"),
                  round(col("value") * 100).cast("bigint").as("x"))
          .select(col("user_id"), col("event_id"),
                  count(lit(1)).over(f).as("n"),
                  sum(col("x")).over(f).as("s1"),
                  sum(col("x") * col("x")).over(f).as("s2"),
                  sum(col("x") * col("x") * col("x")).over(f).as("s3"))
          .filter(col("n") === 20)
          .select(col("user_id"), col("event_id"),
                  round(
                    ((col("s3").cast("double") / col("n")
                       - lit(3.0d) * (col("s1").cast("double") / col("n"))
                         * (col("s2").cast("double") / col("n"))
                       + lit(2.0d) * pow(col("s1").cast("double") / col("n"), 3))
                     / nullif(pow(col("s2").cast("double") / col("n")
                         - pow(col("s1").cast("double") / col("n"), 2), lit(1.5d)),
                         lit(0.0d))), 6).as("skew20"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |             CAST(epoch_us(ts) AS BIGINT) AS us,
             |             CAST(round(value * 100) AS BIGINT) AS x
             |           FROM events),
             |s AS (SELECT user_id, event_id,
             |        count(*) OVER w AS n,
             |        sum(x) OVER w AS s1,
             |        sum(x * x) OVER w AS s2,
             |        sum(x * x * x) OVER w AS s3
             |      FROM e
             |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             |                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id,
             |       round(
             |         (CAST(s3 AS DOUBLE) / n
             |            - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
             |            + 2.0 * pow(CAST(s1 AS DOUBLE) / n, 3))
             |         / nullif(pow(CAST(s2 AS DOUBLE) / n
             |             - pow(CAST(s1 AS DOUBLE) / n, 2), 1.5), 0.0), 6) AS skew20
             |FROM s WHERE n = 20 ORDER BY user_id, event_id""".stripMargin)),

    // Sampled betweenness centrality — Brandes'
    // dependency accumulation from the %97 source sample over the shared
    // minted doc graph, truncated at depth 4 (the bfs_layers/harmonic
    // horizon). The last flagship centrality the graph family lacked: which
    // nodes sit ON the shortest paths, not merely near things.
    //
    // Scale shape: the forward pass is `bfs`'s frontier search keyed
    // (s, v) with σ path counts carried alongside — per hop one adjacency
    // join + one anti-join, σ aggregated as exact BIGINTs with map-side
    // combine. σ stays out of `bfs` itself: its uncapped runs (96 hops of
    // closeness) could overflow a LONG sum under ANSI. The backward pass
    // walks the ≤4 levels of the forward state (level i is dd = i), each
    // step one level-to-level join. Nothing all-pairs; per-hop work is
    // O(frontier edges · sample size).
    //
    // Float determinism: path-count ratios are the one unavoidable float —
    // every δ fold and the final per-node accumulation run over
    // array_sort'ed collect_lists (the sorted-fold discipline), so the
    // association order is a pure function of the data. Oracle-N (sampled
    // + truncated, the harmonic/fixpoint class); Round10yySpec re-derives
    // the exact ladder with a driver-side Brandes.

    "graph_betweenness_sampled" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val adj = undirected(s, d)
        // forward: (s, v, dd, sigma) for dist(s, v) = dd ≤ 4, `fr` flagging
        // the frontier
        val level0 = Tables(s, d, "documents").select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(97L)) === 0)
          .select(col("doc_id").as("s"), col("doc_id").as("v"), lit(0L).as("dd"),
                  lit(1L).as("sigma"), lit(true).as("fr"))
          .repartition(n, col("s"), col("v"))
          .localCheckpoint(true)
        val fwd = Fixpoint(level0, Seq(count(when(col("fr"), 1))), 4,
                           "betweenness forward sweep") { st =>
          val found = st.filter(col("fr")).join(adj, col("v") === col("src"))
            .groupBy(col("s"), col("dst").as("v"))
            .agg(min(col("dd") + 1).as("dd"), sum(col("sigma")).as("sigma"))
            .join(st, Seq("s", "v"), "left_anti")
          st.select(col("s"), col("v"), col("dd"), col("sigma"), lit(false).as("fr"))
            .unionAll(found.select(col("s"), col("v"), col("dd"), col("sigma"),
                                   lit(true).as("fr")))
            .repartition(n, col("s"), col("v"))
        }((r, pass) => r.getLong(0) == 0L || pass == 4)
        def level(i: Int): DataFrame =
          fwd.filter(col("dd") === i).select(col("s"), col("v"), col("sigma"))

        // backward: delta = 0 at depth 4; each level below folds its
        // successors' contributions, one cut per level
        val deltas = (3 to 1 by -1).scanLeft(level(4).withColumn("delta", lit(0.0d))) {
          (below, i) =>
            val upper = below
              .select(col("s").as("su"), col("v").as("wv"),
                      col("sigma").as("sig_w"), col("delta").as("d_w"))
            val contribs = adj.join(upper, col("dst") === col("wv"))
              .select(col("su").as("s"), col("src").as("v"), col("wv"),
                      col("sig_w"), col("d_w"))
            Fixpoint.cut(level(i).join(contribs, Seq("s", "v"), "left")
              .select(col("s"), col("v"), col("sigma"),
                      when(col("wv").isNull, lit(null))
                        .otherwise(struct(col("wv"),
                          (col("sigma").cast("double") / col("sig_w")) *
                            (lit(1.0d) + col("d_w"))))
                        .as("cell"))
              .groupBy("s", "v", "sigma")
              .agg(expr("aggregate(array_sort(collect_list(cell)), " +
                        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.col2)")
                     .as("delta")), Nil)._1
        }

        // betweenness(v) = Σ over sources of δ(s, v), v ≠ s — sorted fold
        deltas.map(_.select(col("s"), col("v"), col("delta")))
          .reduce(_ unionAll _)
          .filter(col("s") =!= col("v") && col("delta") > 0.0d)
          .groupBy("v")
          .agg(count(lit(1)).as("n_sources"),
               expr("round(aggregate(array_sort(collect_list(struct(s, delta))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.delta), 6)")
                 .as("betweenness"))
          .select(col("v").as("doc_id"), col("n_sources"), col("betweenness"))
          .orderBy("doc_id")
      },
      None),

    // Distributed minimum spanning forest (Borůvka — the
    // one MST algorithm that is data-parallel by construction: every
    // component picks its lightest outgoing edge simultaneously, components
    // contract, and the component count at least halves per round, so a
    // 100 TB edge list finishes in O(log V) rounds of groupBy-min +
    // label-propagation — no priority queue, no sequential edge scan) and
    // MMR-diversified retrieval (maximal marginal relevance — the standard
    // redundancy-penalized re-ranking every RAG/retrieval stack runs after
    // the ANN cut).
    //
    // Determinism: MST edges order by the lexicographic (w, a, b) struct —
    // a total order, so the spanning forest is unique even with duplicate
    // weights (Kruskal under the same order yields the identical edge set;
    // Round11jSpec asserts exact equality). MMR scores fold rounded-6dp
    // cosines through the same 0.7·rel − 0.3·max-sim expression in both
    // engines; ties break by vec_id.

    // Minimum spanning FOREST of the minted undirected doc graph (same
    // edge recipe as graph_triangle_count in Stats) under
    // deterministic integer weights w = (a·31 + b·17) mod 997. Per
    // Borůvka round: one aggregate finds each component's lexicographic-
    // min (w, a, b) outgoing edge, the chosen pseudo-forest contracts by
    // pointer doubling over COMPONENT ids (a set that at least
    // halves per round — the corpus-sized vertex list never re-enters
    // the loop), and cross-component edges shrink monotonically. No
    // priority queue, no sequential pass — every step is a groupBy or a
    // bounded-iteration join, the 100 TB shape. Exact-unique forest →
    // Kruskal-equality asserted in Round11jSpec; rows-only driver check
    // (a recursive-SQL MST oracle is not reasonably expressible).
    "graph_mst_boruvka" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val edges = mintedPairs(s, d)
          .withColumn("w", pmod(col("a") * 31 + col("b") * 17, lit(997L)))
          .repartition(n, col("a"))
          .localCheckpoint(true)
        // Contracted-edge-list Borůvka: `cur` carries each surviving edge
        // with its endpoints' CURRENT component labels (a,b,w,ca,cb) and
        // only ever shrinks — intra-component edges are dropped for good
        // at relabel time, so round r's work is O(|crossing edges at r|),
        // not O(|E|) (the earlier edges×vertex-label re-join paid the
        // full edge list every round). The vertex table is never needed:
        // the output is the edge set, and labels live on the edges.
        val crossingOf = Seq(count(lit(1)))
        val (cur0, c0) = Fixpoint.cut(
          edges.select(col("a"), col("b"), col("w"),
                       col("a").as("ca"), col("b").as("cb")), crossingOf)
        var crossing = c0.getLong(0)
        var mst: DataFrame = edges.filter(lit(false))
          .select(col("a"), col("b"), col("w"))
        // chosen-edge frames stay persisted until the final mst
        // materialization (mst's lazy union reads them once more there)
        val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
        val bcastRows = 2000000L
        // one round per generation; `done` keeps each generation's
        // crossing count for the next round's contraction path
        Fixpoint(cur0, crossingOf, 15, "Borůvka") { cur =>
          // lightest outgoing edge per component, lexicographic (w,a,b);
          // carry the partner component so the chosen set doubles as the
          // contraction's parent function t(g) = partner
          val pick = struct(col("w"), col("a"), col("b"))
          val chosen = cur
            .select(col("ca").as("g"), col("cb").as("partner"), pick.as("p"))
            .unionAll(cur.select(col("cb").as("g"), col("ca").as("partner"),
                                 pick.as("p")))
            .groupBy("g")
            .agg(min(struct(col("p"), col("partner"))).as("m"))
            .select(col("g"), col("m.p.w").as("w"), col("m.p.a").as("a"),
                    col("m.p.b").as("b"), col("m.partner").as("t"))
            .persist()
          pinned += chosen
          mst = mst.unionAll(chosen.select(col("a"), col("b"), col("w"))
                                   .distinct())
          // Contract the chosen pseudo-forest (out-degree 1, exactly one
          // mutual-min 2-cycle per tree — the total (w,a,b) edge order
          // guarantees it) to per-component roots. Two paths, picked by
          // the MEASURED crossing count:
          //  * small rounds — exactly the rows a broadcast exchange would
          //    ship to the driver anyway — run a driver union-find
          //    (path-halving; 2-cycle roots at the min endpoint) and
          //    broadcast the root map back: one job, no log-depth chain.
          //  * large rounds (100 TB early rounds) pointer-double
          //    distributed: two lazy squarings per generation with a
          //    carried change flag.
          val roots: DataFrame =
            if (crossing <= bcastRows) {
              val par = new scala.collection.mutable.HashMap[Long, Long]()
              chosen.select(col("g"), col("t")).collect()
                .foreach(r => par(r.getLong(0)) = r.getLong(1))
              def root(x: Long): Long = {
                var a = x
                var b = par(a)
                while (par(b) != a && b != a) { // walk to the 2-cycle
                  val n = par(b); par(a) = n; a = b; b = n // path-halving
                }
                math.min(a, b)
              }
              val rows = par.keys.toArray.map(g => (g, root(g))).toSeq
              import s.implicits._
              broadcast(rows.toDF("g", "r"))
            } else {
              val t0 = chosen.select(col("g"), col("t"))
              val par0 = t0.as("x")
                .join(t0.as("y"), col("x.t") === col("y.g"), "left")
                .select(col("x.g").as("c"),
                        when(col("y.t") === col("x.g") && col("x.g") < col("x.t"),
                             col("x.g")).otherwise(col("x.t")).as("p"))
              def square(q: DataFrame): DataFrame = q.as("x")
                .join(q.as("y"), col("x.p") === col("y.c"), "left")
                .select(col("x.c").as("c"),
                        coalesce(col("y.p"), col("x.p")).as("p"))
              val par = Fixpoint(par0, Seq(count(when(col("ch"), 1))), 10,
                                 "Borůvka pointer doubling") { q =>
                val q1 = square(q.select(col("c"), col("p")))
                q1.as("x")
                  .join(q1.as("y"), col("x.p") === col("y.c"), "left")
                  .select(col("x.c").as("c"),
                          coalesce(col("y.p"), col("x.p")).as("p"),
                          (coalesce(col("y.p"), col("x.p")) =!= col("x.p")).as("ch"))
              }((r, _) => r.getLong(0) == 0L)
              par.select(col("c").as("g"), col("p").as("r"))
            }
          // relabel surviving edges through the root map and drop the
          // now-intra-component ones permanently; ReuseExchange ships the
          // broadcast once for both sides
          cur
            .join(roots.select(col("g").as("ca"), col("r").as("ra")), Seq("ca"), "left")
            .join(roots.select(col("g").as("cb"), col("r").as("rb")), Seq("cb"), "left")
            .select(col("a"), col("b"), col("w"),
                    coalesce(col("ra"), col("ca")).as("ca"),
                    coalesce(col("rb"), col("cb")).as("cb"))
            .filter(col("ca") =!= col("cb"))
        } { (r, _) => crossing = r.getLong(0); crossing == 0L }
        val out = mst.localCheckpoint(true)
        pinned.foreach(_.unpersist())
        out.orderBy("a", "b")
      },
      None),

    // MMR-diversified top-10 for the vec_id-0 query: the ANN/brute cut
    // keeps the 64 most relevant candidates (one distributed
    // TakeOrderedAndProject — total order (rel desc, vec_id)), pairwise
    // candidate cosines are a 64×64 broadcast self-join, and the greedy
    // λ=0.7 selection folds over that BOUNDED score table on the driver
    // (k·|C| ≤ 640 comparisons — the sequential-by-definition part of
    // MMR, same driver-bounded-recursion precedent as ts_holt_winters).
    // The oracle replays the identical greedy recursion as a DuckDB
    // RECURSIVE CTE carrying the selected list.
    "sim_mmr_diversified" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cand = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
                  round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("rel"),
                  col("embedding"))
          .orderBy(col("rel").desc, col("vec_id").asc)
          .limit(64)
          .localCheckpoint(true)
        val sims = cand.as("x")
          .join(broadcast(cand.as("y")), col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
                  round(VectorOps.cosine(col("x.embedding"), col("y.embedding")), 6)
                    .as("sim"))
        val rel = cand.select(col("vec_id"), col("rel")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val sim = sims.collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        def pairSim(x: Long, y: Long): Double =
          sim.getOrElse((math.min(x, y), math.max(x, y)), 0.0)
        val selected = scala.collection.mutable.ArrayBuffer[Long]()
        while (selected.size < 10) {
          val best = rel.keysIterator
            .filterNot(selected.contains)
            .map { c =>
              val maxSim =
                if (selected.isEmpty) 0.0
                else selected.iterator.map(t => pairSim(c, t)).max
              (0.7 * rel(c) - 0.3 * maxSim, c)
            }
            .minBy { case (score, id) => (-score, id) }
          selected += best._2
        }
        import s.implicits._
        selected.toSeq.zipWithIndex
          .map { case (id, i) => (i + 1L, id, rel(id)) }
          .toDF("rank", "vec_id", "rel")
          .orderBy("rank")
      },
      Some("""WITH RECURSIVE
             |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
             |      FROM embeddings WHERE vec_id = 0),
             |cand AS (
             |  SELECT vec_id, round(list_cosine_similarity(
             |           list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qe), 6) AS rel,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
             |  ORDER BY rel DESC, vec_id ASC LIMIT 64),
             |ps AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         round(list_cosine_similarity(a.e, b.e), 6) AS sim
             |  FROM cand a JOIN cand b ON a.vec_id < b.vec_id),
             |sel(step, ids) AS (
             |  SELECT 0, CAST([] AS BIGINT[])
             |  UNION ALL
             |  SELECT step + 1,
             |    list_append(ids, (
             |      SELECT c.vec_id FROM cand c
             |      WHERE NOT list_contains(sel.ids, c.vec_id)
             |      ORDER BY 0.7 * c.rel - 0.3 * coalesce((
             |          SELECT max(p.sim) FROM ps p
             |          WHERE (p.id_a = c.vec_id AND list_contains(sel.ids, p.id_b))
             |             OR (p.id_b = c.vec_id AND list_contains(sel.ids, p.id_a))), 0.0)
             |        DESC, c.vec_id ASC
             |      LIMIT 1))
             |  FROM sel WHERE step < 10)
             |SELECT u.pos AS rank, u.v AS vec_id, c.rel AS rel
             |FROM (SELECT unnest(ids) AS v, generate_subscripts(ids, 1) AS pos
             |      FROM sel WHERE step = 10) u
             |JOIN cand c ON c.vec_id = u.v
             |ORDER BY rank""".stripMargin)),

    // Strongly connected components by distributed
    // forward-backward coloring (the data-parallel SCC algorithm: color
    // every vertex with its minimum ancestor, peel each color's root SCC
    // by a color-restricted backward sweep, repeat on the remainder —
    // every phase is a joins-and-aggregates superstep, no Tarjan stack)
    // and Burrows' Delta (the classical stylometric distance: z-scored
    // top-word relative frequencies per source, mean |Δz| between source
    // pairs — the authorship/provenance signal next to the Monroe
    // log-odds).
    //
    // SCC supersteps are DIAMETER-bounded, and the minted directed graph
    // is built to keep that diameter scale-independent: disjoint 8-vertex
    // blocks (cycles + stragglers + %4-dangling singletons), so coloring
    // fixpoints converge in ≤4 passes and the peel loop in 2 rounds at
    // EVERY scale factor (measured 50 / 500 / 5000 vertices — identical
    // superstep counts). That is the honest 100 TB shape: FB-coloring
    // costs O(SCC-DAG depth × diameter) supersteps and web-scale graphs
    // have small diameters; a single 100 M-vertex cycle is pathological
    // for every distributed SCC algorithm.

    // SCC ids (= min member) for every document. The oracle computes the
    // same partition from the full recursive-CTE transitive closure —
    // mutual reachability ground truth — so the hash-match proves the
    // peeling algorithm exact, not approximately-converged.
    "graph_scc_coloring" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        // Superstep latency, not data volume, bounds this operator at test
        // scale (round-10 profile: ~575 stages, 13 s warm from one job per
        // hop). So both fixpoint loops FUSE several hops into each
        // [[Fixpoint]] generation (same shuffle count, ~Hops× fewer jobs),
        // and convergence is read off the LAST hop of that generation —
        // min-propagation is monotone, so "the final hop changed
        // nothing" proves the fixpoint with no extra confirm pass. Hops
        // values are latency dials only; correctness is the fixpoint,
        // reached for any value ≥ 1.
        // Round-13 (§2.4 — fewer shuffles): both fixpoint loops run over
        // the SQUARED edge relation (pairs reachable in 1-2 hops, one
        // extra join per build) so every fused step advances TWO hops for
        // the same exchanges. Min-label propagation over e∪e² equals two
        // e-steps (the 2-hop ancestor's label folds in directly), and the
        // e-fixpoint equals the e∪e²-fixpoint (same reachability closure),
        // so colors, peels, and the final SCC ids are identical (oracle
        // re-proven at sf0.01 and sf0.1). Hops counts stay latency dials.
        val Hops = 3   // forward-coloring 2-hop steps per fused pass
        val BHops = 4  // backward-sweep 2-hop steps per fused pass
        val edges0 = blockEdges(s, d)
          .repartition(n, col("src"))
          .localCheckpoint(true)
        val edges = edges0
          .unionAll(edges0.select(col("src").as("a"), col("dst").as("m"))
            .join(edges0.select(col("src").as("m"), col("dst").as("b")), "m")
            .filter(col("a") =!= col("b"))
            .select(col("a").as("src"), col("b").as("dst")))
          .distinct()
          .repartition(n, col("src"))
          .localCheckpoint(true)
        val endpoints = edges.select(col("src").as("v"))
          .unionAll(edges.select(col("dst").as("v")))
          .distinct()
          .localCheckpoint(true)
        var scc: DataFrame = endpoints.filter(lit(false))
          .select(col("v"), col("v").as("scc"))
        // one forward min-ancestor coloring hop over `er` (labels flow
        // along edge direction); `chg` marks the labels the hop lowered
        def colorStep(er: DataFrame)(cd: DataFrame): DataFrame = {
          val nbrMin = cd.join(er, col("v") === col("src"))
            .groupBy(col("dst")).agg(min(col("c")).as("m"))
          cd.join(nbrMin, col("v") === col("dst"), "left")
            .select(col("v"),
                    least(col("c"), coalesce(col("m"), col("c"))).as("c"),
                    (coalesce(col("m"), col("c")) < col("c")).as("chg"))
        }
        // each generation is the vertex set a peel round leaves
        Fixpoint(endpoints, Seq(count(lit(1))), 12, "SCC peeling") { remaining =>
          // round 0's semi-joins are no-ops (remaining is every endpoint)
          val er =
            if (remaining eq endpoints) edges
            else edges
              .join(remaining.select(col("v").as("src")), Seq("src"), "left_semi")
              .join(remaining.select(col("v").as("dst")), Seq("dst"), "left_semi")
              .localCheckpoint(true)
          // coloring fixpoint: done when the pass's last hop lowered nothing
          val colored = Fixpoint(remaining.select(col("v"), col("v").as("c")),
                                 Seq(count(when(col("chg"), 1))), 12,
                                 "SCC coloring fixpoint") { color =>
            (1 to Hops).foldLeft(color)((cd, _) => colorStep(er)(cd))
          }((r, _) => r.getLong(0) == 0L)
          // peel: backward sweep from each color's root, restricted to
          // the color (sound: every SCC member shares the root's color
          // and every v→root path stays inside the SCC). Each fused pass
          // stamps rows with the hop that first found them; "nothing new
          // at the final hop" proves the frontier is dead (monotone
          // growth).
          val ce = er
            .join(colored.select(col("v").as("src"), col("c").as("cs")), "src")
            .join(colored.select(col("v").as("dst"), col("c").as("cd")), "dst")
            .filter(col("cs") === col("cd"))
            .select(col("src"), col("dst"), col("cs").as("c"))
            .localCheckpoint(true)
          val reached = Fixpoint(colored.filter(col("v") === col("c"))
                                   .select(col("v"), col("c")),
                                 Seq(count(when(col("h") === BHops, 1))), 12,
                                 "SCC backward sweep") { prev =>
            (1 to BHops).foldLeft(prev.select(col("v"), col("c"), lit(0L).as("h"))) {
              (cur, hh) =>
                val add = ce
                  .join(cur.select(col("v").as("dst"), col("c")),
                        Seq("dst", "c"), "left_semi")
                  .select(col("src").as("v"), col("c"), lit(hh.toLong).as("h"))
                cur.unionAll(add)
                  .groupBy("v", "c").agg(min(col("h")).as("h"))
            }
          }((r, _) => r.getLong(0) == 0L)
          scc = scc.unionAll(reached.select(col("v"), col("c").as("scc")))
          remaining.join(reached.select(col("v")), Seq("v"), "left_anti")
        }((r, _) => r.getLong(0) == 0L)
        // isolated docs (no edges) are their own SCC
        val out = Tables(s, d, "documents")
          .join(scc.select(col("v").as("doc_id"), col("scc")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("scc"), col("doc_id")).as("scc"))
          .localCheckpoint(true)
        out.orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |nn AS (SELECT count(*) AS ni FROM documents),
             |e AS (SELECT DISTINCT src, dst FROM (
             |  SELECT doc_id AS src,
             |         (doc_id // 8) * 8 +
             |         ((doc_id - (doc_id // 8) * 8) * 3 + t.k) %
             |           least(8, nn.ni - (doc_id // 8) * 8) AS dst
             |  FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |  WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2) x
             |  WHERE src <> dst),
             |reach AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
             |SELECT d.doc_id,
             |       least(d.doc_id,
             |             coalesce(min(CASE WHEN r2.src IS NOT NULL
             |                               THEN r.dst END), d.doc_id)) AS scc
             |FROM documents d
             |LEFT JOIN reach r ON r.src = d.doc_id
             |LEFT JOIN reach r2 ON r2.src = r.dst AND r2.dst = d.doc_id
             |GROUP BY d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Burrows' Delta over the 20 sources: relative frequencies of the
    // corpus top-30 words, z-scored across sources (sample σ), mean
    // |Δz| per source pair. Every aggregate is vocabulary- or
    // source-bounded: top-30 broadcast, 20×30 grid, 190 output pairs —
    // the corpus-sized work is ONE token-count shuffle.
    "text_burrows_delta" -> Decl(
      (s, d) => {
        val toks = Pipeline.docsWithTokens(s, d)
          .select(col("source"), explode(col("toks")).as("word"))
        val cnt = toks.groupBy("source", "word").agg(count(lit(1)).as("c"))
        val tot = toks.groupBy("source").agg(count(lit(1)).as("tot"))
        val top = toks.groupBy("word").agg(count(lit(1)).as("g"))
          .orderBy(col("g").desc, col("word").asc).limit(30)
          .select("word")
        val grid = tot.crossJoin(broadcast(top))
          .join(cnt, Seq("source", "word"), "left")
          .select(col("source"), col("word"),
                  (coalesce(col("c"), lit(0L)).cast("double") /
                   col("tot").cast("double")).as("f"))
        val stats = grid.groupBy("word")
          .agg(avg(col("f")).as("mu"), stddev_samp(col("f")).as("sd"))
        val z = grid.join(broadcast(stats), "word")
          .filter(col("sd") > 0)
          .select(col("source"), col("word"),
                  ((col("f") - col("mu")) / col("sd")).as("z"))
        z.as("a")
          .join(z.as("b"),
                col("a.word") === col("b.word") &&
                col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(round(avg(abs(col("a.z") - col("b.z"))), 6).as("delta"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS word
             |             FROM documents),
             |cnt AS (SELECT source, word, count(*) AS c FROM tok GROUP BY 1, 2),
             |tot AS (SELECT source, count(*) AS tot FROM tok GROUP BY 1),
             |top AS (SELECT word FROM (
             |  SELECT word, count(*) AS g FROM tok GROUP BY 1
             |  ORDER BY g DESC, word LIMIT 30)),
             |grid AS (SELECT t.source, p.word,
             |                CAST(coalesce(c.c, 0) AS DOUBLE) / t.tot AS f
             |         FROM tot t CROSS JOIN top p
             |         LEFT JOIN cnt c ON c.source = t.source AND c.word = p.word),
             |st AS (SELECT word, avg(f) AS mu, stddev_samp(f) AS sd
             |       FROM grid GROUP BY 1),
             |z AS (SELECT g.source, g.word, (g.f - st.mu) / st.sd AS z
             |      FROM grid g JOIN st ON g.word = st.word WHERE st.sd > 0)
             |SELECT a.source AS src_a, b.source AS src_b,
             |       round(avg(abs(a.z - b.z)), 6) AS delta
             |FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Partition modularity of the minted doc graph
    // (Newman's Q for the grouping documents already carry — their
    // `source` — answering "how assortative is the link structure by
    // source?" with NO iteration: unlike community DETECTION, community
    // SCORING is a single closed-form pass, so it gets a full DuckDB
    // oracle where label-propagation could not) and systematic interval
    // sampling (the survey-sampling design: every 101st row of a total
    // order, selected by a GLOBAL row index computed with the two-pass
    // distributed PrefixSum — never a single-task `row_number()` window).
    //
    // Determinism: modularity terms are exact integers (intra-edge and
    // endpoint-degree counts) over the canonical minted edge set; the
    // only float is the terminal 6-dp contribution. The systematic sample
    // is fully determined by the (l_orderkey, l_linenumber) total order.
    //
    // Scale shape: modularity = one edge-mint + two hash joins against
    // the label table + one groupBy — all linear in |E|. The sample's
    // global index costs one range exchange + one local scan + a
    // #partitions-row offset broadcast (PrefixSum.scala); the filter
    // keeps ~1/101 of rows with zero skew.

    // Newman modularity Q = Σ_c [ e_c/m − (deg_c/2m)² ] of the
    // `source` partition over the minted undirected doc graph (same
    // edge recipe as graph_triangle_count / graph_mst_boruvka).
    "graph_modularity_partition" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val docs = Tables(s, d, "documents")
        val e = mintedPairs(s, d)
          .repartition(n, col("a"))
        val lab = docs.select(col("doc_id"), col("source"))
        val labeled = e
          .join(lab.select(col("doc_id").as("a"), col("source").as("sa")), "a")
          .join(lab.select(col("doc_id").as("b"), col("source").as("sb")), "b")
          .localCheckpoint(true)
        val m = labeled.agg(count(lit(1)).as("m"))
        val deg = labeled.select(col("sa").as("source"))
          .unionAll(labeled.select(col("sb").as("source")))
          .groupBy("source").agg(count(lit(1)).as("deg"))
        val intra = labeled.filter(col("sa") === col("sb"))
          .groupBy(col("sa").as("source")).agg(count(lit(1)).as("intra"))
        deg.join(intra, Seq("source"), "left")
          .crossJoin(broadcast(m))
          .select(col("source"),
                  coalesce(col("intra"), lit(0L)).as("intra_edges"),
                  col("deg").as("degree_sum"),
                  round(coalesce(col("intra"), lit(0L)).cast("double") / col("m") -
                          (col("deg").cast("double") / (col("m") * 2)) *
                          (col("deg").cast("double") / (col("m") * 2)), 6)
                    .as("q_contrib"))
          .orderBy("source")
      },
      Some("""WITH nn AS (SELECT count(*) AS ni FROM documents),
             |raw AS (SELECT doc_id AS src, (doc_id * 3 + t.k) % nn.ni AS dst
             |        FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |        WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2),
             |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |lab AS (SELECT doc_id, source FROM documents),
             |labeled AS (
             |  SELECT la.source AS sa, lb.source AS sb
             |  FROM e JOIN lab la ON la.doc_id = e.a
             |         JOIN lab lb ON lb.doc_id = e.b),
             |m AS (SELECT count(*) AS m FROM labeled),
             |deg AS (SELECT source, count(*) AS deg FROM (
             |          SELECT sa AS source FROM labeled
             |          UNION ALL SELECT sb FROM labeled)
             |        GROUP BY source),
             |intra AS (SELECT sa AS source, count(*) AS intra
             |          FROM labeled WHERE sa = sb GROUP BY sa)
             |SELECT deg.source,
             |       CAST(coalesce(intra, 0) AS BIGINT) AS intra_edges,
             |       CAST(deg AS BIGINT) AS degree_sum,
             |       round(CAST(coalesce(intra, 0) AS DOUBLE) / m.m -
             |             (CAST(deg AS DOUBLE) / (m.m * 2)) *
             |             (CAST(deg AS DOUBLE) / (m.m * 2)), 6) AS q_contrib
             |FROM deg LEFT JOIN intra USING (source) CROSS JOIN m
             |ORDER BY deg.source""".stripMargin)),

    // Every 101st lineitem (offset 7) of the (l_orderkey, l_linenumber)
    // total order — the classical systematic sample. The global index
    // is the distributed two-pass prefix sum, NOT an unpartitioned
    // row_number() window.
    "sample_systematic_interval" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber").cast("bigint").as("l_linenumber"),
                  round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
        PrefixSum.cumsumLong(li, Seq(col("l_orderkey"), col("l_linenumber")),
                             lit(1L), "idx")
          .filter(pmod(col("idx"), lit(101L)) === 7)
          .select(col("idx"), col("l_orderkey"), col("l_linenumber"), col("cents"))
          .orderBy("idx")
      },
      Some("""WITH r AS (
             |  SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
             |         CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |         row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS idx
             |  FROM lineitem)
             |SELECT idx, l_orderkey, l_linenumber, cents
             |FROM r WHERE idx % 101 = 7
             |ORDER BY idx""".stripMargin)),

    // Exact closeness centrality on the block-minted
    // directed graph — per vertex, the count of reachable vertices and
    // the sum of shortest-path distances, with the Wasserman-Faust
    // closeness ((r/(n−1)) · (r/dsum), the disconnected-graph-safe form)
    // — the exact companion to the SAMPLED betweenness/harmonic keys.
    //
    // Determinism: distances and reach counts are integers from a BFS
    // fixpoint; closeness is one rounded double through the identical
    // expression tree in both engines (the oracle walks the same BFS as
    // a recursive CTE and aggregates min distances).
    //
    // Scale shape: `bfs`'s semi-naive frontier search — each hop
    // joins only the newly reached pairs to the single-hop edges, so a hub
    // of degree k costs k rows per frontier pair, never the k² of a
    // squared edge relation. Pair state is bounded by reachability
    // (disjoint ≤8-vertex blocks ⇒ ≤8n rows at every SF); for
    // giant-component graphs the sampled harmonic key is the scale path,
    // exactly as its Scaladoc says.

    "graph_closeness_exact" -> Decl(
      (s, d) => {
        val e = blockEdges(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("src"))
          .localCheckpoint(true)
        val endpoints = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
          .distinct()
        val dist = bfs(e, endpoints.select(col("v").as("s"), col("v")))
        val nDocs = Tables.rowCount(s, d, "documents")
        val per = dist.filter(col("s") =!= col("v"))
          .groupBy("s")
          .agg(count(lit(1)).as("reach"), sum(col("dd")).as("dsum"))
        Tables(s, d, "documents")
          .select(col("doc_id"))
          .join(per.select(col("s").as("doc_id"), col("reach"), col("dsum")),
                Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("reach"), lit(0L)).as("reach"),
                  coalesce(col("dsum"), lit(0L)).as("dsum"))
          .withColumn("closeness",
            when(col("dsum") > 0,
                 round((col("reach").cast("double") / (lit(nDocs) - 1)) *
                       (col("reach").cast("double") / col("dsum")), 6))
              .otherwise(lit(0.0)))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |nn AS (SELECT count(*) AS ni FROM documents),
             |e AS (SELECT DISTINCT src, dst FROM (
             |  SELECT doc_id AS src,
             |         (doc_id // 8) * 8 +
             |         ((doc_id - (doc_id // 8) * 8) * 3 + t.k) %
             |           least(8, nn.ni - (doc_id // 8) * 8) AS dst
             |  FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |  WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2) x
             |  WHERE src <> dst),
             |walk AS (
             |  SELECT src AS v, dst AS u, 1 AS dd FROM e
             |  UNION
             |  SELECT w.v, e.dst AS u, w.dd + 1 AS dd
             |  FROM walk w JOIN e ON w.u = e.src
             |  WHERE w.dd < 9),
             |sp AS (SELECT v, u, min(dd) AS dd FROM walk
             |       WHERE v <> u GROUP BY v, u),
             |per AS (SELECT v AS doc_id, count(*) AS reach,
             |               CAST(sum(dd) AS BIGINT) AS dsum
             |        FROM sp GROUP BY v)
             |SELECT d.doc_id,
             |       coalesce(per.reach, 0) AS reach,
             |       coalesce(per.dsum, 0) AS dsum,
             |       CASE WHEN coalesce(per.dsum, 0) > 0
             |            THEN round((CAST(per.reach AS DOUBLE) /
             |                        (nn.ni - 1)) *
             |                       (CAST(per.reach AS DOUBLE) / per.dsum), 6)
             |            ELSE 0.0 END AS closeness
             |FROM documents d
             |LEFT JOIN per USING (doc_id)
             |CROSS JOIN nn
             |ORDER BY d.doc_id""".stripMargin)),

    // HITS hub/authority scores — the link-analysis
    // companion to PageRank (Kleinberg's mutual reinforcement: good hubs
    // point at good authorities and vice versa) on the minted directed
    // block graph, with TWO unrolled update rounds.
    //
    // Determinism: normalization is deferred to the very end, so every
    // intermediate score is an EXACT BIGINT (h⁰ = 1 ⇒ a¹ = in-degree,
    // h¹ = Σ a¹ over out-edges, a² = Σ h¹, h² = Σ a²) — no float ever
    // rides the graph; the final hub/auth columns are single divisions by
    // the corpus max through identical IEEE trees. (Classical HITS
    // normalizes per round; with ≤2 rounds the unnormalized recursion is
    // the same ranking, and exactness is worth more here than the
    // convention.)
    //
    // Scale shape: four hash join+aggregate passes over the edge list —
    // straight-line dataflow, no driver loop, no window; Catalyst reuses
    // the scanned edge exchange across rounds.

    "graph_hits_hub_authority" -> Decl(
      (s, d) => {
        val edges = blockEdges(s, d)
        val a1 = edges.groupBy(col("dst").as("v"))
          .agg(count(lit(1)).as("a1"))
        val h1 = edges.join(a1.withColumnRenamed("v", "dst"), "dst")
          .groupBy(col("src").as("v")).agg(sum(col("a1")).as("h1"))
        val a2 = edges.join(h1.withColumnRenamed("v", "src"), "src")
          .groupBy(col("dst").as("v")).agg(sum(col("h1")).as("a2"))
        val h2 = edges.join(a2.withColumnRenamed("v", "dst"), "dst")
          .groupBy(col("src").as("v")).agg(sum(col("a2")).as("h2"))
        val scored = Tables(s, d, "documents")
          .select(col("doc_id"))
          .join(a2.select(col("v").as("doc_id"), col("a2")), Seq("doc_id"), "left")
          .join(h2.select(col("v").as("doc_id"), col("h2")), Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("a2"), lit(0L)).as("auth_raw"),
                  coalesce(col("h2"), lit(0L)).as("hub_raw"))
        val mx = scored.agg(max(col("auth_raw")).as("ma"),
                            max(col("hub_raw")).as("mh"))
        scored.crossJoin(broadcast(mx))
          .select(col("doc_id"), col("auth_raw"), col("hub_raw"),
                  round(col("auth_raw").cast("double") / col("ma"), 6)
                    .as("authority"),
                  round(col("hub_raw").cast("double") / col("mh"), 6)
                    .as("hub"))
          .orderBy("doc_id")
      },
      Some("""WITH nn AS (SELECT count(*) AS ni FROM documents),
             |e AS (SELECT DISTINCT src, dst FROM (
             |  SELECT doc_id AS src,
             |         (doc_id // 8) * 8 +
             |         ((doc_id - (doc_id // 8) * 8) * 3 + t.k) %
             |           least(8, nn.ni - (doc_id // 8) * 8) AS dst
             |  FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |  WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2) x
             |  WHERE src <> dst),
             |a1 AS (SELECT dst AS v, count(*) AS a1 FROM e GROUP BY dst),
             |h1 AS (SELECT e.src AS v, CAST(sum(a1.a1) AS BIGINT) AS h1
             |       FROM e JOIN a1 ON e.dst = a1.v GROUP BY e.src),
             |a2 AS (SELECT e.dst AS v, CAST(sum(h1.h1) AS BIGINT) AS a2
             |       FROM e JOIN h1 ON e.src = h1.v GROUP BY e.dst),
             |h2 AS (SELECT e.src AS v, CAST(sum(a2.a2) AS BIGINT) AS h2
             |       FROM e JOIN a2 ON e.dst = a2.v GROUP BY e.src),
             |scored AS (
             |  SELECT d.doc_id,
             |         coalesce(a2.a2, 0) AS auth_raw,
             |         coalesce(h2.h2, 0) AS hub_raw
             |  FROM documents d
             |  LEFT JOIN a2 ON a2.v = d.doc_id
             |  LEFT JOIN h2 ON h2.v = d.doc_id),
             |mx AS (SELECT max(auth_raw) AS ma, max(hub_raw) AS mh
             |       FROM scored)
             |SELECT doc_id, auth_raw, hub_raw,
             |       round(CAST(auth_raw AS DOUBLE) / ma, 6) AS authority,
             |       round(CAST(hub_raw AS DOUBLE) / mh, 6) AS hub
             |FROM scored CROSS JOIN mx
             |ORDER BY doc_id""".stripMargin))
  )
}
