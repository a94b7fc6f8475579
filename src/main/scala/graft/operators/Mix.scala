package graft.operators

/** Data-mix, packing, sampling and quality keys.
  * REGISTRY.md maps each key to its file:line.
  */
object Mix {
  import graft.{Decl, Tables, declMap}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.{Column, DataFrame}

  private val Budget = 10000L

  private val KCenters = 12
  private val Q = 25.0   // process noise variance
  private val R = 400.0  // observation noise variance

  /** ‖a − b‖₂ with b a Scala constant vector, folded in index order.
    * Round-13: the codegen `EuclideanToConst` expression — same IEEE
    * sequence as the zip_with+aggregate HOF it replaces (per-element
    * float→double, (x−y)² accumulated in index order, one sqrt;
    * SketchParitySpec asserts bit-parity), without the interpreted
    * per-element closures and intermediate array the greedy pass paid
    * against every chosen center per round. */
  private def distToConst(e: Column, b: Seq[Double]): Column =
    graft.functions.VectorOps.euclideanToConst(e, b)

  /** Per-column profile entries stacked long — built from ONE aggregate
    * row so the table is scanned once (plus the unavoidable count-distinct
    * Expand), then exploded driver-free into (column, stat) rows.
    */

  val decls: Map[String, Decl] = declMap(
    // Training-data governance and evaluation operators —
    // k-anonymity audit, snapshot drift profiling, exact ECDF grid, n-gram
    // novelty scoring, deterministic negative-pair sampling, and rolling
    // correlation. Determinism discipline as everywhere in the repo: counts
    // and cents stay BIGINT end-to-end, floats appear only in terminal
    // `round(x, 6)` ratios / one sqrt tree over exact integer sufficient
    // statistics, and every ORDER BY ends in a unique key (SURVEY §7.3).

    // k-anonymity audit over quasi-identifiers (nation × segment ×
    // $1000-balance band): the privacy gate a training corpus derived
    // from user data must pass. Cells histogram by anonymity class
    // k_class = min(cell size, 6) — class 1..2 cells are re-identifiable.
    // One shuffle on the QI key with partial aggregation; the histogram
    // is a second bounded-key (6-row) aggregate.
    "quality_k_anonymity" -> Decl(
      (s, d) => {
        Tables(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
                  floor(round(col("c_acctbal") * 100) / 100000.0d)
                    .cast("bigint").as("bal_band"))
          .groupBy("c_nationkey", "c_mktsegment", "bal_band")
          .agg(count(lit(1)).as("cell_n"))
          .groupBy(least(col("cell_n"), lit(6L)).as("k_class"))
          .agg(count(lit(1)).as("n_cells"),
               sum(col("cell_n")).as("n_customers"))
          .orderBy("k_class")
      },
      Some("""WITH cells AS (
             |  SELECT c_nationkey, c_mktsegment,
             |         CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
             |                    / 100000.0) AS BIGINT) AS bal_band,
             |         count(*) AS cell_n
             |  FROM customer GROUP BY 1, 2, 3)
             |SELECT CAST(least(cell_n, 6) AS BIGINT) AS k_class,
             |       CAST(count(*) AS BIGINT) AS n_cells,
             |       CAST(sum(cell_n) AS BIGINT) AS n_customers
             |FROM cells GROUP BY 1 ORDER BY k_class""".stripMargin)),

    // Snapshot drift: the same per-priority profile computed on two year
    // snapshots of orders, joined to a drift report — the data-quality
    // monitor between pipeline runs. Means never materialize as floats
    // until the one terminal rounded ratio of exact integer sums; the
    // cross-multiplied numerator (cb·na − ca·nb) is the exact drift sign.
    "quality_snapshot_drift" -> Decl(
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_orderpriority"),
                  year(col("o_orderdate")).as("yr"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        val prof = o.filter(col("yr").isin(1996, 1997))
          .groupBy("o_orderpriority", "yr")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        val a = prof.filter(col("yr") === 1996)
          .select(col("o_orderpriority"), col("n").as("na"), col("c").as("ca"))
        val b = prof.filter(col("yr") === 1997)
          .select(col("o_orderpriority"), col("n").as("nb"), col("c").as("cb"))
        a.join(b, "o_orderpriority")
          .select(col("o_orderpriority"), col("na"), col("nb"),
                  (col("cb") * col("na") - col("ca") * col("nb")).as("drift_num"),
                  round((col("cb").cast("double") / col("nb")
                          - col("ca").cast("double") / col("na"))
                        / (col("ca").cast("double") / col("na")) * 1e6, 6)
                    .as("drift_ppm"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH o AS (SELECT o_orderpriority, year(o_orderdate) AS yr,
             |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |           FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
             |prof AS (SELECT o_orderpriority, yr, count(*) AS n,
             |           CAST(sum(cents) AS BIGINT) AS c
             |         FROM o GROUP BY 1, 2)
             |SELECT a.o_orderpriority,
             |       CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb,
             |       CAST(b.c * a.n - a.c * b.n AS BIGINT) AS drift_num,
             |       round((CAST(b.c AS DOUBLE) / b.n - CAST(a.c AS DOUBLE) / a.n)
             |             / (CAST(a.c AS DOUBLE) / a.n) * 1e6, 6) AS drift_ppm
             |FROM prof a JOIN prof b USING (o_orderpriority)
             |WHERE a.yr = 1996 AND b.yr = 1997
             |ORDER BY a.o_orderpriority""".stripMargin)),

    // Exact ECDF on a fixed $50k grid over order totals: per occupied
    // bucket, the cumulative count and F(x) — the distribution fingerprint
    // two pipeline runs diff against each other. One bounded-key (≤11)
    // aggregate; the cumulative sum runs over the 11-row bucket spine.
    "agg_ecdf_grid" -> Decl(
      (s, d) => {
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bucketed = Tables(s, d, "orders")
          .select(least(floor(round(col("o_totalprice") * 100) / 5000000.0d), lit(10.0d))
                    .cast("bigint").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
        val total = bucketed.agg(sum("n").as("tot"))
        bucketed
          .select(col("bucket"), sum(col("n")).over(w).as("n_le"))
          .join(broadcast(total))
          .select(col("bucket"), col("n_le"),
                  round(col("n_le").cast("double") / col("tot") * 1e6, 6)
                    .as("f_ppm"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (SELECT CAST(least(floor(CAST(round(o_totalprice * 100) AS BIGINT)
             |                            / 5000000.0), 10) AS BIGINT) AS bucket,
             |                  count(*) AS n
             |           FROM orders GROUP BY 1),
             |c AS (SELECT bucket,
             |        sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS n_le,
             |        sum(n) OVER () AS tot
             |      FROM b)
             |SELECT bucket, CAST(n_le AS BIGINT) AS n_le,
             |       round(CAST(n_le AS DOUBLE) / tot * 1e6, 6) AS f_ppm
             |FROM c ORDER BY bucket""".stripMargin)),

    // N-gram novelty: per doc (in doc_id order), the share of its distinct
    // word bigrams not seen in any earlier document — the incremental
    // value score for corpus curation (a doc full of already-seen n-grams
    // adds little). First-occurrence is min(doc_id) per gram: one shuffle
    // on the gram key with partial min, then one join back on the same
    // key — both corpus-sized but co-partitioned, no broadcast of
    // anything unbounded.
    "text_ngram_novelty" -> Decl(
      (s, d) => {
        val sh = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "array_distinct(transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', t[i + 1])))"))
            .as("g"))
        val first = sh.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
        sh.join(first, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
               sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
                 .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
                  round(col("n_novel").cast("double") / col("n_grams") * 1e6, 6)
                    .as("novelty_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id, g FROM (
             |  SELECT doc_id,
             |         unnest(list_transform(generate_series(1, len(t) - 1),
             |                               i -> t[i] || ' ' || t[i + 1])) AS g
             |  FROM tok WHERE len(t) >= 2)),
             |first AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
             |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |       CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_novel,
             |       round(CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
             |                  AS DOUBLE) / count(*) * 1e6, 6) AS novelty_ppm
             |FROM sh JOIN first USING (g)
             |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin)),

    // Deterministic negative sampling for contrastive training: three
    // pseudo-random (Knuth-hash arithmetic, no RNG) partner docs per
    // anchor, self-pairs dropped, partner metadata joined back. Pure
    // integer arithmetic so both engines mint identical pairs; the
    // partner join is one co-partitioned shuffle on doc_id.
    "sample_negative_pairs" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val n = docs.agg(count(lit(1)).as("n"))
        val pairs = docs.select(col("doc_id"), col("lang"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("lang"),
                  explode(expr("array(1L, 2L, 3L)")).as("j"), col("n"))
          .select(col("doc_id"), col("lang"), col("j"),
                  pmod(col("doc_id") * lit(2654435761L) + col("j") * lit(40503L),
                       col("n")).as("neg_id"))
          .filter(col("neg_id") =!= col("doc_id"))
        pairs
          .join(docs.select(col("doc_id").as("neg_id"),
                            col("lang").as("neg_lang"),
                            col("source").as("neg_source")), "neg_id")
          .select(col("doc_id"), col("j"), col("neg_id"),
                  col("lang"), col("neg_lang"), col("neg_source"))
          .orderBy("doc_id", "j")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM documents),
             |pairs AS (
             |  SELECT d.doc_id, d.lang, j.j,
             |         (d.doc_id * 2654435761 + j.j * 40503) % n.n AS neg_id
             |  FROM documents d
             |       CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) j
             |       CROSS JOIN n)
             |SELECT p.doc_id, CAST(p.j AS BIGINT) AS j,
             |       CAST(p.neg_id AS BIGINT) AS neg_id,
             |       p.lang, b.lang AS neg_lang, b.source AS neg_source
             |FROM pairs p JOIN documents b ON b.doc_id = p.neg_id
             |WHERE p.neg_id <> p.doc_id
             |ORDER BY p.doc_id, p.j""".stripMargin)),

    // Rolling 20-event Pearson correlation between a user's event value
    // and its sequence position — the trend-coupling monitor. All five
    // sufficient statistics are exact BIGINT window sums over the trailing
    // frame (cents ≤ 10⁵, rank ≤ 10⁴: no overflow within 2⁶³); the only
    // float is one terminal guarded sqrt tree rounded to 6 dp. The window
    // partitions by user (bounded per-user history), never globally.
    "window_rolling_corr" -> Decl(
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val f = ord.rowsBetween(-19, 0)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
                  round(col("value") * 100).cast("bigint").as("x"))
          .withColumn("y", row_number().over(ord).cast("bigint"))
          .select(col("user_id"), col("event_id"),
                  count(lit(1)).over(f).as("n"),
                  sum(col("x")).over(f).as("sx"), sum(col("y")).over(f).as("sy"),
                  sum(col("x") * col("x")).over(f).as("sxx"),
                  sum(col("y") * col("y")).over(f).as("syy"),
                  sum(col("x") * col("y")).over(f).as("sxy"))
          .filter(col("n") === 20)
          .select(col("user_id"), col("event_id"),
                  round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
                        / sqrt(nullif(((col("n") * col("sxx") - col("sx") * col("sx"))
                                 * (col("n") * col("syy") - col("sy") * col("sy")))
                                 .cast("double"), lit(0.0d))), 6)
                    .as("corr20"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id,
             |             CAST(round(value * 100) AS BIGINT) AS x,
             |             CAST(row_number() OVER
             |               (PARTITION BY user_id ORDER BY ts, event_id)
             |               AS BIGINT) AS y
             |           FROM events),
             |s AS (SELECT user_id, event_id,
             |        count(*) OVER w AS n,
             |        sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             |        sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
             |        sum(x * y) OVER w AS sxy
             |      FROM e
             |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id,
             |       round(CAST(n * sxy - sx * sy AS DOUBLE)
             |             / sqrt(CAST(nullif((n * sxx - sx * sx)
             |                                * (n * syy - sy * sy), 0)
             |                         AS DOUBLE)), 6) AS corr20
             |FROM s WHERE n = 20 ORDER BY user_id, event_id""".stripMargin)),

    // Token-budget corpus selection — the "fill each
    // language's training-mix slot with the best documents until the token
    // budget runs out" step every pretraining data pipeline ends with.
    //
    // Ranking is per-language by integer lexical density (1000·|distinct
    // tokens| div |tokens| — an exact integer, no float ever sorts), doc_id
    // tiebreak; the keep decision is `cumulative tokens ≤ budget` under
    // that order.
    //
    // Scale shape: the cumulative sum is the distributed two-pass
    // [[PrefixSum]] over the ONE global total order (lang, density desc,
    // doc_id) — languages are a handful of values, so a
    // `Window.partitionBy(lang)` would funnel each language's whole corpus
    // through one task (the exact shape the round-9 verdict flagged and
    // the ScaleSpec gate now rejects). Per-language cumulative = global
    // cumulative − the language's base offset, recovered from a bounded
    // (#langs-row) broadcast aggregate.

    "mix_token_budget" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            expr("CAST(size(split(text, ' ')) AS BIGINT)").as("toks"),
            expr("CAST(size(array_distinct(split(text, ' '))) * 1000L " +
              "div size(split(text, ' ')) AS BIGINT)").as("density"))
        val order = Seq(col("lang").asc, col("density").desc, col("doc_id").asc)
        val cum = PrefixSum.cumsumLong(docs, order, col("toks"), "gcum")
        // per-lang base: the language's first row in the total order has
        // the minimal global cum; its in-language cumulative is its own
        // token count, so base = min(gcum) − min_by(toks, gcum)
        val base = cum.groupBy("lang")
          .agg((min(col("gcum")) - min_by(col("toks"), col("gcum"))).as("base"))
        cum.join(broadcast(base), "lang")
          .select(col("lang"), col("doc_id"), col("toks"), col("density"),
                  (col("gcum") - col("base")).as("cum_toks"))
          .filter(col("cum_toks") <= Budget)
          .orderBy("lang", "cum_toks")
      },
      Some(s"""SELECT lang, doc_id, toks, density, cum_toks FROM (
             |  SELECT lang, doc_id, toks, density,
             |         -- R12: window sum is HUGEINT in DuckDB; cast to BIGINT
             |         CAST(sum(toks) OVER (PARTITION BY lang
             |                              ORDER BY density DESC, doc_id)
             |              AS BIGINT) AS cum_toks
             |  FROM (
             |    SELECT doc_id, lang,
             |           CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             |           CAST(len(list_distinct(string_split(text, ' '))) * 1000
             |                // len(string_split(text, ' ')) AS BIGINT) AS density
             |    FROM documents))
             |WHERE cum_toks <= $Budget
             |ORDER BY lang, cum_toks""".stripMargin)),

    // Class-balanced sampling on the native
    // bounded-heap operator, empirical-Bayes rate smoothing, and the
    // primary-key uniqueness audit.

    // Class-balanced downsample: every event type keeps exactly
    // min-class-size rows, chosen by deterministic hash rank — the
    // imbalanced-training-set fix. The per-class pick runs on the NATIVE
    // TopKPerKey operator (bounded heaps, no per-class sort — the same
    // plan the funnel gate demands); the min class size is one 5-row
    // aggregate collected to the driver (KB, documented pattern).
    "sample_class_balanced" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("user_id"),
                  pmod(col("event_id") * lit(2654435761L), lit(1000000007L))
                    .as("hkey"))
        val m = ev.groupBy("event_type").count()
          .agg(min("count")).collect()(0).getLong(0).toInt
        graft.plans.TopK.perKey(ev, Seq("event_type"),
            Seq("hkey" -> false, "event_id" -> false), m)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_kept"),
               sum(col("user_id")).as("user_id_sum"),
               min(col("hkey")).as("min_hkey"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (SELECT event_id, event_type, user_id,
             |             (event_id * 2654435761) % 1000000007 AS hkey
             |           FROM events),
             |m AS (SELECT min(n) AS m FROM
             |        (SELECT count(*) AS n FROM h GROUP BY event_type)),
             |r AS (SELECT event_type, user_id, hkey,
             |        row_number() OVER (PARTITION BY event_type
             |          ORDER BY hkey, event_id) AS rn
             |      FROM h)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
             |       CAST(sum(user_id) AS BIGINT) AS user_id_sum,
             |       CAST(min(hkey) AS BIGINT) AS min_hkey
             |FROM r CROSS JOIN m WHERE rn <= m
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Empirical-Bayes smoothed high-value rate per user: (k + α·p̂)/(n + α)
    // with α = 20 pseudo-observations at the global rate — the shrinkage
    // every per-entity leaderboard needs before ranking small-n entities.
    // Exact integer cross-multiplies; the smoothed rate is one terminal
    // expression with identical operation order in both engines.
    "agg_rate_bayes_smooth" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"),
                  when(round(col("value") * 100).cast("bigint") > 50000L, 1L)
                    .otherwise(0L).as("y"))
        val per = ev.groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
        val glob = ev.agg(count(lit(1)).as("ng"), sum(col("y")).as("kg"))
        per.crossJoin(broadcast(glob))
          .select(col("user_id"), col("n"), col("k"),
                  round((col("k").cast("double")
                          + lit(20.0d) * col("kg") / col("ng"))
                        / (col("n") + lit(20L)).cast("double"), 6)
                    .as("rate_smoothed"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id,
             |              CASE WHEN CAST(round(value * 100) AS BIGINT) > 50000
             |                   THEN 1 ELSE 0 END AS y
             |            FROM events),
             |per AS (SELECT user_id, count(*) AS n, sum(y) AS k
             |        FROM ev GROUP BY user_id),
             |gstats AS (SELECT count(*) AS ng, sum(y) AS kg FROM ev)
             |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             |       round((CAST(k AS DOUBLE) + 20.0 * kg / ng)
             |             / CAST(n + 20 AS DOUBLE), 6) AS rate_smoothed
             |FROM per CROSS JOIN gstats ORDER BY user_id""".stripMargin)),

    // Primary-key uniqueness audit across every fixture table — the
    // first data-quality gate any warehouse load runs. One
    // count/count-distinct pair per table, unioned into the audit
    // report; each leg is a single partial-agg shuffle.
    "quality_pk_uniqueness" -> Decl(
      (s, d) => {
        def leg(table: String, pk: String) =
          Tables(s, d, table).agg(
            lit(table).as("table_name"),
            count(lit(1)).as("n_rows"),
            countDistinct(col(pk)).as("n_distinct_pk"))
        Seq(("customer", "c_custkey"), ("orders", "o_orderkey"),
            ("part", "p_partkey"), ("supplier", "s_suppkey"),
            ("events", "event_id"), ("documents", "doc_id"),
            ("embeddings", "vec_id"))
          .map { case (t, k) => leg(t, k) }
          .reduce(_ unionAll _)
          .select(col("table_name"), col("n_rows"), col("n_distinct_pk"),
                  (col("n_rows") - col("n_distinct_pk")).as("n_dup_keys"))
          .orderBy("table_name")
      },
      Some("""SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
             |       CAST(n_distinct_pk AS BIGINT) AS n_distinct_pk,
             |       CAST(n_rows - n_distinct_pk AS BIGINT) AS n_dup_keys
             |FROM (
             |  SELECT 'customer' AS table_name, count(*) AS n_rows,
             |         count(DISTINCT c_custkey) AS n_distinct_pk FROM customer
             |  UNION ALL SELECT 'orders', count(*), count(DISTINCT o_orderkey)
             |            FROM orders
             |  UNION ALL SELECT 'part', count(*), count(DISTINCT p_partkey)
             |            FROM part
             |  UNION ALL SELECT 'supplier', count(*), count(DISTINCT s_suppkey)
             |            FROM supplier
             |  UNION ALL SELECT 'events', count(*), count(DISTINCT event_id)
             |            FROM events
             |  UNION ALL SELECT 'documents', count(*), count(DISTINCT doc_id)
             |            FROM documents
             |  UNION ALL SELECT 'embeddings', count(*), count(DISTINCT vec_id)
             |            FROM embeddings)
             |ORDER BY table_name""".stripMargin)),

    // Farthest-point sampling (the k-center greedy
    // coreset — the standard diversity/active-learning selection: each
    // round keeps the point farthest from everything already kept, a
    // 2-approximation of the k-center objective) and the 1-D Kalman
    // filter (local-level state-space smoothing of a daily series — the
    // principled EWMA whose gain adapts from the modeled noise ratio).
    //
    // Determinism: k-center distances are index-ordered zip_with folds
    // (float→double promotion, no shuffle-order summation); argmax breaks
    // ties by vec_id. The Kalman recursion runs the identical IEEE
    // expression sequence in both engines (driver fold here, recursive
    // CTE in the oracle — the ts_holt_winters discipline
    // in TimeSeries), rounded at 4 dp on output.
    //
    // Scale shape: each k-center round is ONE scan computing min-distance
    // against ≤k broadcast-literal centers followed by a
    // TakeOrderedAndProject(1) — O(k·n) dots total, never a pair shuffle.
    // The Kalman series is the bounded 30-day grid: one corpus-sized
    // aggregate, then driver-side state recursion over 30 rows.

    // Greedy k-center from seed vec_id 0: rank, picked vector, and its
    // distance-to-selected-set at pick time. The oracle replays the
    // same greedy recursion as a recursive CTE and recomputes each
    // pick's distance post-hoc (identical by the greedy invariant).
    "sample_kcenter_greedy" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings").select("vec_id", "embedding")
          .localCheckpoint(true)
        val seed = emb.filter(col("vec_id") === 0)
          .select("embedding").collect()(0)
          .getSeq[Float](0).map(_.toDouble).toSeq
        val chosen = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double], Double)](
          (0L, seed, 0.0))
        while (chosen.size < KCenters) {
          val minDist = chosen.map { case (_, e, _) =>
            distToConst(col("embedding"), e) }.reduce(least(_, _))
          val pick = emb
            .filter(!col("vec_id").isInCollection(chosen.map(_._1)))
            .select(col("vec_id"), col("embedding"), minDist.as("dist"))
            .orderBy(col("dist").desc, col("vec_id").asc)
            .limit(1).collect()(0)
          chosen += ((pick.getLong(0),
                      pick.getSeq[Float](1).map(_.toDouble).toSeq,
                      pick.getDouble(2)))
        }
        import s.implicits._
        chosen.toSeq.zipWithIndex
          .map { case ((id, _, dist), i) =>
            (i + 1L, id, BigDecimal(dist).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble) }
          .toDF("rank", "vec_id", "dist")
          .orderBy("rank")
      },
      Some(s"""WITH RECURSIVE
              |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
              |             AS e FROM embeddings),
              |sel(step, ids) AS (
              |  SELECT 1, [CAST(0 AS BIGINT)]
              |  UNION ALL
              |  SELECT step + 1, list_append(ids, (
              |      SELECT c.vec_id FROM v c
              |      WHERE NOT list_contains(sel.ids, c.vec_id)
              |      ORDER BY (SELECT min(list_distance(c.e, m.e))
              |                FROM v m WHERE list_contains(sel.ids, m.vec_id)) DESC,
              |               c.vec_id ASC
              |      LIMIT 1))
              |  FROM sel WHERE step < $KCenters),
              |u AS (SELECT unnest(ids) AS vid, generate_subscripts(ids, 1) AS pos
              |      FROM sel WHERE step = $KCenters)
              |SELECT u.pos AS rank, u.vid AS vec_id,
              |       round(coalesce(min(list_distance(va.e, vb.e)), 0.0), 6) AS dist
              |FROM u
              |JOIN v va ON va.vec_id = u.vid
              |LEFT JOIN u u2 ON u2.pos < u.pos
              |LEFT JOIN v vb ON vb.vec_id = u2.vid
              |GROUP BY u.pos, u.vid
              |ORDER BY rank""".stripMargin)),

    // Local-level Kalman filter over the 30-day purchase-cents series
    // (y = daily sum in dollars): predict P+Q, gain K = P'/(P'+R),
    // update level. Day 1 initializes l = y₁, P = R (gain reported
    // NULL). Output: day, actual, filtered level, gain.
    "ts_kalman_filter_1d" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(round(col("value") * 100).cast("bigint")).as("c"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("c"), lit(0L)).as("c"))
          .orderBy("t").collect()
        val y = spine.map(r => r.getLong(1).toDouble / 100.0)
        var l = y(0)
        var p = R
        val rows = scala.collection.mutable.ArrayBuffer[
          (Long, Double, Double, Option[Double])]((1L, y(0), l, None))
        (2 to 30).foreach { t =>
          val k = (p + Q) / (p + Q + R)
          val yt = y(t - 1)
          l = l + k * (yt - l)
          p = (1 - k) * (p + Q)
          rows += ((t.toLong, yt, l, Some(k)))
        }
        def r4(x: Double): Double =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        import s.implicits._
        rows.toSeq.map { case (t, yt, lv, k) => (t, r4(yt), r4(lv), k.map(r4)) }
          .toDF("day", "actual", "level", "gain")
          .orderBy("day")
      },
      Some(s"""WITH RECURSIVE daily AS (
              |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
              |         sum(CAST(round(value * 100) AS BIGINT)) AS c
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |y AS (SELECT g.t, CAST(coalesce(c, 0) AS DOUBLE) / 100.0 AS y
              |      FROM generate_series(1, 30) AS g(t)
              |      LEFT JOIN daily ON daily.t = g.t),
              |kf(t, lvl, p, yt, k) AS (
              |  -- p must start as DOUBLE: a bare 400.0 literal types the
              |  -- whole recursive column DECIMAL(4,1) and truncates the
              |  -- covariance every step
              |  SELECT 1, (SELECT y FROM y WHERE t = 1), CAST($R AS DOUBLE),
              |         (SELECT y FROM y WHERE t = 1), CAST(NULL AS DOUBLE)
              |  UNION ALL
              |  SELECT kf.t + 1,
              |         kf.lvl + ((kf.p + $Q) / (kf.p + $Q + $R)) * (y.y - kf.lvl),
              |         (1 - (kf.p + $Q) / (kf.p + $Q + $R)) * (kf.p + $Q),
              |         y.y,
              |         (kf.p + $Q) / (kf.p + $Q + $R)
              |  FROM kf JOIN y ON y.t = kf.t + 1
              |  WHERE kf.t < 30)
              |SELECT t AS day, round(yt, 4) AS actual, round(lvl, 4) AS level,
              |       round(k, 4) AS gain
              |FROM kf ORDER BY day""".stripMargin)),

    // Cross-engine table checksums (the reconciliation
    // primitive behind every 100 TB migration/copy audit: order-independent
    // per-bucket digests that two engines can compute independently and
    // diff — a mismatch localizes to one month instead of "somewhere in
    // the table") and the Hampel filter (rolling-median ± scaled-rolling-
    // MAD outlier replacement — the robust despiking step production
    // telemetry pipelines run before any model sees the series).
    //
    // Determinism: the checksum hashes a canonical '|'-joined row string
    // (integer cents, yyyy-MM-dd dates — no float formatting anywhere)
    // through md5, takes the top 60 bits as an integer, and folds with
    // the two classic order-independent combiners (exact DECIMAL(38,0)
    // sum — overflow-free at any corpus size — and bit XOR). Hampel runs
    // on the bounded 30-day × event-type grid with exact integer counts;
    // medians of 7-element frames interpolate identically (both engines
    // average the middle pair), landing on .5 steps that doubles carry
    // exactly.
    //
    // Scale shape: the checksum is one scan + one hash-partitioned
    // groupBy on the month — pure map-side-combinable aggregation. The
    // Hampel frame join is spine×7 over the calendar grid (never corpus
    // rows).

    // Per-month reconciliation digests over orders: row count, exact
    // decimal sum of 60-bit md5 prefixes, and their XOR. Two engines
    // computing this independently agree iff the table contents agree
    // (up to md5 collisions) — and THIS oracle literally is the second
    // engine.
    "quality_table_checksum" -> Decl(
      (s, d) => {
        Tables(s, d, "orders")
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
                  conv(substring(md5(concat_ws("|",
                         col("o_orderkey"), col("o_custkey"),
                         col("o_orderstatus"),
                         round(col("o_totalprice") * 100).cast("bigint"),
                         date_format(col("o_orderdate"), "yyyy-MM-dd"),
                         col("o_orderpriority"))), 1, 15), 16, 10)
                    .cast("bigint").as("h"))
          .groupBy("month")
          .agg(count(lit(1)).as("n_rows"),
               // string form: the driver's hash encodes DECIMAL
               // engine-specifically, and a digest is an opaque token
               // anyway
               sum(col("h").cast("decimal(38,0)")).cast("string")
                 .as("sum_digest"),
               expr("bit_xor(h)").as("xor_digest"))
          .orderBy("month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |       count(*) AS n_rows,
             |       CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS sum_digest,
             |       bit_xor(h) AS xor_digest
             |FROM (
             |  SELECT o_orderdate,
             |         ('0x' || substr(md5(
             |            CAST(o_orderkey AS VARCHAR) || '|' ||
             |            CAST(o_custkey AS VARCHAR) || '|' ||
             |            o_orderstatus || '|' ||
             |            CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
             |            strftime(o_orderdate, '%Y-%m-%d') || '|' ||
             |            o_orderpriority), 1, 15))::BIGINT AS h
             |  FROM orders)
             |GROUP BY month ORDER BY month""".stripMargin)),

    // Hampel despiking of the daily per-type event counts: frame
    // t±3 on the calendar spine, med = median(frame), mad =
    // median(|x − med|), spike iff |x − med| > 3·1.4826·mad; spikes
    // are replaced by the rolling median (the filter's output), all
    // exact on the integer/half-integer grid.
    "window_hampel_filter" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"),
                   datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("x"))
        val spine = daily.select(col("event_type")).distinct()
          .crossJoin(broadcast(s.range(1, 31).select(col("id").as("t"))))
          .join(daily, Seq("event_type", "t"), "left")
          .select(col("event_type"), col("t"),
                  coalesce(col("x"), lit(0L)).as("x"))
        val frame = spine.as("c")
          .join(spine.as("f"),
                col("f.event_type") === col("c.event_type") &&
                  col("f.t") >= col("c.t") - 3 && col("f.t") <= col("c.t") + 3)
          .select(col("c.event_type").as("event_type"), col("c.t").as("t"),
                  col("c.x").as("x"), col("f.x").as("fx"))
        val med = frame.groupBy("event_type", "t", "x")
          .agg(median(col("fx")).as("med"))
        val mad = frame
          .join(med.select(col("event_type"), col("t"), col("med")),
                Seq("event_type", "t"))
          .groupBy("event_type", "t")
          .agg(median(abs(col("fx").cast("double") - col("med"))).as("mad"))
        med.join(mad, Seq("event_type", "t"))
          .withColumn("dev", abs(col("x").cast("double") - col("med")))
          .withColumn("is_spike",
            col("dev") > lit(3.0) * lit(1.4826) * col("mad"))
          .select(col("event_type"), col("t"), col("x"),
                  round(col("med"), 6).as("med"),
                  round(col("mad"), 6).as("mad"),
                  col("is_spike"),
                  round(when(col("is_spike"), col("med"))
                          .otherwise(col("x").cast("double")), 6)
                    .as("filtered"))
          .orderBy("event_type", "t")
      },
      Some("""WITH daily AS (
             |  SELECT event_type,
             |         date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         count(*) AS x
             |  FROM events GROUP BY 1, 2),
             |spine AS (
             |  SELECT e.event_type, g.t, CAST(coalesce(d.x, 0) AS BIGINT) AS x
             |  FROM (SELECT DISTINCT event_type FROM daily) e
             |  CROSS JOIN generate_series(1, 30) g(t)
             |  LEFT JOIN daily d ON d.event_type = e.event_type AND d.t = g.t),
             |frame AS (
             |  SELECT c.event_type, c.t, c.x, f.x AS fx
             |  FROM spine c JOIN spine f
             |    ON f.event_type = c.event_type
             |   AND f.t BETWEEN c.t - 3 AND c.t + 3),
             |med AS (
             |  SELECT event_type, t, x, median(fx) AS med
             |  FROM frame GROUP BY event_type, t, x),
             |mad AS (
             |  SELECT f.event_type, f.t,
             |         median(abs(CAST(f.fx AS DOUBLE) - m.med)) AS mad
             |  FROM frame f JOIN med m
             |    ON m.event_type = f.event_type AND m.t = f.t
             |  GROUP BY f.event_type, f.t)
             |SELECT med.event_type, med.t, med.x,
             |       round(med.med, 6) AS med,
             |       round(mad.mad, 6) AS mad,
             |       abs(CAST(med.x AS DOUBLE) - med.med) > 3.0 * 1.4826 * mad.mad
             |         AS is_spike,
             |       round(CASE WHEN abs(CAST(med.x AS DOUBLE) - med.med) >
             |                       3.0 * 1.4826 * mad.mad
             |                  THEN med.med
             |                  ELSE CAST(med.x AS DOUBLE) END, 6) AS filtered
             |FROM med JOIN mad ON mad.event_type = med.event_type
             |                 AND mad.t = med.t
             |ORDER BY med.event_type, med.t""".stripMargin)),

    // The data-quality / pipeline-operations family a
    // production 100 TB corpus store runs nightly (column profiling,
    // referential-integrity audit, constraint checking), plus deterministic
    // per-key reservoir sampling through the native TopKPerKey plan and two
    // exact-integer time-series diagnostics (seasonal profile,
    // cross-correlation).
    //
    // Scale doctrine shared by the family: every report's OUTPUT is bounded
    // by schema size (columns × constraints × FK edges), never by data size,
    // and every input pass is a single scan feeding partial aggregates — the
    // shapes that survive 1000 executors unchanged.

    // Column profiler (Deequ/Great-Expectations "analyze" pass): one scan
    // of lineitem computes n / nulls / exact NDV / min / max for six
    // representative columns (two int keys, two doubles-as-cents, one
    // string, one timestamp), emitted LONG (one row per column) so the
    // report schema is fixed while the profiled table is arbitrary.
    // Numeric min/max ride an integer-cents lattice; the timestamp maps
    // to epoch micros; the string column reports NULL bounds (cross-engine
    // string collation is not part of the contract). The count-distinct
    // Expand is the exact-NDV price — the approximate profiler variant is
    // agg_approx_distinct's HLL. Output is bounded by column count: 6 rows
    // at any data scale.
    "profile_column_stats" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        def cents(c: String) = round(col(c) * 100).cast("bigint")
        val one = li.agg(
          count(lit(1)).as("n"),
          // l_orderkey
          countDistinct(col("l_orderkey")).as("ok_ndv"),
          min(col("l_orderkey")).as("ok_min"), max(col("l_orderkey")).as("ok_max"),
          // l_partkey
          countDistinct(col("l_partkey")).as("pk_ndv"),
          min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
          // l_quantity (integer-valued doubles; cents lattice for generality)
          countDistinct(col("l_quantity")).as("qt_ndv"),
          min(cents("l_quantity")).as("qt_min"), max(cents("l_quantity")).as("qt_max"),
          // l_extendedprice
          countDistinct(col("l_extendedprice")).as("ep_ndv"),
          min(cents("l_extendedprice")).as("ep_min"), max(cents("l_extendedprice")).as("ep_max"),
          // l_returnflag (string: NDV only)
          countDistinct(col("l_returnflag")).as("rf_ndv"),
          // l_shipdate → epoch micros
          countDistinct(col("l_shipdate")).as("sd_ndv"),
          min(unix_micros(col("l_shipdate").cast("timestamp"))).as("sd_min"),
          max(unix_micros(col("l_shipdate").cast("timestamp"))).as("sd_max"))
        one.select(explode(array(
            struct(lit("l_orderkey").as("col_name"), col("n"),
                   col("ok_ndv").as("ndv"), col("ok_min").as("min_v"), col("ok_max").as("max_v")),
            struct(lit("l_partkey").as("col_name"), col("n"),
                   col("pk_ndv").as("ndv"), col("pk_min").as("min_v"), col("pk_max").as("max_v")),
            struct(lit("l_quantity").as("col_name"), col("n"),
                   col("qt_ndv").as("ndv"), col("qt_min").as("min_v"), col("qt_max").as("max_v")),
            struct(lit("l_extendedprice").as("col_name"), col("n"),
                   col("ep_ndv").as("ndv"), col("ep_min").as("min_v"), col("ep_max").as("max_v")),
            struct(lit("l_returnflag").as("col_name"), col("n"),
                   col("rf_ndv").as("ndv"), lit(null).cast("bigint").as("min_v"),
                   lit(null).cast("bigint").as("max_v")),
            struct(lit("l_shipdate").as("col_name"), col("n"),
                   col("sd_ndv").as("ndv"), col("sd_min").as("min_v"), col("sd_max").as("max_v"))
          )).as("p"))
          .select(col("p.col_name").as("col_name"), col("p.n").as("n_rows"),
                  col("p.ndv").as("n_distinct"), col("p.min_v").as("min_v"),
                  col("p.max_v").as("max_v"))
          .orderBy("col_name")
      },
      Some("""WITH a AS (
             |  SELECT count(*) AS n,
             |    count(DISTINCT l_orderkey) AS ok_ndv,
             |      min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
             |    count(DISTINCT l_partkey) AS pk_ndv,
             |      min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
             |    count(DISTINCT l_quantity) AS qt_ndv,
             |      min(CAST(round(l_quantity * 100) AS BIGINT)) AS qt_min,
             |      max(CAST(round(l_quantity * 100) AS BIGINT)) AS qt_max,
             |    count(DISTINCT l_extendedprice) AS ep_ndv,
             |      min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ep_min,
             |      max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ep_max,
             |    count(DISTINCT l_returnflag) AS rf_ndv,
             |    count(DISTINCT l_shipdate) AS sd_ndv,
             |      min(epoch_us(l_shipdate)) AS sd_min,
             |      max(epoch_us(l_shipdate)) AS sd_max
             |  FROM lineitem)
             |SELECT col_name, CAST(n AS BIGINT) AS n_rows,
             |       CAST(ndv AS BIGINT) AS n_distinct,
             |       CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v
             |FROM (
             |  SELECT 'l_orderkey' AS col_name, n, ok_ndv AS ndv, ok_min AS min_v, ok_max AS max_v FROM a
             |  UNION ALL SELECT 'l_partkey', n, pk_ndv, pk_min, pk_max FROM a
             |  UNION ALL SELECT 'l_quantity', n, qt_ndv, qt_min, qt_max FROM a
             |  UNION ALL SELECT 'l_extendedprice', n, ep_ndv, ep_min, ep_max FROM a
             |  UNION ALL SELECT 'l_returnflag', n, rf_ndv, NULL, NULL FROM a
             |  UNION ALL SELECT 'l_shipdate', n, sd_ndv, sd_min, sd_max FROM a)
             |ORDER BY col_name""".stripMargin)),

    // Referential-integrity audit across the star schema: per FK edge, the
    // child row count and the orphan count (child keys with no parent).
    // Fixture FKs are intact, so a PARTIAL parent snapshot (only 'F'-status
    // orders — a deterministic stand-in for a broken incremental load)
    // provides the provably non-zero violation path; the audit exercises
    // both outcomes. Scale: the lineitem edges are ONE left join on
    // l_orderkey computing both edge verdicts in the same pass (parent
    // presence + parent-snapshot presence as two conditional counts);
    // dimension edges broadcast their parents. Output = 5 rows at any
    // data size.
    "quality_fk_orphans" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val ord = Tables(s, d, "orders")
        val edge1 = li
          .join(ord.select(col("o_orderkey"), col("o_orderstatus")),
                col("l_orderkey") === col("o_orderkey"), "left_outer")
          .agg(count(lit(1)).as("n_child"),
               count(when(col("o_orderkey").isNull, 1)).as("miss_all"),
               count(when(col("o_orderkey").isNull ||
                          col("o_orderstatus") =!= "F", 1)).as("miss_f"))
          .select(explode(array(
            struct(lit("lineitem->orders").as("edge"),
                   col("n_child"), col("miss_all").as("n_orphans")),
            struct(lit("lineitem->orders[F]").as("edge"),
                   col("n_child"), col("miss_f").as("n_orphans")))).as("e"))
          .select(col("e.edge").as("edge"), col("e.n_child").as("n_child"),
                  col("e.n_orphans").as("n_orphans"))
        def dimEdge(name: String, child: DataFrame, ck: String,
                    parent: DataFrame, pk: String): DataFrame =
          child.join(broadcast(parent.select(col(pk))),
                     col(ck) === col(pk), "left_outer")
            .agg(count(lit(1)).as("n_child"),
                 count(when(col(pk).isNull, 1)).as("n_orphans"))
            .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
        val cust = Tables(s, d, "customer")
        val nat = Tables(s, d, "nation")
        edge1
          .unionByName(dimEdge("orders->customer", ord, "o_custkey", cust, "c_custkey"))
          .unionByName(dimEdge("customer->nation", cust, "c_nationkey", nat, "n_nationkey"))
          .unionByName(dimEdge("supplier->nation", Tables(s, d, "supplier"),
                               "s_nationkey", nat, "n_nationkey"))
          .orderBy("edge")
      },
      Some("""WITH e1 AS (
             |  SELECT count(*) AS n_child,
             |    count(*) FILTER (WHERE o.o_orderkey IS NULL) AS miss_all,
             |    count(*) FILTER (WHERE o.o_orderkey IS NULL OR o.o_orderstatus <> 'F') AS miss_f
             |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
             |SELECT edge, CAST(n_child AS BIGINT) AS n_child,
             |       CAST(n_orphans AS BIGINT) AS n_orphans FROM (
             |  SELECT 'lineitem->orders' AS edge, n_child, miss_all AS n_orphans FROM e1
             |  UNION ALL SELECT 'lineitem->orders[F]', n_child, miss_f FROM e1
             |  UNION ALL
             |  SELECT 'orders->customer', count(*),
             |         count(*) FILTER (WHERE c.c_custkey IS NULL)
             |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
             |  UNION ALL
             |  SELECT 'customer->nation', count(*),
             |         count(*) FILTER (WHERE n.n_nationkey IS NULL)
             |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
             |  UNION ALL
             |  SELECT 'supplier->nation', count(*),
             |         count(*) FILTER (WHERE n.n_nationkey IS NULL)
             |  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey)
             |ORDER BY edge""".stripMargin)),

    // Constraint report (the Deequ "verification" pass): one row per
    // declared constraint with rows checked, violation count, and a 0/1
    // verdict. Constraints chosen to exercise both verdicts on the
    // fixtures: uniqueness (n − NDV), domain membership, range bounds, and
    // an intentionally-failing tight range. Each source table contributes
    // ONE aggregate scan; the report is constraint-count rows forever.
    "quality_constraint_report" -> Decl(
      (s, d) => {
        val ord = Tables(s, d, "orders")
        val li = Tables(s, d, "lineitem")
        val oAgg = ord.agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("ndv"),
          count(when(!col("o_orderstatus").isin("F", "O", "P"), 1)).as("bad_status"))
          .select(explode(array(
            struct(lit("orders.o_orderkey UNIQUE").as("constraint_name"),
                   col("n").as("n_checked"), (col("n") - col("ndv")).as("n_violations")),
            struct(lit("orders.o_orderstatus IN (F,O,P)").as("constraint_name"),
                   col("n").as("n_checked"), col("bad_status").as("n_violations"))))
            .as("c"))
        val lAgg = li.agg(
          count(lit(1)).as("n"),
          count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)).as("bad_qty"),
          count(when(col("l_discount") < 0 || col("l_discount") > 0.05, 1)).as("bad_disc"),
          count(when(col("l_extendedprice").isNull, 1)).as("null_price"))
          .select(explode(array(
            struct(lit("lineitem.l_quantity IN [1,50]").as("constraint_name"),
                   col("n").as("n_checked"), col("bad_qty").as("n_violations")),
            struct(lit("lineitem.l_discount IN [0,0.05]").as("constraint_name"),
                   col("n").as("n_checked"), col("bad_disc").as("n_violations")),
            struct(lit("lineitem.l_extendedprice NOT NULL").as("constraint_name"),
                   col("n").as("n_checked"), col("null_price").as("n_violations"))))
            .as("c"))
        oAgg.unionByName(lAgg)
          .select(col("c.constraint_name").as("constraint_name"),
                  col("c.n_checked").as("n_checked"),
                  col("c.n_violations").as("n_violations"),
                  when(col("c.n_violations") === 0, 1L).otherwise(0L).as("passed"))
          .orderBy("constraint_name")
      },
      Some("""WITH o AS (SELECT count(*) AS n, count(DISTINCT o_orderkey) AS ndv,
             |    count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) AS bad_status
             |  FROM orders),
             |l AS (SELECT count(*) AS n,
             |    count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS bad_qty,
             |    count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.05) AS bad_disc,
             |    count(*) FILTER (WHERE l_extendedprice IS NULL) AS null_price
             |  FROM lineitem)
             |SELECT constraint_name, CAST(n_checked AS BIGINT) AS n_checked,
             |       CAST(n_violations AS BIGINT) AS n_violations,
             |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
             |FROM (
             |  SELECT 'orders.o_orderkey UNIQUE' AS constraint_name, n AS n_checked,
             |         n - ndv AS n_violations FROM o
             |  UNION ALL SELECT 'orders.o_orderstatus IN (F,O,P)', n, bad_status FROM o
             |  UNION ALL SELECT 'lineitem.l_quantity IN [1,50]', n, bad_qty FROM l
             |  UNION ALL SELECT 'lineitem.l_discount IN [0,0.05]', n, bad_disc FROM l
             |  UNION ALL SELECT 'lineitem.l_extendedprice NOT NULL', n, null_price FROM l)
             |ORDER BY constraint_name""".stripMargin)),

    // Deterministic per-key reservoir sample — exact k rows per key with
    // uniform-hash tickets (md5 over the unique key, so re-runs and
    // engines agree bit-for-bit; the streaming/distributed-safe stand-in
    // for rand()-based reservoir sampling). Runs through the NATIVE
    // TopKPerKey plan: bounded k-row heap per key after one hash shuffle —
    // never a per-group sort — so a group with 10⁹ rows costs k slots of
    // state. Oracle is the row_number formulation, proving the custom
    // operator equals the stock plan on ticket order.
    "sample_reservoir_perkey" -> Decl(
      (s, d) => {
        val t = Tables(s, d, "orders")
          .withColumn("ticket", md5(concat(lit("rsv"), col("o_orderkey").cast("string"))))
        graft.plans.TopK.perKey(
            t, Seq("o_orderpriority"),
            Seq("ticket" -> false, "o_orderkey" -> false), 4)
          .select(col("o_orderpriority"), col("o_orderkey"), col("ticket"))
          .orderBy("o_orderpriority", "ticket", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey, ticket FROM (
             |  SELECT o_orderpriority, o_orderkey,
             |         md5('rsv' || CAST(o_orderkey AS VARCHAR)) AS ticket,
             |         row_number() OVER (PARTITION BY o_orderpriority
             |           ORDER BY md5('rsv' || CAST(o_orderkey AS VARCHAR)) ASC,
             |                    o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 4 ORDER BY o_orderpriority, ticket, o_orderkey""".stripMargin)),

    // Hour-of-day seasonal profile per event type — the detector baseline
    // behind "is this hour anomalous for this stream". Grid is bounded
    // (5 types × 24 hours) so per-cell sums are one partial-aggregating
    // shuffle; the peak flag compares EXACT integers: cell deviation
    // |sum_c·n_t − sum_t·n_c| (the cross-multiplied distance of the cell
    // mean from the type mean) against the type's max via a struct-max
    // broadcast — no float mean ever compared. Products stay ≪ 2⁶³ (cents
    // ≤ 1e6·n, n ≤ 1e5 at sf0.1; the 100 TB variant widens to DECIMAL(38)
    // unchanged in shape).
    "ts_seasonal_hourofday" -> Decl(
      (s, d) => {
        val cells = Tables.events(s, d)
          .select(col("event_type"), hour(col("ts")).cast("bigint").as("hod"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("event_type", "hod")
          .agg(count(lit(1)).as("n_c"), sum(col("c")).as("sum_c"))
        val types = cells.groupBy("event_type")
          .agg(sum(col("n_c")).as("n_t"), sum(col("sum_c")).as("sum_t"))
        val dev = cells.join(broadcast(types), "event_type")
          .withColumn("dev_x",
            abs(col("sum_c") * col("n_t") - col("sum_t") * col("n_c")))
        val peak = dev.groupBy("event_type")
          .agg(max(struct(col("dev_x"), col("hod"))).as("m"))
          .select(col("event_type"), col("m.hod").as("peak_hod"))
        dev.join(broadcast(peak), "event_type")
          .select(col("event_type"), col("hod"), col("n_c"), col("sum_c"),
                  col("dev_x"),
                  when(col("hod") === col("peak_hod"), 1L).otherwise(0L)
                    .as("is_peak"))
          .orderBy("event_type", "hod")
      },
      Some("""WITH cells AS (
             |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             |         count(*) AS n_c,
             |         sum(CAST(round(value * 100) AS BIGINT)) AS sum_c
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, sum(n_c) AS n_t, sum(sum_c) AS sum_t
             |      FROM cells GROUP BY 1),
             |d AS (SELECT c.event_type, c.hod, c.n_c, c.sum_c,
             |        abs(c.sum_c * t.n_t - t.sum_t * c.n_c) AS dev_x
             |      FROM cells c JOIN t USING (event_type)),
             |p AS (SELECT event_type,
             |        (max({'x': dev_x, 'h': hod})).h AS peak_hod
             |      FROM d GROUP BY 1)
             |SELECT d.event_type, d.hod, CAST(d.n_c AS BIGINT) AS n_c,
             |       CAST(d.sum_c AS BIGINT) AS sum_c,
             |       CAST(d.dev_x AS BIGINT) AS dev_x,
             |       CAST(CASE WHEN d.hod = p.peak_hod THEN 1 ELSE 0 END AS BIGINT)
             |         AS is_peak
             |FROM d JOIN p USING (event_type)
             |ORDER BY event_type, hod""".stripMargin)),

    // Cross-correlation of the hourly click-value and purchase-value
    // series at lags −2..+2 — "does stream A lead stream B". The hourly
    // grid is bounded (data-independent in width), so the lag alignment is
    // a self-join on hour+lag over that grid; all six sufficient sums are
    // exact BIGINTs per R10/R11 and only the terminal Pearson tree runs in
    // double, rounded to 6 dp. Scale: the grid aggregate is the only
    // corpus-sized pass; everything after is O(hours × lags).
    "ts_crosscorr_lagged" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"),
                  expr("unix_micros(ts) div 3600000000L").as("hr"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("event_type", "hr").agg(sum(col("c")).as("v"))
        val a = ev.filter(col("event_type") === "click")
          .select(col("hr").as("ha"), col("v").as("x"))
        val b = ev.filter(col("event_type") === "purchase")
          .select(col("hr").as("hb"), col("v").as("y"))
        val lags = a.sparkSession.range(-2, 3).select(col("id").as("lag"))
        a.crossJoin(broadcast(lags))
          .join(b, col("hb") === col("ha") + col("lag"))
          .groupBy("lag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
               sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
               sum(col("x") * col("y")).as("sxy"))
          .select(col("lag"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
              .as("r"))
          .orderBy("lag")
      },
      Some("""WITH g AS (
             |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             |         sum(CAST(round(value * 100) AS BIGINT)) AS v
             |  FROM events WHERE event_type IN ('click', 'purchase')
             |  GROUP BY 1, 2),
             |a AS (SELECT hr AS ha, v AS x FROM g WHERE event_type = 'click'),
             |b AS (SELECT hr AS hb, v AS y FROM g WHERE event_type = 'purchase'),
             |s AS (SELECT l.lag, count(*) AS n,
             |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(x * x) AS BIGINT) AS sxx,
             |        CAST(sum(y * y) AS BIGINT) AS syy,
             |        CAST(sum(x * y) AS BIGINT) AS sxy
             |      FROM a CROSS JOIN (VALUES (-2),(-1),(0),(1),(2)) l(lag)
             |           JOIN b ON b.hb = a.ha + l.lag
             |      GROUP BY 1)
             |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
             |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
             |         (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |          sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
             |FROM s ORDER BY lag""".stripMargin)),

    // Neyman-optimal stratified allocation — the
    // sampling design every measurement pipeline should use instead of
    // proportional allocation when strata variances differ: budget B
    // split as n_h ∝ N_h·σ_h (minimum-variance unbiased estimation of
    // the population mean under a fixed budget), integerized by the
    // largest-remainder method so the allocations sum to B exactly.
    //
    // Determinism: N_h are integers; σ_h comes from exact DECIMAL(38,0)
    // Σc/Σc² pushed through the identical sample-variance tree in both
    // engines; shares, floors and remainders are the same IEEE doubles,
    // and the remainder ranking tie-breaks on the stratum name. The
    // whole allocation is a ≤5-row broadcast computation.
    //
    // Scale shape: ONE distributed aggregate per stratum (count + two
    // power sums riding the same scan); everything after is a bounded
    // 5-row window. The actual row draw composes with sample_hash_exactk
    // (stored-rank hash sampling) per stratum — this key certifies the
    // allocation itself, the part proportional sampling gets wrong.

    "sample_stratified_neyman" -> Decl(
      (s, d) => {
        val B = 1000L
        val per = Tables.events(s, d)
          .select(col("event_type").as("stratum"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("stratum")
          .agg(count(lit(1)).as("nh"),
               sum(col("c").cast("decimal(38,0)")).as("s1"),
               sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
          .withColumn("sd",
            sqrt((col("nh").cast("double") * col("s2").cast("double") -
                  col("s1").cast("double") * col("s1").cast("double")) /
                 (col("nh").cast("double") * (col("nh").cast("double") - 1))))
          .withColumn("share", col("nh").cast("double") * col("sd"))
        // total share folds in stratum order (cross-group double sum —
        // the repo's sorted-fold determinism rule)
        val tot = per.agg(
          expr("aggregate(array_sort(collect_list(struct(stratum, share))), " +
               "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.share)").as("tshare"))
        val sized = per.crossJoin(broadcast(tot))
          .withColumn("exact", lit(B.toDouble) * col("share") / col("tshare"))
          .withColumn("base", floor(col("exact")).cast("bigint"))
          .withColumn("rem", col("exact") - col("base"))
        val short = sized.agg((lit(B) - sum(col("base"))).as("missing"))
        // bounded 5-row window: top-`missing` remainders get +1,
        // ties broken by stratum name
        val w = Window.orderBy(col("rem").desc, col("stratum"))
        sized.crossJoin(broadcast(short))
          .withColumn("rk", row_number().over(w))
          .select(col("stratum"), col("nh"),
                  round(col("sd"), 6).as("sd_cents"),
                  round(col("exact"), 6).as("exact_alloc"),
                  (col("base") +
                   when(col("rk") <= col("missing"), 1L).otherwise(0L))
                    .as("alloc"))
          .orderBy("stratum")
      },
      Some("""WITH per AS (
             |  SELECT event_type AS stratum, count(*) AS nh,
             |         sum(CAST(c AS DECIMAL(38,0))) AS s1,
             |         sum(CAST(c * c AS DECIMAL(38,0))) AS s2
             |  FROM (SELECT event_type,
             |               CAST(round(value * 100) AS BIGINT) AS c
             |        FROM events)
             |  GROUP BY event_type),
             |sd AS (SELECT stratum, nh,
             |              sqrt((CAST(nh AS DOUBLE) * CAST(s2 AS DOUBLE) -
             |                    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
             |                   (CAST(nh AS DOUBLE) *
             |                    (CAST(nh AS DOUBLE) - 1))) AS sd,
             |              CAST(nh AS DOUBLE) *
             |                sqrt((CAST(nh AS DOUBLE) * CAST(s2 AS DOUBLE) -
             |                      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
             |                     (CAST(nh AS DOUBLE) *
             |                      (CAST(nh AS DOUBLE) - 1))) AS share
             |       FROM per),
             |tot AS (SELECT list_sum(list(share ORDER BY stratum)) AS tshare
             |        FROM sd),
             |sized AS (SELECT stratum, nh, sd, share,
             |                 1000.0 * share / tshare AS exact,
             |                 CAST(floor(1000.0 * share / tshare) AS BIGINT)
             |                   AS base,
             |                 1000.0 * share / tshare -
             |                   floor(1000.0 * share / tshare) AS rem
             |          FROM sd CROSS JOIN tot),
             |short AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS missing
             |          FROM sized),
             |ranked AS (SELECT *, row_number() OVER (ORDER BY rem DESC,
             |                                        stratum) AS rk
             |           FROM sized)
             |SELECT r.stratum, r.nh,
             |       round(r.sd, 6) AS sd_cents,
             |       round(r.exact, 6) AS exact_alloc,
             |       r.base + CASE WHEN r.rk <= sh.missing THEN 1 ELSE 0 END
             |         AS alloc
             |FROM ranked r CROSS JOIN short sh
             |ORDER BY r.stratum""".stripMargin))
  )
}
