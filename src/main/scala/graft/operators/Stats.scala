package graft.operators

/** Statistics, hypothesis-test and sketch-aggregation keys.
  * REGISTRY.md maps each key to its file:line.
  */
object Stats {
  import graft.{Decl, Sql, Tables, declMap}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window
  import graft.functions.{TextOps, VectorOps}
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private val Alpha =
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  private val centsRev =
    expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")

  private val cents = expr("CAST(round(value * 100) AS BIGINT)")
  private val post = col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp")
  private val treat = pmod(col("user_id"), lit(2L)) === 1

  /** Deterministic absorption probability into `conv` from every state:
    * fixed 400 synchronous iterations of a(s) = Σ_t P(s,t)·a(t) with
    * a(conv)=1, a(null)=0 — geometric convergence to well under 1e-12 for
    * any substochastic journey chain, identical float path every run.
    */
  private[operators] def absorb(
      states: Seq[String],
      p: Map[(String, String), Double]): Map[String, Double] = {
    val transient = states.filterNot(s => s == "conv" || s == "null")
    var a = transient.map(_ -> 0.0).toMap
    var it = 0
    while (it < 400) {
      a = transient.map { s =>
        val hit = p.getOrElse((s, "conv"), 0.0)
        val flow = transient.iterator
          .map(t => p.getOrElse((s, t), 0.0) * a(t)).sum
        s -> (hit + flow)
      }.toMap
      it += 1
    }
    a ++ Map("conv" -> 1.0, "null" -> 0.0)
  }

  /** Φ(x) for x ≥ 0, Abramowitz-Stegun 26.2.17 — written once and
    * rendered into BOTH engines' SQL so the double arithmetic is
    * operation-identical. `z` must be a non-negative expression.
    */
  private def phiSql(z: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * $z))"
    s"""(1.0 - 0.3989422804014327 * exp(-($z) * ($z) / 2.0) *
       | (0.319381530 * $t - 0.356563782 * $t * $t
       |  + 1.781477937 * $t * $t * $t - 1.821255978 * $t * $t * $t * $t
       |  + 1.330274429 * $t * $t * $t * $t * $t))""".stripMargin
  }

  /** One Bradley-Terry MM sweep (Hunter 2004): p_i ← W_i / Σ_j n_ij/(p_i+p_j),
    * then renormalize to Σp = 1. */
  private[graft] def mmSweep(
      teams: Seq[Long],
      wins: Map[Long, Long],
      nPairs: Map[(Long, Long), Long],
      p: Map[Long, Double]): Map[Long, Double] = {
    val next = teams.map { i =>
      val denom = teams.iterator.filter(_ != i).map { j =>
        nPairs.getOrElse(if (i < j) (i, j) else (j, i), 0L).toDouble /
          (p(i) + p(j))
      }.sum
      i -> (if (denom > 0) wins.getOrElse(i, 0L).toDouble / denom else p(i))
    }.toMap
    val z = next.values.sum
    next.map { case (k, v) => k -> v / z }
  }

  private val rootSixOverPi: Double = math.sqrt(6.0) / math.Pi
  private val gamma = 0.5772156649015329 // Euler–Mascheroni
  private def kT(t: Int): Double = math.log(-math.log(1.0 - 1.0 / t))

  // Java∩RE2-safe patterns (SURVEY §7.3 R7): no backrefs, no lookaround.
  private val EmailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  /** The DuckDB oracle for graph_pagerank: the same 10 PageRank iterations
    * UNROLLED as chained CTEs (one per iteration), which keeps the full
    * fixpoint trajectory SQL-expressible and hash-checkable. Graph: node =
    * doc, out-degree 1 + doc_id%3; the k=1 edge is the cyclic shift
    * (doc_id + 1) mod n — a bijection for EVERY n, not just n coprime to
    * the stride (dst = (doc_id·7+k) mod n alone only covers residues
    * 1..3 mod 7 when 7 | n) — and the k∈{2,3} edges are (doc_id·7+k)
    * mod n. Every node therefore has ≥1 in-link, so no dangling-mass
    * term is needed and total rank mass stays exactly 1 (the
    * mean-normalized ranks sum to n).
    */
  private def pagerankOracleSql: String = {
    val b = new StringBuilder(
      """WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM documents),
        |e AS (SELECT doc_id AS src, 1 + doc_id % 3 AS outdeg,
        |             CASE WHEN t.k = 1 THEN (doc_id + 1) % nn.ni
        |                  ELSE (doc_id * 7 + t.k) % nn.ni END AS dst
        |      FROM documents CROSS JOIN nn, (VALUES (1), (2), (3)) t(k)
        |      WHERE t.k <= 1 + doc_id % 3),
        |pr0 AS (SELECT doc_id, 1.0/nn.n AS r FROM documents CROSS JOIN nn)""".stripMargin)
    (1 to 10).foreach { i =>
      b.append(s""",
        |pr$i AS (SELECT e.dst AS doc_id,
        |             0.15/(SELECT n FROM nn) + 0.85 * sum(p.r / e.outdeg) AS r
        |         FROM pr${i - 1} p JOIN e ON p.doc_id = e.src GROUP BY e.dst)""".stripMargin)
    }
    b.append("""
      |SELECT pr10.doc_id AS doc_id, round(pr10.r * nn.n, 6) AS rank_norm
      |FROM pr10 CROSS JOIN nn ORDER BY doc_id""".stripMargin)
    b.toString
  }

  /** Shared oracle CTE prefix building the deterministic undirected graph
    * used by graph_triangle_count / graph_label_propagation /
    * graph_bfs_layers (Round8b) — ends at the symmetrized `adj` table.
    */
  private[operators] def graphOracleCtes: String =
    """WITH nn AS (SELECT count(*) AS ni FROM documents),
      |raw AS (SELECT doc_id AS src, (doc_id * 3 + t.k) % nn.ni AS dst
      |        FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
      |        WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2),
      |c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM raw WHERE src <> dst),
      |adj AS (SELECT a AS src, b AS dst FROM c UNION ALL SELECT b, a FROM c)"""
      .stripMargin

  /** Unrolled 4-iteration synchronous label propagation over the same
    * deterministic undirected graph as graph_triangle_count. Each step is
    * one neighbor-label count plus a max-count/min-label argmax, expressed
    * as min over a ('nc' = -count, 'l' = label) struct — the lexicographic
    * struct-min trick both engines agree on bit-for-bit (no float anywhere).
    * Each step reads l{i-1} twice, so every l$i is MATERIALIZED rather than
    * inlined by DuckDB.
    */
  private def lpaOracleSql: String = {
    val b = new StringBuilder(graphOracleCtes +
      """,
        |l0 AS (SELECT doc_id AS v, doc_id AS l FROM documents)""".stripMargin)
    (1 to 4).foreach { i =>
      b.append(s""",
        |l$i AS MATERIALIZED (SELECT p.v, coalesce(m.pick, p.l) AS l FROM l${i - 1} p LEFT JOIN (
        |    SELECT dst, (min({'nc': -cnt, 'l': l})).l AS pick FROM (
        |      SELECT adj.dst AS dst, q.l AS l, count(*) AS cnt
        |      FROM l${i - 1} q JOIN adj ON q.v = adj.src GROUP BY adj.dst, q.l) x
        |    GROUP BY dst) m ON m.dst = p.v)""".stripMargin)
    }
    b.append("""
      |SELECT v AS doc_id, l AS community FROM l4 ORDER BY v""".stripMargin)
    b.toString
  }

  private val Z = 1.959964

  /** Shared CDF grid for the two distance keys: one PrefixSum pass over
    * the distinct-cents grid carrying BOTH class counts plus a dense
    * rank, then a rank+1 self-join for the gap to the next grid value —
    * fully distributed (equi-join on rank), nothing funnels to one task.
    * Returns (gapRows, nR, nA): rows (cum_r, cum_a, gap) for each grid
    * value that HAS a successor.
    */
  private def cdfGrid(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem")
      .filter(col("l_returnflag").isin("R", "A"))
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
              col("l_returnflag").as("f"))
    // Round-13: eager checkpoint — PrefixSum's sample and map passes each
    // re-run the lineitem scan + grid aggregate otherwise (two distance
    // keys share this helper, so the saving doubles).
    val grid = li.groupBy("cents")
      .agg(sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"),
           sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"))
      .localCheckpoint(true)
    val cum = PrefixSum.cumsumLongs(grid, Seq(col("cents")),
      Seq(col("cr") -> "cum_r", col("ca") -> "cum_a", lit(1L) -> "rk"))
    cum.as("g")
      .join(cum.select(col("rk").as("rk2"), col("cents").as("nxt")).as("h"),
            col("h.rk2") === col("g.rk") + 1)
      .select(col("g.cum_r").as("cum_r"), col("g.cum_a").as("cum_a"),
              (col("h.nxt") - col("g.cents")).as("gap"))
  }

  private def classTotals(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_r"),
           sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n_a"))

  private val oracleGrid =
    """vals AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |         l_returnflag AS f
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      |tot AS (
      |  SELECT CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
      |         CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a
      |  FROM vals),
      |grid AS (
      |  SELECT cents,
      |         CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
      |         CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca
      |  FROM vals GROUP BY cents),
      |cum AS (
      |  SELECT cents,
      |         CAST(sum(cr) OVER (ORDER BY cents) AS BIGINT) AS cum_r,
      |         CAST(sum(ca) OVER (ORDER BY cents) AS BIGINT) AS cum_a,
      |         lead(cents) OVER (ORDER BY cents) - cents AS gap
      |  FROM grid),
      |gaps AS (SELECT cum_r, cum_a, gap FROM cum WHERE gap IS NOT NULL)""".stripMargin

  /** md5-derived pseudo model score in [0, 1000) — the repo's
    * deterministic hash-to-int idiom (quality_table_checksum twin). */
  private def score1000 = pmod(
    conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
      .cast("bigint"), lit(1000L))

  private val oracleScore =
    "('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 1000"

  val decls: Map[String, Decl] = declMap(
    // The Markov stationary distribution
    // (completing the chain family) and rectangle-containment geofencing.

    // Stationary distribution of the event-type Markov chain: the
    // long-run behavioral mix the transition matrix converges to. The
    // 5×5 matrix collects to the driver (KB — the BPE/CMS documented
    // pattern), 64 power iterations run in exact driver arithmetic, and
    // the result returns as a DataFrame. Oracle-N by declared contract:
    // DuckDB has no fixpoint surface — Round10bbSpec pins πP = π
    // (residual < 1e-12), Σπ = 1, and agreement with the empirical
    // long-run share.
    "agg_markov_stationary" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val trans = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
          .agg(count(lit(1)).as("n"))
          .collect()
        val states = trans.flatMap(r => Seq(r.getString(0), r.getString(1)))
          .distinct.sorted
        val idx = states.zipWithIndex.toMap
        val counts = Array.ofDim[Double](states.length, states.length)
        trans.foreach(r => counts(idx(r.getString(0)))(idx(r.getString(1))) =
          r.getLong(2).toDouble)
        val rowSums = counts.map(_.sum)
        val p = counts.zipWithIndex.map { case (row, i) => row.map(_ / rowSums(i)) }
        var pi = Array.fill(states.length)(1.0 / states.length)
        for (_ <- 1 to 64)
          pi = states.indices.map(j =>
            states.indices.foldLeft(0.0)((acc, i) => acc + pi(i) * p(i)(j))).toArray
        import s.implicits._
        states.zip(pi).map { case (st, v) => (st, math.rint(v * 1e9) / 1e9) }
          .toSeq.toDF("event_type", "stationary_p")
          .orderBy("event_type")
      },
      None),

    // Rectangle containment (geofencing): each nation owns a minted
    // lon/lat rectangle; customers (minted points, the spatial-family
    // coordinates) assign by pure integer range compares against the
    // BROADCAST 25-row fence table — the classic small-dim spatial join
    // that never needs grid blocking. Unfenced points fall out; the
    // census reports per-fence population and bounding extremes.
    "join_point_in_rect" -> Decl(
      (s, d) => {
        val pts = Tables(s, d, "customer")
          .select(col("c_custkey"),
                  (col("c_custkey") * 17L % 12000L).as("slat"),
                  (col("c_custkey") * 31L % 36000L).as("slon"))
        val rects = Tables(s, d, "nation")
          .select(col("n_nationkey"),
                  (col("n_nationkey") % 5L * 2400L).as("lat_lo"),
                  (col("n_nationkey") % 5L * 2400L + 2400L).as("lat_hi"),
                  (col("n_nationkey") * 1440L % 36000L).as("lon_lo"),
                  (col("n_nationkey") * 1440L % 36000L + 7200L).as("lon_hi"))
        pts.join(broadcast(rects),
                 col("slat") >= col("lat_lo") && col("slat") < col("lat_hi") &&
                 col("slon") >= col("lon_lo") && col("slon") < col("lon_hi"))
          .groupBy("n_nationkey")
          .agg(count(lit(1)).as("n_inside"),
               min(col("c_custkey")).as("first_cust"),
               max(col("slon")).as("max_lon"))
          .orderBy("n_nationkey")
      },
      Some("""WITH pts AS (SELECT c_custkey,
             |               c_custkey * 17 % 12000 AS slat,
             |               c_custkey * 31 % 36000 AS slon
             |             FROM customer),
             |rects AS (SELECT n_nationkey,
             |            n_nationkey % 5 * 2400 AS lat_lo,
             |            n_nationkey % 5 * 2400 + 2400 AS lat_hi,
             |            n_nationkey * 1440 % 36000 AS lon_lo,
             |            n_nationkey * 1440 % 36000 + 7200 AS lon_hi
             |          FROM nation)
             |SELECT n_nationkey, CAST(count(*) AS BIGINT) AS n_inside,
             |       CAST(min(c_custkey) AS BIGINT) AS first_cust,
             |       CAST(max(slon) AS BIGINT) AS max_lon
             |FROM pts JOIN rects
             |  ON slat >= lat_lo AND slat < lat_hi
             | AND slon >= lon_lo AND slon < lon_hi
             |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin)),

    // Marketing attribution, id codecs, market
    // concentration, and co-occurrence statistics. Integer micros/cents/counts
    // end-to-end; terminal rounded floats only (one ln / ratio per row over a
    // bounded grid); total ORDER BY.

    // Last-touch attribution: each purchase credits the user's most recent
    // non-purchase event in the preceding 7 days; purchases with no
    // touchpoint stay '(none)'. The candidate join fans a purchase out to
    // its OWN user's recent events only (per-user history, bounded), and
    // the pick is one row_number over (purchase, ts desc, event_id desc)
    // — exact integer ordering, no ties possible on the unique id.
    "ts_attribution_lasttouch" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
                  expr("unix_micros(ts)").as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("us").as("p_us"))
        val priors = ev.filter(col("event_type") =!= "purchase")
        val w = Window.partitionBy("p_id")
          .orderBy(col("us").desc, col("event_id").desc)
        val touch = purchases.join(priors, "user_id")
          .filter(col("us") < col("p_us") &&
                  col("us") >= col("p_us") - 604800000000L)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("p_id"), col("event_type").as("channel"))
        purchases.join(touch, Seq("p_id"), "left")
          .groupBy(coalesce(col("channel"), lit("(none)")).as("channel"))
          .agg(count(lit(1)).as("n_credits"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, event_id,
             |              CAST(epoch_us(ts) AS BIGINT) AS us
             |            FROM events),
             |p AS (SELECT user_id, event_id AS p_id, us AS p_us FROM ev
             |      WHERE event_type = 'purchase'),
             |touch AS (
             |  SELECT p_id, event_type AS channel,
             |         row_number() OVER (PARTITION BY p_id
             |           ORDER BY us DESC, event_id DESC) AS rk
             |  FROM p JOIN ev USING (user_id)
             |  WHERE ev.event_type <> 'purchase'
             |    AND us < p_us AND us >= p_us - 604800000000)
             |SELECT coalesce(t.channel, '(none)') AS channel,
             |       CAST(count(*) AS BIGINT) AS n_credits
             |FROM p LEFT JOIN (SELECT p_id, channel FROM touch WHERE rk = 1) t
             |       USING (p_id)
             |GROUP BY 1 ORDER BY channel""".stripMargin)),

    // Base62 shortlink codec: encode each order key as a fixed 6-char
    // base62 code (positional div/mod unrolled — no loops, no UDF) and
    // decode it back via alphabet position arithmetic; the roundtrip is
    // asserted by the oracle hash (decoded == o_orderkey on every row).
    // Pure per-row integer/string work riding the scan.
    "scalar_base62_codec" -> Decl(
      (s, d) => {
        def digit(i: Int) = // i-th most significant of 6 digits
          substring(lit(Alpha),
            (expr(s"o_orderkey div ${math.pow(62, 5 - i).toLong}") % 62L + 1L)
              .cast("int"), lit(1))
        def decDigit(i: Int) =
          (instr(lit(Alpha), substring(col("code"), i + 1, 1)) - 1).cast("bigint") *
            lit(math.pow(62, 5 - i).toLong)
        Tables(s, d, "orders")
          .select(col("o_orderkey"),
                  concat((0 to 5).map(digit): _*).as("code"))
          .select(col("o_orderkey"), col("code"),
                  (0 to 5).map(decDigit).reduce(_ + _).as("decoded"))
          .orderBy("o_orderkey")
      },
      Some {
        val alpha = Alpha
        val enc = (0 to 5).map { i =>
          val p = math.pow(62, 5 - i).toLong
          s"substr('$alpha', CAST(o_orderkey // $p % 62 + 1 AS INT), 1)"
        }.mkString(" || ")
        val dec = (0 to 5).map { i =>
          val p = math.pow(62, 5 - i).toLong
          s"(strpos('$alpha', substr(code, ${i + 1}, 1)) - 1) * $p"
        }.mkString(" + ")
        s"""WITH c AS (SELECT o_orderkey, $enc AS code FROM orders)
           |SELECT o_orderkey, code, CAST($dec AS BIGINT) AS decoded
           |FROM c ORDER BY o_orderkey""".stripMargin
      }),

    // Herfindahl–Hirschman concentration of customer revenue within each
    // market segment: Σ shareᵢ² from exact per-customer dollar sums
    // (dollars, not cents, keep Σxᵢ² < 2⁶³). Two shuffles on natural keys
    // (customer, then segment), one terminal ratio of exact integers.
    "agg_hhi_concentration" -> Decl(
      (s, d) => {
        val rev = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"),
                col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment", "c_custkey")
          .agg(sum(round(col("o_totalprice")).cast("bigint")).as("dol"))
        rev.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
               sum(col("dol")).as("total_dol"),
               sum(col("dol") * col("dol")).as("sum_sq"))
          .select(col("c_mktsegment"), col("n_customers"), col("total_dol"),
                  round(col("sum_sq").cast("double")
                        / (col("total_dol").cast("double") * col("total_dol")), 6)
                    .as("hhi"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH rev AS (
             |  SELECT c_mktsegment, c_custkey,
             |         sum(CAST(round(o_totalprice) AS BIGINT)) AS dol
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2)
             |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
             |       CAST(sum(dol) AS BIGINT) AS total_dol,
             |       round(CAST(sum(dol * dol) AS DOUBLE)
             |             / (CAST(sum(dol) AS DOUBLE) * sum(dol)), 6) AS hhi
             |FROM rev GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Pointwise mutual information of event-type pairs co-occurring in
    // the same user-hour basket: the co-occurrence statistic behind
    // word-vector pipelines, on the bounded 5×5 pair grid. Baskets are
    // distinct (user, hour, type) triples; all counts exact BIGINT; one
    // terminal ln per surviving pair.
    "agg_cooccurrence_pmi" -> Decl(
      (s, d) => {
        val basket = Tables.events(s, d)
          .select(col("user_id"),
                  expr("unix_micros(ts) div 3600000000L").as("hr"),
                  col("event_type"))
          .distinct()
          .localCheckpoint(true)
        val nB = basket.select("user_id", "hr").distinct()
          .agg(count(lit(1)).as("n"))
        val cx = basket.groupBy(col("event_type").as("x")).agg(count(lit(1)).as("cx"))
        val pair = basket.as("a")
          .join(basket.as("b"),
                col("a.user_id") === col("b.user_id") &&
                col("a.hr") === col("b.hr") &&
                col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("x"), col("b.event_type").as("y"))
          .agg(count(lit(1)).as("cxy"))
        pair
          .join(broadcast(cx), "x")
          .join(broadcast(cx.select(col("x").as("y"), col("cx").as("cy"))), "y")
          .crossJoin(broadcast(nB))
          .select(col("x"), col("y"), col("cxy"),
                  round(log((col("cxy") * col("n")).cast("double")
                            / (col("cx") * col("cy")).cast("double")), 6)
                    .as("pmi"))
          .orderBy("x", "y")
      },
      Some("""WITH basket AS (
             |  SELECT DISTINCT user_id,
             |         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             |         event_type
             |  FROM events),
             |nb AS (SELECT count(*) AS n FROM
             |        (SELECT DISTINCT user_id, hr FROM basket)),
             |cx AS (SELECT event_type AS x, count(*) AS cx
             |       FROM basket GROUP BY 1),
             |pair AS (SELECT a.event_type AS x, b.event_type AS y,
             |                count(*) AS cxy
             |         FROM basket a JOIN basket b
             |           ON a.user_id = b.user_id AND a.hr = b.hr
             |          AND a.event_type < b.event_type
             |         GROUP BY 1, 2)
             |SELECT pair.x, pair.y, CAST(cxy AS BIGINT) AS cxy,
             |       round(ln(CAST(cxy * n AS DOUBLE)
             |                / CAST(cx.cx * cy.cx AS DOUBLE)), 6) AS pmi
             |FROM pair
             |     JOIN cx ON cx.x = pair.x
             |     JOIN cx cy ON cy.x = pair.y
             |     CROSS JOIN nb
             |ORDER BY pair.x, pair.y""".stripMargin)),

    // Categorical association, reliability metrics, the
    // eager-aggregation join rewrite, and the accumulating-snapshot fact.
    // Exact integer contingency/gap/milestone statistics; one terminal
    // rounded formula each.

    // Cramér's V for event_type × ISO weekday — association strength on
    // the bounded 5×7 contingency grid. χ² from exact integer cell and
    // marginal counts (expected counts as exact rational cross-products,
    // the same cross-multiply discipline as agg_chi_square), one terminal
    // sqrt.
    "agg_cramers_v" -> Decl(
      (s, d) => {
        val cells = Tables.events(s, d)
          .select(col("event_type").as("r"),
                  (weekday(col("ts")) + lit(1)).cast("bigint").as("c"))
          .groupBy("r", "c").agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val rm = cells.groupBy("r").agg(sum(col("n")).as("nr"))
        val cm = cells.groupBy("c").agg(sum(col("n")).as("nc"))
        val tot = cells.agg(sum(col("n")).as("nt"),
                            countDistinct(col("r")).as("nrow"),
                            countDistinct(col("c")).as("ncol"))
        cells
          .join(broadcast(rm), "r").join(broadcast(cm), "c")
          .crossJoin(broadcast(tot))
          // per-cell χ² term: (n·nt − nr·nc)² / (nr·nc·nt), all exact ints
          // in the numerator/denominator before ONE double division
          .select((((col("n") * col("nt") - col("nr") * col("nc"))
                     * (col("n") * col("nt") - col("nr") * col("nc"))).cast("double")
                    / (col("nr") * col("nc") * col("nt")).cast("double")).as("term"),
                  col("nt"), col("nrow"), col("ncol"))
          .groupBy("nt", "nrow", "ncol")
          .agg(sum(col("term")).as("chi2"))
          .select(col("nt").as("n"),
                  round(col("chi2"), 6).as("chi2"),
                  round(sqrt(col("chi2") / (col("nt")
                          * least(col("nrow") - 1, col("ncol") - 1))), 6).as("cramers_v"))
      },
      Some("""WITH cells AS (SELECT event_type AS r,
             |                 CAST(isodow(ts) AS BIGINT) AS c, count(*) AS n
             |               FROM events GROUP BY 1, 2),
             |rm AS (SELECT r, sum(n) AS nr FROM cells GROUP BY r),
             |cm AS (SELECT c, sum(n) AS nc FROM cells GROUP BY c),
             |tot AS (SELECT sum(n) AS nt, count(DISTINCT r) AS nrow,
             |               count(DISTINCT c) AS ncol
             |        FROM cells),
             |terms AS (
             |  SELECT CAST((n * nt - nr * nc) * (n * nt - nr * nc) AS DOUBLE)
             |           / CAST(nr * nc * nt AS DOUBLE) AS term,
             |         nt, nrow, ncol
             |  FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot)
             |SELECT CAST(nt AS BIGINT) AS n, round(sum(term), 6) AS chi2,
             |       round(sqrt(sum(term) / (nt * least(nrow - 1, ncol - 1))), 6)
             |         AS cramers_v
             |FROM terms GROUP BY nt, nrow, ncol""".stripMargin)),

    // MTBF / MTTR per user from the error stream: mean gap between
    // consecutive errors (MTBF) and mean gap from each error to the next
    // non-error event (MTTR/recovery). Gap sums stay exact integer
    // micros; the two means are terminal ratios. Both windows ride the
    // per-user sort once.
    "ts_mttr_mtbf" -> Decl(
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
        val gaps = ev.filter(col("event_type") === "error")
          .withColumn("prev_us",
            lag(col("us"), 1).over(Window.partitionBy("user_id")
              .orderBy("us", "event_id")))
          .filter(col("prev_us").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
               sum(col("us") - col("prev_us")).as("gap_us"))
        // recovery: for each event, the time since the latest PRECEDING
        // error (running max of error timestamps); the first non-error
        // after an error carries that error's recovery gap
        val rec = ev
          .withColumn("last_err_us",
            max(when(col("event_type") === "error", col("us")))
              .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
          // lag BEFORE the error-row filter — the recovery row is the one
          // whose immediate predecessor (of ANY type) was the error
          .withColumn("prev_type", lag(col("event_type"), 1)
            .over(Window.partitionBy("user_id").orderBy("us", "event_id")))
          .filter(col("event_type") =!= "error" && col("last_err_us").isNotNull)
          .filter(col("prev_type") === "error")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_recoveries"),
               sum(col("us") - col("last_err_us")).as("rec_us"))
        // means as EXACT integer microseconds (floor division of positive
        // ints — rule R14: a rounded float ratio can straddle a 5e-7
        // boundary between the engines' rounding implementations)
        gaps.join(rec, Seq("user_id"), "full")
          .select(col("user_id"),
                  coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
                  expr("gap_us div n_gaps").as("mtbf_us"),
                  coalesce(col("n_recoveries"), lit(0L)).as("n_recoveries"),
                  expr("rec_us div n_recoveries").as("mttr_us"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, event_type,
             |              CAST(epoch_us(ts) AS BIGINT) AS us
             |            FROM events),
             |g AS (SELECT user_id, count(*) AS n_gaps,
             |        sum(us - prev_us) AS gap_us
             |      FROM (SELECT user_id, us,
             |              lag(us) OVER (PARTITION BY user_id
             |                ORDER BY us, event_id) AS prev_us
             |            FROM ev WHERE event_type = 'error')
             |      WHERE prev_us IS NOT NULL GROUP BY user_id),
             |m AS (SELECT user_id, event_id, event_type, us,
             |        max(CASE WHEN event_type = 'error' THEN us END)
             |          OVER (PARTITION BY user_id ORDER BY us, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |          AS last_err_us,
             |        lag(event_type) OVER (PARTITION BY user_id
             |          ORDER BY us, event_id) AS prev_type
             |      FROM ev),
             |r AS (SELECT user_id, count(*) AS n_recoveries,
             |        sum(us - last_err_us) AS rec_us
             |      FROM m
             |      WHERE event_type <> 'error' AND last_err_us IS NOT NULL
             |        AND prev_type = 'error'
             |      GROUP BY user_id)
             |SELECT user_id,
             |       CAST(coalesce(n_gaps, 0) AS BIGINT) AS n_gaps,
             |       CAST(gap_us // n_gaps AS BIGINT) AS mtbf_us,
             |       CAST(coalesce(n_recoveries, 0) AS BIGINT) AS n_recoveries,
             |       CAST(rec_us // n_recoveries AS BIGINT) AS mttr_us
             |FROM g FULL JOIN r USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // Eager aggregation: collapse the fact side BEFORE the dimension join
    // — the join input shrinks from |orders| to |customers| rows, the
    // classic warehouse rewrite Catalyst does not apply automatically.
    // One fact shuffle on the join key (which IS the group key, so the
    // aggregate and join share the partitioning), then a broadcastable
    // dim join.
    "agg_pushdown_eager" -> Decl(
      (s, d) => {
        val pre = Tables(s, d, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
               sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        pre.join(Tables(s, d, "customer"),
                 col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(sum(col("n_orders")).as("n_orders"),
               sum(col("cents")).as("cents"))
          .orderBy("c_mktsegment", "c_nationkey")
      },
      Some("""WITH pre AS (SELECT o_custkey, count(*) AS n_orders,
             |               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |             FROM orders GROUP BY o_custkey)
             |SELECT c_mktsegment, c_nationkey,
             |       CAST(sum(n_orders) AS BIGINT) AS n_orders,
             |       CAST(sum(cents) AS BIGINT) AS cents
             |FROM pre JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1, 2 ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // Accumulating-snapshot fact: one row per order carrying its
    // milestone timeline — placement, first/last ship, line count, filled
    // value — the warehouse pattern for process-tracking facts. One
    // shuffle on the fact key shared by the aggregate and the join.
    "scd_accumulating_snapshot" -> Decl(
      (s, d) => {
        val lines = Tables(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(min(col("l_shipdate")).cast("date").as("first_ship"),
               max(col("l_shipdate")).cast("date").as("last_ship"),
               count(lit(1)).as("n_lines"),
               sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cents"))
        Tables(s, d, "orders")
          .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("placed"),
                  col("first_ship"), col("last_ship"),
                  coalesce(col("n_lines"), lit(0L)).as("n_lines"),
                  coalesce(col("cents"), lit(0L)).as("cents"),
                  datediff(col("last_ship"), col("first_ship")).cast("bigint")
                    .as("ship_span_days"))
          .orderBy("o_orderkey")
      },
      Some("""WITH lines AS (SELECT l_orderkey,
             |                 CAST(min(l_shipdate) AS DATE) AS first_ship,
             |                 CAST(max(l_shipdate) AS DATE) AS last_ship,
             |                 count(*) AS n_lines,
             |                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
             |               FROM lineitem GROUP BY l_orderkey)
             |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS placed,
             |       first_ship, last_ship,
             |       CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
             |       CAST(coalesce(cents, 0) AS BIGINT) AS cents,
             |       CAST(date_diff('day', first_ship, last_ship) AS BIGINT)
             |         AS ship_span_days
             |FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey
             |ORDER BY o_orderkey""".stripMargin)),

    // Robust trend statistics — the Theil–Sen slope
    // estimator and the Mann–Kendall trend test, the standard
    // nonparametric pair for "is this metric drifting?" monitoring.
    //
    // Both are pairwise statistics, which is exactly why they're usually
    // avoided at scale — O(n²) in the series length. The scale-correct
    // shape used here: aggregate the fact table to the BOUNDED month grid
    // first (one fact shuffle, grid size fixed by the calendar, not the
    // data volume), then form pairs on the tiny grid. The pair stage's
    // cost is constant at any SF; only the linear rollup grows.
    //
    // Determinism: revenues are exact BIGINT cents; a slope is one IEEE
    // division of a cents difference by a small integer month gap
    // (identical in any engine, no reduction order); the median is the
    // ceil(n/2)-th order statistic of the sorted slope list (the lower
    // middle for even n — an ELEMENT, not an interpolated float);
    // Mann–Kendall's S and its tie-corrected variance stay exact integers
    // (var is emitted ×18 to avoid the /18 rational).

    // Per-year Theil–Sen slope of monthly revenue (cents per month):
    // median of the 66 (or fewer in partial years) pairwise slopes.
    "agg_theil_sen_trend" -> Decl(
      (s, d) => {
        val monthly = Tables(s, d, "lineitem")
          .groupBy(year(col("l_shipdate")).as("y"),
                   month(col("l_shipdate")).as("m"))
          .agg(sum(centsRev).as("rev"))
        val a = monthly.select(col("y"), col("m").as("m1"), col("rev").as("r1"))
        val b = monthly.select(col("y"), col("m").as("m2"), col("rev").as("r2"))
        a.join(b, Seq("y")).filter(col("m2") > col("m1"))
          .select(col("y"),
            ((col("r2") - col("r1")).cast("double") /
              (col("m2") - col("m1")).cast("double")).as("slope"))
          .groupBy("y")
          .agg(count(lit(1)).as("n_pairs"),
               expr("element_at(array_sort(collect_list(slope))," +
                 " CAST(ceil(count(1) / 2.0) AS INT))").as("med"))
          .select(col("y"), col("n_pairs"),
                  round(col("med"), 6).as("theil_sen_slope_c"))
          .orderBy("y")
      },
      Some("""WITH monthly AS (
             |  SELECT year(l_shipdate) AS y, month(l_shipdate) AS m,
             |         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev
             |  FROM lineitem GROUP BY 1, 2),
             |slopes AS (
             |  SELECT a.y, CAST(b.rev - a.rev AS DOUBLE) / (b.m - a.m) AS slope
             |  FROM monthly a JOIN monthly b ON a.y = b.y AND b.m > a.m)
             |SELECT y, count(*) AS n_pairs,
             |       round(list_sort(list(slope))[CAST(ceil(count(*) / 2.0) AS INT)], 6)
             |         AS theil_sen_slope_c
             |FROM slopes GROUP BY y ORDER BY y""".stripMargin)),

    // Mann–Kendall over the whole monthly series (ordered by year,
    // month): S = Σ_{i<j} sign(rev_j − rev_i), with the tie-corrected
    // variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5) kept ×18.
    "agg_mann_kendall" -> Decl(
      (s, d) => {
        val monthly = Tables(s, d, "lineitem")
          .groupBy(year(col("l_shipdate")).as("y"),
                   month(col("l_shipdate")).as("m"))
          .agg(sum(centsRev).as("rev"))
          .select((col("y") * 12 + col("m")).as("t"), col("rev"))
        // pair the bounded grid through a constant equi-key (plans as a
        // hash join, not a cartesian — the grid is ~80 rows at any SF)
        val a = monthly.select(lit(1).as("k"), col("t").as("t1"), col("rev").as("r1"))
        val b = monthly.select(lit(1).as("k"), col("t").as("t2"), col("rev").as("r2"))
        val s0 = a.join(b, "k").filter(col("t2") > col("t1"))
          .agg(sum(signum(col("r2") - col("r1")).cast("bigint")).as("s_stat"))
        val nn = monthly.agg(count(lit(1)).as("n_points"))
        val ties = monthly.groupBy("rev").agg(count(lit(1)).as("tc"))
          .agg(coalesce(sum(expr("CASE WHEN tc > 1 THEN tc * (tc - 1) * (2 * tc + 5) ELSE 0 END")),
                        lit(0L)).as("tie18"))
        s0.crossJoin(broadcast(nn)).crossJoin(broadcast(ties))
          .select(col("s_stat"), col("n_points"),
            (col("n_points") * (col("n_points") - 1) * (lit(2) * col("n_points") + 5)
              - col("tie18")).as("var18"))
      },
      Some("""WITH monthly AS (
             |  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS t,
             |         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev
             |  FROM lineitem GROUP BY 1),
             |s AS (SELECT CAST(sum(sign(b.rev - a.rev)) AS BIGINT) AS s_stat
             |      FROM monthly a JOIN monthly b ON b.t > a.t),
             |n AS (SELECT count(*) AS n_points FROM monthly),
             |ties AS (SELECT CAST(coalesce(sum(CASE WHEN tc > 1
             |                 THEN tc * (tc - 1) * (2 * tc + 5) ELSE 0 END), 0) AS BIGINT) AS tie18
             |         FROM (SELECT count(*) AS tc FROM monthly GROUP BY rev))
             |SELECT s_stat, n_points,
             |       CAST(n_points * (n_points - 1) * (2 * n_points + 5) - tie18 AS BIGINT) AS var18
             |FROM s CROSS JOIN n CROSS JOIN ties""".stripMargin)),

    // RFM segmentation, nearest-neighbor retrieval,
    // collocation statistics, and leave-one-out target encoding. Exact
    // integer statistics; terminal rounded floats; deterministic tie-breaks
    // everywhere an argmin/ordering appears.

    // RFM segmentation: recency/frequency/monetary per customer, each
    // dimension scored 1–3 by exact tercile thresholds (the discrete
    // integer-grid percentile machinery, broadcast back), segment =
    // 100·r + 10·f + m, segment census out. Two shuffles on natural keys
    // and a bounded threshold broadcast — no per-row sort anywhere.
    "agg_rfm_segmentation" -> Decl(
      (s, d) => {
        val maxDate = to_date(lit("1998-12-31"))
        val rfm = Tables(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(datediff(maxDate, max(col("o_orderdate")).cast("date"))
                 .cast("bigint").as("rec"),
               count(lit(1)).as("freq"),
               sum(round(col("o_totalprice") * 100).cast("bigint")).as("mon"))
          .localCheckpoint(true)
        // The recency/frequency grids are domain-bounded, but the monetary
        // grid grows ~|customers| — so ALL three tercile scans use the
        // distributed two-pass prefix sum (no unpartitioned window
        // anywhere; round-9 verdict item 2).
        def terciles(c: String) = {
          val grid = rfm.groupBy(col(c).as("v")).agg(count(lit(1)).as("w"))
          PrefixSum.cumsumLong(grid, Seq(col("v")), col("w"), "cum")
            .join(broadcast(rfm.agg(count(lit(1)).as("n"))))
            .agg(min(when(col("cum") * 3 >= col("n"), col("v"))).as(s"${c}_t1"),
                 min(when(col("cum") * 3 >= col("n") * 2, col("v"))).as(s"${c}_t2"))
        }
        def score(c: String) =
          when(col(c) <= col(s"${c}_t1"), 1L)
            .when(col(c) <= col(s"${c}_t2"), 2L).otherwise(3L)
        rfm.join(broadcast(terciles("rec")))
          .join(broadcast(terciles("freq")))
          .join(broadcast(terciles("mon")))
          // low recency = GOOD: invert the recency score so 3 = freshest
          .select(((lit(4L) - score("rec")) * 100L + score("freq") * 10L
                    + score("mon")).as("segment"))
          .groupBy("segment").agg(count(lit(1)).as("n_customers"))
          .orderBy("segment")
      },
      Some("""WITH rfm AS (
             |  SELECT o_custkey,
             |         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
             |                        DATE '1998-12-31') AS BIGINT) AS rec,
             |         count(*) AS freq,
             |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon
             |  FROM orders GROUP BY o_custkey),
             |n AS (SELECT count(*) AS n FROM rfm),
             |tr AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
             |              min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
             |       FROM (SELECT v, sum(w) OVER (ORDER BY v
             |                      ROWS UNBOUNDED PRECEDING) AS cum
             |             FROM (SELECT rec AS v, count(*) AS w FROM rfm GROUP BY 1))
             |            CROSS JOIN n),
             |tf AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
             |              min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
             |       FROM (SELECT v, sum(w) OVER (ORDER BY v
             |                      ROWS UNBOUNDED PRECEDING) AS cum
             |             FROM (SELECT freq AS v, count(*) AS w FROM rfm GROUP BY 1))
             |            CROSS JOIN n),
             |tm AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
             |              min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
             |       FROM (SELECT v, sum(w) OVER (ORDER BY v
             |                      ROWS UNBOUNDED PRECEDING) AS cum
             |             FROM (SELECT mon AS v, count(*) AS w FROM rfm GROUP BY 1))
             |            CROSS JOIN n),
             |seg AS (
             |  SELECT (4 - CASE WHEN rec <= tr.t1 THEN 1
             |                   WHEN rec <= tr.t2 THEN 2 ELSE 3 END) * 100
             |         + (CASE WHEN freq <= tf.t1 THEN 1
             |                 WHEN freq <= tf.t2 THEN 2 ELSE 3 END) * 10
             |         + (CASE WHEN mon <= tm.t1 THEN 1
             |                 WHEN mon <= tm.t2 THEN 2 ELSE 3 END) AS segment
             |  FROM rfm CROSS JOIN tr CROSS JOIN tf CROSS JOIN tm)
             |SELECT CAST(segment AS BIGINT) AS segment,
             |       CAST(count(*) AS BIGINT) AS n_customers
             |FROM seg GROUP BY segment ORDER BY segment""".stripMargin)),

    // Nearest-neighbor retrieval on the minted customer geography: the
    // grid-blocked candidate join of join_spatial_grid, then the exact
    // argmin with a two-stage deterministic pick (min d², then min id
    // among ties) — no nondeterministic min_by anywhere.
    "join_nearest_geo" -> Decl(
      (s, d) => {
        val pts = Tables(s, d, "customer")
          .select(col("c_custkey").as("id"),
                  (col("c_custkey") * 17L % 12000L).as("slat"),
                  (col("c_custkey") * 31L % 36000L).as("slon"))
        val n = s.sparkContext.defaultParallelism
        val a = pts
          .select(col("id").as("id_a"), col("slat").as("lat_a"), col("slon").as("lon_a"),
                  explode(expr("array(-1L, 0L, 1L)")).as("dlat"))
          .select(col("id_a"), col("lat_a"), col("lon_a"), col("dlat"),
                  explode(expr("array(-1L, 0L, 1L)")).as("dlon"))
          .select(col("id_a"), col("lat_a"), col("lon_a"),
                  (expr("lat_a div 100") + col("dlat")).as("cl"),
                  (expr("lon_a div 100") + col("dlon")).as("cn"))
          .repartition(n, col("cl"), col("cn"))
        val b = pts.select(col("id").as("id_b"), col("slat").as("lat_b"),
                           col("slon").as("lon_b"),
                           expr("slat div 100").as("cl"), expr("slon div 100").as("cn"))
        val cand = a.join(b, Seq("cl", "cn"))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("d2", (col("lat_a") - col("lat_b")) * (col("lat_a") - col("lat_b"))
                              + (col("lon_a") - col("lon_b")) * (col("lon_a") - col("lon_b")))
          .filter(col("d2") <= 100L * 100L)
          .select("id_a", "id_b", "d2")
          .localCheckpoint(true)
        // `best` has one row per point — corpus-sized, so the argmin
        // re-join must shuffle, never broadcast (round-10 probe family)
        val best = cand.groupBy("id_a").agg(min(col("d2")).as("min_d2"))
        cand.join(best.hint("shuffle_hash"), "id_a")
          .filter(col("d2") === col("min_d2"))
          .groupBy(col("id_a").as("c_custkey"))
          .agg(min(col("id_b")).as("nearest_id"), max(col("min_d2")).as("d2"))
          .orderBy("c_custkey")
      },
      Some("""WITH pts AS (SELECT c_custkey AS id,
             |               c_custkey * 17 % 12000 AS slat,
             |               c_custkey * 31 % 36000 AS slon
             |             FROM customer),
             |a AS (SELECT id AS id_a, slat AS lat_a, slon AS lon_a,
             |        slat // 100 + o.dlat AS cl, slon // 100 + o.dlon AS cn
             |      FROM pts CROSS JOIN (
             |        SELECT dl.dlat, dn.dlon
             |        FROM (SELECT unnest([-1, 0, 1]) AS dlat) dl
             |             CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dlon) dn) o),
             |b AS (SELECT id AS id_b, slat AS lat_b, slon AS lon_b,
             |        slat // 100 AS cl, slon // 100 AS cn
             |      FROM pts),
             |cand AS (
             |  SELECT id_a, id_b, (lat_a - lat_b) * (lat_a - lat_b)
             |         + (lon_a - lon_b) * (lon_a - lon_b) AS d2
             |  FROM a JOIN b USING (cl, cn)
             |  WHERE id_a <> id_b),
             |inr AS (SELECT * FROM cand WHERE d2 <= 10000),
             |best AS (SELECT id_a, min(d2) AS min_d2 FROM inr GROUP BY id_a)
             |SELECT inr.id_a AS c_custkey,
             |       CAST(min(id_b) AS BIGINT) AS nearest_id,
             |       CAST(max(min_d2) AS BIGINT) AS d2
             |FROM inr JOIN best USING (id_a)
             |WHERE inr.d2 = best.min_d2
             |GROUP BY inr.id_a ORDER BY c_custkey""".stripMargin)),

    // Dunning G² log-likelihood collocations: for every adjacent word
    // pair seen ≥ 16 times, the 2×2 contingency G² — THE collocation
    // statistic (stronger than PMI for rare pairs). All four observed
    // cells derive from exact integer bigram/unigram counts; the four
    // O·ln(O/E) terms are the only floats, rounded once. Sorted by the
    // rounded statistic with the pair as the unique tie-break.
    "text_collocation_g2" -> Decl(
      (s, d) => {
        val toks = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
        val big = toks.select(explode(expr(
            "transform(slice(t, 1, size(t) - 1), (x, i) -> struct(x AS w1, t[i + 1] AS w2))"))
            .as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("c12"))
          .localCheckpoint(true)
        val left = big.groupBy("w1").agg(sum(col("c12")).as("c1"))
        val right = big.groupBy("w2").agg(sum(col("c12")).as("c2"))
        val tot = big.agg(sum(col("c12")).as("nn"))
        def term(o: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
          when(o > 0, o.cast("double") * log(o.cast("double") / e)).otherwise(lit(0.0d))
        big.filter(col("c12") >= 16)
          .join(broadcast(left), "w1").join(broadcast(right), "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("c12"),
            round(lit(2.0d) * (
              term(col("c12"), col("c1") * col("c2") / col("nn").cast("double")) +
              term(col("c1") - col("c12"),
                   col("c1").cast("double") * (col("nn") - col("c2")) / col("nn")) +
              term(col("c2") - col("c12"),
                   (col("nn") - col("c1")).cast("double") * col("c2") / col("nn")) +
              term(col("nn") - col("c1") - col("c2") + col("c12"),
                   (col("nn") - col("c1")).cast("double") * (col("nn") - col("c2"))
                     / col("nn"))), 6).as("g2"))
          .orderBy(col("g2").desc, col("w1"), col("w2"))
          .limit(50)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |              FROM documents WHERE len(string_split(text, ' ')) >= 2),
             |big AS (SELECT w1, w2, count(*) AS c12 FROM (
             |          SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |                   i -> {'w1': t[i], 'w2': t[i + 1]}), recursive := true)
             |          FROM toks)
             |        GROUP BY 1, 2),
             |l AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1),
             |r AS (SELECT w2, sum(c12) AS c2 FROM big GROUP BY w2),
             |tot AS (SELECT sum(c12) AS nn FROM big),
             |g AS (SELECT big.w1, big.w2, c12,
             |        round(2.0 * (
             |          CASE WHEN c12 > 0 THEN c12 * ln(c12 /
             |            (c1 * c2 / CAST(nn AS DOUBLE))) ELSE 0.0 END +
             |          CASE WHEN c1 - c12 > 0 THEN (c1 - c12) * ln((c1 - c12) /
             |            (CAST(c1 AS DOUBLE) * (nn - c2) / nn)) ELSE 0.0 END +
             |          CASE WHEN c2 - c12 > 0 THEN (c2 - c12) * ln((c2 - c12) /
             |            (CAST(nn - c1 AS DOUBLE) * c2 / nn)) ELSE 0.0 END +
             |          CASE WHEN nn - c1 - c2 + c12 > 0
             |               THEN (nn - c1 - c2 + c12) * ln((nn - c1 - c2 + c12) /
             |            (CAST(nn - c1 AS DOUBLE) * (nn - c2) / nn)) ELSE 0.0 END), 6)
             |          AS g2
             |      FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
             |      WHERE c12 >= 16)
             |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, g2
             |FROM g ORDER BY g2 DESC, w1, w2 LIMIT 50""".stripMargin)),

    // Leave-one-out target encoding of event_type against the
    // high-value target — the ML feature that leaks without the
    // leave-one-out correction: per row, (Σy over the category − own y)
    // / (n − 1), all from one broadcast category aggregate and exact
    // integers until the terminal division.
    "agg_target_encode_loo" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
                  when(round(col("value") * 100).cast("bigint") > 50000L, 1L)
                    .otherwise(0L).as("y"))
        val cat = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n_cat"), sum(col("y")).as("sum_y"))
        ev.join(broadcast(cat), "event_type")
          .select(col("event_id"), col("event_type"), col("y"),
                  round((col("sum_y") - col("y")).cast("double")
                        / (col("n_cat") - 1).cast("double"), 6).as("te_loo"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
             |              CASE WHEN CAST(round(value * 100) AS BIGINT) > 50000
             |                   THEN 1 ELSE 0 END AS y
             |            FROM events),
             |cat AS (SELECT event_type, count(*) AS n_cat, sum(y) AS sum_y
             |        FROM ev GROUP BY event_type)
             |SELECT event_id, ev.event_type, CAST(y AS BIGINT) AS y,
             |       round(CAST(sum_y - y AS DOUBLE)
             |             / CAST(n_cat - 1 AS DOUBLE), 6) AS te_loo
             |FROM ev JOIN cat USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // Finance bridges, decay scoring, Pareto
    // classification, and dormancy analysis. Exact cross-multiplied integer
    // numerators wherever a rational would appear; sorted folds where a
    // float sum is unavoidable.

    // Price–volume bridge (Laspeyres decomposition) of the 1996→1997
    // revenue change per priority: ΔR·n0 = (n1−n0)·c0  [volume]  +
    // (c1·n0 − n1·c0)  [price] — BOTH effects exact BIGINT numerators
    // (the n0 scaling clears every rational), terminal ppm ratios only.
    "agg_price_volume_bridge" -> Decl(
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_orderpriority").as("pr"),
                  year(col("o_orderdate")).as("yr"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
          .filter(col("yr").isin(1996, 1997))
          .groupBy("pr", "yr")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        val a = o.filter(col("yr") === 1996)
          .select(col("pr"), col("n").as("n0"), col("c").as("c0"))
        val b = o.filter(col("yr") === 1997)
          .select(col("pr"), col("n").as("n1"), col("c").as("c1"))
        a.join(b, "pr")
          .select(col("pr").as("o_orderpriority"),
                  ((col("n1") - col("n0")) * col("c0")).as("volume_effect_x_n0"),
                  (col("c1") * col("n0") - col("n1") * col("c0")).as("price_effect_x_n0"),
                  ((col("c1") - col("c0")) * col("n0")).as("delta_rev_x_n0"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS pr, year(o_orderdate) AS yr,
             |             count(*) AS n,
             |             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
             |           FROM orders WHERE year(o_orderdate) IN (1996, 1997)
             |           GROUP BY 1, 2)
             |SELECT a.pr AS o_orderpriority,
             |       CAST((b.n - a.n) * a.c AS BIGINT) AS volume_effect_x_n0,
             |       CAST(b.c * a.n - b.n * a.c AS BIGINT) AS price_effect_x_n0,
             |       CAST((b.c - a.c) * a.n AS BIGINT) AS delta_rev_x_n0
             |FROM o a JOIN o b ON a.pr = b.pr AND a.yr = 1996 AND b.yr = 1997
             |ORDER BY a.pr""".stripMargin)),

    // Half-life decay engagement score: each user's events weighted by
    // 2^(−age_hours/168) relative to their own last event — the
    // recency-weighted activity metric. Ages are exact integer hours;
    // the per-event decay weights fold in SORTED order (the
    // graph_adamic_adar discipline) so the float sum is engine-identical.
    "agg_decay_engagement" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
                  expr("unix_micros(ts) div 3600000000L").as("hr"))
        val last = ev.groupBy("user_id").agg(max(col("hr")).as("last_hr"))
        ev.join(last, "user_id")
          .select(col("user_id"),
                  pow(lit(2.0d), -(col("last_hr") - col("hr")).cast("double") / 168.0d)
                    .as("w"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               array_sort(collect_list(col("w"))).as("ws"))
          .select(col("user_id"), col("n_events"),
                  round(expr("aggregate(ws, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"), 6)
                    .as("decay_score"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id,
             |              CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr
             |            FROM events),
             |l AS (SELECT user_id, max(hr) AS last_hr FROM ev GROUP BY user_id),
             |w AS (SELECT ev.user_id,
             |        pow(2.0, -CAST(last_hr - hr AS DOUBLE) / 168.0) AS w
             |      FROM ev JOIN l USING (user_id))
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       round(list_sum(list(w ORDER BY w)), 6) AS decay_score
             |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ABC (Pareto) classification of parts by revenue: A = parts covering
    // the first 80% of cumulative revenue, B = next 15%, C = the tail.
    // The part dimension grows with scale (~20 B parts at 100 TB), so the
    // cumulative revenue sum is the distributed two-pass prefix sum
    // (PrefixSum.cumsumLong: range-partition on the total order, local
    // running sums, broadcast per-partition offsets) — NEVER a single-task
    // unpartitioned window. Class boundaries are exact integer
    // cross-multiplies (5·cum ≤ 4·tot, 20·cum ≤ 19·tot).
    "agg_abc_classification" -> Decl(
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .groupBy("l_partkey")
          .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cents"))
        PrefixSum.cumsumLong(rev, Seq(col("cents").desc, col("l_partkey")),
                             col("cents"), "cum")
          .join(broadcast(rev.agg(sum(col("cents")).as("tot"))))
          .select(when(col("cum") * 5 <= col("tot") * 4, "A")
                    .when(col("cum") * 20 <= col("tot") * 19, "B")
                    .otherwise("C").as("abc"),
                  col("cents"))
          .groupBy("abc")
          .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("class_cents"))
          .orderBy("abc")
      },
      Some("""WITH rev AS (SELECT l_partkey,
             |               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
             |             FROM lineitem GROUP BY l_partkey),
             |c AS (SELECT l_partkey, cents,
             |        sum(cents) OVER (ORDER BY cents DESC, l_partkey
             |                         ROWS UNBOUNDED PRECEDING) AS cum,
             |        sum(cents) OVER () AS tot
             |      FROM rev)
             |SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
             |            WHEN cum * 20 <= tot * 19 THEN 'B'
             |            ELSE 'C' END AS abc,
             |       CAST(count(*) AS BIGINT) AS n_parts,
             |       CAST(sum(cents) AS BIGINT) AS class_cents
             |FROM c GROUP BY 1 ORDER BY abc""".stripMargin)),

    // Dormancy & reactivation: per user, dormancy spells (gaps > 7 days
    // between consecutive events) and the longest spell — churn-risk
    // bookkeeping from one lag over the per-user sort, exact micros.
    "ts_dormancy_reactivation" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
                  expr("unix_micros(ts)").as("us"))
          .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               sum(when(col("gap") > 604800000000L, 1L).otherwise(0L))
                 .as("n_reactivations"),
               max(col("gap")).as("max_gap_us"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id, event_id, us,
             |             us - lag(us) OVER (PARTITION BY user_id
             |               ORDER BY us, event_id) AS gap
             |           FROM (SELECT user_id, event_id,
             |                   CAST(epoch_us(ts) AS BIGINT) AS us
             |                 FROM events))
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CASE WHEN gap > 604800000000 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_reactivations,
             |       CAST(max(gap) AS BIGINT) AS max_gap_us
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Experimentation-platform statistics — the three
    // checks every A/B analysis pipeline runs beyond the z-test
    // (`agg_ab_test_z`): difference-in-differences for pre/post designs,
    // the sample-ratio-mismatch guardrail, and CUPED variance reduction.
    //
    // Determinism discipline: every estimator is a FIXED expression tree
    // over exact BIGINT sufficient statistics (cent sums, counts) — cell
    // means, theta, and adjusted means each perform their divisions in
    // one deterministic order and round once at the terminal. Nothing
    // order-dependent ever sums in float. (Per-user cent totals keep
    // Σx·y inside BIGINT for the fixture magnitudes; the 1000× scale
    // path swaps the two product sums to DECIMAL(38,0) accumulators —
    // the only change.)
    //
    // Scale shape: one conditional-aggregate pass over events for DiD /
    // SRM (4 and 2 groups); CUPED is the two-level shape — per-user
    // partial aggregate (one shuffle on user_id), then a single global
    // aggregate of 5 exact sums, then per-arm means — no row ever
    // carries a float.

    // 2×2 (treat × period) cell means + the DiD interaction estimate.
    "agg_diff_in_diff" -> Decl(
      (s, d) => {
        val cells = Tables.events(s, d)
          .select(treat.cast("int").as("treated"), post.cast("int").as("is_post"),
                  cents.as("c"))
          .groupBy("treated", "is_post")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
        val wide = cells.agg(
          sum(when(col("treated") === 1 && col("is_post") === 1, col("s"))).as("s11"),
          sum(when(col("treated") === 1 && col("is_post") === 1, col("n"))).as("n11"),
          sum(when(col("treated") === 1 && col("is_post") === 0, col("s"))).as("s10"),
          sum(when(col("treated") === 1 && col("is_post") === 0, col("n"))).as("n10"),
          sum(when(col("treated") === 0 && col("is_post") === 1, col("s"))).as("s01"),
          sum(when(col("treated") === 0 && col("is_post") === 1, col("n"))).as("n01"),
          sum(when(col("treated") === 0 && col("is_post") === 0, col("s"))).as("s00"),
          sum(when(col("treated") === 0 && col("is_post") === 0, col("n"))).as("n00"))
        def m(s0: String, n0: String) =
          col(s0).cast("double") / col(n0).cast("double")
        wide.select(
          round(m("s11", "n11"), 6).as("mean_treat_post"),
          round(m("s10", "n10"), 6).as("mean_treat_pre"),
          round(m("s01", "n01"), 6).as("mean_ctrl_post"),
          round(m("s00", "n00"), 6).as("mean_ctrl_pre"),
          round((m("s11", "n11") - m("s10", "n10"))
                  - (m("s01", "n01") - m("s00", "n00")), 6).as("did_c"))
      },
      Some("""WITH e AS (
             |  SELECT CAST(user_id % 2 = 1 AS INT) AS treated,
             |         CAST(ts >= TIMESTAMP '2024-01-16 00:00:00' AS INT) AS is_post,
             |         CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |w AS (SELECT
             |  sum(CASE WHEN treated = 1 AND is_post = 1 THEN c END) AS s11,
             |  count(*) FILTER (treated = 1 AND is_post = 1) AS n11,
             |  sum(CASE WHEN treated = 1 AND is_post = 0 THEN c END) AS s10,
             |  count(*) FILTER (treated = 1 AND is_post = 0) AS n10,
             |  sum(CASE WHEN treated = 0 AND is_post = 1 THEN c END) AS s01,
             |  count(*) FILTER (treated = 0 AND is_post = 1) AS n01,
             |  sum(CASE WHEN treated = 0 AND is_post = 0 THEN c END) AS s00,
             |  count(*) FILTER (treated = 0 AND is_post = 0) AS n00
             |  FROM e)
             |SELECT round(CAST(s11 AS DOUBLE) / n11, 6) AS mean_treat_post,
             |       round(CAST(s10 AS DOUBLE) / n10, 6) AS mean_treat_pre,
             |       round(CAST(s01 AS DOUBLE) / n01, 6) AS mean_ctrl_post,
             |       round(CAST(s00 AS DOUBLE) / n00, 6) AS mean_ctrl_pre,
             |       round((CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
             |             - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00), 6)
             |         AS did_c
             |FROM w""".stripMargin)),

    // Sample-ratio mismatch: per-arm USER counts (assignment integrity is
    // about units, not events) + the 2-cell chi-square vs a 50/50 split.
    "agg_srm_check" -> Decl(
      (s, d) => {
        val arms = Tables.events(s, d)
          .select(col("user_id"), treat.cast("int").as("treated"))
          .distinct()
          .groupBy("treated").agg(count(lit(1)).as("n"))
        arms.agg(
            sum(when(col("treated") === 1, col("n"))).as("n_treat"),
            sum(when(col("treated") === 0, col("n"))).as("n_ctrl"))
          .select(col("n_treat"), col("n_ctrl"),
            round((col("n_treat") - col("n_ctrl")).cast("double")
                    * (col("n_treat") - col("n_ctrl"))
                    / (col("n_treat") + col("n_ctrl")), 6).as("chi2"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id,
             |                  CAST(user_id % 2 = 1 AS INT) AS treated
             |           FROM events),
             |a AS (SELECT count(*) FILTER (treated = 1) AS n_treat,
             |             count(*) FILTER (treated = 0) AS n_ctrl
             |      FROM u)
             |SELECT n_treat, n_ctrl,
             |       round(CAST(n_treat - n_ctrl AS DOUBLE) * (n_treat - n_ctrl)
             |             / (n_treat + n_ctrl), 6) AS chi2
             |FROM a""".stripMargin)),

    // CUPED: covariate x = user's PRE-period cents, outcome y = POST
    // cents; theta = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from exact integer
    // sums, adjusted arm mean = ȳ_arm − theta·(x̄_arm − x̄).
    "agg_cuped_adjustment" -> Decl(
      (s, d) => {
        val perUser = Tables.events(s, d)
          .select(col("user_id"), treat.cast("int").as("treated"),
                  when(post, lit(0L)).otherwise(cents).as("xc"),
                  when(post, cents).otherwise(lit(0L)).as("yc"))
          .groupBy("user_id", "treated")
          .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
        val g = perUser.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        val arms = perUser.groupBy("treated")
          .agg(count(lit(1)).as("na"), sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
        val theta = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        arms.crossJoin(broadcast(g))
          .select(col("treated"), col("na").as("n_users"),
            round(col("sya").cast("double") / col("na"), 6).as("raw_mean_c"),
            round(col("sya").cast("double") / col("na")
              - theta * (col("sxa").cast("double") / col("na")
                          - col("sx").cast("double") / col("n")), 6)
              .as("cuped_mean_c"))
          .orderBy("treated")
      },
      Some("""WITH pu AS (
             |  SELECT user_id, CAST(user_id % 2 = 1 AS INT) AS treated,
             |         sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
             |         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             |                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             |             CAST(sum(y) AS BIGINT) AS sy,
             |             CAST(sum(x * x) AS BIGINT) AS sxx,
             |             CAST(sum(x * y) AS BIGINT) AS sxy
             |      FROM pu),
             |arms AS (SELECT treated, count(*) AS na, CAST(sum(x) AS BIGINT) AS sxa,
             |                CAST(sum(y) AS BIGINT) AS sya
             |         FROM pu GROUP BY treated)
             |SELECT treated, na AS n_users,
             |       round(CAST(sya AS DOUBLE) / na, 6) AS raw_mean_c,
             |       round(CAST(sya AS DOUBLE) / na
             |             - (CAST(n * sxy - sx * sy AS DOUBLE)
             |                / CAST(n * sxx - sx * sx AS DOUBLE))
             |               * (CAST(sxa AS DOUBLE) / na - CAST(sx AS DOUBLE) / n), 6)
             |         AS cuped_mean_c
             |FROM arms CROSS JOIN g ORDER BY treated""".stripMargin)),

    // Model-evaluation and survival statistics — the
    // Kaplan-Meier estimator (censoring-aware retention curve), the
    // cumulative-gains/lift table every propensity model report carries,
    // and Cohen's kappa (chance-corrected inter-annotator agreement)
    // composed on the declared language-ID classifier.
    //
    // Determinism discipline: every at-risk count, death count, decile
    // boundary, and confusion cell is an exact BIGINT; the one float
    // product (the KM survival curve) folds ln-factors in SORTED order
    // via the decay_engagement idiom, so both engines sum the identical
    // sequence; terminal 6-dp round only.
    //
    // Scale shape: the duration/score grids aggregate first (one shuffle
    // with map-side combine), then every cumulative runs through
    // PrefixSum's scan-parallel two-pass cumsum — no unpartitioned
    // window touches an unbounded domain anywhere in this wave. The
    // 12-row probe spine and the langs² confusion matrix are the only
    // broadcast sides.

    // Kaplan-Meier retention: per customer, first order = birth, last
    // order = death IF it predates the churn cutoff (no order in the
    // final observed 7 months), else right-censored at the horizon.
    // S(t) = prod_{death t_i <= t} (1 - d_i / n_i) over exact
    // (deaths, at-risk) integers, evaluated on a 12-point 30-day probe
    // spine. n_i derives from the distributed prefix sum of endpoint
    // counts over the duration grid — never a single-task window.
    "agg_kaplan_meier" -> Decl(
      (s, d) => {
        val cutoff = to_date(lit("1998-01-01"))
        val horizon = to_date(lit("1998-08-02"))
        val life = Tables(s, d, "orders")
          .groupBy("o_custkey")
          .agg(min(col("o_orderdate").cast("date")).as("first"),
               max(col("o_orderdate").cast("date")).as("last"))
          .select(
            when(col("last") < cutoff, lit(1L)).otherwise(lit(0L)).as("died"),
            when(col("last") < cutoff, datediff(col("last"), col("first")))
              .otherwise(datediff(horizon, col("first")))
              .cast("bigint").as("t"))
        val grid = life.groupBy("t")
          .agg(sum(col("died")).as("dd"), count(lit(1)).as("ee"))
        val tot = life.agg(count(lit(1)).as("n_total"),
                           sum(col("died")).as("d_total"))
        // inclusive cumsum of endpoints; at-risk(t) = N - endpoints < t
        val risk = PrefixSum.cumsumLong(grid, Seq(col("t")), col("ee"), "cum")
          .join(broadcast(tot))
          .select(col("t"), col("dd"),
                  (col("n_total") - (col("cum") - col("ee"))).as("nn"))
        val deaths = risk.filter(col("dd") > 0)
          .select(col("t"),
                  log(lit(1.0d) - col("dd").cast("double") / col("nn").cast("double"))
                    .as("lnf"),
                  col("dd"))
        val spine = s.range(1, 13)
          .select((col("id") * 30L).as("probe_days"))
        spine.join(broadcast(deaths), col("t") <= col("probe_days"), "left")
          .groupBy("probe_days")
          .agg(coalesce(sum(col("dd")), lit(0L)).as("cum_deaths"),
               array_sort(collect_list(col("lnf"))).as("lns"))
          .select(col("probe_days"), col("cum_deaths"),
                  round(exp(expr(
                    "aggregate(lns, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")), 6)
                    .as("survival"))
          .orderBy("probe_days")
      },
      Some("""WITH life AS (
             |  SELECT CASE WHEN max(CAST(o_orderdate AS DATE)) < DATE '1998-01-01'
             |              THEN 1 ELSE 0 END AS died,
             |         CASE WHEN max(CAST(o_orderdate AS DATE)) < DATE '1998-01-01'
             |              THEN date_diff('day', min(CAST(o_orderdate AS DATE)),
             |                             max(CAST(o_orderdate AS DATE)))
             |              ELSE date_diff('day', min(CAST(o_orderdate AS DATE)),
             |                             DATE '1998-08-02') END AS t
             |  FROM orders GROUP BY o_custkey),
             |grid AS (SELECT t, sum(died) AS dd, count(*) AS ee
             |         FROM life GROUP BY t),
             |tot AS (SELECT count(*) AS n_total FROM life),
             |risk AS (SELECT t, dd,
             |           n_total - (sum(ee) OVER (ORDER BY t
             |                        ROWS UNBOUNDED PRECEDING) - ee) AS nn
             |         FROM grid CROSS JOIN tot),
             |deaths AS (SELECT t, dd,
             |             ln(1.0 - CAST(dd AS DOUBLE) / nn) AS lnf
             |           FROM risk WHERE dd > 0),
             |spine AS (SELECT CAST(m * 30 AS BIGINT) AS probe_days
             |          FROM generate_series(1, 12) AS g(m))
             |SELECT probe_days,
             |       CAST(coalesce(sum(dd), 0) AS BIGINT) AS cum_deaths,
             |       round(exp(coalesce(list_sum(list(lnf ORDER BY lnf)), 0.0)), 6)
             |         AS survival
             |FROM spine LEFT JOIN deaths ON t <= probe_days
             |GROUP BY probe_days ORDER BY probe_days""".stripMargin)),

    // Cumulative-gains table: customers ranked by account balance (the
    // stand-in model score, descending), responders = customers with a
    // 1998 order. The score grid aggregates (weight, responders) per
    // distinct cent value, the two cumulatives run through ONE
    // scan-parallel prefix-sum pass, and decile boundaries + gain/lift
    // are exact integer cross-multiplies in ppm. (The ppm numerators
    // peak ~ cum_r·N·2e6 — BIGINT-safe through sf1000; the wider-scale
    // path swaps them to DECIMAL(38,0), the only change.)
    "agg_gain_deciles" -> Decl(
      (s, d) => {
        val resp = Tables(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("resp", lit(1L))
        val scored = Tables(s, d, "customer")
          .select(col("c_custkey"),
                  round(col("c_acctbal") * 100).cast("bigint").as("score"))
          .join(resp, Seq("c_custkey"), "left")
          .select(col("score"), coalesce(col("resp"), lit(0L)).as("resp"))
        val grid = scored.groupBy("score")
          .agg(count(lit(1)).as("w"), sum(col("resp")).as("r"))
        val tot = scored.agg(count(lit(1)).as("n_total"),
                             sum(col("resp")).as("r_total"))
        PrefixSum.cumsumLongs(grid, Seq(col("score").desc),
                              Seq(col("w") -> "cum_n", col("r") -> "cum_r"))
          .join(broadcast(tot))
          .select(expr("(cum_n * 10L + n_total - 1L) div n_total").as("decile"),
                  col("cum_n"), col("cum_r"), col("n_total"), col("r_total"))
          .groupBy("decile")
          .agg(max(col("cum_n")).as("cum_customers"),
               max(col("cum_r")).as("cum_responders"),
               max(col("n_total")).as("nt"), max(col("r_total")).as("rt"))
          .select(col("decile"), col("cum_customers"), col("cum_responders"),
                  expr("(cum_responders * 2000000L + rt) div (2L * rt)")
                    .as("gain_ppm"),
                  expr("(cum_responders * nt * 2000000L + cum_customers * rt) " +
                       "div (2L * cum_customers * rt)").as("lift_ppm"))
          .orderBy("decile")
      },
      Some("""WITH resp AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS resp
             |              FROM orders WHERE year(o_orderdate) = 1998),
             |scored AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS score,
             |                  coalesce(resp, 0) AS resp
             |           FROM customer LEFT JOIN resp USING (c_custkey)),
             |grid AS (SELECT score, count(*) AS w, sum(resp) AS r
             |         FROM scored GROUP BY score),
             |tot AS (SELECT count(*) AS n_total, sum(resp) AS r_total FROM scored),
             |cum AS (SELECT sum(w) OVER (ORDER BY score DESC
             |                  ROWS UNBOUNDED PRECEDING) AS cum_n,
             |               sum(r) OVER (ORDER BY score DESC
             |                  ROWS UNBOUNDED PRECEDING) AS cum_r,
             |               n_total, r_total
             |        FROM grid CROSS JOIN tot)
             |SELECT CAST((cum_n * 10 + n_total - 1) // n_total AS BIGINT) AS decile,
             |       CAST(max(cum_n) AS BIGINT) AS cum_customers,
             |       CAST(max(cum_r) AS BIGINT) AS cum_responders,
             |       CAST((max(cum_r) * 2000000 + max(r_total))
             |            // (2 * max(r_total)) AS BIGINT) AS gain_ppm,
             |       CAST((max(cum_r) * max(n_total) * 2000000
             |             + max(cum_n) * max(r_total))
             |            // (2 * max(cum_n) * max(r_total)) AS BIGINT) AS lift_ppm
             |FROM cum
             |GROUP BY (cum_n * 10 + n_total - 1) // n_total
             |ORDER BY decile""".stripMargin)),

    // Cohen's kappa between the gold language label and the declared
    // text_langid classifier — chance-corrected agreement, the
    // labeling-pipeline QA number. Composes the EXISTING key (query and
    // oracle both reused, lockstep with the classifier). kappa =
    // (N·sum(diag) - sum(row_l·col_l)) / (N² - sum(row_l·col_l)) over
    // exact integers from the langs²-bounded confusion matrix; one
    // terminal 6-dp division.
    "agg_cohen_kappa" -> Decl(
      (s, d) => {
        val pred = PipelineExt.decls("text_langid").query(s, d)
          .select(col("lang"), col("predicted"))
        val rows = pred.groupBy(col("lang").as("lbl"))
          .agg(count(lit(1)).as("row_n"))
        val cols = pred.groupBy(col("predicted").as("lbl"))
          .agg(count(lit(1)).as("col_n"))
        val margins = rows.join(cols, Seq("lbl"), "full_outer")
          .select(coalesce(col("row_n"), lit(0L)).as("row_n"),
                  coalesce(col("col_n"), lit(0L)).as("col_n"))
          .agg(sum(col("row_n") * col("col_n")).as("pe_num"),
               sum(col("row_n")).as("n"))
        val po = pred.agg(
          sum(when(col("lang") === col("predicted"), 1L).otherwise(0L))
            .as("po_num"))
        po.crossJoin(broadcast(margins))
          .select(col("n").as("n_items"), col("po_num").as("n_agree"),
                  round(col("po_num").cast("double") / col("n"), 6).as("po"),
                  round(col("pe_num").cast("double") / (col("n") * col("n")), 6)
                    .as("pe"),
                  round((col("n") * col("po_num") - col("pe_num")).cast("double")
                          / (col("n") * col("n") - col("pe_num")).cast("double"), 6)
                    .as("kappa"))
      },
      Some {
        val inner = PipelineExt.decls("text_langid").oracle.get
        s"""WITH pred AS ($inner),
           |m AS (SELECT coalesce(r.row_n, 0) AS row_n,
           |             coalesce(c.col_n, 0) AS col_n
           |      FROM (SELECT lang AS lbl, count(*) AS row_n
           |            FROM pred GROUP BY 1) r
           |      FULL OUTER JOIN (SELECT predicted AS lbl, count(*) AS col_n
           |                       FROM pred GROUP BY 1) c USING (lbl)),
           |g AS (SELECT sum(row_n * col_n) AS pe_num, sum(row_n) AS n FROM m),
           |p AS (SELECT sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END)
           |        AS po_num FROM pred)
           |SELECT CAST(n AS BIGINT) AS n_items,
           |       CAST(po_num AS BIGINT) AS n_agree,
           |       round(CAST(po_num AS DOUBLE) / n, 6) AS po,
           |       round(CAST(pe_num AS DOUBLE) / (n * n), 6) AS pe,
           |       round(CAST(n * po_num - pe_num AS DOUBLE)
           |             / CAST(n * n - pe_num AS DOUBLE), 6) AS kappa
           |FROM p CROSS JOIN g""".stripMargin
      }),

    // Exact Shapley-value channel attribution (the
    // game-theoretic successor to first/last-touch) and the l-diversity
    // governance audit (the k-anonymity refinement that checks sensitive-
    // value variety inside each quasi-identifier group).
    //
    // Scale shape: Shapley collapses the corpus to a 16-row mask grid in
    // ONE per-user aggregate + one grid aggregate (map-side combined), then
    // evaluates the 4·8-term Shapley sum on the bounded grid — broadcast
    // joins only, the coalition table never grows with data. l-diversity is
    // a two-level aggregate over the (nation × segment) grid. Everything
    // downstream of the first shuffle is domain-bounded.
    //
    // Determinism: coalition values are exact half-up ppm BIGINTs, the
    // Shapley sum is an integer linear combination (×24 clears the 4-player
    // factorial denominators), and the single float column is a terminal
    // 6-dp division.

    // Empirical Shapley attribution over the 4 non-purchase channels
    // (click/error/signup/view, bits 0-3 alphabetically): v(S) = observed
    // purchase rate (exact ppm) among users whose touched-channel set is
    // exactly S, 0 for unobserved coalitions; phi_c = sum over S not
    // containing c of w(|S|) * (v(S+c) - v(S)) with 4-player weights
    // w*24 = {6,2,2,6}. Output per channel: the exact *24 ppm integer
    // and the 6-dp rate. Efficiency (sum phi = v(full) - v(empty)) is
    // asserted in Round10ttSpec.
    "agg_shapley_attribution" -> Decl(
      (s, d) => {
        val users = Tables.events(s, d)
          .groupBy("user_id")
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nc"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"),
            sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("ns"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("conv"))
          .select(
            (when(col("nc") > 0, 1L).otherwise(0L) +
             when(col("ne") > 0, 2L).otherwise(0L) +
             when(col("ns") > 0, 4L).otherwise(0L) +
             when(col("nv") > 0, 8L).otherwise(0L)).as("mask"),
            col("conv"))
        val grid = users.groupBy("mask")
          .agg(count(lit(1)).as("n"), sum(col("conv")).as("ncv"))
        // complete the 16-coalition table (v=0 where unobserved), exact ppm
        val v = s.range(16).select(col("id").as("mask"))
          .join(grid, Seq("mask"), "left")
          .select(col("mask"),
                  coalesce(expr("(ncv * 2000000L + n) div (2L * n)"), lit(0L))
                    .as("v_ppm"))
        val channels = s.range(4).select(col("id").as("ch"),
          element_at(array(lit("click"), lit("error"), lit("signup"),
                           lit("view")), (col("id") + 1).cast("int"))
            .as("channel"))
        val terms = channels.crossJoin(v.as("s"))
          .filter(expr("(s.mask & shiftleft(1L, cast(ch as int))) = 0"))
          .join(v.select(col("mask").as("mask_with"), col("v_ppm").as("v_with")),
                expr("mask_with = s.mask + shiftleft(1L, cast(ch as int))"))
          .select(col("ch"), col("channel"),
                  (expr("element_at(array(6L, 2L, 2L, 6L), " +
                        "cast(bit_count(s.mask) as int) + 1)") *
                   (col("v_with") - col("v_ppm"))).as("term"))
        terms.groupBy("ch", "channel")
          .agg(sum(col("term")).as("shapley_x24_ppm"))
          .select(col("channel"), col("shapley_x24_ppm"),
                  round(col("shapley_x24_ppm").cast("double") / 24e6, 6)
                    .as("shapley"))
          .orderBy("ch")
      },
      Some("""WITH users AS (
             |  SELECT (CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END
             |        + CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) > 0 THEN 2 ELSE 0 END
             |        + CASE WHEN sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > 0 THEN 4 ELSE 0 END
             |        + CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0 THEN 8 ELSE 0 END)
             |           AS mask,
             |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
             |  FROM events GROUP BY user_id),
             |grid AS (SELECT mask, count(*) AS n, sum(conv) AS ncv
             |         FROM users GROUP BY mask),
             |v AS (SELECT g.m AS mask,
             |             coalesce((ncv * 2000000 + n) // (2 * n), 0) AS v_ppm
             |      FROM generate_series(0, 15) AS g(m)
             |      LEFT JOIN grid ON grid.mask = g.m),
             |ch AS (SELECT c AS chbit,
             |              CASE c WHEN 0 THEN 'click' WHEN 1 THEN 'error'
             |                     WHEN 2 THEN 'signup' ELSE 'view' END AS channel
             |       FROM generate_series(0, 3) AS t(c)),
             |terms AS (
             |  SELECT chbit, channel,
             |         (CASE bit_count(s.mask) WHEN 0 THEN 6 WHEN 1 THEN 2
             |               WHEN 2 THEN 2 ELSE 6 END)
             |           * (w.v_ppm - s.v_ppm) AS term
             |  FROM ch, v s, v w
             |  WHERE w.mask = s.mask + (1 << chbit)
             |    AND (s.mask & (1 << chbit)) = 0)
             |SELECT channel,
             |       CAST(sum(term) AS BIGINT) AS shapley_x24_ppm,
             |       round(CAST(sum(term) AS DOUBLE) / 24000000.0, 6) AS shapley
             |FROM terms GROUP BY chbit, channel ORDER BY chbit""".stripMargin)),

    // l-diversity audit over the (nation × market-segment) quasi-
    // identifier grid with the account-balance tercile as the sensitive
    // attribute: a group is l-diverse iff it carries >= 3 distinct
    // sensitive values — k-anonymity's blind spot (a large group whose
    // members all share one sensitive value still leaks). Reports every
    // group with its diversity and flag; the grid is 25 nations x 5
    // segments, domain-bounded at any scale.
    "quality_l_diversity" -> Decl(
      (s, d) => {
        val sens = Tables(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
                  when(col("c_acctbal") < 0, "neg")
                    .when(col("c_acctbal") < 4500, "mid")
                    .otherwise("high").as("bal_class"))
        sens.groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n"),
               countDistinct(col("bal_class")).as("l_diversity"))
          .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
                  col("l_diversity"),
                  when(col("l_diversity") >= 3, 1L).otherwise(0L).as("diverse"))
          .orderBy("c_nationkey", "c_mktsegment")
      },
      Some("""SELECT c_nationkey, c_mktsegment,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
             |                                WHEN c_acctbal < 4500 THEN 'mid'
             |                                ELSE 'high' END) AS BIGINT)
             |         AS l_diversity,
             |       CAST(CASE WHEN count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
             |                                          WHEN c_acctbal < 4500 THEN 'mid'
             |                                          ELSE 'high' END) >= 3
             |                 THEN 1 ELSE 0 END AS BIGINT) AS diverse
             |FROM customer
             |GROUP BY c_nationkey, c_mktsegment
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // Model-evaluation statistics — McNemar's paired
    // classifier test (composed on the declared language-ID classifier vs
    // the majority-class baseline), the calibration/reliability table
    // (predicted-probability bins vs observed rates — the ECE input), and
    // PSI distribution-drift monitoring between the fixture's two halves.
    //
    // Determinism: every count is BIGINT, every rate/probability is an
    // exact half-up ppm integer, bands are integer-arithmetic bucket ids
    // (no float log in the bucketing path), and the only doubles are
    // terminal 6-dp expressions computed per-row from exact integers — no
    // float ever crosses an aggregation merge.
    //
    // Scale shape: each key is one scan + one map-side-combined aggregate
    // onto a domain-bounded grid (2×2 discordance cells, 10 probability
    // bins, 25 value bands); everything after the first shuffle is
    // constant-size at any corpus scale.

    // McNemar's test: two responder-prediction rules on the SAME
    // customers — rule A (balance >= 4500) vs rule B (building/auto
    // segment), truth = placed a 1998 order. The PAIRED design counts
    // discordant pairs only (b = A right & B wrong, c = A wrong & B
    // right); chi² with continuity correction = (|b−c|−1)²/(b+c). The
    // question Welch/kappa don't answer: is A's edge over B larger than
    // its paired flips?
    "agg_mcnemar_test" -> Decl(
      (s, d) => {
        val resp = Tables(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("r", lit(1L))
        val scored = Tables(s, d, "customer")
          .join(resp, Seq("c_custkey"), "left")
          .select(coalesce(col("r"), lit(0L)).as("truth"),
                  when(col("c_acctbal") >= 4500, 1L).otherwise(0L).as("pa"),
                  when(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), 1L)
                    .otherwise(0L).as("pb"))
        scored.agg(
            count(lit(1)).as("n"),
            sum(when(col("pa") === col("truth") && col("pb") =!= col("truth"),
                     1L).otherwise(0L)).as("b"),
            sum(when(col("pa") =!= col("truth") && col("pb") === col("truth"),
                     1L).otherwise(0L)).as("c"))
          .select(col("n"), col("b"), col("c"),
                  round((abs(col("b") - col("c")) - lit(1L))
                          .cast("double") *
                        (abs(col("b") - col("c")) - lit(1L)).cast("double") /
                        (col("b") + col("c")).cast("double"), 6).as("chi2_cc"))
      },
      Some("""WITH resp AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS r
             |              FROM orders WHERE year(o_orderdate) = 1998),
             |scored AS (
             |  SELECT coalesce(r, 0) AS truth,
             |         CASE WHEN c_acctbal >= 4500 THEN 1 ELSE 0 END AS pa,
             |         CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
             |              THEN 1 ELSE 0 END AS pb
             |  FROM customer LEFT JOIN resp USING (c_custkey)),
             |g AS (SELECT count(*) AS n,
             |             sum(CASE WHEN pa = truth AND pb <> truth
             |                      THEN 1 ELSE 0 END) AS b,
             |             sum(CASE WHEN pa <> truth AND pb = truth
             |                      THEN 1 ELSE 0 END) AS c
             |      FROM scored)
             |SELECT CAST(n AS BIGINT) AS n, CAST(b AS BIGINT) AS b,
             |       CAST(c AS BIGINT) AS c,
             |       round(CAST(abs(b - c) - 1 AS DOUBLE)
             |             * CAST(abs(b - c) - 1 AS DOUBLE)
             |             / CAST(b + c AS DOUBLE), 6) AS chi2_cc
             |FROM g""".stripMargin)),

    // Calibration/reliability table: the account balance min-max mapped
    // to an exact ppm pseudo-probability, 10 fixed bins, observed rate =
    // 1998-responder share per bin. mean-predicted vs observed gap per
    // bin is the Expected-Calibration-Error integrand; everything is
    // exact half-up ppm BIGINT arithmetic.
    "agg_calibration_bins" -> Decl(
      (s, d) => {
        val resp = Tables(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("r", lit(1L))
        Tables(s, d, "customer")
          .select(col("c_custkey"),
                  round(col("c_acctbal") * 100).cast("bigint").as("cents"))
          .join(resp, Seq("c_custkey"), "left")
          .select(
            expr("((cents + 100000L) * 1000000L + 550000L) div 1100000L")
              .as("p_ppm"),
            coalesce(col("r"), lit(0L)).as("r"))
          .select(least(expr("p_ppm div 100000L"), lit(9L)).as("bin"),
                  col("p_ppm"), col("r"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("p_ppm")).as("sp"),
               sum(col("r")).as("nr"))
          .select(col("bin"), col("n"),
                  expr("(sp * 2L + n) div (2L * n)").as("mean_pred_ppm"),
                  expr("(nr * 2000000L + n) div (2L * n)").as("obs_ppm"),
                  abs(expr("(sp * 2L + n) div (2L * n)") -
                      expr("(nr * 2000000L + n) div (2L * n)")).as("gap_ppm"))
          .orderBy("bin")
      },
      Some("""WITH resp AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS r
             |              FROM orders WHERE year(o_orderdate) = 1998),
             |p AS (SELECT ((CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
             |              * 1000000 + 550000) // 1100000 AS p_ppm,
             |             coalesce(r, 0) AS r
             |      FROM customer LEFT JOIN resp USING (c_custkey)),
             |b AS (SELECT least(p_ppm // 100000, 9) AS bin, p_ppm, r FROM p)
             |SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |       CAST((sum(p_ppm) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
             |         AS mean_pred_ppm,
             |       CAST((sum(r) * 2000000 + count(*)) // (2 * count(*)) AS BIGINT)
             |         AS obs_ppm,
             |       CAST(abs((sum(p_ppm) * 2 + count(*)) // (2 * count(*))
             |              - (sum(r) * 2000000 + count(*)) // (2 * count(*)))
             |            AS BIGINT) AS gap_ppm
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // PSI drift between the fixture's two halves (Jan 1-15 expected vs
    // Jan 16-30 actual): event value in exact $20-cent bands (capped at
    // 24 — integer bucketing, no float log), per-band shares as exact
    // ppm, per-band PSI term (p−q)·ln(p/q) as a terminal per-row double.
    // The total PSI is the spec's fold — keeping the declared output
    // per-band keeps every float per-row deterministic.
    "ts_psi_drift" -> Decl(
      (s, d) => {
        val banded = Tables.events(s, d)
          .select(
            least(expr("cast(round(value * 100) as bigint) div 2000L"),
                  lit(24L)).as("band"),
            (col("ts").cast("date") < to_date(lit("2024-01-16"))).as("pre"))
        val grid = banded.groupBy("band")
          .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("na"),
               sum(when(!col("pre"), 1L).otherwise(0L)).as("nb"))
        val tot = grid.agg(sum("na").as("ta"), sum("nb").as("tb"))
        // Laplace add-one smoothing (the standard PSI guard): a band that
        // one half never hits would otherwise put ln(0) in the term, and
        // the engines disagree on ln(0) (NULL vs -inf).
        grid.join(broadcast(tot))
          .select(col("band"), col("na"), col("nb"),
                  expr("((na + 1L) * 2000000L + ta + 25L) div (2L * (ta + 25L))")
                    .as("p_ppm"),
                  expr("((nb + 1L) * 2000000L + tb + 25L) div (2L * (tb + 25L))")
                    .as("q_ppm"))
          .select(col("band"), col("na"), col("nb"), col("p_ppm"), col("q_ppm"),
                  round((col("p_ppm") - col("q_ppm")).cast("double") / 1e6 *
                        (log(col("p_ppm").cast("double")) -
                         log(col("q_ppm").cast("double"))), 6).as("psi_term"))
          .orderBy("band")
      },
      Some("""WITH banded AS (
             |  SELECT least(CAST(round(value * 100) AS BIGINT) // 2000, 24)
             |           AS band,
             |         CAST(ts AS DATE) < DATE '2024-01-16' AS pre
             |  FROM events),
             |grid AS (SELECT band,
             |                sum(CASE WHEN pre THEN 1 ELSE 0 END) AS na,
             |                sum(CASE WHEN pre THEN 0 ELSE 1 END) AS nb
             |         FROM banded GROUP BY band),
             |tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM grid),
             |ppm AS (SELECT band, na, nb,
             |               ((na + 1) * 2000000 + ta + 25) // (2 * (ta + 25))
             |                 AS p_ppm,
             |               ((nb + 1) * 2000000 + tb + 25) // (2 * (tb + 25))
             |                 AS q_ppm
             |        FROM grid CROSS JOIN tot)
             |SELECT band, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             |       CAST(p_ppm AS BIGINT) AS p_ppm, CAST(q_ppm AS BIGINT) AS q_ppm,
             |       round(CAST(p_ppm - q_ppm AS DOUBLE) / 1e6 *
             |             (ln(CAST(p_ppm AS DOUBLE)) - ln(CAST(q_ppm AS DOUBLE))), 6)
             |         AS psi_term
             |FROM ppm ORDER BY band""".stripMargin)),

    // The skyline (Pareto-dominance) operator — the
    // classic multi-objective DB operator — on the distributed exclusive
    // prefix-min, and Markov removal-effect attribution (the data-driven
    // successor to first/last-touch: a channel's credit is how much
    // conversion probability the journey chain loses without it).
    //
    // Scale shape: the skyline collapses the corpus to the distinct-price
    // grid (one map-side-combined aggregate), runs PrefixSum's scan-
    // parallel exclusive cummin over the grid's total order — never an
    // unpartitioned window — and joins the surviving price levels back
    // broadcast. The Markov chain collapses journeys to a ≤6×6 transition
    // matrix (alphabet-bounded forever); the absorbing-chain solve runs on
    // the driver over that constant-size matrix, exactly like the declared
    // PCA/stationary-distribution fixpoint keys.

    // Skyline / Pareto frontier of parts minimizing (price, size): a part
    // survives iff no other part is <= on both dimensions and < on one.
    // Reduce to the distinct-price grid (min size per price), take the
    // EXCLUSIVE prefix-min of size over ascending price (strictly-better-
    // price best size), keep price levels that strictly improve it, then
    // rehydrate the rows at each surviving level whose size equals the
    // level minimum (equal (price,size) twins are mutually non-dominated
    // and all kept).
    "agg_skyline_pareto" -> Decl(
      (s, d) => {
        val parts = Tables(s, d, "part")
          .select(col("p_partkey"),
                  round(col("p_retailprice") * 100).cast("bigint").as("cents"),
                  col("p_size").cast("bigint").as("size"))
        val grid = parts.groupBy("cents").agg(min(col("size")).as("msize"))
        val sky = PrefixSum
          .cumminLongExclusive(grid, Seq(col("cents").asc), col("msize"), "m1")
          .filter(col("msize") < col("m1"))
          .select(col("cents"), col("msize"))
        parts.join(broadcast(sky), Seq("cents"))
          .filter(col("size") === col("msize"))
          .select(col("p_partkey"), col("cents"), col("size"))
          .orderBy("cents", "p_partkey")
      },
      Some("""WITH p AS (SELECT p_partkey,
             |             CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             |             CAST(p_size AS BIGINT) AS size
             |           FROM part),
             |g AS (SELECT cents, min(size) AS msize FROM p GROUP BY cents),
             |m AS (SELECT cents, msize,
             |             min(msize) OVER (ORDER BY cents
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |               AS m1
             |      FROM g)
             |SELECT p_partkey, cents, size
             |FROM p JOIN m USING (cents)
             |WHERE size = msize AND (m1 IS NULL OR msize < m1)
             |ORDER BY cents, p_partkey""".stripMargin)),

    // Markov removal-effect attribution: journeys = each user's ordered
    // event types up to the FIRST purchase, absorbed into 'conv'
    // (purchased) or 'null' (never). Transition counts live on the
    // bounded (start+4)×(4+conv+null) grid; the driver solves absorption
    // probability from 'start' for the full chain and for each channel-
    // removed chain (transitions INTO the removed channel reroute to
    // 'null'); removal effect = 1 − P_removed/P_full, shares normalize
    // to 1. Oracle-N (fixpoint class, like agg_markov_stationary);
    // Round10wwSpec re-derives the whole ladder with an independent
    // Gaussian-elimination solve and pins invariants.
    "ts_markov_removal_attribution" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_micros(col("ts")).as("us"))
          .withColumn("pidx",
            min(when(col("event_type") === "purchase",
                     struct(col("us"), col("event_id"))))
              .over(Window.partitionBy("user_id")))
          .filter(col("pidx").isNull ||
                  struct(col("us"), col("event_id")) <= col("pidx"))
        val asState = (c: org.apache.spark.sql.Column) =>
          when(c === "purchase", lit("conv")).otherwise(c)
        val steps = ev
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .select(
            asState(col("event_type")).as("from_state"),
            coalesce(asState(col("nxt")),
                     when(col("pidx").isNotNull, "conv").otherwise("null"))
              .as("to_state"))
          .filter(col("from_state") =!= "conv")
        val firsts = ev.groupBy("user_id")
          .agg(min(struct(col("us"), col("event_id"), col("event_type")))
                 .as("f"))
          .select(lit("start").as("from_state"),
                  asState(col("f.event_type")).as("to_state"))
        val counts = steps.unionByName(firsts)
          .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val states = Seq("start", "click", "error", "signup", "view",
                         "conv", "null")
        val outBy = counts.groupBy(_._1._1).view
          .mapValues(_.values.sum.toDouble).toMap
        val pFull = counts.map { case ((f, t), n) => (f, t) -> n / outBy(f) }
        val full = absorb(states, pFull)("start")
        val channels = Seq("click", "error", "signup", "view")
        val effects = channels.map { c =>
          val pRm = pFull.collect {
            case ((f, t), v) if f != c && t == c => (f, "null") -> v
            case ((f, t), v) if f != c && t != c => (f, t) -> v
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          c -> math.max(0.0, 1.0 - absorb(states, pRm)("start") / full)
        }
        val totalEffect = effects.map(_._2).sum
        def r6(x: Double): Double = math.round(x * 1e6) / 1e6
        val rows = effects.map { case (c, e) =>
          (c, r6(e), r6(e / totalEffect))
        }
        s.createDataFrame(rows)
          .toDF("channel", "removal_effect", "credit_share")
          .orderBy("channel")
      },
      None),

    // Retrieval and multiple-testing evaluation —
    // NDCG@15 composed on the declared BM25 ranking (the ranking-quality
    // number every search/RAG stack reports) and the Benjamini-Hochberg
    // step-up procedure (the FDR correction an experimentation platform
    // applies before acting on 25 per-segment tests).
    //
    // Determinism: graded relevance is the exact matched-term count; the
    // DCG/IDCG folds run in POSITION order on both engines (sorted-fold
    // discipline over ≤15 terms); the normal CDF is the same
    // Abramowitz-Stegun 26.2.17 polynomial written identically in both
    // engines (IEEE-identical doubles), and every p/threshold comparison
    // happens before the terminal 6-dp round.
    //
    // Scale shape: NDCG's ranked list is rank-limited (GlobalLimit 15
    // under the position window — ScaleSpec's bounded-window guard shape),
    // the ideal-gain ladder is a 3-cell conditional aggregate broadcast
    // onto a 15-row spine; BH runs entirely on the 25-nation grid
    // (domain-bounded — allowlisted in ScaleSpec with that reason).

    // NDCG@15 for the declared BM25 ranking. Graded relevance = number
    // of distinct query terms the document matches (the bm25 key's own
    // n_terms column, 1..3); gain 2^rel − 1. IDCG places the corpus's
    // best achievable relevances first: the (rel → doc count) ladder is
    // 3 conditional-aggregate cells, crossed onto a 15-position spine.
    "agg_ndcg_at_k" -> Decl(
      (s, d) => {
        val ranked = Text.decls("text_bm25_rank").query(s, d)
          .withColumn("pos",
            row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
          .select(col("pos"), col("n_terms").cast("bigint").as("rel"))
        val dcg = ranked
          .agg(expr("round(aggregate(array_sort(collect_list(struct(pos, rel))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + " +
                    "(pow(2.0, x.rel) - 1.0) / log2(CAST(x.pos AS DOUBLE) + 1.0)), 6)")
                 .as("dcg"),
               count(lit(1)).as("n_ranked"))
        // rel ladder over ALL matching docs (not just the top 15)
        val docs = Tables(s, d, "documents")
        val tf = docs.select(col("doc_id"),
            explode(graft.functions.TextOps.tokens(col("text"))).as("term"))
          .filter(col("term").isin("data", "spark", "query"))
          .groupBy("doc_id").agg(countDistinct(col("term")).as("rel"))
        val ladder = tf.agg(
          sum(when(col("rel") === 3, 1L).otherwise(0L)).as("c3"),
          sum(when(col("rel") === 2, 1L).otherwise(0L)).as("c2"),
          sum(when(col("rel") === 1, 1L).otherwise(0L)).as("c1"))
        val ideal = s.range(1, 16).select(col("id").as("pos"))
          .crossJoin(broadcast(ladder))
          .select(col("pos"),
                  when(col("pos") <= col("c3"), 3L)
                    .when(col("pos") <= col("c3") + col("c2"), 2L)
                    .when(col("pos") <= col("c3") + col("c2") + col("c1"), 1L)
                    .otherwise(0L).as("rel"))
          .agg(expr("round(aggregate(array_sort(collect_list(struct(pos, rel))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + " +
                    "(pow(2.0, x.rel) - 1.0) / log2(CAST(x.pos AS DOUBLE) + 1.0)), 6)")
                 .as("idcg"))
        dcg.crossJoin(broadcast(ideal))
          .select(col("n_ranked"), col("dcg"), col("idcg"),
                  round(col("dcg") / col("idcg"), 6).as("ndcg"))
      },
      Some {
        val inner = Text.decls("text_bm25_rank").oracle.get
        s"""WITH ranked AS ($inner),
           |pos AS (SELECT n_terms AS rel,
           |               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos
           |        FROM ranked),
           |dcg AS (SELECT round(list_sum(list(
           |                 (pow(2.0, rel) - 1.0) / log2(CAST(pos AS DOUBLE) + 1.0)
           |                 ORDER BY pos)), 6) AS dcg,
           |               count(*) AS n_ranked
           |        FROM pos),
           |tf AS (SELECT doc_id, count(DISTINCT term) AS rel
           |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |             FROM documents)
           |       WHERE term IN ('data', 'spark', 'query') GROUP BY doc_id),
           |ladder AS (SELECT sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS c3,
           |                  sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS c2,
           |                  sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS c1
           |           FROM tf),
           |ideal AS (SELECT round(list_sum(list(
           |                   (pow(2.0, CASE WHEN p <= c3 THEN 3
           |                             WHEN p <= c3 + c2 THEN 2
           |                             WHEN p <= c3 + c2 + c1 THEN 1
           |                             ELSE 0 END) - 1.0)
           |                   / log2(CAST(p AS DOUBLE) + 1.0) ORDER BY p)), 6)
           |                  AS idcg
           |          FROM generate_series(1, 15) AS g(p) CROSS JOIN ladder)
           |SELECT CAST(n_ranked AS BIGINT) AS n_ranked, dcg, idcg,
           |       round(dcg / idcg, 6) AS ndcg
           |FROM dcg CROSS JOIN ideal""".stripMargin
      }),

    // Benjamini-Hochberg FDR step-up over 25 per-nation one-sample
    // z-tests (nation mean balance vs the population): rank the
    // p-values ascending, k* = max rank with p ≤ rank·α/m (α = 0.05),
    // reject ranks ≤ k*. The naive per-test α would over-fire on 25
    // simultaneous segments — this is the correction that makes segment
    // scanning honest.
    "agg_benjamini_hochberg" -> Decl(
      (s, d) => {
        val cells = Tables(s, d, "customer")
          .select(col("c_nationkey").cast("bigint").as("nation"),
                  round(col("c_acctbal") * 100).cast("bigint").as("c"))
          .groupBy("nation")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
               sum(col("c") * col("c")).as("q"))
        val glob = cells.agg(sum("n").as("gn"), sum("s").as("gs"),
                             sum("q").as("gq"))
        val m = count(lit(1)).over(Window.partitionBy())
        val withZ = cells.crossJoin(broadcast(glob))
          .withColumn("z", expr(
            """abs(CAST(s AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn) /
              |sqrt((CAST(gq AS DOUBLE) - CAST(gs AS DOUBLE) * gs / gn) / gn / n)
              |""".stripMargin))
          .withColumn("p", expr(s"2.0 * (1.0 - ${phiSql("z")})"))
        val rankedW = Window.orderBy(col("p").asc, col("nation").asc)
        val ranked = withZ
          .withColumn("rnk", row_number().over(rankedW).cast("long"))
          .withColumn("m_tests", m)
          .withColumn("thr",
            col("rnk").cast("double") * 0.05 / col("m_tests").cast("double"))
        val kstar = ranked
          .agg(coalesce(max(when(col("p") <= col("thr"), col("rnk"))), lit(0L))
                 .as("k"))
        ranked.crossJoin(broadcast(kstar))
          .select(col("nation"), col("n"),
                  round(col("z"), 6).as("z"),
                  round(col("p"), 6).as("p"),
                  col("rnk"),
                  round(col("thr"), 6).as("bh_threshold"),
                  when(col("rnk") <= col("k"), 1L).otherwise(0L).as("rejected"))
          .orderBy("rnk")
      },
      Some {
        s"""WITH cells AS (
           |  SELECT CAST(c_nationkey AS BIGINT) AS nation, count(*) AS n,
           |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
           |         sum(CAST(round(c_acctbal * 100) AS BIGINT)
           |             * CAST(round(c_acctbal * 100) AS BIGINT)) AS q
           |  FROM customer GROUP BY 1),
           |gpop AS (SELECT sum(n) AS gn, sum(s) AS gs, sum(q) AS gq FROM cells),
           |withz AS (
           |  SELECT nation, n,
           |         abs(CAST(s AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn) /
           |         sqrt((CAST(gq AS DOUBLE) - CAST(gs AS DOUBLE) * gs / gn)
           |              / gn / n) AS z
           |  FROM cells CROSS JOIN gpop),
           |withp AS (SELECT nation, n, z, 2.0 * (1.0 - ${phiSql("z")}) AS p
           |          FROM withz),
           |ranked AS (
           |  SELECT nation, n, z, p,
           |         row_number() OVER (ORDER BY p, nation) AS rnk,
           |         count(*) OVER () AS m_tests
           |  FROM withp),
           |thr AS (SELECT *, CAST(rnk AS DOUBLE) * 0.05 / m_tests AS thr
           |        FROM ranked),
           |k AS (SELECT coalesce(max(CASE WHEN p <= thr THEN rnk END), 0) AS k
           |      FROM thr)
           |SELECT nation, CAST(n AS BIGINT) AS n,
           |       round(z, 6) AS z, round(p, 6) AS p,
           |       CAST(rnk AS BIGINT) AS rnk,
           |       round(thr, 6) AS bh_threshold,
           |       CAST(CASE WHEN rnk <= k THEN 1 ELSE 0 END AS BIGINT)
           |         AS rejected
           |FROM thr CROSS JOIN k ORDER BY rnk""".stripMargin
      }),

    // Retail affinity indexing, activation
    // latency, and ISO calendar decomposition.

    // Affinity index ("index 120"): how over/under-represented each
    // order priority is within a market segment vs the population —
    // (cell/rowtot)/(coltot/grand), carried as one exact cross-multiplied
    // integer ppm floor division. Bounded 5×5 grid off one fact shuffle.
    "agg_affinity_index" -> Decl(
      (s, d) => {
        val cells = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"),
                   col("o_orderpriority").as("pr"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val rows = cells.groupBy("seg").agg(sum(col("n")).as("nseg"))
        val cols = cells.groupBy("pr").agg(sum(col("n")).as("npr"))
        val tot = cells.agg(sum(col("n")).as("nt"))
        cells.join(broadcast(rows), "seg").join(broadcast(cols), "pr")
          .crossJoin(broadcast(tot))
          .select(col("seg"), col("pr"), col("n"),
                  expr("n * nt * 1000000L div (nseg * npr)").as("affinity_ppm"))
          .orderBy("seg", "pr")
      },
      Some("""WITH cells AS (
             |  SELECT c_mktsegment AS seg, o_orderpriority AS pr,
             |         count(*) AS n
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |r AS (SELECT seg, sum(n) AS nseg FROM cells GROUP BY seg),
             |c AS (SELECT pr, sum(n) AS npr FROM cells GROUP BY pr),
             |t AS (SELECT sum(n) AS nt FROM cells)
             |SELECT seg, pr, CAST(n AS BIGINT) AS n,
             |       CAST(n * nt * 1000000 // (nseg * npr) AS BIGINT)
             |         AS affinity_ppm
             |FROM cells JOIN r USING (seg) JOIN c USING (pr) CROSS JOIN t
             |ORDER BY seg, pr""".stripMargin)),

    // Activation latency: per user, micros from their first event to
    // their third purchase (users who never reach three purchases are
    // absent) — the time-to-Nth-action activation metric. One ranked
    // filter over the purchase stream joined to the broadcast first-seen
    // aggregate; all integer micros.
    "ts_time_to_nth_event" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
        val firstSeen = ev.groupBy("user_id").agg(min(col("us")).as("first_us"))
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        ev.filter(col("event_type") === "purchase")
          .withColumn("k", row_number().over(w))
          .filter(col("k") === 3)
          .join(broadcast(firstSeen), "user_id")
          .select(col("user_id"), col("first_us"),
                  col("us").as("third_purchase_us"),
                  (col("us") - col("first_us")).as("activation_us"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, event_type,
             |              CAST(epoch_us(ts) AS BIGINT) AS us
             |            FROM events),
             |f AS (SELECT user_id, min(us) AS first_us FROM ev GROUP BY user_id),
             |p AS (SELECT user_id, us,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY us, event_id) AS k
             |      FROM ev WHERE event_type = 'purchase')
             |SELECT p.user_id, first_us, us AS third_purchase_us,
             |       us - first_us AS activation_us
             |FROM p JOIN f USING (user_id)
             |WHERE k = 3 ORDER BY p.user_id""".stripMargin)),

    // ISO calendar decomposition of order dates: ISO week-numbering year
    // + week, day-of-year, quarter — the fiscal-calendar scalar family
    // (both engines implement ISO 8601 week semantics). Pure per-row
    // date arithmetic riding the scan.
    "scalar_isoweek_parts" -> Decl(
      (s, d) => {
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("dt"))
          .select(col("o_orderkey"), col("dt"),
                  expr("extract(YEAROFWEEK FROM dt)").cast("bigint").as("iso_year"),
                  weekofyear(col("dt")).cast("bigint").as("iso_week"),
                  dayofyear(col("dt")).cast("bigint").as("doy"),
                  quarter(col("dt")).cast("bigint").as("qtr"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt,
             |       CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_year,
             |       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
             |       CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy,
             |       CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Pythagorean means on the bounded value
    // grid, first-touch attribution (completing the attribution pair), and
    // the GROUP BY ALL SQL surface.

    // Arithmetic / geometric / harmonic means per event type, at scale:
    // the float terms (ln c, 1/c) ride the bounded DISTINCT-cents grid,
    // never the corpus — per-cell integer weights aggregate first, and
    // the two irreducible float sums fold over the grid in cents order
    // (the sorted-fold discipline) before one exp / division each.
    "agg_pythagorean_means" -> Decl(
      (s, d) => {
        val grid = Tables.events(s, d)
          .select(col("event_type"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .filter(col("c") > 0)
          .groupBy("event_type", "c").agg(count(lit(1)).as("w"))
        grid.groupBy("event_type")
          .agg(sum(col("w")).as("n"), sum(col("c") * col("w")).as("sum_c"),
               array_sort(collect_list(struct(col("c"), col("w")))).as("cells"))
          .select(col("event_type"), col("n"),
                  round(col("sum_c").cast("double") / col("n"), 6).as("mean_arith"),
                  round(exp(expr(
                    "aggregate(cells, CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.w * ln(CAST(p.c AS DOUBLE)))")
                    / col("n")), 6).as("mean_geo"),
                  round(col("n").cast("double") / expr(
                    "aggregate(cells, CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.w / CAST(p.c AS DOUBLE))"),
                    6).as("mean_harm"))
          .orderBy("event_type")
      },
      Some("""WITH grid AS (SELECT event_type,
             |                CAST(round(value * 100) AS BIGINT) AS c,
             |                count(*) AS w
             |              FROM events
             |              WHERE CAST(round(value * 100) AS BIGINT) > 0
             |              GROUP BY 1, 2)
             |SELECT event_type, CAST(sum(w) AS BIGINT) AS n,
             |       round(CAST(sum(c * w) AS DOUBLE) / sum(w), 6) AS mean_arith,
             |       round(exp(list_sum(list(w * ln(CAST(c AS DOUBLE)) ORDER BY c)
             |                 ) / sum(w)), 6) AS mean_geo,
             |       round(CAST(sum(w) AS DOUBLE)
             |             / list_sum(list(w / CAST(c AS DOUBLE) ORDER BY c)), 6)
             |         AS mean_harm
             |FROM grid GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // First-touch attribution: each purchase credits the user's EARLIEST
    // event in the preceding 7 days — the complement of
    // ts_attribution_lasttouch; together they bracket every multi-touch
    // model. Same bounded per-user candidate join, opposite ordering.
    "ts_attribution_firsttouch" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
                  expr("unix_micros(ts)").as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("us").as("p_us"))
        val priors = ev.filter(col("event_type") =!= "purchase")
        val w = Window.partitionBy("p_id")
          .orderBy(col("us").asc, col("event_id").asc)
        val touch = purchases.join(priors, "user_id")
          .filter(col("us") < col("p_us") &&
                  col("us") >= col("p_us") - 604800000000L)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("p_id"), col("event_type").as("channel"))
        purchases.join(touch, Seq("p_id"), "left")
          .groupBy(coalesce(col("channel"), lit("(none)")).as("channel"))
          .agg(count(lit(1)).as("n_credits"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, event_id,
             |              CAST(epoch_us(ts) AS BIGINT) AS us
             |            FROM events),
             |p AS (SELECT user_id, event_id AS p_id, us AS p_us FROM ev
             |      WHERE event_type = 'purchase'),
             |touch AS (
             |  SELECT p_id, event_type AS channel,
             |         row_number() OVER (PARTITION BY p_id
             |           ORDER BY us ASC, event_id ASC) AS rk
             |  FROM p JOIN ev USING (user_id)
             |  WHERE ev.event_type <> 'purchase'
             |    AND us < p_us AND us >= p_us - 604800000000)
             |SELECT coalesce(t.channel, '(none)') AS channel,
             |       CAST(count(*) AS BIGINT) AS n_credits
             |FROM p LEFT JOIN (SELECT p_id, channel FROM touch WHERE rk = 1) t
             |       USING (p_id)
             |GROUP BY 1 ORDER BY channel""".stripMargin)),

    // GROUP BY ALL — both engines' modern shorthand: every non-aggregate
    // select item becomes a grouping key. Same text runs on Spark and
    // DuckDB verbatim.
    "sql_group_by_all" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |       CAST(count(*) AS BIGINT) AS n,
                |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                |         AS cents
                |FROM orders
                |GROUP BY ALL
                |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS cents
             |FROM orders
             |GROUP BY ALL
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // Experiment power analysis (the minimum-detectable-
    // effect table a platform shows before any test launches) and iterative
    // proportional fitting (survey raking — reweight a crossed sample to
    // match declared marginal totals, the standard bias-correction step
    // before any weighted readout).
    //
    // Scale shape: power analysis is one map-side-combined moment aggregate
    // per event type (5 rows forever); raking collapses the corpus to the
    // 25×5 (nation × segment) grid — the IPF fixpoint then runs driver-side
    // on that constant-size table, the markov/PCA pattern.

    // Per-metric MDE at 80% power / 5% two-sided α, equal-split design:
    // mde_abs = (z_{0.975} + z_{0.8}) · √(2σ²/n̄) with n̄ = per-arm size
    // (half the observed n). Everything from exact (n, Σc, Σc²) BIGINTs;
    // the z constants are the literature values, identical text in both
    // engines.
    "agg_power_analysis_mde" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_type"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
               sum(col("c") * col("c")).as("q"))
          .select(col("event_type"), col("n"),
                  round(col("sc").cast("double") / col("n") / 100.0, 6)
                    .as("mean"),
                  expr("""round(sqrt((CAST(q AS DOUBLE)
                         |  - CAST(sc AS DOUBLE) * sc / n) / (n - 1)) / 100.0,
                         | 6)""".stripMargin).as("sd"),
                  expr("""round((1.959964 + 0.841621) *
                         | sqrt(2.0 * ((CAST(q AS DOUBLE)
                         |   - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                         |   / (CAST(n AS DOUBLE) / 2.0)) / 100.0, 6)"""
                    .stripMargin).as("mde_abs"),
                  expr("""round((1.959964 + 0.841621) *
                         | sqrt(2.0 * ((CAST(q AS DOUBLE)
                         |   - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                         |   / (CAST(n AS DOUBLE) / 2.0))
                         | / (CAST(sc AS DOUBLE) / n), 6)""".stripMargin)
                    .as("mde_rel"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  round(CAST(sum(c) AS DOUBLE) / count(*) / 100.0, 6) AS mean,
             |  round(sqrt((CAST(sum(c * c) AS DOUBLE)
             |    - CAST(sum(c) AS DOUBLE) * sum(c) / count(*))
             |    / (count(*) - 1)) / 100.0, 6) AS sd,
             |  round((1.959964 + 0.841621) *
             |    sqrt(2.0 * ((CAST(sum(c * c) AS DOUBLE)
             |      - CAST(sum(c) AS DOUBLE) * sum(c) / count(*))
             |      / (count(*) - 1))
             |      / (CAST(count(*) AS DOUBLE) / 2.0)) / 100.0, 6) AS mde_abs,
             |  round((1.959964 + 0.841621) *
             |    sqrt(2.0 * ((CAST(sum(c * c) AS DOUBLE)
             |      - CAST(sum(c) AS DOUBLE) * sum(c) / count(*))
             |      / (count(*) - 1))
             |      / (CAST(count(*) AS DOUBLE) / 2.0))
             |    / (CAST(sum(c) AS DOUBLE) / count(*)), 6) AS mde_rel
             |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // IPF raking to uniform target margins (every nation 1/|nations|,
    // every segment 1/|segments| of the population): 40 synchronous
    // row-scale/column-scale sweeps over the collected 25×5 grid —
    // deterministic float path, converges geometrically for a strictly
    // positive table. Output: cell weights and the raked (weighted)
    // counts. Oracle-N (fixpoint class); Round10zzSpec pins both margin
    // constraints and cross-checks uniqueness via a doubled-iteration
    // run.
    "agg_ipf_raking" -> Decl(
      (s, d) => {
        val cells = Tables(s, d, "customer")
          .groupBy(col("c_nationkey").cast("bigint").as("nation"),
                   col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        val nations = cells.map(_._1).distinct.sorted
        val segments = cells.map(_._2).distinct.sorted
        val total = cells.map(_._3).sum.toDouble
        val rowT = total / nations.length
        val colT = total / segments.length
        var w = cells.map { case (nk, sg, n) => (nk, sg) -> n.toDouble }.toMap
        var it = 0
        while (it < 40) {
          val rowS = nations.map(nk =>
            nk -> segments.iterator.map(sg => w.getOrElse((nk, sg), 0.0)).sum)
            .toMap
          w = w.map { case ((nk, sg), v) => (nk, sg) -> v * rowT / rowS(nk) }
          val colS = segments.map(sg =>
            sg -> nations.iterator.map(nk => w.getOrElse((nk, sg), 0.0)).sum)
            .toMap
          w = w.map { case ((nk, sg), v) => (nk, sg) -> v * colT / colS(sg) }
          it += 1
        }
        def r6(x: Double): Double = math.round(x * 1e6) / 1e6
        val rows = cells.map { case (nk, sg, n) =>
          val raked = w((nk, sg))
          (nk, sg, n, r6(raked / n), r6(raked))
        }.sortBy(x => (x._1, x._2)).toSeq
        s.createDataFrame(rows)
          .toDF("nation", "segment", "n", "weight", "raked")
      },
      None),

    // Classifier-threshold analysis — the full ROC table
    // (one row per distinct score with exact-ppm TPR/FPR/Youden-J), the
    // exact trapezoid AUC from tie-corrected rank sums, and the
    // event-study generalization of diff-in-diff (per-day treatment
    // contrasts around the intervention date).
    //
    // Determinism: the ROC cumulatives run through PrefixSum's scan-
    // parallel cumsum over the (score desc) total order; AUC is the exact
    // Mann-Whitney identity 2ΣR_pos = Σ_g p_g(2·below + n_g + 1) — pure
    // BIGINT to the terminal ppm division; the event-study means divide
    // exact cents sums once, 6-dp.
    //
    // Scale shape: everything reduces to the distinct-score grid (one
    // map-side-combined aggregate) or the 15-day offset spine; no
    // unpartitioned window anywhere (the Youden argmax is a max-struct
    // aggregate, not a sort).

    // ROC curve table: rank customers by account balance (score desc),
    // truth = 1998 responder. One row per distinct score: exact-ppm TPR
    // (recall), FPR, and Youden's J = TPR − FPR at the ">= score"
    // threshold. cum counts via the distributed prefix sum.
    "agg_roc_points" -> Decl(
      (s, d) => {
        val resp = Tables(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("r", lit(1L))
        val scored = Tables(s, d, "customer")
          .select(col("c_custkey"),
                  round(col("c_acctbal") * 100).cast("bigint").as("score"))
          .join(resp, Seq("c_custkey"), "left")
          .select(col("score"), coalesce(col("r"), lit(0L)).as("r"))
        val grid = scored.groupBy("score")
          .agg(count(lit(1)).as("n"), sum(col("r")).as("p"))
        val tot = scored.agg(count(lit(1)).as("nt"), sum(col("r")).as("pt"))
        PrefixSum.cumsumLongs(grid, Seq(col("score").desc),
                              Seq(col("n") -> "cn", col("p") -> "cp"))
          .join(broadcast(tot))
          .select(col("score"), col("n"), col("p"),
                  expr("(cp * 2000000L + pt) div (2L * pt)").as("tpr_ppm"),
                  expr("((cn - cp) * 2000000L + nt - pt) div (2L * (nt - pt))")
                    .as("fpr_ppm"))
          .withColumn("j_ppm", col("tpr_ppm") - col("fpr_ppm"))
          .orderBy(col("score").desc)
      },
      Some("""WITH resp AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS r
             |              FROM orders WHERE year(o_orderdate) = 1998),
             |scored AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS score,
             |                  coalesce(r, 0) AS r
             |           FROM customer LEFT JOIN resp USING (c_custkey)),
             |grid AS (SELECT score, count(*) AS n, sum(r) AS p
             |         FROM scored GROUP BY score),
             |tot AS (SELECT count(*) AS nt, sum(r) AS pt FROM scored),
             |cum AS (SELECT score, n, p,
             |          sum(n) OVER (ORDER BY score DESC
             |            ROWS UNBOUNDED PRECEDING) AS cn,
             |          sum(p) OVER (ORDER BY score DESC
             |            ROWS UNBOUNDED PRECEDING) AS cp
             |        FROM grid)
             |SELECT score, CAST(n AS BIGINT) AS n, CAST(p AS BIGINT) AS p,
             |       CAST((cp * 2000000 + pt) // (2 * pt) AS BIGINT) AS tpr_ppm,
             |       CAST(((cn - cp) * 2000000 + nt - pt) // (2 * (nt - pt))
             |            AS BIGINT) AS fpr_ppm,
             |       CAST((cp * 2000000 + pt) // (2 * pt)
             |            - ((cn - cp) * 2000000 + nt - pt) // (2 * (nt - pt))
             |            AS BIGINT) AS j_ppm
             |FROM cum CROSS JOIN tot ORDER BY score DESC""".stripMargin)),

    // Exact AUC + the Youden-optimal threshold in one row. AUC by the
    // tie-corrected Mann-Whitney identity (average ranks ascending in
    // score): 2·ΣR_pos = Σ_g p_g·(2·below_g + n_g + 1) — below from the
    // SAME prefix-sum grid; auc_ppm = (2ΣR − P(P+1)) ppm / (2PN). The
    // Youden row is a max-struct argmax over the grid (j desc, then
    // score asc for the deterministic tie-break).
    "agg_auc_youden" -> Decl(
      (s, d) => {
        val resp = Tables(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("r", lit(1L))
        val scored = Tables(s, d, "customer")
          .select(col("c_custkey"),
                  round(col("c_acctbal") * 100).cast("bigint").as("score"))
          .join(resp, Seq("c_custkey"), "left")
          .select(col("score"), coalesce(col("r"), lit(0L)).as("r"))
        val grid = scored.groupBy("score")
          .agg(count(lit(1)).as("n"), sum(col("r")).as("p"))
        val tot = scored.agg(count(lit(1)).as("nt"), sum(col("r")).as("pt"))
        val cum = PrefixSum.cumsumLongs(grid, Seq(col("score").asc),
                                        Seq(col("n") -> "cn_asc"))
          .withColumn("below", col("cn_asc") - col("n"))
        val ranks = cum
          .agg(sum(col("p") * (col("below") * 2L + col("n") + 1L))
                 .as("two_rpos"))
        // Youden argmax needs the DESC cumulatives — reuse the ROC shape
        val roc = PrefixSum.cumsumLongs(grid, Seq(col("score").desc),
                                        Seq(col("n") -> "cn", col("p") -> "cp"))
          .join(broadcast(tot))
          .select(col("score"),
                  (expr("(cp * 2000000L + pt) div (2L * pt)") -
                   expr("((cn - cp) * 2000000L + nt - pt) div (2L * (nt - pt))"))
                    .as("j_ppm"))
        val best = roc.agg(
          max(struct(col("j_ppm"), (-col("score")).as("ns"))).as("b"))
          .select(col("b.j_ppm").as("youden_j_ppm"),
                  (-col("b.ns")).as("youden_threshold_cents"))
        ranks.crossJoin(broadcast(tot)).crossJoin(broadcast(best))
          .select(col("pt").as("n_pos"), (col("nt") - col("pt")).as("n_neg"),
                  // auc = (2ΣR − P(P+1)) / (2PN); half-up ppm. BIGINT-safe
                  // through sf100; the wider-scale path is the documented
                  // DECIMAL(38,0) swap (gain-deciles precedent).
                  expr("""((two_rpos - pt * (pt + 1L)) * 1000000L
                         | + pt * (nt - pt))
                         | div (2L * pt * (nt - pt))""".stripMargin)
                    .as("auc_ppm"),
                  col("youden_j_ppm"), col("youden_threshold_cents"))
      },
      Some("""WITH resp AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS r
             |              FROM orders WHERE year(o_orderdate) = 1998),
             |scored AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS score,
             |                  coalesce(r, 0) AS r
             |           FROM customer LEFT JOIN resp USING (c_custkey)),
             |grid AS (SELECT score, count(*) AS n, sum(r) AS p
             |         FROM scored GROUP BY score),
             |tot AS (SELECT count(*) AS nt, sum(r) AS pt FROM scored),
             |asc_ AS (SELECT score, n, p,
             |           sum(n) OVER (ORDER BY score ASC
             |             ROWS UNBOUNDED PRECEDING) - n AS below
             |         FROM grid),
             |ranks AS (SELECT sum(p * (below * 2 + n + 1)) AS two_rpos
             |          FROM asc_),
             |rocd AS (SELECT score,
             |           (sum(p) OVER w * 2000000 + pt) // (2 * pt)
             |           - ((sum(n) OVER w - sum(p) OVER w) * 2000000 + nt - pt)
             |             // (2 * (nt - pt)) AS j_ppm
             |         FROM grid CROSS JOIN tot
             |         WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
             |best AS (SELECT j_ppm AS youden_j_ppm,
             |                score AS youden_threshold_cents
             |         FROM rocd ORDER BY j_ppm DESC, score ASC LIMIT 1)
             |SELECT CAST(pt AS BIGINT) AS n_pos,
             |       CAST(nt - pt AS BIGINT) AS n_neg,
             |       CAST(((two_rpos - pt * (pt + 1)) * 1000000
             |             + pt * (nt - pt))
             |            // (2 * pt * (nt - pt)) AS BIGINT) AS auc_ppm,
             |       CAST(youden_j_ppm AS BIGINT) AS youden_j_ppm,
             |       CAST(youden_threshold_cents AS BIGINT)
             |         AS youden_threshold_cents
             |FROM ranks CROSS JOIN tot CROSS JOIN best""".stripMargin)),

    // Event study around the Jan-16 intervention: per day offset −7..+7,
    // the treated-vs-control contrast in mean event value (treated =
    // users who ever signup). The per-period trace diff-in-diff
    // collapses into one number — this is the pre-trend/dynamics view
    // reviewers actually ask for.
    "ts_did_event_study" -> Decl(
      (s, d) => {
        val treatedUsers = Tables.events(s, d)
          .filter(col("event_type") === "signup")
          .select(col("user_id")).distinct()
          .withColumn("tr", lit(1L))
        val base = Tables.events(s, d)
          .select(col("user_id"),
                  datediff(col("ts").cast("date"), to_date(lit("2024-01-16")))
                    .cast("bigint").as("day_offset"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .filter(col("day_offset") >= -7 && col("day_offset") <= 7)
          .join(broadcast(treatedUsers), Seq("user_id"), "left")
          .select(col("day_offset"), col("c"),
                  coalesce(col("tr"), lit(0L)).as("tr"))
        base.groupBy("day_offset")
          .agg(sum(when(col("tr") === 1L, 1L).otherwise(0L)).as("n_t"),
               sum(when(col("tr") === 1L, col("c")).otherwise(0L)).as("s_t"),
               sum(when(col("tr") === 0L, 1L).otherwise(0L)).as("n_c"),
               sum(when(col("tr") === 0L, col("c")).otherwise(0L)).as("s_c"))
          .select(col("day_offset"), col("n_t"), col("n_c"),
                  when(col("n_t") > 0,
                    round(col("s_t").cast("double") / col("n_t") / 100.0, 6))
                    .as("treated_mean"),
                  when(col("n_c") > 0,
                    round(col("s_c").cast("double") / col("n_c") / 100.0, 6))
                    .as("control_mean"),
                  when(col("n_t") > 0 && col("n_c") > 0,
                    round(col("s_t").cast("double") / col("n_t") / 100.0 -
                          col("s_c").cast("double") / col("n_c") / 100.0, 6))
                    .as("contrast"))
          .orderBy("day_offset")
      },
      Some("""WITH treated AS (SELECT DISTINCT user_id, 1 AS tr FROM events
             |                 WHERE event_type = 'signup'),
             |base AS (
             |  SELECT date_diff('day', DATE '2024-01-16', CAST(ts AS DATE))
             |           AS day_offset,
             |         CAST(round(value * 100) AS BIGINT) AS c,
             |         coalesce(tr, 0) AS tr
             |  FROM events LEFT JOIN treated USING (user_id)
             |  WHERE date_diff('day', DATE '2024-01-16', CAST(ts AS DATE))
             |        BETWEEN -7 AND 7)
             |SELECT CAST(day_offset AS BIGINT) AS day_offset,
             |       CAST(sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_t,
             |       CAST(sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_c,
             |       CASE WHEN sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) > 0 THEN
             |         round(CAST(sum(CASE WHEN tr = 1 THEN c ELSE 0 END) AS DOUBLE)
             |               / sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) / 100.0, 6)
             |       END AS treated_mean,
             |       CASE WHEN sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) > 0 THEN
             |         round(CAST(sum(CASE WHEN tr = 0 THEN c ELSE 0 END) AS DOUBLE)
             |               / sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) / 100.0, 6)
             |       END AS control_mean,
             |       CASE WHEN sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) > 0
             |             AND sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) > 0 THEN
             |         round(CAST(sum(CASE WHEN tr = 1 THEN c ELSE 0 END) AS DOUBLE)
             |               / sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) / 100.0
             |             - CAST(sum(CASE WHEN tr = 0 THEN c ELSE 0 END) AS DOUBLE)
             |               / sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) / 100.0, 6)
             |       END AS contrast
             |FROM base GROUP BY day_offset ORDER BY day_offset""".stripMargin)),

    // Average precision (the PR-AUC that matters under
    // class imbalance, where ROC-AUC flatters) and MATTR — the
    // moving-average type-token ratio, the windowed lexical-diversity
    // metric that fixes plain TTR's length bias.
    //
    // Determinism: AP folds integer-scaled per-threshold terms
    // (picotask-quantized at 1e-12 — the quantization error is ≤ one part
    // in 1e12 per distinct score, orders below the 6-dp round); MATTR is
    // exact half-up ppm integer arithmetic per document. No float ever
    // crosses an aggregation merge in either key.
    //
    // Scale shape: AP reduces to the same distinct-score grid + PrefixSum
    // cumulatives as the ROC family; MATTR is pure per-row HOF work inside
    // whole-stage codegen (O(tokens × window) per document, no shuffle at
    // all before the final sort).

    // Average precision = Σ_g (recall increment of group g) × (precision
    // at g's threshold), groups descending by score. With cumulatives
    // from the distributed prefix sum the term is p_g/P · cp_g/cn_g;
    // scaled by 1e12 and floor-divided per group it stays BIGINT —
    // Σ terms / 1e12 = AP with ≤ |grid|/1e12 quantization (sub-ulp here).
    // BIGINT-safe through sf1; wider scale is the documented
    // DECIMAL(38,0) swap.
    "agg_pr_auc" -> Decl(
      (s, d) => {
        val resp = Tables(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("r", lit(1L))
        val scored = Tables(s, d, "customer")
          .select(col("c_custkey"),
                  round(col("c_acctbal") * 100).cast("bigint").as("score"))
          .join(resp, Seq("c_custkey"), "left")
          .select(col("score"), coalesce(col("r"), lit(0L)).as("r"))
        val grid = scored.groupBy("score")
          .agg(count(lit(1)).as("n"), sum(col("r")).as("p"))
        val tot = scored.agg(count(lit(1)).as("nt"), sum(col("r")).as("pt"))
        PrefixSum.cumsumLongs(grid, Seq(col("score").desc),
                              Seq(col("n") -> "cn", col("p") -> "cp"))
          .join(broadcast(tot))
          .select(col("p"), col("cp"), col("cn"), col("pt"))
          .agg(sum(expr("(p * cp * 1000000000000L) div (pt * cn)"))
                 .as("ap_pico"),
               max(col("pt")).as("n_pos"))
          .select(col("n_pos"),
                  expr("(ap_pico + 500000L) div 1000000L").as("ap_ppm"),
                  round(col("ap_pico").cast("double") / 1e12, 6)
                    .as("average_precision"))
      },
      Some("""WITH resp AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS r
             |              FROM orders WHERE year(o_orderdate) = 1998),
             |scored AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS score,
             |                  coalesce(r, 0) AS r
             |           FROM customer LEFT JOIN resp USING (c_custkey)),
             |grid AS (SELECT score, count(*) AS n, sum(r) AS p
             |         FROM scored GROUP BY score),
             |tot AS (SELECT count(*) AS nt, sum(r) AS pt FROM scored),
             |cum AS (SELECT p,
             |          sum(n) OVER (ORDER BY score DESC
             |            ROWS UNBOUNDED PRECEDING) AS cn,
             |          sum(p) OVER (ORDER BY score DESC
             |            ROWS UNBOUNDED PRECEDING) AS cp
             |        FROM grid),
             |ap AS (SELECT sum((p * cp * 1000000000000) // (pt * cn))
             |                AS ap_pico,
             |              max(pt) AS n_pos
             |       FROM cum CROSS JOIN tot)
             |SELECT CAST(n_pos AS BIGINT) AS n_pos,
             |       CAST((ap_pico + 500000) // 1000000 AS BIGINT) AS ap_ppm,
             |       round(CAST(ap_pico AS DOUBLE) / 1e12, 6)
             |         AS average_precision
             |FROM ap""".stripMargin)),

    // MATTR with a 40-token window: slide over every start position,
    // count distinct types in each window, average — all exact integers
    // (Σ distinct-counts over K windows, mattr = S/(W·K) as half-up
    // ppm). Documents shorter than the window fall back to plain TTR
    // (one window of the whole document).
    "text_mattr_diversity" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"),
                  col("toks"))
          .withColumn("w", least(col("n_tokens"), lit(40L)))
          .withColumn("k", col("n_tokens") - col("w") + 1L)
          .withColumn("sdist", expr(
            """aggregate(
              |  transform(sequence(1L, n_tokens - w + 1L),
              |            i -> size(array_distinct(
              |                   slice(toks, cast(i as int), cast(w as int))))),
              |  0L, (acc, x) -> acc + cast(x as bigint))""".stripMargin))
          .select(col("doc_id"), col("n_tokens"), col("k").as("n_windows"),
                  expr("(sdist * 2000000L + w * k) div (2L * w * k)")
                    .as("mattr_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks,
             |         len(string_split(text, ' ')) AS n_tokens
             |  FROM documents),
             |w AS (SELECT doc_id, toks, n_tokens,
             |             least(n_tokens, 40) AS w,
             |             n_tokens - least(n_tokens, 40) + 1 AS k
             |      FROM base),
             |s AS (SELECT doc_id, n_tokens, w, k,
             |             list_sum(list_transform(range(1, k + 1),
             |               i -> len(list_distinct(toks[i:i+w-1])))) AS sdist
             |      FROM w)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |       CAST(k AS BIGINT) AS n_windows,
             |       CAST((sdist * 2000000 + w * k) // (2 * w * k) AS BIGINT)
             |         AS mattr_ppm
             |FROM s ORDER BY doc_id""".stripMargin)),

    // Preference-strength fitting (Bradley-Terry — the
    // pairwise-comparison model under every preference/reward pipeline)
    // and hard-negative triplet mining over the embedding corpus (the
    // metric-learning data-prep step: for each anchor, the closest
    // same-label positive and the closest wrong-label negative, with the
    // margin that decides whether the triplet is worth training on).
    //
    // Scale shape: BT collapses orders to the calendar-month × nation grid
    // (one aggregate; grid bounded by time span × nation enum), minted
    // matches and the MM fixpoint run on the driver over that constant
    // table — the markov/IPF pattern. Triplet mining broadcasts a FIXED
    // 16-anchor panel against one corpus scan (16n scored pairs, two
    // conditional max-struct aggregates — no corpus×corpus join; the ANN
    // bucketed variant is the declared sim_ann_* path).
    //
    // Determinism: match minting is exact-integer ranking with nationkey
    // tie-breaks; cosines round to 6 dp BEFORE the argmax (both engines
    // compare identical doubles, ties broken by vec_id); the MM iteration
    // is a fixed 200-sweep driver loop.

    // Bradley-Terry strengths for the 25 nations from minted monthly
    // revenue contests: within each calendar month, rank nations by
    // exact revenue cents (nationkey tie-break) and let each nation
    // "beat" the next-ranked one — a bounded, deterministic comparison
    // stream. Fit by 200 MM sweeps on the driver. Oracle-N (fixpoint
    // class); the spec pins the stationarity of the fitted point and
    // re-derives the match counts independently.
    "agg_bradley_terry" -> Decl(
      (s, d) => {
        val monthly = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"),
                col("o_custkey") === col("c_custkey"))
          .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("m"),
                   col("c_nationkey").cast("bigint").as("nation"))
          .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
          .collect()
          .map(r => (r.getDate(0), r.getLong(1), r.getLong(2)))
        val matches = monthly.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          val ranked = rows.sortBy(x => (-x._3, x._2)).map(_._2)
          ranked.zip(ranked.tail) // winner -> loser, consecutive ranks
        }
        val teams = monthly.map(_._2).distinct.sorted.toSeq
        val wins = matches.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val losses = matches.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val nPairs = matches
          .map { case (a, b) => if (a < b) (a, b) else (b, a) }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        var p = teams.map(_ -> 1.0 / teams.size).toMap
        (1 to 200).foreach(_ => p = mmSweep(teams, wins, nPairs, p))
        def r6(x: Double): Double = math.round(x * 1e6) / 1e6
        val rows = teams.map { t =>
          (t, wins.getOrElse(t, 0L), losses.getOrElse(t, 0L), r6(p(t)))
        }
        s.createDataFrame(rows)
          .toDF("nation", "wins", "losses", "bt_strength")
          .orderBy("nation")
      },
      None),

    // Hard-negative triplet mining: for each of the 16 panel anchors,
    // the highest-cosine SAME-label vector (the positive) and the
    // highest-cosine OTHER-label vector (the hard negative), plus the
    // triplet margin. Negative margins mark label-boundary violations —
    // exactly the triplets metric learning wants.
    "vec_triplet_mining" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val anchors = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("aid"), col("embedding").as("av"),
                  col("label").as("albl"))
        emb.crossJoin(broadcast(anchors))
          .filter(col("vec_id") =!= col("aid"))
          .select(col("aid"), col("albl"), col("vec_id").as("vid"),
                  col("label").as("lbl"),
                  round(VectorOps.cosine(col("embedding"), col("av")), 6)
                    .as("cos"))
          .groupBy("aid")
          .agg(
            max(when(col("lbl") === col("albl"),
                     struct(col("cos"), (-col("vid")).as("nv")))).as("p"),
            max(when(col("lbl") =!= col("albl"),
                     struct(col("cos"), (-col("vid")).as("nv")))).as("g"))
          .select(col("aid"),
                  (-col("p.nv")).as("pos_id"), col("p.cos").as("pos_cos"),
                  (-col("g.nv")).as("neg_id"), col("g.cos").as("neg_cos"),
                  round(col("p.cos") - col("g.cos"), 6).as("margin"))
          .orderBy("aid")
      },
      Some("""WITH a AS (SELECT vec_id AS aid,
             |                  list_transform(embedding, x -> CAST(x AS DOUBLE))
             |                    AS av,
             |                  label AS albl
             |           FROM embeddings WHERE vec_id < 16),
             |s AS (SELECT aid, albl, vec_id AS vid, label AS lbl,
             |             round(list_cosine_similarity(
             |               list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |               av), 6) AS cos
             |      FROM embeddings CROSS JOIN a
             |      WHERE vec_id <> aid),
             |pos AS (SELECT aid, vid, cos,
             |          row_number() OVER (PARTITION BY aid
             |            ORDER BY cos DESC, vid ASC) AS rn
             |        FROM s WHERE lbl = albl),
             |neg AS (SELECT aid, vid, cos,
             |          row_number() OVER (PARTITION BY aid
             |            ORDER BY cos DESC, vid ASC) AS rn
             |        FROM s WHERE lbl <> albl)
             |SELECT pos.aid AS aid,
             |       pos.vid AS pos_id, pos.cos AS pos_cos,
             |       neg.vid AS neg_id, neg.cos AS neg_cos,
             |       round(pos.cos - neg.cos, 6) AS margin
             |FROM pos JOIN neg ON pos.aid = neg.aid
             |WHERE pos.rn = 1 AND neg.rn = 1
             |ORDER BY aid""".stripMargin)),

    // Two-way ANOVA with interaction (the factorial
    // experiment readout the one-way key can't give: does segment's effect
    // on balance DIFFER by nation?) and the parquet bloom-filter sink (the
    // point-lookup data-skipping layer beyond min/max statistics).
    //
    // Determinism: every sum-of-squares derives from exact BIGINT cell
    // moments; the s²/n terms square through DECIMAL(38,0)/HUGEINT (the
    // global cents sum squared clears BIGINT already at sf0.1) and
    // floor-divide back to integers (≤1 cent² quantization per cell
    // against SS ~1e13 — sub-ulp) so no float sum ever crosses a merge;
    // F ratios are terminal 6-dp doubles from identical formulas. The one
    // remaining BIGINT ceiling is Σc² (~sf100); wider is the documented
    // DECIMAL(38,0) swap.
    //
    // Scale shape: ANOVA is one scan → 125-cell grid → three bounded
    // aggregates; the bloom sink writes one pass and reads back with an
    // equality predicate the bloom filter serves from footer metadata
    // (Round11dSpec opens the footer and asserts the filter exists).

    // Two-way ANOVA, factors nation (a=25) × segment (b=5), response =
    // account balance in cents. Sequential (Type-I) sums of squares on
    // the unbalanced design: SS_A, SS_B, SS_AB = SS_cells − SS_A − SS_B,
    // SS_E = Σc² − Σ_ij s²/n. One output row per source with df, SS
    // (cents², exact within the integer-div quantization), F and eta².
    "agg_two_way_anova" -> Decl(
      (s, d) => {
        val base = Tables(s, d, "customer")
          .select(col("c_nationkey").cast("bigint").as("a"),
                  col("c_mktsegment").as("b"),
                  round(col("c_acctbal") * 100).cast("bigint").as("c"))
        val cells = base.groupBy("a", "b")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
               sum(col("c") * col("c")).as("q"))
        val g = cells.agg(
          sum("n").as("n_tot"), sum("sc").as("s_tot"), sum("q").as("q_tot"),
          countDistinct("a").as("na"), countDistinct("b").as("nb"),
          count(lit(1)).as("ncells"),
          sum(expr("cast((cast(sc as decimal(38,0)) * sc) div n as bigint)"))
            .as("ss_cells_raw"))
        val ma = cells.groupBy("a")
          .agg(sum("n").as("n"), sum("sc").as("sc"))
          .agg(sum(expr("cast((cast(sc as decimal(38,0)) * sc) div n as bigint)"))
            .as("ss_a_raw"))
        val mb = cells.groupBy("b")
          .agg(sum("n").as("n"), sum("sc").as("sc"))
          .agg(sum(expr("cast((cast(sc as decimal(38,0)) * sc) div n as bigint)"))
            .as("ss_b_raw"))
        val stats = g.crossJoin(broadcast(ma)).crossJoin(broadcast(mb))
          .withColumn("cm",
            expr("cast((cast(s_tot as decimal(38,0)) * s_tot) div n_tot as bigint)"))
          .withColumn("ss_a", col("ss_a_raw") - col("cm"))
          .withColumn("ss_b", col("ss_b_raw") - col("cm"))
          .withColumn("ss_ab",
            col("ss_cells_raw") - col("ss_a_raw") - col("ss_b_raw") + col("cm"))
          .withColumn("ss_e", col("q_tot") - col("ss_cells_raw"))
          .withColumn("ss_t", col("q_tot") - col("cm"))
          .withColumn("df_a", col("na") - 1L)
          .withColumn("df_b", col("nb") - 1L)
          .withColumn("df_ab", (col("na") - 1L) * (col("nb") - 1L))
          .withColumn("df_e", col("n_tot") - col("ncells"))
        def row(src: String, ss: String, df: String) =
          stats.select(lit(src).as("source"), col(ss).as("ss_cents2"),
                       col(df).as("df"),
                       round((col(ss).cast("double") / col(df)) /
                             (col("ss_e").cast("double") / col("df_e")), 6)
                         .as("f_stat"),
                       round(col(ss).cast("double") / col("ss_t"), 6)
                         .as("eta_sq"))
        row("nation", "ss_a", "df_a")
          .unionAll(row("segment", "ss_b", "df_b"))
          .unionAll(row("interaction", "ss_ab", "df_ab"))
          .orderBy("source")
      },
      Some("""WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS a,
             |                     c_mktsegment AS b,
             |                     CAST(round(c_acctbal * 100) AS BIGINT) AS c
             |              FROM customer),
             |cells AS (SELECT a, b, count(*) AS n, sum(c) AS sc,
             |                 sum(c * c) AS q
             |          FROM base GROUP BY a, b),
             |g AS (SELECT sum(n) AS n_tot, sum(sc) AS s_tot, sum(q) AS q_tot,
             |             count(DISTINCT a) AS na, count(DISTINCT b) AS nb,
             |             count(*) AS ncells,
             |             CAST(sum((CAST(sc AS HUGEINT) * sc) // n) AS BIGINT) AS ss_cells_raw
             |      FROM cells),
             |ma AS (SELECT CAST(sum((CAST(sc AS HUGEINT) * sc) // n) AS BIGINT)
             |                AS ss_a_raw FROM (
             |         SELECT a, sum(n) AS n, sum(sc) AS sc
             |         FROM cells GROUP BY a)),
             |mb AS (SELECT CAST(sum((CAST(sc AS HUGEINT) * sc) // n) AS BIGINT)
             |                AS ss_b_raw FROM (
             |         SELECT b, sum(n) AS n, sum(sc) AS sc
             |         FROM cells GROUP BY b)),
             |st AS (SELECT *,
             |              CAST((CAST(s_tot AS HUGEINT) * s_tot) // n_tot AS BIGINT) AS cm
             |       FROM g CROSS JOIN ma CROSS JOIN mb),
             |ss AS (SELECT ss_a_raw - cm AS ss_a, ss_b_raw - cm AS ss_b,
             |              ss_cells_raw - ss_a_raw - ss_b_raw + cm AS ss_ab,
             |              q_tot - ss_cells_raw AS ss_e, q_tot - cm AS ss_t,
             |              na - 1 AS df_a, nb - 1 AS df_b,
             |              (na - 1) * (nb - 1) AS df_ab,
             |              n_tot - ncells AS df_e
             |       FROM st)
             |SELECT source, CAST(ss_cents2 AS BIGINT) AS ss_cents2,
             |       CAST(df AS BIGINT) AS df,
             |       round((CAST(ss_cents2 AS DOUBLE) / df)
             |             / (CAST(ss_e AS DOUBLE) / df_e), 6) AS f_stat,
             |       round(CAST(ss_cents2 AS DOUBLE) / ss_t, 6) AS eta_sq
             |FROM (SELECT 'nation' AS source, ss_a AS ss_cents2, df_a AS df,
             |             ss_e, df_e, ss_t FROM ss
             |      UNION ALL
             |      SELECT 'segment', ss_b, df_b, ss_e, df_e, ss_t FROM ss
             |      UNION ALL
             |      SELECT 'interaction', ss_ab, df_ab, ss_e, df_e, ss_t FROM ss)
             |ORDER BY source""".stripMargin)),

    // Parquet bloom-filter sink: write lineitem with a bloom filter on
    // l_partkey (point-lookup skipping for a column whose min/max ranges
    // are useless — every file spans the whole key domain), read back
    // through an equality predicate. The oracle reproduces the lookup on
    // the base table — roundtrip + filter correctness; the spec opens
    // the parquet footer and asserts the bloom filter is really there.
    "sink_parquet_bloom_roundtrip" -> Decl(
      (s, d) => {
        val out = Tables.scratchDir("graft_bloom").resolve("li_bloom").toString
        Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
                  round(col("l_extendedprice") * 100).cast("bigint")
                    .as("cents"))
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#l_partkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_partkey", "200000")
          // a fully dictionary-encoded chunk writes NO bloom (the
          // dictionary already is one); real bloom columns disable
          // dictionary so the filter exists at every cardinality
          .option("parquet.enable.dictionary#l_partkey", "false")
          .parquet(out)
        s.read.parquet(out)
          .filter(col("l_partkey") % 1000 === 7)
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .orderBy("l_partkey")
      },
      Some("""SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |            AS BIGINT) AS cents
             |FROM lineitem WHERE l_partkey % 1000 = 7
             |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)),

    // Corpus-comparison and readability text analytics —
    // the Monroe-Colaresi-Quinn "Fightin' Words" log-odds with a Dirichlet
    // prior (WHICH terms distinguish the en corpus from the rest — the
    // principled alternative to raw frequency ratios that overweight rare
    // words) and the classical readability indices (LIX / ARI) every
    // content-quality pipeline reports.
    //
    // Determinism: all counts are exact BIGINTs; δ and z are single
    // double-expression trees over those integers, written identically in
    // both engines, compared before the terminal 6-dp round; the top-30 cut
    // orders by (|z| desc, term) — a total order.
    //
    // Scale shape: token counting is the text_wordcount shuffle (one
    // map-side-combined aggregate), the vocabulary is support-filtered
    // (≥ 20 occurrences) and the output is a TakeOrdered top-30 — no
    // global sort; readability is pure per-row expression work.

    // Fightin' Words: en vs non-en usage. Uniform Dirichlet prior α=1
    // per term with α0 = V (the filtered vocabulary size); z = δ /
    // sqrt(1/(y_en+1) + 1/(y_ot+1)).
    "agg_log_odds_monroe" -> Decl(
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
        val counts = tok.groupBy("term")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("y_en"),
               sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("y_ot"))
          .filter(col("y_en") + col("y_ot") >= 20)
        val tot = counts.agg(sum("y_en").as("n_en"), sum("y_ot").as("n_ot"),
                             count(lit(1)).as("v"))
        counts.crossJoin(broadcast(tot))
          .withColumn("delta", expr(
            """ln((y_en + 1.0) / (n_en + v - y_en - 1.0))
              | - ln((y_ot + 1.0) / (n_ot + v - y_ot - 1.0))""".stripMargin))
          .withColumn("z", expr(
            "delta / sqrt(1.0 / (y_en + 1.0) + 1.0 / (y_ot + 1.0))"))
          .select(col("term"), col("y_en"), col("y_ot"),
                  round(col("delta"), 6).as("delta"),
                  round(col("z"), 6).as("z"))
          .orderBy(abs(col("z")).desc, col("term"))
          .limit(30)
      },
      Some("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term
             |             FROM documents),
             |counts AS (
             |  SELECT term,
             |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y_en,
             |         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS y_ot
             |  FROM tok GROUP BY term
             |  HAVING sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |       + sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) >= 20),
             |tot AS (SELECT sum(y_en) AS n_en, sum(y_ot) AS n_ot,
             |               count(*) AS v
             |        FROM counts),
             |scored AS (
             |  SELECT term, y_en, y_ot,
             |         ln((y_en + 1.0) / (n_en + v - y_en - 1.0))
             |           - ln((y_ot + 1.0) / (n_ot + v - y_ot - 1.0)) AS delta
             |  FROM counts CROSS JOIN tot)
             |SELECT term, CAST(y_en AS BIGINT) AS y_en,
             |       CAST(y_ot AS BIGINT) AS y_ot,
             |       round(delta, 6) AS delta,
             |       round(delta / sqrt(1.0 / (y_en + 1.0)
             |                        + 1.0 / (y_ot + 1.0)), 6) AS z
             |FROM scored
             |ORDER BY abs(delta / sqrt(1.0 / (y_en + 1.0)
             |                        + 1.0 / (y_ot + 1.0))) DESC, term
             |LIMIT 30""".stripMargin)),

    // Readability: LIX = words/sentences + 100·longwords/words (long =
    // length ≥ 7) and ARI = 4.71·chars/words + 0.5·words/sentences −
    // 21.43, per document from exact integer counts (chars = non-space
    // letters, sentences = '.'-terminated runs floored at 1).
    "text_readability_indices" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
                  col("text"))
          .select(col("doc_id"),
                  size(col("toks")).cast("bigint").as("words"),
                  expr("cast(size(filter(toks, t -> length(t) >= 7)) as bigint)")
                    .as("long_words"),
                  length(regexp_replace(col("text"), " ", ""))
                    .cast("bigint").as("chars"),
                  greatest(lit(1L),
                    (length(col("text")) -
                     length(regexp_replace(col("text"), "\\.", "")))
                      .cast("bigint")).as("sentences"))
          .select(col("doc_id"), col("words"), col("long_words"),
                  col("chars"), col("sentences"),
                  // exact half-up ppm integers — a double round at any
                  // fixed digit can land on a .5 boundary where the
                  // engines' rounding modes disagree (caught at sf0.01)
                  expr("""((words * words + 100L * long_words * sentences)
                         |  * 2000000L + words * sentences)
                         | div (2L * words * sentences)""".stripMargin)
                    .as("lix_ppm"),
                  expr("""((471L * chars * sentences + 50L * words * words
                         |   - 2143L * words * sentences
                         |   + 100L * 100L * words * sentences)
                         |  * 2000000L + 100L * words * sentences)
                         | div (2L * 100L * words * sentences)
                         | - 100000000L""".stripMargin).as("ari_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             |         CAST(len(list_filter(string_split(text, ' '),
             |                              t -> length(t) >= 7)) AS BIGINT)
             |           AS long_words,
             |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
             |         greatest(1,
             |           CAST(length(text) - length(replace(text, '.', ''))
             |                AS BIGINT)) AS sentences
             |  FROM documents)
             |SELECT doc_id, words, long_words, chars, sentences,
             |       CAST(((words * words + 100 * long_words * sentences)
             |              * 2000000 + words * sentences)
             |            // (2 * words * sentences) AS BIGINT) AS lix_ppm,
             |       CAST(((471 * chars * sentences + 50 * words * words
             |               - 2143 * words * sentences
             |               + 10000 * words * sentences)
             |              * 2000000 + 100 * words * sentences)
             |            // (200 * words * sentences) - 100000000
             |            AS BIGINT) AS ari_ppm
             |FROM base ORDER BY doc_id""".stripMargin)),

    // Isotonic calibration (the monotone regression every
    // score-calibration pipeline runs — here via the MINIMAX closed form
    // fit_i = max_{j≤i} min_{k≥i} wavg(y, j..k), which turns the
    // sequential pool-adjacent-violators loop into three bounded-grid
    // joins: fully declarative, no recursion, exact integer interval sums)
    // and manifest-driven min/max file skipping (the Iceberg/Delta
    // data-skipping shape: a file-level statistics manifest built in one
    // scan prunes which parquet files a range predicate reads at all).
    //
    // Scale shape: isotonic runs ONE corpus aggregate into a 10-bucket
    // grid; the O(B³) minimax enumeration lives on that constant grid
    // (220 interval rows). File skipping scans the manifest (one row per
    // file — KB-scale for a million-file table), reads ONLY overlapping
    // files, and re-filters; Round11nSpec asserts the skipped plan touches
    // strictly fewer files while the oracle proves result equality.

    // Isotonic (non-decreasing) calibration of the F-status rate vs
    // o_totalprice decile. Interval averages are exact BIGINT ratios
    // (Σ hits / Σ n over bucket ranges); both engines evaluate the same
    // minimax over the same rationals, so the fit hash-matches without
    // any float gymnastics. Round11nSpec checks equality with an
    // independent PAVA implementation.
    "agg_isotonic_calibration" -> Decl(
      (s, d) => {
        val orders = Tables(s, d, "orders")
        val maxP = orders.agg(max(col("o_totalprice")).as("mx"))
        val buckets = orders.crossJoin(broadcast(maxP))
          .select(least(lit(9), floor(col("o_totalprice") * 10 / col("mx"))
                    .cast("int")).as("bucket"),
                  when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("hit"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum(col("hit")).as("f"))
        // prefix sums over the bounded bucket grid -> O(B^2) interval sums
        val b = buckets.select(col("bucket"), col("n"), col("f"))
        val iv = b.as("lo").join(b.as("hi"),
            col("lo.bucket") <= col("hi.bucket"))
          .join(b.as("m"),
            col("m.bucket") >= col("lo.bucket") &&
            col("m.bucket") <= col("hi.bucket"))
          .groupBy(col("lo.bucket").as("j"), col("hi.bucket").as("k"))
          .agg((sum(col("m.f")).cast("double") /
                sum(col("m.n")).cast("double")).as("a"))
        // fit_i = max_{j<=i} min_{k>=i} A(j,k)
        val inner = b.select(col("bucket").as("i"))
          .join(iv, col("j") <= col("i") && col("k") >= col("i"))
          .groupBy(col("i"), col("j")).agg(min(col("a")).as("mn"))
        val fit = inner.groupBy(col("i")).agg(max(col("mn")).as("iso"))
        buckets.join(fit, col("bucket") === col("i"))
          .select(col("bucket"), col("n"),
                  round(col("f").cast("double") / col("n").cast("double"), 6)
                    .as("raw_rate"),
                  round(col("iso"), 6).as("iso_rate"))
          .orderBy("bucket")
      },
      Some("""WITH mx AS (SELECT max(o_totalprice) AS mx FROM orders),
             |bk AS (SELECT least(9, CAST(floor(o_totalprice * 10 / mx.mx) AS INT))
             |              AS bucket,
             |              CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS hit
             |       FROM orders CROSS JOIN mx),
             |b AS (SELECT bucket, count(*) AS n, sum(hit) AS f
             |      FROM bk GROUP BY bucket),
             |iv AS (SELECT lo.bucket AS j, hi.bucket AS k,
             |              CAST(sum(m.f) AS DOUBLE) / sum(m.n) AS a
             |       FROM b lo JOIN b hi ON lo.bucket <= hi.bucket
             |       JOIN b m ON m.bucket BETWEEN lo.bucket AND hi.bucket
             |       GROUP BY 1, 2),
             |inner_min AS (SELECT i.bucket AS i, iv.j, min(iv.a) AS mn
             |              FROM b i JOIN iv ON iv.j <= i.bucket AND iv.k >= i.bucket
             |              GROUP BY 1, 2),
             |fit AS (SELECT i, max(mn) AS iso FROM inner_min GROUP BY i)
             |SELECT b.bucket, b.n,
             |       round(CAST(b.f AS DOUBLE) / b.n, 6) AS raw_rate,
             |       round(fit.iso, 6) AS iso_rate
             |FROM b JOIN fit ON fit.i = b.bucket
             |ORDER BY b.bucket""".stripMargin)),

    // Range-cluster lineitem by l_shipdate into 8 files, build a
    // per-file (path, min, max) manifest in one scan, then answer a
    // date-range query by reading ONLY the files whose range overlaps.
    // The result must equal the plain full-scan filter (the oracle);
    // the pruned path list itself is the point — at a million files the
    // manifest is the difference between opening 8 footers and 8 000.
    "scan_manifest_minmax_skip" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_manifest").toString
        Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
                  to_date(col("l_shipdate")).as("ship_day"),
                  col("l_quantity"))
          .repartitionByRange(8, col("ship_day"))
          .write.mode("overwrite").parquet(dir)
        // one scan builds the manifest (a stored table in production)
        val manifest = s.read.parquet(dir)
          .groupBy(col("_metadata.file_path").as("path"))
          .agg(min(col("ship_day")).as("lo"), max(col("ship_day")).as("hi"))
          .collect()
        val (from, to) = ("1995-06-01", "1995-08-31")
        val keep = manifest
          .filter(r => r.getDate(1).toString <= to && r.getDate(2).toString >= from)
          .map(_.getString(0))
        require(keep.nonEmpty && keep.length < manifest.length,
                s"manifest must actually skip files (${keep.length}/${manifest.length})")
        s.read.parquet(keep: _*)
          .filter(col("ship_day").between(from, to))
          .groupBy(col("ship_day"))
          .agg(count(lit(1)).as("n"),
               sum(col("l_quantity")).cast("bigint").as("qty"))
          .orderBy("ship_day")
      },
      Some("""SELECT CAST(l_shipdate AS DATE) AS ship_day, count(*) AS n,
             |       CAST(sum(l_quantity) AS BIGINT) AS qty
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE)
             |      BETWEEN DATE '1995-06-01' AND DATE '1995-08-31'
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    // Split conformal prediction (distribution-free
    // prediction intervals — the modern ML-ops way to attach coverage
    // guarantees to ANY point model: train on one split, take the
    // ceil(0.9·(n+1))-th smallest absolute calibration residual as the
    // interval half-width, verify coverage on a held-out split) and the
    // sequential probability ratio test (Wald's SPRT — the
    // always-valid-inference primitive behind modern sequential A/B
    // platforms: walk the daily log-likelihood ratio and stop at the
    // first boundary crossing).
    //
    // Determinism: the OLS fit folds EXACT BIGINT sums (quantity is
    // integral, prices are cents), so slope/intercept are the same IEEE
    // doubles in both engines; calibration residuals live on the integer
    // cent grid, which makes the conformal quantile an exact integer
    // order statistic. SPRT's LLR is integer counts × the same ln()
    // constants, cumulated over the bounded 30-day spine.
    //
    // Scale shape: the conformal quantile is the distributed two-pass
    // prefix sum (PrefixSum.cumsumLong — NO unpartitioned data-sized
    // window anywhere); everything else is one aggregate per split. SPRT
    // reduces the corpus to the day grid in one aggregate.

    "agg_conformal_interval" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(pmod(col("l_orderkey"), lit(3L)).as("split"),
                  col("l_quantity").cast("bigint").as("x"),
                  round(col("l_extendedprice") * 100).cast("bigint").as("yc"))
        // exact-integer OLS sums on the train split (ONE scan)
        val fit = li.filter(col("split") === 0)
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
               sum(col("x") * col("x")).as("sxx"),
               sum(col("yc")).as("sy"), sum(col("x") * col("yc")).as("sxy"))
          .withColumn("slope",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .select(col("slope"),
                  ((col("sy").cast("double") - col("slope") *
                    col("sx").cast("double")) / col("n").cast("double"))
                    .as("icept"))
        // calibration residuals on the integer cent grid
        val cal = li.filter(col("split") === 1)
          .crossJoin(broadcast(fit))
          .select(abs(col("yc") - round(col("slope") * col("x") + col("icept"))
                        .cast("bigint")).as("resc"))
        // n_cal and k computed RELATIONALLY from the residual GRID (Σ cnt
        // == count of cal rows — same integer, one fewer cal scan than the
        // former cal.count() aggregate), still fully LAZY: this key's
        // declared contract is zero jobs before an action (round-10
        // verdict; Round11pSpec gates it), so the round-13 eager-grid
        // checkpoint the rest of the quantile family took is NOT available
        // here — the grid recompute is the price of the laziness contract.
        val counts = cal.groupBy("resc").agg(count(lit(1)).as("cnt"))
        val kk = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_cal"))
          .withColumn("k",
            ceil(lit(0.9) * (col("n_cal") + 1)).cast("bigint"))
        val qhat = PrefixSum.cumsumLong(counts, Seq(col("resc").asc),
                                        col("cnt"), "cum")
          .crossJoin(broadcast(kk))
          .filter(col("cum") >= col("k"))
          .agg(min(col("resc")).as("qhat_cents"))
        // held-out coverage: P(|residual| <= qhat) on the test split
        val test = li.filter(col("split") === 2)
          .crossJoin(broadcast(fit))
          .select(abs(col("yc") - round(col("slope") * col("x") + col("icept"))
                        .cast("bigint")).as("resc"))
        test.crossJoin(broadcast(qhat))
          .agg(first(col("qhat_cents")).as("qhat_cents"),
               count(lit(1)).as("n_test"),
               sum(when(col("resc") <= col("qhat_cents"), 1L).otherwise(0L))
                 .as("covered"))
          // n_cal from the one-row total: the quantile filter's rows are
          // empty whenever k > n_cal, e.g. on an empty calibration set
          .crossJoin(broadcast(kk))
          .crossJoin(broadcast(fit))
          .select(col("n_cal"), col("n_test"),
                  round(col("slope"), 6).as("slope"),
                  round(col("icept"), 6).as("intercept_cents"),
                  col("qhat_cents"),
                  round(col("covered").cast("double") /
                        col("n_test").cast("double"), 6).as("coverage"))
      },
      Some("""WITH li AS (SELECT l_orderkey % 3 AS split,
             |                   CAST(l_quantity AS BIGINT) AS x,
             |                   CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
             |            FROM lineitem),
             |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             |             sum(yc) AS sy, sum(x * yc) AS sxy
             |      FROM li WHERE split = 0),
             |fit AS (SELECT
             |    CAST(n * sxy - sx * sy AS DOUBLE) /
             |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             |    (CAST(sy AS DOUBLE) -
             |     (CAST(n * sxy - sx * sy AS DOUBLE) /
             |      CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             |      / CAST(n AS DOUBLE) AS icept
             |  FROM s),
             |cal AS (SELECT abs(yc - CAST(round(fit.slope * x + fit.icept)
             |                             AS BIGINT)) AS resc
             |        FROM li CROSS JOIN fit WHERE split = 1),
             |nc AS (SELECT count(*) AS n_cal FROM cal),
             |kk AS (SELECT CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT) AS k,
             |              n_cal FROM nc),
             |cum AS (SELECT resc, sum(cnt) OVER (ORDER BY resc) AS cum FROM (
             |          SELECT resc, count(*) AS cnt FROM cal GROUP BY resc)),
             |q AS (SELECT min(resc) AS qhat_cents FROM cum CROSS JOIN kk
             |      WHERE cum >= kk.k),
             |t AS (SELECT abs(yc - CAST(round(fit.slope * x + fit.icept)
             |                           AS BIGINT)) AS resc
             |      FROM li CROSS JOIN fit WHERE split = 2)
             |SELECT kk.n_cal, count(*) AS n_test,
             |       round(fit.slope, 6) AS slope,
             |       round(fit.icept, 6) AS intercept_cents,
             |       q.qhat_cents,
             |       round(CAST(sum(CASE WHEN t.resc <= q.qhat_cents
             |                           THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 6) AS coverage
             |FROM t CROSS JOIN q CROSS JOIN fit CROSS JOIN kk
             |GROUP BY kk.n_cal, fit.slope, fit.icept, q.qhat_cents""".stripMargin)),

    // Wald SPRT on the daily purchase-share series: H0 p=0.18 vs
    // H1 p=0.22, α=β=0.05 → boundaries ±ln(19). Per day: counts, the
    // day's LLR, the cumulative LLR, and whether the test has stopped
    // (first crossing latches).
    "agg_sprt_sequential" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (p0, p1) = (0.18, 0.22)
        val lc = math.log(p1 / p0)
        val ln = math.log((1 - p1) / (1 - p0))
        val bound = math.log(19.0)
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
                 .as("conv"))
        // the day spine is calendar-bounded: a 30-row window, not a
        // data-sized one
        val wCum = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val scored = daily
          .withColumn("llr", col("conv") * lc + (col("n") - col("conv")) * ln)
          .withColumn("cum_llr", sum(col("llr")).over(wCum))
          .withColumn("crossed",
            abs(col("cum_llr")) >= bound)
        val firstCross = scored.filter(col("crossed"))
          .agg(min(col("day")).as("cross_day"))
        scored.crossJoin(broadcast(firstCross))
          .select(col("day"), col("n"), col("conv"),
                  round(col("llr"), 6).as("llr"),
                  round(col("cum_llr"), 6).as("cum_llr"),
                  when(col("cross_day").isNotNull &&
                       col("day") >= col("cross_day"),
                       when(col("cum_llr") >= 0, lit("accept_h1"))
                         .otherwise(lit("accept_h0")))
                    .otherwise(lit("continue")).as("decision"))
          .orderBy("day")
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
              |         -- R12: sum(CASE …) is HUGEINT in DuckDB; cast to BIGINT
              |         CAST(sum(CASE WHEN event_type = 'purchase'
              |                       THEN 1 ELSE 0 END) AS BIGINT)
              |           AS conv
              |  FROM events GROUP BY 1),
              |scored AS (SELECT *,
              |    -- CAST: bare numeric literals type as DECIMAL in DuckDB,
              |    -- which the driver's hash encodes engine-specifically
              |    conv * CAST(${math.log(0.22 / 0.18)} AS DOUBLE) +
              |    (n - conv) * CAST(${math.log(0.78 / 0.82)} AS DOUBLE) AS llr
              |  FROM daily),
              |cum AS (SELECT *, sum(llr) OVER (ORDER BY day) AS cum_llr
              |        FROM scored),
              |fc AS (SELECT min(day) AS cross_day FROM cum
              |       WHERE abs(cum_llr) >= ${math.log(19.0)})
              |SELECT day, n, conv, round(llr, 6) AS llr,
              |       round(cum_llr, 6) AS cum_llr,
              |       CASE WHEN fc.cross_day IS NOT NULL AND day >= fc.cross_day
              |            THEN CASE WHEN cum_llr >= 0 THEN 'accept_h1'
              |                      ELSE 'accept_h0' END
              |            ELSE 'continue' END AS decision
              |FROM cum CROSS JOIN fc
              |ORDER BY day""".stripMargin)),

    // Extreme-value analytics — a Gumbel fit on the
    // daily-maximum order value with return levels (the "what's the
    // 1-in-365-day order?" question capacity planning and risk teams ask
    // of any revenue stream; method-of-moments is the closed-form fit, so
    // it needs exactly one aggregate) and the Hodges-Lehmann pseudo-median
    // of the day-over-day purchase change (the classical robust location
    // estimator — median of all pairwise Walsh averages — 29 diffs →
    // 435 bounded pairs).
    //
    // Determinism: both keys reduce to exact sums first. Gumbel moments
    // come from DECIMAL(38,0) Σx and Σx² over integer cents (overflow-
    // free, associativity-free); β = s·√6/π and the return-level factors
    // ln(−ln(1−1/T)) are Scala-computed literals interpolated into BOTH
    // engines' expressions (the lgs discipline, Round11q), so no engine
    // libm ln is ever compared against another. sqrt is IEEE-exact in
    // both. Hodges-Lehmann medians run over integer/half-integer Walsh
    // grids that doubles carry exactly.
    //
    // Scale shape: one shuffle each to the calendar-day grid; the Walsh
    // self-join is 29×29 on the bounded diff spine (broadcast, never
    // corpus-sized).

    // Gumbel method-of-moments on daily max order cents: β = s·√6/π,
    // μ = x̄ − γβ, return level x_T = μ − β·ln(−ln(1−1/T)).
    "agg_gumbel_return_period" -> Decl(
      (s, d) => {
        val daily = Tables(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(max(round(col("o_totalprice") * 100).cast("bigint")).as("mx"))
        daily.agg(
            count(lit(1)).as("n"),
            sum(col("mx").cast("decimal(38,0)")).as("sx"),
            sum((col("mx") * col("mx")).cast("decimal(38,0)")).as("sxx"))
          .withColumn("mean", col("sx").cast("double") / col("n"))
          .withColumn("variance",
            (col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") / col("n")) /
              (col("n") - 1))
          .withColumn("std", sqrt(col("variance")))
          .withColumn("beta", col("std") * lit(rootSixOverPi))
          .withColumn("mu", col("mean") - lit(gamma) * col("beta"))
          .select(col("n").cast("bigint").as("n_days"),
                  round(col("mean"), 6).as("mean_cents"),
                  round(col("std"), 6).as("std_cents"),
                  round(col("mu"), 6).as("mu"),
                  round(col("beta"), 6).as("beta"),
                  round(col("mu") - col("beta") * lit(kT(10)), 6).as("rl_10d"),
                  round(col("mu") - col("beta") * lit(kT(100)), 6).as("rl_100d"),
                  round(col("mu") - col("beta") * lit(kT(365)), 6).as("rl_365d"))
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(o_orderdate AS DATE) AS day,
              |         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
              |  FROM orders GROUP BY 1),
              |sums AS (
              |  SELECT CAST(count(*) AS DOUBLE) AS n,
              |         CAST(sum(CAST(mx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
              |         CAST(sum(CAST(mx * mx AS DECIMAL(38,0))) AS DOUBLE) AS sxx
              |  FROM daily),
              |fit AS (
              |  SELECT n, sx / n AS mean,
              |         sqrt((sxx - sx * sx / n) / (n - 1)) AS std
              |  FROM sums),
              |par AS (
              |  SELECT n, mean, std,
              |         std * CAST($rootSixOverPi AS DOUBLE) AS beta
              |  FROM fit),
              |par2 AS (
              |  SELECT n, mean, std, beta,
              |         mean - CAST($gamma AS DOUBLE) * beta AS mu
              |  FROM par)
              |SELECT CAST(n AS BIGINT) AS n_days,
              |       round(mean, 6) AS mean_cents,
              |       round(std, 6) AS std_cents,
              |       round(mu, 6) AS mu,
              |       round(beta, 6) AS beta,
              |       round(mu - beta * CAST(${kT(10)} AS DOUBLE), 6) AS rl_10d,
              |       round(mu - beta * CAST(${kT(100)} AS DOUBLE), 6) AS rl_100d,
              |       round(mu - beta * CAST(${kT(365)} AS DOUBLE), 6) AS rl_365d
              |FROM par2""".stripMargin)),

    // Hodges-Lehmann pseudo-median of the day-over-day purchase-count
    // change: 29 diffs on the calendar spine, 435 Walsh averages,
    // median of the bounded grid. The plain median rides along for
    // contrast.
    "agg_hodges_lehmann" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("x"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("x"), lit(0L)).as("x"))
        val diffs = spine.as("a")
          .join(spine.as("b"), col("b.t") === col("a.t") - 1)
          .select(col("a.t").as("t"),
                  (col("a.x") - col("b.x")).as("diff"))
        val walsh = diffs.as("p")
          .join(broadcast(diffs.as("q")), col("p.t") <= col("q.t"))
          .select(((col("p.diff") + col("q.diff")).cast("double") / 2)
                    .as("w"))
        val hl = walsh.agg(count(lit(1)).as("n_pairs"),
                           median(col("w")).as("hl"))
        val plain = diffs.agg(median(col("diff").cast("double")).as("med"))
        hl.crossJoin(broadcast(plain))
          .select(col("n_pairs"),
                  round(col("hl"), 6).as("hl_shift"),
                  round(col("med"), 6).as("plain_median"))
      },
      Some("""WITH daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         count(*) AS x
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(x, 0) AS BIGINT) AS x
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |diffs AS (
             |  SELECT a.t, a.x - b.x AS diff
             |  FROM spine a JOIN spine b ON b.t = a.t - 1),
             |walsh AS (
             |  SELECT CAST(p.diff + q.diff AS DOUBLE) / 2 AS w
             |  FROM diffs p JOIN diffs q ON p.t <= q.t)
             |SELECT (SELECT count(*) FROM walsh) AS n_pairs,
             |       round((SELECT median(w) FROM walsh), 6) AS hl_shift,
             |       round((SELECT median(CAST(diff AS DOUBLE)) FROM diffs), 6)
             |         AS plain_median""".stripMargin)),

    // The remaining two classical k-group tests — the
    // Brown-Forsythe/Levene variance-homogeneity check (one-way ANOVA on
    // absolute deviations from group MEDIANS — the robust pre-ANOVA gate:
    // heteroscedastic groups invalidate the pooled-variance F) and the
    // Friedman repeated-measures rank test (do the five event types keep
    // the same volume ORDER across the 30 days, or does at least one
    // systematically run higher?).
    //
    // Determinism: Brown-Forsythe works in DOUBLED deviations |2x − 2·med|
    // — group medians on the integer cent grid interpolate to halves, so
    // 2·med is an integer and every deviation is BIGINT; Σz and Σz² ride
    // DECIMAL(38,0), the five per-group F terms fold in group order, and
    // the doubling cancels in the F ratio. Friedman works in DOUBLED
    // average ranks (integers even at ties); with r = dr/2 the tie-robust
    // statistic collapses to an ALL-INTEGER ratio
    // (k−1)(ΣR2² − n²k(k+1)²)/(Σdr² − nk(k+1)²) — one double division at
    // the end.
    //
    // Scale shape: Brown-Forsythe is two corpus aggregates (grid medians,
    // then deviation sums) + a 5-row broadcast. Friedman runs entirely on
    // the 30×5 calendar grid.

    // Brown-Forsythe: F on z_ij = |x_ij − median_g| across the five
    // event types' value distributions.
    "agg_levene_test" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type").as("g"),
                  round(col("value") * 100).cast("bigint").as("c"))
        val med = ev.groupBy("g")
          .agg((median(col("c")) * 2).cast("bigint").as("dmed"))
        val dev = ev.join(broadcast(med), "g")
          .select(col("g"), abs(col("c") * 2 - col("dmed")).as("z2"))
        val perGroup = dev.groupBy("g")
          .agg(count(lit(1)).as("ng"),
               sum(col("z2").cast("decimal(38,0)")).as("s1"),
               sum((col("z2") * col("z2")).cast("decimal(38,0)")).as("s2"))
        val glob = perGroup.agg(
          sum(col("ng")).as("n"),
          sum(col("s1")).as("gs1"),
          count(lit(1)).as("k"))
        perGroup.crossJoin(broadcast(glob))
          .withColumn("mg", col("s1").cast("double") / col("ng"))
          .withColumn("m", col("gs1").cast("double") / col("n"))
          .withColumn("between_t",
            col("ng") * (col("mg") - col("m")) * (col("mg") - col("m")))
          .withColumn("within_t",
            col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") / col("ng"))
          .groupBy("n", "k")
          .agg(expr("round(aggregate(array_sort(collect_list(struct(g, between_t))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.between_t), 6)")
                 .as("between"),
               expr("round(aggregate(array_sort(collect_list(struct(g, within_t))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.within_t), 6)")
                 .as("within"))
          .select(col("k").cast("bigint").as("k_groups"),
                  col("n").cast("bigint").as("n"),
                  round((col("between") / (col("k") - 1)) /
                          (col("within") / (col("n") - col("k"))), 6)
                    .as("bf_f"),
                  (round((col("between") / (col("k") - 1)) /
                           (col("within") / (col("n") - col("k"))), 6) > 2.372)
                    .as("heteroscedastic"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type AS g,
             |         CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |med AS (SELECT g, CAST(median(c) * 2 AS BIGINT) AS dmed
             |        FROM ev GROUP BY g),
             |dev AS (SELECT ev.g, abs(c * 2 - dmed) AS z2
             |        FROM ev JOIN med USING (g)),
             |pg AS (SELECT g, count(*) AS ng,
             |              sum(CAST(z2 AS DECIMAL(38,0))) AS s1,
             |              sum(CAST(z2 * z2 AS DECIMAL(38,0))) AS s2
             |       FROM dev GROUP BY g),
             |gl AS (SELECT CAST(sum(ng) AS DOUBLE) AS n,
             |              CAST(sum(s1) AS DOUBLE) AS gs1,
             |              count(*) AS k FROM pg),
             |terms AS (
             |  SELECT g, ng, n, k,
             |         ng * (CAST(s1 AS DOUBLE) / ng - gs1 / n) *
             |              (CAST(s1 AS DOUBLE) / ng - gs1 / n) AS between_t,
             |         CAST(s2 AS DOUBLE) -
             |           CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / ng AS within_t
             |  FROM pg CROSS JOIN gl),
             |folded AS (
             |  SELECT n, k,
             |         round(list_sum(list(between_t ORDER BY g)), 6) AS between_s,
             |         round(list_sum(list(within_t ORDER BY g)), 6) AS within_s
             |  FROM terms GROUP BY n, k)
             |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
             |       round((between_s / (k - 1)) / (within_s / (n - k)), 6) AS bf_f,
             |       round((between_s / (k - 1)) / (within_s / (n - k)), 6) > 2.372
             |         AS heteroscedastic
             |FROM folded""".stripMargin)),

    // Friedman: doubled within-day average ranks of the five types'
    // daily counts; all-integer tie-robust statistic.
    "agg_friedman_test" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, d)
          .groupBy(col("event_type").as("g"),
                   datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("y"))
        val spine = daily.select(col("g")).distinct()
          .crossJoin(broadcast(s.range(1, 31).select(col("id").as("t"))))
          .join(daily, Seq("g", "t"), "left")
          .select(col("g"), col("t"), coalesce(col("y"), lit(0L)).as("y"))
        val dr = spine
          .withColumn("rk",
            rank().over(Window.partitionBy("t").orderBy("y")))
          .withColumn("ties",
            count(lit(1)).over(Window.partitionBy("t", "y")))
          .withColumn("dr", lit(2) * col("rk") + col("ties") - 1)
        val perType = dr.groupBy("g")
          .agg(sum(col("dr")).as("r2"), sum(col("dr") * col("dr")).as("dr2"))
        perType.agg(
            count(lit(1)).as("k"),
            sum(col("r2") * col("r2")).as("sr2sq"),
            sum(col("dr2")).as("sdr2"))
          .withColumn("n", lit(30L))
          .withColumn("chi2",
            ((col("k") - 1) *
              (col("sr2sq") - col("n") * col("n") * col("k") *
                (col("k") + 1) * (col("k") + 1)).cast("double")) /
              (col("sdr2") - col("n") * col("k") *
                (col("k") + 1) * (col("k") + 1)).cast("double"))
          .select(col("n").cast("bigint").as("n_blocks"),
                  col("k").cast("bigint").as("k_treatments"),
                  round(col("chi2"), 6).as("friedman_chi2"),
                  (round(col("chi2"), 6) > 9.488).as("reject_h0"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS g,
             |         date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |spine AS (
             |  SELECT e.g, gs.t, CAST(coalesce(d.y, 0) AS BIGINT) AS y
             |  FROM (SELECT DISTINCT g FROM daily) e
             |  CROSS JOIN generate_series(1, 30) gs(t)
             |  LEFT JOIN daily d ON d.g = e.g AND d.t = gs.t),
             |dr AS (
             |  SELECT g, t, y,
             |         2 * rank() OVER (PARTITION BY t ORDER BY y) +
             |           count(*) OVER (PARTITION BY t, y) - 1 AS dr
             |  FROM spine),
             |pt AS (SELECT g, sum(dr) AS r2, sum(dr * dr) AS dr2
             |       FROM dr GROUP BY g),
             |agg AS (SELECT count(*) AS k, sum(r2 * r2) AS sr2sq,
             |               sum(dr2) AS sdr2, 30 AS n
             |        FROM pt)
             |SELECT CAST(n AS BIGINT) AS n_blocks,
             |       CAST(k AS BIGINT) AS k_treatments,
             |       round(((k - 1) * CAST(sr2sq - n*n*k*(k+1)*(k+1) AS DOUBLE)) /
             |             CAST(sdr2 - n*k*(k+1)*(k+1) AS DOUBLE), 6)
             |         AS friedman_chi2,
             |       round(((k - 1) * CAST(sr2sq - n*n*k*(k+1)*(k+1) AS DOUBLE)) /
             |             CAST(sdr2 - n*k*(k+1)*(k+1) AS DOUBLE), 6) > 9.488
             |         AS reject_h0
             |FROM agg""".stripMargin)),

    // Training-data-pipeline surface that the first
    // three rounds left uncovered, each with a DuckDB oracle.
    //
    // 100 TB notes per key are inline; the common theme is that every query is
    // either a pure per-row projection/filter (redaction, weighted sampling —
    // runs at scan speed, no shuffle) or a *blocked/bucketed* pair generator
    // (edit-distance dedup, bucketized range join — the pair space is bounded
    // by a key before any quadratic work happens).

    // ------------------------------------------------------------ text
    // PII redaction — the scrub pass every LLM training corpus runs before
    // anything else. The fixtures' word-soup text contains no natural PII,
    // so the input is *constructed deterministically from columns* (an
    // email and a phone per event) and then redacted; the assertions are
    // real because every row is guaranteed one match of each class.
    // Pure per-row regexp projection: at 100 TB this is scan-speed,
    // shuffle-free, and codegen'd (regexp_replace/regexp_count are native
    // expressions with compiled-pattern caching per task).
    "text_pii_redact" -> Decl(
      (s, d) => {
        val raw = concat(
          lit("contact user"), col("user_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad(pmod(col("event_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" re "), col("event_type"))
        Tables.events(s, d)
          .select(
            col("event_id"),
            regexp_replace(regexp_replace(raw, EmailRe, "<EMAIL>"),
                           PhoneRe, "<PHONE>").as("redacted"),
            (regexp_count(raw, lit(EmailRe)) +
             regexp_count(raw, lit(PhoneRe))).as("n_redactions"))
          .orderBy("event_id")
      },
      Some(s"""WITH raw AS (
             |  SELECT event_id,
             |  'contact user' || CAST(user_id AS VARCHAR) || '@example.com or +1-555-' ||
             |  lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') || ' re ' || event_type AS t
             |  FROM events)
             |SELECT event_id,
             |  regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
             |                 '$PhoneRe', '<PHONE>', 'g') AS redacted,
             |  CAST(len(regexp_extract_all(t, '$EmailRe')) +
             |       len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_redactions
             |FROM raw ORDER BY event_id""".stripMargin)),

    // ---------------------------------------------------------- dedup
    // Edit-distance near-dup — the fuzzy-match family the MinHash/SimHash
    // keys don't cover (they see token sets; Levenshtein sees character
    // edits, catching typo-grade dups). Quadratic in the BLOCK, never the
    // corpus: pairs form only within (lang, source) and the distance runs
    // on a fixed 40-char prefix, so per-pair cost is bounded O(40²).
    // SCALE HONESTY (round-10 ScaleProbe): the fixture's (lang, source)
    // cardinality is fixed, so blocks grow with the corpus and pair count
    // grows quadratically — the probe measured 18× time at 10× data. That
    // is the exact-all-pairs-in-block LOWER BOUND of this declared
    // semantics (radius 20 of 40 chars defeats every lossless banding:
    // pigeonhole needs 21 bands of <2 chars). The linear-scaling
    // production shape is the candidate-gated variant declared right
    // below (dedup_edit_candidates). Threshold 20 on a 40-char prefix
    // admits only the planted near-dups (random word-soup pairs measure
    // ≥21, probed at sf0.01/sf0.1).
    "dedup_edit_distance" -> Decl(
      (s, d) => {
        val p = Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
                  substring(col("text"), 1, 40).as("p"))
        // Repartition the probe side BEFORE the join: the corpus parquet is
        // one row group (one scan partition), and the small build side gets
        // broadcast — without this the entire quadratic pair-gen +
        // distance loop pipelines on a single core (measured: ~4.5 s with
        // ~1-core utilization at sf0.1). The partition count must be
        // EXPLICIT: the probe rows are only ~100 B each, so AQE's
        // size-based coalescing folds a bare repartition(col) back into one
        // partition — it can't see that the join fans each row out into a
        // block's worth of pairs with an O(len²) residual per pair.
        val a = p.select(col("doc_id").as("id_a"), col("lang"), col("source"),
                         col("p").as("pa"))
          .repartition(s.sparkContext.defaultParallelism, col("id_a"))
        val b = p.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
                         col("source").as("source_b"), col("p").as("pb"))
        // 3-arg banded levenshtein early-exits above the threshold
        // (returns -1) — same output, less work per pair.
        a.join(b, col("lang") === col("lang_b") &&
                  col("source") === col("source_b") &&
                  col("id_a") < col("id_b"))
          .withColumn("dist", levenshtein(col("pa"), col("pb"), 20))
          .filter(col("dist") >= 0)
          .select("id_a", "id_b", "dist")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id, lang, source, substring(text, 1, 40) AS p
             |           FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       levenshtein(a.p, b.p) AS dist
             |FROM p a JOIN p b
             |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.p, b.p) <= 20
             |ORDER BY id_a, id_b""".stripMargin)),

    // The LINEAR-scaling edit-distance dedup: candidate pairs come from
    // the df≤32-capped word-bigram inverted index (dedup_ngram_jaccard's
    // exact candidate rule — pairs per doc bounded by df·|shingles|, not
    // block size), then the O(len·threshold) banded Levenshtein verifies
    // candidates only. The candidate gate is PART of the declared
    // semantics (mirrored exactly in the oracle), the same contract
    // discipline as the df cap in dedup_ngram_jaccard: typo-grade dups
    // share almost all bigrams, so rare-shingle co-occurrence recovers
    // them without ever enumerating a block. Candidate and verify joins
    // are all pinned shuffle_hash — nothing corpus-sized broadcasts.
    "dedup_edit_candidates" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val p = Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
                  substring(col("text"), 1, 40).as("p"),
                  split(col("text"), " ").as("t"))
        val sh = p.filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("lang"), col("source"),
                  explode(expr("array_distinct(transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', t[i + 1])))"))
                    .as("g"))
        val dfc = sh.groupBy("lang", "source", "g").agg(count(lit(1)).as("df"))
        // the distinct-shingle df table grows with the corpus — pin the
        // cap join shuffle_hash so it can never broadcast
        val kept = sh
          .join(dfc.filter(col("df") <= 32).drop("df").hint("shuffle_hash"),
                Seq("lang", "source", "g"))
          .repartition(n, col("lang"), col("source"), col("g"))
        val cand = kept.as("a")
          .join(kept.as("b").hint("shuffle_hash"),
                col("a.lang") === col("b.lang") &&
                col("a.source") === col("b.source") &&
                col("a.g") === col("b.g") &&
                col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        cand
          .repartition(n, col("id_a"))
          .join(p.select(col("doc_id").as("id_a"), col("p").as("pa"))
                  .hint("shuffle_hash"), "id_a")
          .join(p.select(col("doc_id").as("id_b"), col("p").as("pb"))
                  .hint("shuffle_hash"), "id_b")
          .withColumn("dist", levenshtein(col("pa"), col("pb"), 20))
          .filter(col("dist") >= 0)
          .select("id_a", "id_b", "dist")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id, lang, source, substring(text, 1, 40) AS p,
             |                  string_split(text, ' ') AS t
             |           FROM documents),
             |sh AS (SELECT DISTINCT doc_id, lang, source, g FROM (
             |  SELECT doc_id, lang, source,
             |         unnest(list_transform(generate_series(1, len(t) - 1),
             |                               i -> t[i] || ' ' || t[i + 1])) AS g
             |  FROM p WHERE len(t) >= 2)),
             |dfx AS (SELECT lang, source, g, count(*) AS df
             |        FROM sh GROUP BY 1, 2, 3),
             |kept AS (SELECT sh.doc_id, sh.lang, sh.source, sh.g
             |         FROM sh JOIN dfx USING (lang, source, g) WHERE df <= 32),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM kept a JOIN kept b
             |           ON a.lang = b.lang AND a.source = b.source
             |          AND a.g = b.g AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, levenshtein(pa.p, pb.p) AS dist
             |FROM cand JOIN p pa ON pa.doc_id = id_a
             |          JOIN p pb ON pb.doc_id = id_b
             |WHERE levenshtein(pa.p, pb.p) <= 20
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------- agg
    // Deterministic per-group mode (heavy hitter): most frequent order
    // priority per status. Spark's native mode() is tie-nondeterministic
    // (and sf0.001 HAS a tie in status P, probed), so both engines use the
    // relational formulation with an explicit tie-break — count desc, then
    // lowest value. Two bounded-key shuffles (group count + 3-partition
    // window); at 100 TB the count is partial-aggregated map-side, so the
    // shuffle carries one row per (status, priority), not per order.
    "agg_mode_freq" -> Decl(
      (s, d) => {
        val counts = Tables(s, d, "orders")
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("cnt").desc, col("o_orderpriority").asc)
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderstatus"),
                  col("o_orderpriority").as("mode_priority"), col("cnt"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, mode_priority, cnt FROM (
             |  SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt,
             |  row_number() OVER (PARTITION BY o_orderstatus
             |       ORDER BY cnt DESC, o_orderpriority ASC) AS rn
             |  FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
             |        FROM orders GROUP BY 1, 2))
             |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),

    // Ordered string aggregation — LISTAGG ... WITHIN GROUP, the SQL:2016
    // surface (Spark 4 native). DISTINCT bounds the result to the 5
    // priority values, so the aggregated string can't grow with the data;
    // an unbounded LISTAGG at 100 TB would be a driver-sized string per
    // group and is exactly what this formulation avoids.
    "agg_listagg" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT o_orderstatus,
                |listagg(DISTINCT o_orderpriority, ',')
                |  WITHIN GROUP (ORDER BY o_orderpriority) AS prios
                |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderstatus,
             |string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---------------------------------------------------------- window
    // Distribution analytics: cume_dist + nth_value over a tie-broken
    // order (R2). nth_value uses the explicit whole-partition frame on
    // both engines — the default running frame would make row N's value
    // depend on its position, which is a cross-engine trap.
    "window_distribution" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
                  round(cume_dist().over(w), 6).as("cd"),
                  nth_value(col("o_orderkey"), 2).over(whole).as("second_key"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |round(cume_dist() OVER w, 6) AS cd,
             |nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice ASC, o_orderkey ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice ASC, o_orderkey ASC)
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------ join
    // Bucketized range join — the scale rewrite for a PURE range predicate
    // (no equi key at all). Naive planning is a nested-loop over
    // |orders|×|lineitem|; instead each order's 2-day window explodes into
    // its covered day buckets (sequence → explode, exactly 3 days) and each
    // lineitem lands in its one day bucket, turning the θ-join into an
    // equi join on `day` + a cheap residual. Replication factor = window
    // span / bucket width (3 here) — constant, data-independent. At
    // 100 TB: the same rewrite with a composite (day, hash-salt) key if a
    // single day is executor-hot. join_interval_overlap covers the
    // easier equi-key+range case; this is the no-key case.
    "join_range_bucketed" -> Decl(
      (s, d) => {
        val o = Tables(s, d, "orders")
          .filter(col("o_totalprice") > 490000)
          .select(col("o_orderkey"), col("o_orderdate"))
          .withColumn("day", explode(sequence(
            to_date(col("o_orderdate")),
            to_date(col("o_orderdate") + expr("INTERVAL 2 DAYS")))))
        val l = Tables(s, d, "lineitem")
          .select(col("l_shipdate"), col("l_extendedprice"))
          .withColumn("day", to_date(col("l_shipdate")))
        o.join(l, Seq("day"))
          .filter(col("l_shipdate") >= col("o_orderdate") &&
                  col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 2 DAYS"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_items"),
               round(sum(col("l_extendedprice")), 2).as("sum_price"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, count(*) AS n_items,
             |round(sum(l_extendedprice), 2) AS sum_price
             |FROM orders o JOIN lineitem l
             |  ON l.l_shipdate >= o.o_orderdate
             | AND l.l_shipdate < o.o_orderdate + INTERVAL 2 DAY
             |WHERE o.o_totalprice > 490000
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // URL canonicalization dedup — the web-corpus pass that collapses crawl
    // duplicates: case-insensitive scheme/host, trailing-slash variants,
    // and tracking query params all map to one canonical form. URLs are
    // constructed deterministically from event columns (scheme/host casing,
    // an every-third-row trailing slash, a utm_ param) so each
    // canonicalization rule provably fires. Pure per-row regexp + one
    // bounded-key groupBy — at 100 TB the canonical form is exactly the
    // dedup_exact hash-first shape, applied to URLs instead of text.
    "dedup_url_canonical" -> Decl(
      (s, d) => {
        val url = concat(
          lit("HTTP://Example"), pmod(col("user_id"), lit(5L)).cast("string"),
          lit(".COM/"), col("event_type"), lit("/"),
          pmod(col("event_id"), lit(7L)).cast("string"),
          when(pmod(col("event_id"), lit(3L)) === 0, "/").otherwise(""),
          lit("?utm_source=x&sid="), pmod(col("event_id"), lit(100L)).cast("string"))
        val host = lower(regexp_extract(url, "://([^/?#]+)", 1))
        val path = regexp_replace(regexp_extract(url, "://[^/?#]+([^?#]*)", 1), "/$", "")
        Tables.events(s, d)
          .select(concat(lit("https://"), host, path).as("canon_url"), col("event_id"))
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_dups"), min(col("event_id")).as("first_seen"))
          .orderBy("canon_url")
      },
      Some("""WITH u AS (
             |  SELECT event_id,
             |  'HTTP://Example' || CAST(user_id % 5 AS VARCHAR) || '.COM/' || event_type ||
             |  '/' || CAST(event_id % 7 AS VARCHAR) ||
             |  CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END ||
             |  '?utm_source=x&sid=' || CAST(event_id % 100 AS VARCHAR) AS url
             |  FROM events)
             |SELECT 'https://' || lower(regexp_extract(url, '://([^/?#]+)', 1)) ||
             |       regexp_replace(regexp_extract(url, '://[^/?#]+([^?#]*)', 1), '/$', '')
             |         AS canon_url,
             |       count(*) AS n_dups, min(event_id) AS first_seen
             |FROM u GROUP BY 1 ORDER BY canon_url""".stripMargin)),

    // HTML boilerplate strip — tag removal + entity decode + whitespace
    // collapse, the first step of any web-crawl text pipeline. The markup
    // is constructed around the fixture text so every rule fires on every
    // row. Scan-speed per-row regexps, shuffle-free.
    "text_html_strip" -> Decl(
      (s, d) => {
        val html = concat(
          lit("<div class=\"post\"><p>"), substring(col("text"), 1, 60),
          lit("</p><br/>&amp; <a href=\""), col("source"), lit("\">link</a></div>"))
        val stripped = trim(regexp_replace(
          regexp_replace(regexp_replace(html, "<[^>]+>", " "), "&amp;", "&"),
          " +", " "))
        Tables(s, d, "documents")
          .select(col("doc_id"), stripped.as("clean_text"),
                  regexp_count(html, lit("<[^>]+>")).as("n_tags"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |  '<div class="post"><p>' || substring(text, 1, 60) ||
             |  '</p><br/>&amp; <a href="' || source || '">link</a></div>' AS html
             |  FROM documents)
             |SELECT doc_id,
             |  trim(regexp_replace(
             |    replace(regexp_replace(html, '<[^>]+>', ' ', 'g'), '&amp;', '&'),
             |    ' +', ' ', 'g')) AS clean_text,
             |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS INT) AS n_tags
             |FROM h ORDER BY doc_id""".stripMargin)),

    // Approximate heavy hitters — Spark 4's approx_top_k sketch (mergeable,
    // one pass): THE 100 TB frequent-items pattern, where an exact
    // global count would shuffle every distinct value. No DuckDB twin
    // (sketch internals are impl-defined) — OperatorSpec bounds it against
    // the exact top-k instead, per the approximate-ops contract.
    "agg_approx_topk" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT item AS term, count AS cnt
                |FROM (SELECT inline(approx_top_k(l_returnflag, 3)) FROM lineitem)
                |ORDER BY cnt DESC, term ASC""".stripMargin)
      },
      None),

    // Mergeable quantile sketch rollup — KLL (DataSketches, Spark 4
    // native): one pass builds a sketch per group; the global quantile
    // comes from MERGING the group sketches, never re-scanning the data.
    // With HLL-union (distinct counts) and approx_top_k (frequent items)
    // this completes the mergeable-sketch trio every 100 TB profiling
    // pipeline runs. The merge folds collect_list of per-group sketches —
    // bounded by GROUP COUNT (3 here), not data size. Sketch internals are
    // impl-defined → oracle-N; OperatorSpec bounds both levels against
    // exact percentiles.
    "agg_kll_quantile_merge" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""WITH g AS (
                |  SELECT o_orderstatus, kll_sketch_agg_double(o_totalprice) AS sk
                |  FROM orders GROUP BY o_orderstatus),
                |per_group AS (
                |  SELECT o_orderstatus,
                |         round(kll_sketch_get_quantile_double(sk, 0.5), 2) AS p50,
                |         round(kll_sketch_get_quantile_double(sk, 0.9), 2) AS p90
                |  FROM g),
                |merged AS (
                |  SELECT 'ALL' AS o_orderstatus,
                |         round(kll_sketch_get_quantile_double(m, 0.5), 2) AS p50,
                |         round(kll_sketch_get_quantile_double(m, 0.9), 2) AS p90
                |  FROM (SELECT aggregate(slice(sks, 2, size(sks) - 1), sks[0],
                |                         (acc, x) -> kll_sketch_merge_double(acc, x)) AS m
                |        FROM (SELECT collect_list(sk) AS sks FROM g)))
                |SELECT * FROM per_group UNION ALL SELECT * FROM merged
                |ORDER BY o_orderstatus""".stripMargin)
      },
      None),

    // Character-entropy quality signal — Shannon entropy of the per-doc
    // character distribution, the classic gibberish/boilerplate filter
    // (natural text sits in a narrow entropy band; repeated padding or
    // random noise falls outside it). Entropy is a PER-ROW property, so it
    // is one native expression (`CharEntropy`: count chars, fold -Σ p·ln p
    // in one compiled loop) — a scan-speed projection with no shuffle,
    // replacing the round-4 relational form (explode every character, two
    // grouped shuffles over ~1.5M scalar rows; ~28 executor-CPU-seconds at
    // sf0.1 against <0.1 for the fold). Entropy is irrational, so the 6 dp
    // round can't sit on a cross-engine summation boundary (unlike the
    // rounded products text_quality_score had to guard).
    "text_char_entropy" -> Decl(
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
                round(graft.functions.SketchOps.charEntropy(col("text")), 6)
                  .as("char_entropy"))
        .filter(col("char_entropy").isNotNull) // empty text has no char rows
        .orderBy("doc_id"),
      Some("""WITH c AS (
             |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
             |f AS (SELECT doc_id, ch, count(*) AS c FROM c WHERE ch <> ''
             |      GROUP BY 1, 2),
             |n AS (SELECT doc_id, sum(c) AS n FROM f GROUP BY 1)
             |SELECT f.doc_id,
             |       round(-sum((c / n) * ln(c / n)), 6) AS char_entropy
             |FROM f JOIN n USING (doc_id) GROUP BY f.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------- sample
    // Quality-weighted sampling — keep probability scales with document
    // length (a stand-in for any per-row quality score), capped at 90%.
    // Same no-RNG discipline as split_train_holdout (R8): a multiplicative
    // hash ticket makes every engine and every retry agree per row. Pure
    // scan filter: no shuffle, runs at I/O speed at any scale.
    "sample_weighted" -> Decl(
      (s, d) => {
        val ticket = pmod(col("doc_id") * lit(741103597L), lit(1000L))
        val keepBelow = least(expr("n_chars div 2"), lit(900L))
        Tables(s, d, "documents")
          .filter(ticket < keepBelow)
          .select(col("doc_id"), col("n_chars"), ticket.as("ticket"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars, (doc_id * 741103597) % 1000 AS ticket
             |FROM documents
             |WHERE (doc_id * 741103597) % 1000 < least(n_chars // 2, 900)
             |ORDER BY doc_id""".stripMargin)),

    // The pretraining-corpus passes the first four
    // rounds left uncovered (eval-set decontamination by n-gram and by
    // Bloom-prefiltered content hash, repetition/NLL quality scoring,
    // context-window sequence packing, overlapping chunking, int8 embedding
    // quantization, domain-mixture rebalancing, funnel analysis) plus the
    // source/sink variants (text lines, binaryFile, mergeSchema evolution,
    // zstd) and the IN / null-free NOT IN subquery predicate paths. Each is
    // DuckDB-oracled.
    //
    // 100 TB notes inline; the common theme is the same as Round4: every
    // query is either a pure per-row projection/filter (repetition ratio,
    // quantization, rebalance keep-filter — scan speed, shuffle-free) or a
    // broadcast-dim / bounded-key shape (decontamination joins the corpus
    // against the SMALL benchmark gram/hash set; packing windows within
    // shards; the LM and per-domain stat tables broadcast like dimensions).

    // ---------------------------------------------------- decontamination
    // Benchmark decontamination — THE pass every pretraining corpus runs
    // before training: drop/flag any training doc sharing a word n-gram
    // with the held-out eval set. The fixture corpus has no natural eval
    // set, so one is CONSTRUCTED deterministically (docs with
    // doc_id % 100 = 7, last two tokens dropped — the same perturbation
    // family the near-dup operators plant), which guarantees each of those
    // originals is provably contaminated. 5-grams are hashed to 64 bits
    // per row (ShingleHashSet — the per-row distinct set, no global
    // dedup shuffle); the eval gram set is DISTINCT'd and broadcast, so
    // the corpus side is one scan + one bounded per-doc count. At 100 TB
    // the eval set is KBs-to-MBs (a benchmark suite) against TBs of
    // corpus: broadcast-semi-join at scan speed is exactly the right
    // asymmetry, and the output is per-contaminated-doc, not per-gram.
    "decontaminate_ngram" -> Decl(
      (s, d) => {
        val docs = Pipeline.docsWithTokens(s, d).select(col("doc_id"), col("toks"))
        val evalGrams = docs.filter(pmod(col("doc_id"), lit(100L)) === 7)
          .select(slice(col("toks"), lit(1),
                        greatest(size(col("toks")) - 2, lit(1))).as("toks"))
          .select(explode(graft.functions.TextOps.shingleHashes(col("toks"), 5)).as("g"))
          .distinct()
        docs
          // explicit-count repartition: the fixture corpus is one scan
          // split, and the gram explode + probe join would otherwise run
          // on one core (the standard pre-fan-out discipline, see
          // ScaleSpec's repartition gate)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
                  explode(graft.functions.TextOps.shingleHashes(col("toks"), 5)).as("g"))
          .join(broadcast(evalGrams), "g")
          // per-row ShingleHashSet is already distinct within a doc, so
          // count(*) counts distinct shared grams
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |        unnest(list_transform(generate_series(1, len(t) - 4),
             |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             |               t[i+3] || ' ' || t[i+4])) AS g
             |      FROM tok WHERE len(t) >= 5),
             |evtok AS (SELECT t[1:greatest(len(t) - 2, 1)] AS t FROM tok
             |          WHERE doc_id % 100 = 7),
             |evg AS (SELECT DISTINCT
             |          unnest(list_transform(generate_series(1, len(t) - 4),
             |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             |                 t[i+3] || ' ' || t[i+4])) AS g
             |        FROM evtok WHERE len(t) >= 5)
             |SELECT doc_id, count(*) AS n_shared_grams
             |FROM g JOIN evg USING (g)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Bloom-prefiltered EXACT decontamination — the content-hash variant
    // of decontaminate_ngram: benchmark pages crawled verbatim (modulo
    // case/whitespace noise, planted here as upper+trailing-space copies
    // of the doc_id%100=7 slice) are flagged by normalized-hash equality.
    // The scale shape is sketch-prefilter-then-verify: the eval set's
    // Bloom filter (DataFrame.stat.bloomFilter, ~KBs for any benchmark
    // suite) rides the corpus scan as a codegen'd probe expression
    // (BloomMightContain) that drops ~everything BEFORE the shuffle, and
    // the exact semi-join verify touches only Bloom survivors — so the
    // output is EXACT (false positives die in the verify, making the
    // query oracle-able) while the shuffle is bounded by eval-set size,
    // not corpus size. Same pattern as Catalyst's own runtime bloom
    // pruning (ScaleSpec gates that one), applied as a declared operator.
    "decontaminate_bloom" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val evalHashes = docs
          .filter(pmod(col("doc_id"), lit(100L)) === 7)
          .select(md5(lower(trim(concat(upper(col("text")), lit("  ")))))
                    .as("h"))
          .distinct()
        // sketch built at construction time (one job over the tiny eval
        // side) — the same construction-time-materialization tradeoff the
        // pair pipelines make
        val bloom = evalHashes.stat.bloomFilter("h", 100000L, 0.01)
        val hashed = docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
        hashed
          .filter(graft.functions.SketchOps.bloomMightContain(col("h"), bloom))
          .join(evalHashes, Seq("h"), "left_semi")
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE md5(lower(trim(text))) IN (
             |  SELECT md5(lower(trim(upper(text) || '  ')))
             |  FROM documents WHERE doc_id % 100 = 7)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------- text
    // Unigram-LM negative log-likelihood — the perplexity-family quality
    // filter: score every document against a reference unigram language
    // model (here: the corpus's own term distribution; in production a
    // held-out reference corpus). Two passes: (1) the LM table —
    // (term, count) + total, vocabulary-bounded, so at 100 TB it
    // broadcasts like any dimension; (2) explode tokens, broadcast-join
    // the LM, one bounded per-doc aggregate of -avg(ln p). High NLL =
    // out-of-distribution text (gibberish, wrong language, spam).
    "text_unigram_nll" -> Decl(
      (s, d) => {
        val tf = Pipeline.docsWithTokens(s, d)
          // pre-fan-out repartition, same discipline as decontaminate_ngram
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), explode(col("toks")).as("term"))
        val lm = tf.groupBy("term").agg(count(lit(1)).as("cnt"))
        val tot = tf.agg(count(lit(1)).as("total"))
        tf.join(broadcast(lm), "term")
          .crossJoin(broadcast(tot))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               round(-avg(log(col("cnt").cast("double") /
                             col("total").cast("double"))), 6).as("nll"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |lm AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
             |tot AS (SELECT count(*) AS total FROM tok)
             |SELECT doc_id, count(*) AS n_tokens,
             |       round(-avg(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS nll
             |FROM tok JOIN lm USING (term) CROSS JOIN tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Repetition-ratio quality signal (the Gopher/RefinedWeb family):
    // fraction of repeated tokens and repeated bigrams within a document —
    // boilerplate and generated spam score high, natural text low. PURE
    // per-row projection (the distinct counts come from the per-row
    // ShingleHashSet / array_distinct), so at 100 TB this runs at scan
    // speed with no shuffle beyond the declared output order.
    "text_repetition_ratio" -> Decl(
      (s, d) => {
        val docs = Pipeline.docsWithTokens(s, d)
        docs.select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
                           size(col("toks")), 6).as("tok_rep"),
          when(size(col("toks")) >= 2,
               round(lit(1.0) -
                     size(graft.functions.TextOps.shingleHashes(col("toks"), 2))
                       .cast("double") / (size(col("toks")) - 1), 6))
            .otherwise(0.0).as("bigram_rep"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
             |  round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS tok_rep,
             |  CASE WHEN len(t) >= 2 THEN
             |    round(1.0 - CAST(len(list_distinct(
             |      list_transform(generate_series(1, len(t) - 1),
             |                     i -> t[i] || ' ' || t[i+1]))) AS DOUBLE)
             |          / (len(t) - 1), 6)
             |  ELSE 0.0 END AS bigram_rep
             |FROM tok ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------- packing
    // Context-window sequence packing — the concat-and-chunk pass that
    // turns a ragged document stream into fixed 2048-token training
    // sequences: docs are concatenated in doc_id order within a shard and
    // each doc records the sequence it starts in and its token offset
    // there. Shards (doc_id % 8) make the window partition-parallel: at
    // 100 TB the shard count scales with the cluster and each shard's
    // running sum is one partition-local window, never a global sort.
    "pack_sequences" -> Decl(
      (s, d) => {
        val docs = Pipeline.docsWithTokens(s, d)
          .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
                  size(col("toks")).as("n_tokens"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
        docs
          .withColumn("start", sum(col("n_tokens").cast("bigint")).over(w) -
                               col("n_tokens"))
          .select(col("doc_id"), col("shard"), col("n_tokens"),
                  expr("start div 2048").as("seq_id"),
                  pmod(col("start"), lit(2048L)).as("offset"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
             |             AS BIGINT) - n_tokens AS start
             |      FROM t)
             |SELECT doc_id, shard, n_tokens,
             |       CAST(start // 2048 AS BIGINT) AS seq_id,
             |       CAST(start % 2048 AS BIGINT) AS offset
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Overlapping token-window chunking — the RAG/embedding-prep pass
    // that splits long documents into fixed windows with overlap (64
    // tokens, stride 48): chunk s covers tokens [48s+1, 48s+64], so
    // consecutive chunks share 16 tokens and no token is lost. Pure
    // per-row fan-out (sequence → explode → slice), scan-parallel after
    // the usual pre-fan-out repartition; at 100 TB this runs at scan
    // speed and the chunk table is the input to the embedding stage.
    "text_chunk_overlap" -> Decl(
      (s, d) => {
        Pipeline.docsWithTokens(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), col("toks"),
                  explode(sequence(lit(0),
                    expr("((size(toks) - 1) div 48) * 48").cast("int"), lit(48)))
                    .as("start"))
          .select(col("doc_id"),
                  expr("start div 48").cast("bigint").as("chunk_id"),
                  least(lit(64), size(col("toks")) - col("start")).as("chunk_tokens"),
                  concat_ws(" ", slice(col("toks"), col("start") + 1, lit(64))).as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |c AS (SELECT doc_id, t,
             |        unnest(generate_series(0, ((len(t) - 1) // 48) * 48, 48)) AS start
             |      FROM tok)
             |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
             |       CAST(least(64, len(t) - start) AS INT) AS chunk_tokens,
             |       array_to_string(t[start + 1 : least(start + 64, len(t))], ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Int8 embedding quantization — the 4× storage/bandwidth lever every
    // billion-vector store applies: per-vector symmetric scale
    // (127/max|v|), values mapped with floor(x·scale + 0.5) (explicit
    // half-up — both engines agree, unlike round()'s half-even ties on
    // doubles). Pure per-row HOF projection at scan speed; the rounded
    // scale rides along so consumers can dequantize. The quantized vector
    // is emitted as a SCALAR fingerprint (md5 over the comma-joined
    // values + element sum), not the raw array: round 5 proved the
    // driver's compare cannot sort/hash list columns (pandas
    // `unhashable type: numpy.ndarray`), and the md5 pins every element
    // and its order just as hard.
    "vec_quantize_int8" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val maxAbs = expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")
        emb.select(col("vec_id"), maxAbs.as("max_abs"), col("embedding"))
          .select(col("vec_id"),
                  round(lit(127.0) / col("max_abs"), 6).as("scale"),
                  expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * " +
                       "(127.0 / max_abs) + 0.5) AS INT))").as("q"))
          .select(col("vec_id"), col("scale"),
                  expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
                  md5(expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')"))
                    .as("q_md5"))
          .orderBy("vec_id")
      },
      Some("""WITH m AS (
             |  SELECT vec_id, embedding,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             |           (acc, x) -> greatest(acc, x)) AS max_abs
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id, round(127.0 / max_abs, 6) AS scale,
             |         list_transform(embedding,
             |           x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5) AS INT)) AS q
             |  FROM m)
             |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS q_sum,
             |       md5(array_to_string(q, ',')) AS q_md5
             |FROM q ORDER BY vec_id""".stripMargin)),

    // -------------------------------------------------------------- join
    // Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the join
    // semantics where NULL keys MATCH each other instead of vanishing:
    // required whenever a nullable dimension key must still group its
    // unknowns together (e.g. joining records by possibly-missing
    // attribution). Nulls are planted deterministically on the 25-row
    // nation dim so the bounded self-join provably exercises the
    // null-matches-null row. Plans as a hash join (null-safe equality is
    // a valid hash key: null hashes like any value), not a nested loop.
    "join_null_safe_eq" -> Decl(
      (s, d) => {
        val n = Tables(s, d, "nation")
          .select(col("n_nationkey"),
                  when(pmod(col("n_nationkey"), lit(5L)) === 0, lit(null))
                    .otherwise(col("n_regionkey")).as("rk"))
        n.as("a").join(n.as("b"), col("a.rk") <=> col("b.rk"))
          .select(col("a.n_nationkey").as("nk_a"), col("b.n_nationkey").as("nk_b"),
                  col("a.rk").as("rk"))
          .orderBy("nk_a", "nk_b")
      },
      Some("""WITH n AS (SELECT n_nationkey,
             |  CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_regionkey END AS rk
             |  FROM nation)
             |SELECT a.n_nationkey AS nk_a, b.n_nationkey AS nk_b, a.rk AS rk
             |FROM n a JOIN n b ON a.rk IS NOT DISTINCT FROM b.rk
             |ORDER BY nk_a, nk_b""".stripMargin)),

    // ------------------------------------------------------------ scalar
    // Error-safe arithmetic — try_divide/try_add (the ANSI-mode escape
    // hatch): divide-by-zero and overflow yield NULL instead of failing
    // the job, which at 100 TB is the difference between one bad row and
    // a dead 6-hour pipeline. Zero denominators are planted via pmod so
    // every run provably exercises the null path.
    "scalar_try_arith" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderkey"),
                pmod(col("o_orderkey"), lit(10L)).as("den"),
                round(try_divide(col("o_totalprice"),
                                 pmod(col("o_orderkey"), lit(10L))), 6).as("safe_div"),
                try_add(col("o_orderkey"), lit(Long.MaxValue)).as("safe_add"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderkey % 10 AS den,
             |CASE WHEN o_orderkey % 10 = 0 THEN NULL
             |     ELSE round(o_totalprice / (o_orderkey % 10), 6) END AS safe_div,
             |CASE WHEN o_orderkey <= 0 THEN o_orderkey + 9223372036854775807
             |     ELSE NULL END AS safe_add
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------ window
    // Time-interval RANGE frame — a trailing 30-day window over the date
    // ordering (window_range_frame covers the NUMERIC range case; this is
    // the calendar-interval one every time-series rollup needs). RANGE
    // frames include ties (all same-date peers) identically in both
    // engines, and DATE arithmetic has no sub-second representation trap.
    // Partitioned by priority, so the sort is per-key, never global.
    "window_range_interval" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT o_orderkey, o_orderpriority, o_orderdate,
                |  count(*) OVER w AS n_trailing_30d,
                |  round(sum(o_totalprice) OVER w, 2) AS sum_trailing_30d
                |FROM orders
                |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
                |             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_orderdate,
             |  count(*) OVER w AS n_trailing_30d,
             |  round(sum(o_totalprice) OVER w, 2) AS sum_trailing_30d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
             |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    // Grouping diagnostics — grouping()/grouping_id() over a rollup: the
    // SQL surface that tells subtotal rows apart from genuine NULL group
    // keys (agg_rollup covers the rollup itself; this covers the
    // disambiguation every BI layer on top of it needs).
    "agg_grouping_id" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
                |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
                |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                |  count(*) AS n
                |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
                |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
             |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
             |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
             |  count(*) AS n
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------ window
    // Forward fill — last_value(... IGNORE NULLS) over a running frame:
    // THE gap-filling pattern for sparse time series (carry the last
    // known reading forward). Nulls are planted deterministically
    // (every third event's value) so the fill provably fires; rows
    // before any non-null value stay NULL. Per-user partitions keep the
    // window sort partition-local at any scale.
    "window_forward_fill" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""WITH e AS (
                |  SELECT event_id, user_id,
                |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE round(value, 6) END AS v
                |  FROM events)
                |SELECT event_id, user_id, v,
                |  last_value(v) IGNORE NULLS OVER (
                |    PARTITION BY user_id ORDER BY event_id
                |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
                |FROM e ORDER BY event_id""".stripMargin)
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id,
             |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE round(value, 6) END AS v
             |  FROM events)
             |SELECT event_id, user_id, v,
             |  last_value(v IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
             |FROM e ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------- stats
    // Higher-moment statistics (skewness, excess kurtosis) from ONE pass
    // of power sums — the distributed-moments formulation: each partition
    // partial-aggregates (n, Σx, Σx², Σx³, Σx⁴), the shuffle carries five
    // scalars per group, and the moments assemble after the merge. The
    // built-in skewness()/kurtosis() are avoided on PURPOSE: their
    // bias-correction conventions differ across engines, while the raw
    // population moments below are pinned by explicit arithmetic that
    // both engines execute identically (6-dp round absorbs the
    // summation-order float noise).
    "agg_skew_kurtosis" -> Decl(
      (s, d) => {
        val x = col("o_totalprice").cast("double")
        Tables(s, d, "orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("double").as("n"),
               sum(x).as("s1"), sum(x * x).as("s2"),
               sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
          .select(col("o_orderstatus"),
                  col("n").cast("bigint").as("n_rows"),
                  expr("""round((s3/n - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3)) /
                         |      pow(s2/n - pow(s1/n, 2), 1.5), 6)""".stripMargin)
                    .as("skewness"),
                  expr("""round((s4/n - 4*(s1/n)*(s3/n) + 6*pow(s1/n,2)*(s2/n)
                         |       - 3*pow(s1/n, 4)) /
                         |      pow(s2/n - pow(s1/n, 2), 2) - 3, 6)""".stripMargin)
                    .as("excess_kurtosis"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH m AS (
             |  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n,
             |         sum(o_totalprice) AS s1,
             |         sum(o_totalprice * o_totalprice) AS s2,
             |         sum(o_totalprice * o_totalprice * o_totalprice) AS s3,
             |         sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice) AS s4
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o_orderstatus, CAST(n AS BIGINT) AS n_rows,
             |  round((s3/n - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3)) /
             |        pow(s2/n - pow(s1/n, 2), 1.5), 6) AS skewness,
             |  round((s4/n - 4*(s1/n)*(s3/n) + 6*pow(s1/n,2)*(s2/n) - 3*pow(s1/n, 4)) /
             |        pow(s2/n - pow(s1/n, 2), 2) - 3, 6) AS excess_kurtosis
             |FROM m ORDER BY o_orderstatus""".stripMargin)),

    // -------------------------------------------------------- predicates
    // IN (subquery) — a distinct Catalyst decorrelation path from the
    // EXISTS key (predicate_exists_subq): InSubquery rewrites to a left
    // SEMI join on the subquery output. Same scalable shape as any semi
    // join: the subquery side aggregates/dedups before the join.
    "predicate_in_subq" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT o_orderkey, o_totalprice
                |FROM orders
                |WHERE o_custkey IN (SELECT c_custkey FROM customer
                |                    WHERE c_acctbal > 9000)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                    WHERE c_acctbal > 9000)
             |ORDER BY o_orderkey""".stripMargin)),

    // NOT IN (subquery) — the classic three-valued-logic trap: if the
    // subquery produces ANY null, NOT IN yields no rows at all, so a
    // nullable subquery forces Spark into a null-aware anti join (the
    // per-row null-check formulation). Here the subquery key is provably
    // non-null, so the planner degrades NOT IN to a PLAIN broadcast anti
    // join (condition: none — verified in the physical plan) — which is
    // the point at scale: keep NOT IN subquery sides null-free, or the
    // engine pays the null-aware row-by-row check.
    "predicate_not_in_subq" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT c_custkey, c_acctbal
                |FROM customer
                |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                |                        WHERE o_totalprice > 400000)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             |                        WHERE o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // Boolean aggregates — bool_and/bool_or (ANY/EVERY), the predicate
    // summarization surface; partial-agg'd like any other aggregate.
    "agg_bool_any_every" -> Decl(
      (s, d) => Tables(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
             bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |bool_and(o_totalprice > 1000) AS all_over_1k,
             |bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
             |count(*) AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----------------------------------------------------- sources/sinks
    // Plain-text-lines source — spark.read.text, the rawest corpus entry
    // path (one line per document, the way web-scale text dumps actually
    // arrive). Roundtrip: write the corpus as a text file, read it back,
    // recover the per-length distribution; the oracle derives the same
    // distribution from the documents table (length(text) = n_chars is a
    // fixture invariant).
    "source_text_lines" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_textsrc").toString
        Tables(s, d, "documents").select(col("text"))
          .write.mode("overwrite").text(dir)
        s.read.text(dir)
          .groupBy(length(col("value")).as("len"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("len")
      },
      Some("""SELECT n_chars AS len, count(*) AS n_docs FROM documents
             |GROUP BY n_chars ORDER BY len""".stripMargin)),

    // Binary-file source — spark.read.format("binaryFile"), the ingestion
    // path for opaque media blobs (images/audio): each file surfaces as
    // (path, modificationTime, length, content BINARY). A bounded slice of
    // the corpus (doc_id < 200, so the file count is constant at every sf)
    // is materialized as one .bin file per doc, then read back
    // distributed; filename → doc_id, plus byte-level metadata the later
    // multimodal stages consume. The write side is driver-local by design
    // (blobs normally ALREADY exist on storage; the query under test is
    // the distributed read).
    "source_binaryfile" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_binsrc")
        Tables(s, d, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text")).collect()
          .foreach { r =>
            java.nio.file.Files.write(
              dir.resolve(f"d${r.getLong(0)}%06d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        s.read.format("binaryFile").load(dir.toString)
          .select(
            regexp_extract(col("path"), "d(\\d+)\\.bin$", 1).cast("bigint").as("doc_id"),
            col("length").as("n_bytes"),
            ascii(substring(decode(col("content"), "UTF-8"), 1, 1)).cast("int")
              .as("head_byte"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |CAST(ascii(substr(text, 1, 1)) AS INT) AS head_byte
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // Schema-evolution read — two parquet batches with different column
    // sets (the v1 writer knew `lang`, the v2 writer added `source`)
    // merged at read time with mergeSchema: the union schema surfaces with
    // NULLs where a batch lacked the column. This is how a long-lived
    // 100 TB table absorbs writer upgrades without rewriting history.
    "source_schema_merge" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_evolve").toString
        val docs = Tables(s, d, "documents")
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$dir/batch=v1")
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
          .select(col("doc_id"), col("lang"), col("source"))
          .write.mode("overwrite").parquet(s"$dir/batch=v2")
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               count(col("source")).as("n_with_source"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |count(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_with_source
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Columnar-codec sink — the same parquet roundtrip under zstd (the
    // 100 TB at-rest default: ~30% smaller than snappy at similar scan
    // speed). The data contract is codec-independent; what this key pins
    // is that the engine reads back what it wrote under a non-default
    // codec bit-for-bit.
    "sink_zstd_roundtrip" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_zstd").toString
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").option("compression", "zstd").parquet(dir)
        s.read.parquet(dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
               round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ------------------------------------------------------------ events
    // Funnel-depth analysis — ordered-sequence detection (view → click →
    // purchase) per user, the classic product-analytics pass engines ship
    // as windowFunnel/MATCH_RECOGNIZE. Each step is "earliest qualifying
    // event STRICTLY after the previous step's time": min-aggregate per
    // user, then a co-partitioned join feeding the next step — three
    // shuffles all keyed on user_id (exchange reuse collapses them at
    // plan time), partial-agg'd map-side, no window over the raw event
    // stream. Strict ts ordering (not event_id tie-break) keeps the
    // cross-engine semantics trivially identical. Depth: 0 = never
    // viewed, 3 = completed the funnel.
    "agg_funnel_depth" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min(col("ts")).as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") > col("t2"))
          .groupBy("user_id").agg(min(col("ts")).as("t3"))
        ev.select("user_id").distinct()
          .join(v.select(col("user_id"), lit(1).as("s1")), Seq("user_id"), "left")
          .join(c.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left")
          .join(p.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left")
          .select(col("user_id"),
                  (coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0)) +
                   coalesce(col("s3"), lit(0))).as("funnel_depth"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
             |            FROM events),
             |v AS (SELECT user_id, min(ts) AS t1 FROM ev
             |      WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
             |      JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
             |      WHERE e.event_type = 'click' GROUP BY e.user_id),
             |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
             |      JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
             |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
             |SELECT u.user_id AS user_id,
             |       CAST((CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END) +
             |            (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) +
             |            (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS INT)
             |         AS funnel_depth
             |FROM (SELECT DISTINCT user_id FROM ev) u
             |LEFT JOIN v ON u.user_id = v.user_id
             |LEFT JOIN c ON u.user_id = c.user_id
             |LEFT JOIN p ON u.user_id = p.user_id
             |ORDER BY u.user_id""".stripMargin)),

    // --------------------------------------------------------- mixtures
    // Domain-mixture rebalancing — flatten a skewed domain distribution
    // toward uniform ('en' is ~44% of the corpus; the target is
    // total/n_domains per language): each domain keeps
    // min(1, target/actual) of its docs. The keep decision is ALL-INTEGER
    // (ticket·n_docs·n_domains < 1000·total) so no float boundary can
    // disagree across engines, and the ticket is the usual multiplicative
    // hash (R8: no rand() — retries and engines agree per row). Shape:
    // tiny per-domain stat table broadcast against the scan, keep-filter
    // at I/O speed — the two-pass stats-then-filter every mixture
    // rebalancer runs at corpus scale.
    "mix_domain_rebalance" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
        val stats = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val tot = docs.agg(count(lit(1)).as("total"),
                           countDistinct(col("lang")).as("n_domains"))
        docs.join(broadcast(stats), "lang")
          .crossJoin(broadcast(tot))
          .withColumn("ticket", pmod(col("doc_id") * lit(879190747L), lit(1000L)))
          .filter(col("ticket") * col("n_docs") * col("n_domains") <
                  lit(1000L) * col("total"))
          .select(col("doc_id"), col("lang"), col("ticket"))
          .orderBy("doc_id")
      },
      Some("""WITH stats AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
             |tot AS (SELECT count(*) AS total, count(DISTINCT lang) AS n_domains
             |        FROM documents)
             |SELECT doc_id, lang, (doc_id * 879190747) % 1000 AS ticket
             |FROM documents JOIN stats USING (lang) CROSS JOIN tot
             |WHERE ((doc_id * 879190747) % 1000) * n_docs * n_domains < 1000 * total
             |ORDER BY doc_id""".stripMargin)),

    // The incremental/analytic passes on top of the
    // round-1..5 surface: snapshot-incremental dedup (the "don't re-dedup
    // 100 TB for a 1 TB delta" shape), information-theoretic mixture
    // diagnostics, time-series gap-fill over a generated spine, a bigram-LM
    // quality score (the two-gram step past text_unigram_nll), frameless
    // window z-score outlier detection, the LEFT OUTER stream-stream join
    // (the state-expiry semantics the inner interval join doesn't cover),
    // and one-pass distributed PCA via a Gram-matrix Aggregator.
    //
    // 100 TB notes inline; the recurring theme: per-key bounded aggregates
    // and broadcast-sized stats tables everywhere, and the two genuinely
    // corpus-sized joins (incremental dedup's anti join, the bigram-LM join)
    // pinned to shuffle joins on their key — never a broadcast of an
    // unbounded side.

    // ------------------------------------------------------------- graph
    // PageRank — web-graph quality scoring (the crawl-prioritization
    // signal next to the text quality filters). The Spark side is the
    // shape PageRank takes at a billion edges: the edge table is derived
    // ONCE, explicitly hash-partitioned on src, and persisted — every
    // iteration's join then reads the cached partitioning and only the
    // small (node, rank) table moves, one dst-keyed partial-agg shuffle
    // per iteration. (The single-SQL unrolled form was tried first and
    // REPLANS the edge derivation all 10 times — per-CTE-instance
    // expression ids defeat exchange reuse: 0 ReusedExchange, 62
    // Exchange.) Rank state is localCheckpoint'ed at the loop midpoint,
    // the dedup_connected_components lineage discipline. Rank mass
    // conservation and the teleport floor are asserted in OperatorSpec;
    // the DuckDB oracle hashes the identical unrolled trajectory.
    "graph_pagerank" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"))
        val nRows = Tables.rowCount(s, d, "documents")
        val n = nRows.toDouble
        val e = docs
          .select(col("doc_id").as("src"),
                  (lit(1L) + pmod(col("doc_id"), lit(3L))).cast("double").as("outdeg"))
          .select(col("src"), col("outdeg"),
                  explode(sequence(lit(1), (lit(1L) + pmod(col("src"), lit(3L))).cast("int")))
                    .as("k"))
          .select(col("src"), col("outdeg"),
                  when(col("k") === 1, pmod(col("src") + 1, lit(nRows)))
                    .otherwise(pmod(col("src") * 7 + col("k"), lit(nRows))).as("dst"))
          .repartition(s.sparkContext.defaultParallelism, col("src"))
          .persist()
        var pr = docs.select(col("doc_id"), lit(1.0 / n).as("r"))
        (1 to 10).foreach { i =>
          pr = pr.join(e, pr("doc_id") === e("src"))
            .groupBy(col("dst"))
            .agg((lit(0.15 / n) + lit(0.85) * sum(col("r") / col("outdeg"))).as("r"))
            .withColumnRenamed("dst", "doc_id")
          // truncate lineage mid-loop so the plan never deepens past ~5
          // iterations of join+agg (the CC loop hygiene)
          if (i == 5) pr = pr.localCheckpoint()
        }
        pr.select(col("doc_id"), round(col("r") * n, 6).as("rank_norm"))
          .orderBy("doc_id")
      },
      Some(pagerankOracleSql)),

    // CCNet-style perplexity bucketing — split each language's docs into
    // head/middle/tail thirds by unigram-LM NLL (the standard
    // quality-tier assignment for pretraining corpora). The LM scoring
    // pass is text_unigram_nll's (vocabulary-bounded broadcast). Tier
    // assignment is NOT an ntile window: `ntile(3) over (partition by
    // lang ...)` funnels every doc of a language through ONE task, and
    // language is the most skewed key in any corpus. Instead the
    // per-lang tertile THRESHOLDS are computed as an aggregate (one row
    // per language — exact interpolated percentile here; swap in
    // approx_percentile at 100 TB), broadcast back, and buckets assigned
    // by comparison — scan-parallel, same tiers. The thresholds are
    // ROUNDED to the same 6-decimal grid as the NLL values: the engines'
    // interpolation formulas differ by an ulp on tied inputs (DuckDB's
    // (1-f)·a + f·b form returned 3.4015459999999997 for a tie AT
    // 3.401546, flipping `nll > t` for the tied docs at sf0.1), while
    // the exact-math threshold is never closer than (b-a)/6 ≥ 1.67e-7
    // to a rounding boundary — so the 6-dp round absorbs the ulp noise
    // identically on both sides.
    "text_perplexity_bucket" -> Decl(
      (s, d) => {
        val tf = Pipeline.docsWithTokens(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), col("lang"), explode(col("toks")).as("term"))
        val lm = tf.groupBy("term").agg(count(lit(1)).as("cnt"))
        val tot = tf.agg(count(lit(1)).as("total"))
        val nll = tf.join(broadcast(lm), "term")
          .crossJoin(broadcast(tot))
          .groupBy("doc_id", "lang")
          .agg(round(-avg(log(col("cnt").cast("double") /
                            col("total").cast("double"))), 6).as("nll"))
        val th = nll.groupBy("lang")
          .agg(round(percentile(col("nll"), lit(1.0 / 3)), 6).as("t1"),
               round(percentile(col("nll"), lit(2.0 / 3)), 6).as("t2"))
        nll.join(broadcast(th), "lang")
          .select(col("doc_id"), col("lang"), col("nll"),
                  (lit(1) + when(col("nll") > col("t1"), 1).otherwise(0)
                          + when(col("nll") > col("t2"), 1).otherwise(0)).as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |lm AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
             |tot AS (SELECT count(*) AS total FROM tok),
             |nll AS (SELECT doc_id, lang,
             |          round(-avg(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS nll
             |        FROM tok JOIN lm USING (term) CROSS JOIN tot
             |        GROUP BY doc_id, lang),
             |th AS (SELECT lang,
             |         round(quantile_cont(nll, CAST(1 AS DOUBLE) / 3), 6) AS t1,
             |         round(quantile_cont(nll, CAST(2 AS DOUBLE) / 3), 6) AS t2
             |       FROM nll GROUP BY lang)
             |SELECT doc_id, nll.lang AS lang, nll,
             |       CAST(1 + CAST(nll > t1 AS INT) + CAST(nll > t2 AS INT) AS INT)
             |         AS bucket
             |FROM nll JOIN th ON nll.lang = th.lang ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------- dedup
    // Snapshot-incremental dedup — the production shape of every corpus
    // refresh: the BASE snapshot is already deduped (its hash index
    // exists); only the incoming DELTA batch is grouped within itself
    // (keep the lowest delta id per content hash) and then anti-joined
    // against the base index. The fixture corpus has no natural dups, so
    // the delta is CONSTRUCTED (same planting family as dedup_exact):
    // case/whitespace-noised copies of the doc_id%5 slice (provably
    // base-duplicates), genuinely new docs from the doc_id%7 slice, and a
    // second copy of the %14 slice (provably within-delta dups). Survivors
    // = the new docs, one per hash. At 100 TB the base side never
    // re-scans its text — the index is (hash) only — and the anti join is
    // pinned to a shuffle join on the hash (a planner-chosen broadcast of
    // the base index is the OOM anti-pattern; the delta is the small
    // side, the base never is).
    "dedup_incremental" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val base = docs.select(md5(lower(trim(col("text")))).as("h"))
        val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
            .select((col("doc_id") + 2000000L).as("delta_id"),
                    concat(upper(col("text")), lit(" ")).as("text"))
          .unionAll(docs.filter(pmod(col("doc_id"), lit(7L)) === 0)
            .select((col("doc_id") + 3000000L).as("delta_id"),
                    concat(col("text"), lit(" batch2")).as("text")))
          .unionAll(docs.filter(pmod(col("doc_id"), lit(14L)) === 0)
            .select((col("doc_id") + 4000000L).as("delta_id"),
                    concat(col("text"), lit(" batch2")).as("text")))
        delta
          .select(col("delta_id"), md5(lower(trim(col("text")))).as("h"))
          .groupBy("h")
          .agg(min("delta_id").as("delta_id"), count(lit(1)).as("n_in_delta"))
          .join(base.distinct().hint("shuffle_hash"), Seq("h"), "left_anti")
          .select(col("delta_id"), col("h"), col("n_in_delta"))
          .orderBy("delta_id")
      },
      Some("""WITH base AS (SELECT md5(lower(trim(text))) AS h FROM documents),
             |delta AS (
             |  SELECT doc_id + 2000000 AS delta_id, upper(text) || ' ' AS text
             |  FROM documents WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT doc_id + 3000000, text || ' batch2'
             |  FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 4000000, text || ' batch2'
             |  FROM documents WHERE doc_id % 14 = 0),
             |canon AS (
             |  SELECT md5(lower(trim(text))) AS h, min(delta_id) AS delta_id,
             |         count(*) AS n_in_delta
             |  FROM delta GROUP BY 1)
             |SELECT delta_id, h, n_in_delta FROM canon c
             |WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.h = c.h)
             |ORDER BY delta_id""".stripMargin)),

    // Incremental NEAR-dup — the LSH twin of dedup_incremental, and the
    // pass production corpora actually run on every refresh: the BASE
    // corpus's banded LSH keys are the stored index (derived here,
    // bucketed by (band, sig) — the layout they'd persist in); the DELTA
    // batch (the planted perturbed twins, provably near-dups of base
    // docs) computes per-row signatures and probes the index. Candidates
    // are delta×base band collisions only — never delta×delta, never
    // base×base, and the base's TEXT is touched only for candidate
    // verification. Verify joins follow the minhashPairs discipline:
    // broadcast the small candidate-pair table, shuffle-join the shingle
    // sets. Oracle-N (LSH family); recall vs the planted pairs asserted
    // in OperatorSpec.
    "dedup_near_incremental" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val withSh = Pipeline.nearDupCorpus(s, d)
          .repartition(n, col("doc_id"))
          .select(col("doc_id"),
                  graft.functions.TextOps.shingleHashes(col("toks"), 3).as("hs"))
          .filter(size(col("hs")) > 0)
          .persist()
        val base = withSh.filter(col("doc_id") < 1000000L)
        val delta = withSh.filter(col("doc_id") >= 1000000L)
        val baseIndex = Minhash.bandedKeys(Minhash.signatures(base))
          .repartition(n, col("band"), col("sig"))
        val cand = Minhash.bandedKeys(Minhash.signatures(delta)).as("q")
          .join(baseIndex.as("x").hint("shuffle_hash"),
                col("q.band") === col("x.band") && col("q.sig") === col("x.sig"))
          .select(col("q.doc_id").as("delta_id"), col("x.doc_id").as("base_id"))
          .distinct()
        // candidates grow with delta × bucket density — never broadcast;
        // shuffle_hash keeps each task's build side partition-bounded
        cand
          .repartition(n, col("delta_id"))
          .join(withSh.select(col("doc_id").as("delta_id"), col("hs").as("hq"))
                  .hint("shuffle_hash"), "delta_id")
          .join(withSh.select(col("doc_id").as("base_id"), col("hs").as("hx"))
                  .hint("shuffle_hash"), "base_id")
          .select(col("delta_id"), col("base_id"),
                  // Round-12: merge-count over the sorted-distinct hash
                  // sets — same integer as size(array_intersect), no
                  // per-pair hash set (see SortedLongIntersectCount)
                  graft.functions.TextOps.sortedIntersectCount(col("hq"), col("hx"))
                    .as("inter"),
                  size(col("hq")).cast("bigint").as("sq"),
                  size(col("hx")).cast("bigint").as("sx"))
          // Round-12: one array_intersect per pair (it was inlined twice),
          // and the τ cut runs on the raw ratio (round6(x) >= 0.5 ⇒
          // x >= 0.4999995 > 0.4999) so the per-row decimal round only
          // touches survivors; the exact rounded filter reapplies —
          // pairs and values bit-identical.
          .withColumn("rawj", col("inter").cast("double") /
            (col("sq") + col("sx") - col("inter")).cast("double"))
          .filter(col("rawj") >= 0.4999)
          .select(col("delta_id"), col("base_id"),
                  round(col("rawj"), 6).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy("delta_id", "base_id")
      },
      None),

    // ------------------------------------------------------------ source
    // XML source roundtrip — Spark 4 folded the spark-xml datasource into
    // core, making XML a first-class format next to the
    // csv/json/orc/text/binaryFile keys: write a bounded slice as
    // element-per-row XML, read it back DISTRIBUTED with an explicit
    // schema (inference on a feed you control is a silent-drift trap),
    // aggregate. The oracle runs the same aggregate over the original
    // table — equality proves the markup roundtrip lost nothing,
    // including full double precision through the text form.
    "source_xml_roundtrip" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_xmlsrc").toString
        Tables(s, d, "orders")
          .filter(col("o_orderkey") < 1000)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").option("rowTag", "order").format("xml").save(dir)
        s.read
          .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
          .option("rowTag", "order").format("xml").load(dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderkey < 1000
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ------------------------------------------------------------- stats
    // Mixture diagnostics — marginal entropies of the lang and source
    // distributions and their mutual information (nats): THE summary
    // numbers a corpus-mixture dashboard shows (how skewed is each axis,
    // how correlated are they). One bounded-key groupBy over the corpus;
    // everything downstream is |langs|×|sources| rows of pure arithmetic,
    // identical in both engines (6-dp round absorbs summation-order float
    // noise per SURVEY §7.3).
    "agg_mutual_info" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""WITH j AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS c
                |           FROM documents GROUP BY lang, source),
                |l AS (SELECT lang, sum(c) AS cl FROM j GROUP BY lang),
                |s2 AS (SELECT source, sum(c) AS cs FROM j GROUP BY source),
                |t AS (SELECT sum(c) AS n FROM j)
                |SELECT CAST((SELECT n FROM t) AS BIGINT) AS n_docs,
                |  (SELECT round(-sum((cl/n)*ln(cl/n)), 6) FROM l CROSS JOIN t) AS h_lang,
                |  (SELECT round(-sum((cs/n)*ln(cs/n)), 6) FROM s2 CROSS JOIN t) AS h_source,
                |  (SELECT round(sum((c/n)*ln((c*n)/(cl*cs))), 6)
                |   FROM j JOIN l USING (lang) JOIN s2 USING (source) CROSS JOIN t) AS mi_nats""".stripMargin)
      },
      Some("""WITH j AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS c
             |           FROM documents GROUP BY lang, source),
             |l AS (SELECT lang, sum(c) AS cl FROM j GROUP BY lang),
             |s2 AS (SELECT source, sum(c) AS cs FROM j GROUP BY source),
             |t AS (SELECT sum(c) AS n FROM j)
             |SELECT CAST((SELECT n FROM t) AS BIGINT) AS n_docs,
             |  (SELECT round(-sum((cl/n)*ln(cl/n)), 6) FROM l CROSS JOIN t) AS h_lang,
             |  (SELECT round(-sum((cs/n)*ln(cs/n)), 6) FROM s2 CROSS JOIN t) AS h_source,
             |  (SELECT round(sum((c/n)*ln((c*n)/(cl*cs))), 6)
             |   FROM j JOIN l USING (lang) JOIN s2 USING (source) CROSS JOIN t) AS mi_nats""".stripMargin)),

    // ------------------------------------------------------- time series
    // Gap-filled hourly resample — the regularization pass every
    // time-series rollup needs: bucket events to the hour per type,
    // GENERATE the complete hour spine (sequence + explode, so missing
    // hours exist as rows), left-join the observed aggregates, and
    // forward-fill the gaps with the last observed hourly average.
    // ~215 of the 3600 (type, hour) cells are empty at sf0.01, so the
    // fill provably fires. Scale shape: the observed aggregate is one
    // bounded (type, hour) shuffle; the spine is |types|×|hours| rows —
    // calendar-bounded, broadcast; the fill window sorts per type, never
    // globally.
    "ts_gapfill_interp" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"), col("value"))
        // Exact integer-micros mean, NOT round(avg(value), 6): the fixture
        // values have fixed decimal structure, so hourly means land exactly
        // ON 5e-7 boundaries where Spark's repr-HALF_UP and DuckDB's scaled
        // half-away round() disagree (hit at sf0.1). Summing half-up micros
        // as BIGINT is order-independent and exact; the half-up mean and
        // the /1e6 are the same IEEE ops on both engines — no round() left.
        val hourly = e.groupBy("event_type", "h")
          .agg(sum(floor(col("value") * 1000000.0 + 0.5).cast("bigint")).as("sm"),
               count(lit(1)).as("n_events"))
          .select(col("event_type"), col("h"), col("n_events"),
                  (floor(col("sm").cast("double") / col("n_events") + 0.5).cast("bigint") /
                   lit(1000000.0)).as("v_avg"))
        val spine = e.agg(min("h").as("h0"), max("h").as("h1"))
          .select(explode(expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("h"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.select("event_type").distinct()
          .crossJoin(broadcast(spine))
          .join(hourly, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
                  coalesce(col("n_events"), lit(0L)).as("n_events"),
                  col("v_avg"),
                  last("v_avg", ignoreNulls = true).over(w).as("v_filled"))
          .orderBy("event_type", "h")
      },
      Some("""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h, value FROM events),
             |hourly AS (SELECT event_type, h,
             |             CAST(floor(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
             |                              AS DOUBLE) / count(*) + 0.5) AS BIGINT)
             |               / 1000000.0 AS v_avg,
             |             count(*) AS n_events
             |           FROM e GROUP BY event_type, h),
             |spine AS (SELECT unnest(generate_series((SELECT min(h) FROM e),
             |                                        (SELECT max(h) FROM e),
             |                                        INTERVAL 1 HOUR)) AS h),
             |types AS (SELECT DISTINCT event_type FROM e)
             |SELECT t.event_type AS event_type, s.h AS h,
             |       coalesce(hh.n_events, 0) AS n_events, hh.v_avg AS v_avg,
             |       last_value(hh.v_avg IGNORE NULLS) OVER (
             |         PARTITION BY t.event_type ORDER BY s.h
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
             |FROM types t CROSS JOIN spine s
             |LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = s.h
             |ORDER BY event_type, h""".stripMargin)),

    // -------------------------------------------------------------- text
    // Bigram-LM negative log-likelihood — the two-gram step past
    // text_unigram_nll: score each document under an add-one-smoothed
    // bigram model of the corpus, p(w2|w1) = (c(w1 w2)+1)/(c(w1 ·)+V).
    // Unlike the unigram LM (vocabulary-bounded, broadcastable), the
    // bigram table grows with the corpus — so the doc-bigram ⋈ LM join
    // stays a SHUFFLE join keyed on the bigram, with map-side partial
    // counts; only V (one scalar) broadcasts.
    "text_bigram_nll" -> Decl(
      (s, d) => {
        val toks = Pipeline.docsWithTokens(s, d).select(col("doc_id"), col("toks"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        val bi = toks.filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(toks) - 1),
              |  i -> struct(element_at(toks, i) AS w1,
              |              concat(element_at(toks, i), ' ', element_at(toks, i + 1)) AS bg))"""
              .stripMargin)).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
        val cbg = bi.groupBy("bg").agg(count(lit(1)).as("cbg"))
        val cw1 = bi.groupBy("w1").agg(count(lit(1)).as("cw1"))
        val v = toks.select(explode(col("toks")).as("w"))
          .agg(countDistinct("w").cast("double").as("v"))
        bi.join(cbg.hint("shuffle_hash"), "bg")
          .join(cw1.hint("shuffle_hash"), "w1")
          .crossJoin(broadcast(v))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
               round(-avg(log((col("cbg") + lit(1.0)) / (col("cw1") + col("v")))), 6)
                 .as("bigram_nll"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |b AS (SELECT doc_id,
             |        unnest(list_transform(generate_series(1, len(t)-1), i -> t[i])) AS w1,
             |        unnest(list_transform(generate_series(1, len(t)-1),
             |                              i -> t[i] || ' ' || t[i+1])) AS bg
             |      FROM tok WHERE len(t) >= 2),
             |cbg AS (SELECT bg, count(*) AS cbg FROM b GROUP BY bg),
             |cw1 AS (SELECT w1, count(*) AS cw1 FROM b GROUP BY w1),
             |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
             |      FROM (SELECT unnest(t) AS w FROM tok))
             |SELECT doc_id, count(*) AS n_bigrams,
             |       round(-avg(ln((cbg + 1.0)/(cw1 + v))), 6) AS bigram_nll
             |FROM b JOIN cbg USING (bg) JOIN cw1 USING (w1) CROSS JOIN v
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------ window
    // Per-type z-score outliers — per-type standardization, then keep
    // |z| > 2. NOT a window: event_type has a handful of values, so a
    // whole-partition window funnels each type's entire history through
    // ONE task — the classic low-cardinality-window scale killer. The
    // stats table is one row per type (KB-sized at any corpus scale), so
    // aggregate it, broadcast it back, and standardize at scan speed.
    // Zero-variance types are dropped EXPLICITLY (sigma > 0) in both
    // engines — without the guard Spark's x/0 → NULL filters the row but
    // DuckDB's IEEE x/0 → ±inf keeps it, an engine mismatch.
    // Population stddev — both engines share the definition.
    "window_zscore_outlier" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
        val stats = ev.groupBy("event_type")
          .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sigma"))
          .filter(col("sigma") > 0)
        ev.join(broadcast(stats), "event_type")
          .select(col("event_id"), col("event_type"), round(col("value"), 6).as("v"),
                  round((col("value") - col("mu")) / col("sigma"), 6).as("z"))
          .filter(abs(col("z")) > 2)
          .orderBy("event_id")
      },
      Some("""WITH st AS (
             |  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
             |  FROM events GROUP BY event_type),
             |z AS (
             |  SELECT event_id, e.event_type, round(value, 6) AS v,
             |         round((value - mu) / sigma, 6) AS z
             |  FROM events e JOIN st ON e.event_type = st.event_type
             |  WHERE sigma > 0)
             |SELECT event_id, event_type, v, z FROM z
             |WHERE abs(z) > 2 ORDER BY event_id""".stripMargin)),

    // --------------------------------------------------------- streaming
    // Stream-stream LEFT OUTER interval join, batch twin: every click,
    // paired with the same user's errors in the following 60 minutes —
    // and clicks with NO such error survive with NULL error columns. The
    // outer side is what the inner join (stream_stream_join) can't
    // express, and in streaming form it's the semantics watermark-driven
    // state expiry exists FOR: a left row emits its null match only once
    // the watermark proves no right row can still arrive (live twin in
    // StreamingSpec). NULLS FIRST pinned on both engines (Spark's ASC
    // default; DuckDB's is NULLS LAST).
    "stream_stream_outer" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id").as("uid"), col("event_id").as("error_id"), col("ts").as("error_ts"))
        clicks.join(errors,
            col("user_id") === col("uid") &&
            col("error_ts") >= col("click_ts") &&
            col("error_ts") <= col("click_ts") + expr("INTERVAL 60 MINUTES"),
            "left_outer")
          .select(col("user_id"), col("click_id"), col("error_id"),
                  (col("error_ts").cast("long") - col("click_ts").cast("long")).as("gap_s"))
          .orderBy(col("user_id"), col("click_id"), col("error_id").asc_nulls_first)
      },
      Some("""SELECT c.user_id AS user_id, c.event_id AS click_id, e.event_id AS error_id,
             |  date_diff('second', CAST(c.ts AS TIMESTAMP), CAST(e.ts AS TIMESTAMP)) AS gap_s
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
             |  ON c.user_id = e.user_id
             | AND CAST(e.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
             | AND CAST(e.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '60 minutes'
             |ORDER BY user_id, click_id, error_id NULLS FIRST""".stripMargin)),

    // -------------------------------------------------------------- join
    // Nearest-event as-of join — the attribution variant of join_asof:
    // each click pairs with the same user's temporally CLOSEST signup,
    // before or after (join_asof covers the backward-only case). Ties
    // break to the lowest signup id via min over a STRUCT — struct
    // ordering is lexicographic (diff first, id second) in both engines,
    // so no arithmetic encoding (a seconds·1e7 + id BIGINT aliases once
    // ids pass 1e7) and no nondeterministic tie. Shape: equi join on user_id with
    // per-user-bounded fan-out, then a partial-agg'd min_by — both
    // stages shuffle on user/click keys only, never on time.
    "join_asof_nearest" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
        val c = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
        val sg = e.filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("sts"))
        c.join(sg, "user_id")
          .withColumn("diff_s", abs(col("sts").cast("long") - col("cts").cast("long")))
          .groupBy("click_id", "user_id")
          .agg(min(struct(col("diff_s"), col("signup_id")))
                 .getField("signup_id").as("nearest_signup_id"),
               min("diff_s").as("diff_s"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
             |           FROM events WHERE event_type = 'click'),
             |s AS (SELECT event_id AS signup_id, user_id, ts AS sts
             |      FROM events WHERE event_type = 'signup')
             |SELECT c.click_id AS click_id, c.user_id AS user_id,
             |  (min({'d': abs(date_diff('second', sts, cts)), 'i': s.signup_id})).i
             |    AS nearest_signup_id,
             |  min(abs(date_diff('second', sts, cts))) AS diff_s
             |FROM c JOIN s USING (user_id)
             |GROUP BY c.click_id, c.user_id
             |ORDER BY click_id""".stripMargin)),

    // ------------------------------------------------------------ scalar
    // URL parsing family — parse_url PROTOCOL/HOST/PATH/QUERY-param, the
    // crawl-metadata toolkit next to dedup_url_canonical. The URLs are
    // CONSTRUCTED deterministically from columns, so the oracle is the
    // GROUND TRUTH (rebuild each part from the same columns) rather than
    // a second regex engine — any parse_url deviation surfaces as a
    // value mismatch. Pure per-row projection, scan speed.
    "scalar_url_parse" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""WITH u AS (
                |  SELECT doc_id,
                |    concat('https://', source, '.example.com/', lang, '/doc/',
                |           CAST(doc_id AS STRING), '?ref=', CAST(doc_id % 7 AS STRING),
                |           '&utm=x') AS url
                |  FROM documents)
                |SELECT doc_id, url,
                |  parse_url(url, 'PROTOCOL') AS proto,
                |  parse_url(url, 'HOST') AS host,
                |  parse_url(url, 'PATH') AS path,
                |  parse_url(url, 'QUERY', 'ref') AS ref
                |FROM u ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
             |  'https://' || source || '.example.com/' || lang || '/doc/' ||
             |    CAST(doc_id AS VARCHAR) || '?ref=' || CAST(doc_id % 7 AS VARCHAR) ||
             |    '&utm=x' AS url,
             |  'https' AS proto,
             |  source || '.example.com' AS host,
             |  '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
             |  CAST(doc_id % 7 AS VARCHAR) AS ref
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------- stats
    // Cohort retention — the product-analytics matrix (first-purchase
    // week × activity week × distinct active users): cohort assignment
    // is one per-user min, activity is one bounded (cohort, week)
    // aggregate; both shuffles key on user_id and the output scales with
    // weeks², never with events. Purchase-sliced so the cohorts actually
    // decay (full-stream cohorts collapse into week 1 at this density).
    "agg_cohort_retention" -> Decl(
      (s, d) => {
        val p = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        val fw = p.groupBy("user_id")
          .agg(date_trunc("week", min("ts")).cast("date").as("cohort"))
        p.join(fw, "user_id")
          .select(col("cohort"), date_trunc("week", col("ts")).cast("date").as("wk"),
                  col("user_id"))
          .groupBy("cohort", "wk")
          .agg(countDistinct("user_id").as("n_active"), count(lit(1)).as("n_purchases"))
          .orderBy("cohort", "wk")
      },
      Some("""WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
             |fw AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
             |       FROM p GROUP BY user_id)
             |SELECT cohort, CAST(date_trunc('week', p.ts) AS DATE) AS wk,
             |       count(DISTINCT p.user_id) AS n_active, count(*) AS n_purchases
             |FROM p JOIN fw USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort, wk""".stripMargin)),

    // Count-min-sketch heavy hitters — the frequency twin of the
    // HLL/KLL/top-k mergeable-sketch trio: per-partition CMS states
    // merge in one aggregate (state is eps×conf-bounded, ~56 KB here,
    // independent of row count), then the exact top keys are probed
    // against the sketch. The exact counts ride along so the
    // overestimate bound (CMS never undercounts; over by ≤ εN w.p.
    // 1−δ) is visible in the output and asserted in OperatorSpec.
    // Oracle-N: DuckDB has no CMS.
    "agg_cms_heavyhitter" -> Decl(
      (s, d) => {
        val keys = Tables(s, d, "lineitem").select(col("l_suppkey"))
        val top = keys.groupBy("l_suppkey").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(desc("exact_cnt"), col("l_suppkey")).limit(5).collect()
        val bytes = keys
          .agg(count_min_sketch(col("l_suppkey"), lit(0.001), lit(0.99), lit(42)).as("cms"))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        import s.implicits._
        top.toSeq
          .map(r => (r.getLong(0), r.getLong(1), cms.estimateCount(r.getLong(0))))
          .toDF("l_suppkey", "exact_cnt", "cms_estimate")
          .orderBy(desc("exact_cnt"), col("l_suppkey"))
      },
      None),

    // ----------------------------------------------------------- vectors
    // One-pass distributed PCA (top principal component) — the embedding
    // whitening/compression step ANN and PQ indexes run at corpus scale:
    // a single Aggregator pass folds every vector into (n, Σx, Σxxᵀ)
    // (d + d(d+1)/2 doubles of state, ~17 KB at d=64 — the shuffle
    // carries ONE state per partition), the driver assembles the exact
    // covariance and power-iterates a 64×64 matrix. No oracle (DuckDB
    // has no eigen solver): OperatorSpec asserts the eigen residual
    // ‖Cv − λv‖ ≈ 0 and that no coordinate axis beats the component's
    // Rayleigh quotient. Deterministic: fixed start vector, fixed
    // iteration count, sign pinned (R8).
    "vec_pca_topcomponent" -> Decl(
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
        val (vec, lambda) = graft.functions.VectorGramAgg.topEigen(cov)
        val trace = (0 until dim).map(i => cov(i)(i)).sum
        import s.implicits._
        vec.zipWithIndex.toSeq
          .map { case (wgt, i) =>
            (i, math.rint(wgt * 1e6) / 1e6, math.rint(lambda / trace * 1e6) / 1e6) }
          .toDF("dim", "weight", "var_share")
          .orderBy("dim")
      },
      None),

    // Batch k-NN join (through the native bounded-heap
    // top-k plan), web-graph triangle counting, temperature-based epoch
    // upsampling, model-based (fixed-weight logistic) quality scoring, SCD2
    // interval construction, chi-square independence testing, and
    // SemDeDup-style semantic-cluster dedup.

    // Batch k-NN JOIN — sim_cosine_topk answers ONE query; a real embedding
    // pipeline (retrieval eval, semantic dedup seeding, hard-negative
    // mining) asks thousands at once. The query set is bounded (every
    // 100th vector) and broadcast, so scoring is a scan-speed
    // BroadcastNestedLoop pass — never a shuffle of the corpus. Ranking
    // runs TWICE through the native bounded-heap TopKPerKey plan
    // (plans/TopKPerKey): first per (q_id, shard) — 64 deterministic
    // shards, so no single task ever streams one query's whole corpus,
    // the classic per-key window bottleneck — then per q_id over the
    // ≤ 5×64 survivors. Same total order (rounded cos desc, vec_id asc)
    // at both stages makes the two-stage result provably equal to the
    // direct top-5 the oracle computes.
    "sim_knn_join" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(pmod(col("vec_id"), lit(100L)) === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val scored = emb.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
                  round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos"),
                  pmod(col("vec_id"), lit(64L)).as("shard"))
        val partial = graft.plans.TopK.perKey(
          scored, Seq("q_id", "shard"), Seq("cos" -> true, "vec_id" -> false), 5)
        graft.plans.TopK.perKey(
            partial, Seq("q_id"), Seq("cos" -> true, "vec_id" -> false), 5)
          .select("q_id", "vec_id", "cos")
          .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
      },
      Some("""WITH q AS (SELECT vec_id AS q_id,
             |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
             |           FROM embeddings WHERE vec_id % 100 = 0),
             |scored AS (
             |  SELECT q_id, e.vec_id AS vec_id,
             |         round(list_cosine_similarity(
             |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qe), 6) AS cos
             |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
             |r AS (SELECT q_id, vec_id, cos,
             |        row_number() OVER (PARTITION BY q_id
             |                           ORDER BY cos DESC, vec_id ASC) AS rn
             |      FROM scored)
             |SELECT q_id, vec_id, cos FROM r WHERE rn <= 5
             |ORDER BY q_id, cos DESC, vec_id""".stripMargin)),

    // Triangle counting over the synthetic link graph (same deterministic
    // edge construction as graph_pagerank_dangling, sinks included) — the
    // standard graph-quality/community signal next to PageRank. Edges are
    // canonicalized to lo<hi orientation and deduped, so each triangle is
    // counted exactly once as a<b<c; the two joins are plain hash joins on
    // vertex keys. At 100 TB the orientation trick is what bounds the
    // wedge fan-out: a vertex's wedge count is quadratic in its OUT-degree
    // under the orientation, and orienting low→high id on a near-regular
    // graph (degree-ordered orientation on a skewed one) keeps that
    // bounded. The edge table is checkpointed once (KB-scale here; at
    // scale it would be a stored table) and reused by all three join legs.
    "graph_triangle_count" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val e = Graph.mintedPairs(s, d)
          .repartition(n, col("a"))
          .localCheckpoint(true)
        val tri = e.as("e1")
          .join(e.as("e2").hint("shuffle_hash"), col("e1.b") === col("e2.a"))
          .join(e.as("e3").hint("shuffle_hash"),
                col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .agg(count(lit(1)).as("n_triangles"))
        e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(tri))
      },
      Some("""WITH nn AS (SELECT count(*) AS ni FROM documents),
             |raw AS (SELECT doc_id AS src, (doc_id * 3 + t.k) % nn.ni AS dst
             |        FROM documents CROSS JOIN nn, (VALUES (1), (2)) t(k)
             |        WHERE doc_id % 4 <> 0 AND t.k <= 1 + doc_id % 2),
             |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |tri AS (SELECT count(*) AS n_triangles
             |        FROM e e1 JOIN e e2 ON e1.b = e2.a
             |                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT (SELECT count(*) FROM e) AS n_edges, n_triangles FROM tri"""
        .stripMargin)),

    // Epoch-count upsampling — the OTHER half of temperature mixing:
    // mix_temperature_sample DOWN-samples hot domains; a training run also
    // REPEATS low-resource domains for multiple epochs (the mT5/LLaMA data
    // recipe publishes exactly such per-domain epoch factors). epochs_i =
    // min(4, ceil(max_n / n_i)) in pure integer arithmetic (ceil-div as
    // (a+b-1) DIV b — no float anywhere), so the repeat factor is
    // bit-identical across engines and reproducible run-to-run. Per-domain
    // stats are one tiny broadcast aggregate; the ≤4× fan-out rides the
    // scan with no pre-explode shuffle (partitioning is the scan's, so AQE
    // has nothing to coalesce away).
    "mix_upsample_epochs" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
        val stats = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val mx = stats.agg(max(col("n_docs")).as("max_n"))
        docs.join(broadcast(stats), "lang")
          .crossJoin(broadcast(mx))
          .withColumn("epochs",
            least(lit(4L), expr("CAST((max_n + n_docs - 1) DIV n_docs AS BIGINT)")))
          .select(col("doc_id"), col("lang"),
                  explode(sequence(lit(1L), col("epochs"))).as("epoch"))
          .orderBy("doc_id", "epoch")
      },
      Some("""WITH stats AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
             |mx AS (SELECT max(n_docs) AS max_n FROM stats)
             |SELECT doc_id, lang,
             |       unnest(generate_series(1, least(4, (max_n + n_docs - 1) // n_docs)))
             |         AS epoch
             |FROM documents JOIN stats USING (lang) CROSS JOIN mx
             |ORDER BY doc_id, epoch""".stripMargin)),

    // Model-based quality scoring — the step after text_quality_score's
    // hand-tuned composite: a fixed-weight logistic regression over the
    // same cheap features (fastText/DCLM-style quality classifiers are
    // exactly this shape: featurize, dot with trained weights, sigmoid,
    // threshold). Weights are compile-time constants standing in for the
    // offline-trained model. Every feature is rounded to the 6-dp grid
    // FIRST (bit-identical inputs), the logit is one fixed left-to-right
    // linear combination (identical IEEE evaluation order in both
    // engines), and the keep decision compares the ROUNDED score — pure
    // per-row projection, scan-speed at any scale.
    "text_quality_logreg" -> Decl(
      (s, d) => Pipeline.docsWithTokens(s, d)
        .select(col("doc_id"),
                size(col("toks")).cast("int").as("n_toks"),
                round(size(array_distinct(col("toks"))).cast("double") /
                      size(col("toks")), 6).as("ttr"),
                round(col("n_chars").cast("double") / size(col("toks")), 6)
                  .as("mean_tok_len"),
                round(expr("size(filter(toks, x -> x = 'the' OR x = 'a'))")
                        .cast("double") / size(col("toks")), 6).as("stop_ratio"))
        .withColumn("z",
          lit(-3.0) + lit(0.02) * col("n_toks") + lit(2.5) * col("ttr") +
            lit(1.2) * col("stop_ratio") - lit(0.15) * col("mean_tok_len"))
        .select(col("doc_id"),
                round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
             |           FROM documents),
             |f AS (SELECT doc_id,
             |        CAST(len(toks) AS INT) AS n_toks,
             |        round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
             |        round(CAST(n_chars AS DOUBLE) / len(toks), 6) AS mean_tok_len,
             |        round(CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a'))
             |              AS DOUBLE) / len(toks), 6) AS stop_ratio
             |      FROM t),
             |z AS (SELECT doc_id,
             |        -3.0 + 0.02 * n_toks + 2.5 * ttr + 1.2 * stop_ratio
             |          - 0.15 * mean_tok_len AS z
             |      FROM f)
             |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
             |       round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
             |FROM z ORDER BY doc_id""".stripMargin)),

    // SCD2 interval construction — turn an event change-log into
    // slowly-changing-dimension version rows ([valid_from, valid_to)
    // half-open intervals, open-ended current row): the warehouse pattern
    // every CDC ingest materializes before point-in-time joins (the as-of
    // family consumes exactly this shape). One window per user_id — a
    // high-cardinality key, so the partition-per-task shape scales (this
    // is what the low-cardinality window allowlist permits corpus-fed
    // windows to look like). (ts, event_id) ordering gives a unique total
    // order; version numbers are dense per user.
    "scd2_intervals" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type").as("status"),
                  col("ts").as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("version", row_number().over(w))
          .orderBy("user_id", "version")
      },
      Some("""SELECT user_id, event_id, event_type AS status,
             |  CAST(ts AS TIMESTAMP) AS valid_from,
             |  lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to,
             |  CAST(row_number() OVER (PARTITION BY user_id
             |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INT) AS version
             |FROM events ORDER BY user_id, version""".stripMargin)),

    // Chi-square independence test of the lang×source mixture — the
    // hypothesis-test companion to agg_mutual_info's information-theoretic
    // view (corpus-dashboard: "did the crawl's source mix shift per
    // language?"). The contingency table is one bounded-key groupBy
    // (|langs|×|sources| cells); the full expected grid — including
    // zero-observed cells, which the groupBy alone would miss — comes from
    // crossing the two marginal aggregates, all KB-sized. Everything after
    // the counts is pure arithmetic; only the final 25-cell sum crosses
    // engines, absorbed by the 6-dp round.
    "agg_chi_square" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val o = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
        val rt = docs.groupBy("lang").agg(count(lit(1)).as("rt"))
        val ct = docs.groupBy("source").agg(count(lit(1)).as("ct"))
        val tot = docs.agg(count(lit(1)).cast("double").as("n"))
        val grid = rt.crossJoin(ct).crossJoin(broadcast(tot))
          .join(o, Seq("lang", "source"), "left")
          .withColumn("e", col("rt") * col("ct") / col("n"))
          .withColumn("contrib",
            pow(coalesce(col("o"), lit(0L)) - col("e"), 2) / col("e"))
        val dims = docs.agg(
          ((countDistinct(col("lang")) - 1) * (countDistinct(col("source")) - 1))
            .as("dof"))
        grid.agg(round(sum(col("contrib")), 6).as("chi2")).crossJoin(broadcast(dims))
      },
      Some("""WITH o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
             |rt AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
             |ct AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
             |grid AS (SELECT rt.lang, ct.source, rt.rt, ct.ct, coalesce(o.o, 0) AS obs
             |         FROM rt CROSS JOIN ct
             |         LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source),
             |c AS (SELECT sum(pow(obs - rt * ct / n.n, 2) / (rt * ct / n.n)) AS chi2
             |      FROM grid CROSS JOIN n)
             |SELECT round(chi2, 6) AS chi2,
             |  (SELECT (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
             |   FROM documents) AS dof
             |FROM c""".stripMargin)),

    // SemDeDup-style semantic-cluster dedup — cluster the embedding space
    // (by sim_ann_ivf's stored centroids, VecIndex.ivf), then find
    // near-dup pairs WITHIN clusters only: the pair space is bounded by cell size
    // instead of corpus size, which is the published SemDeDup recipe for
    // billion-document semantic dedup (at 100 TB nlist grows with the
    // corpus to hold cell size constant — here it is the label-seeded cell
    // count). Planted swapped-coordinate twins (the dedup_embedding_cosine
    // corpus) make the signal live; near-identical vectors land in the
    // same cell, so planted recall is asserted in OperatorSpec rather than
    // oracled (cluster assignment is not DuckDB-expressible). Cell
    // assignment is the compiled CentroidAssign scan; the within-cell
    // self-join is pinned shuffle_hash on an explicit-count repartition —
    // never a broadcast of the corpus-sized assignment table.
    "dedup_semantic_cluster" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val emb = Tables(s, d, "embeddings")
        val (cent, _) = VecIndex.ivf(s, d)
        val pert = emb.select(
          (col("vec_id") + 100000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 2), element_at(col("embedding"), 1)),
                 slice(col("embedding"), lit(3), lit(62))).as("embedding"))
        val assigned = emb.select(col("vec_id"), col("embedding")).unionAll(pert)
          .repartition(n, col("vec_id"))
          .select(col("vec_id"), col("embedding"),
                  PipelineExt.centroidAssign(cent, col("embedding")).as("cid"))
          .repartition(n, col("cid"))
        assigned.as("a")
          .join(assigned.as("b").hint("shuffle_hash"),
                col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos",
            round(VectorOps.cosine(col("a.embedding"), col("b.embedding")), 6))
          .filter(col("cos") >= 0.95)
          .select(col("a.cid").as("cid"), col("a.vec_id").as("id_a"),
                  col("b.vec_id").as("id_b"), col("cos"))
          .orderBy("cid", "id_a", "id_b")
      },
      None),

    // Synchronous label propagation (community detection) — the
    // community-structure signal next to PageRank (importance) and
    // triangle counting (local clustering): 4 rounds of "adopt the most
    // frequent neighbor label, ties to the smallest", labels seeded with
    // the vertex id. Entirely integer — the argmax is a lexicographic
    // struct-min over (-count, label), so there is no float boundary and
    // the full trajectory is hash-exact cross-engine. Scale shape is the
    // pagerank discipline: the symmetrized edge table is derived ONCE,
    // hash-partitioned on src, and persisted; each round moves only the
    // (vertex, label) table through one dst-keyed count shuffle, and the
    // label frame is lineage-truncated mid-loop.
    "graph_label_propagation" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"))
        val adj = Graph.undirected(s, d)
        var lbl = docs.select(col("doc_id").as("v"), col("doc_id").as("l"))
        (1 to 4).foreach { i =>
          val pick = adj.join(lbl, adj("src") === lbl("v"))
            .groupBy(col("dst"), col("l")).agg(count(lit(1)).as("cnt"))
            .groupBy(col("dst"))
            .agg(min(struct((-col("cnt")).as("nc"), col("l").as("l")))
              .getField("l").as("pick"))
          lbl = lbl.join(pick, lbl("v") === pick("dst"), "left")
            .select(col("v"), coalesce(col("pick"), col("l")).as("l"))
          if (i == 2) lbl = lbl.localCheckpoint()
        }
        lbl.select(col("v").as("doc_id"), col("l").as("community"))
          .orderBy("doc_id")
      },
      Some(lpaOracleSql)),

    // Two-sample Kolmogorov–Smirnov test (click vs purchase event values) —
    // the distribution-shift detector a data pipeline runs between corpus
    // snapshots ("did the value distribution move?"). Entirely
    // integer-exact until ONE final division: values live on the 2-dp
    // grid, so they become exact cents; the ECDF gap at x is
    // |r1·n2 − r2·n1| in integers (a common-denominator cross-multiply,
    // no float ECDFs to compare), its max is an integer, and the reported
    // D = d_num/(n1·n2) is a single correctly-rounded IEEE division both
    // engines agree on bit-for-bit. The prefix sums run over the DISTINCT
    // value grid (bounded by the 2-dp domain, not the corpus), i.e. an
    // aggregate-fed window, never a corpus-fed one.
    "agg_ks_test" -> Decl(
      (s, d) => {
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(round(col("value") * 100).cast("bigint").as("cents"),
                  col("event_type"))
        val grid = ev.groupBy("cents")
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
               sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
        grid
          .select(col("cents"), sum(col("c1")).over(w).as("r1"),
                  sum(col("c2")).over(w).as("r2"))
          .crossJoin(broadcast(
            ev.agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
                   sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
                     .as("n2"))))
          .agg(max(abs(col("r1") * col("n2") - col("r2") * col("n1"))).as("d_num"),
               max(col("n1")).as("n1"), max(col("n2")).as("n2"))
          .select(col("n1"), col("n2"), col("d_num"),
                  (col("d_num").cast("double") / (col("n1") * col("n2"))).as("d"))
      },
      Some("""WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_type
             |            FROM events WHERE event_type IN ('click', 'purchase')),
             |grid AS (SELECT cents,
             |           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
             |         FROM ev GROUP BY cents),
             |r AS (SELECT cents,
             |        sum(c1) OVER (ORDER BY cents
             |                      ROWS UNBOUNDED PRECEDING) AS r1,
             |        sum(c2) OVER (ORDER BY cents
             |                      ROWS UNBOUNDED PRECEDING) AS r2
             |      FROM grid),
             |n AS (SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
             |             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n2
             |      FROM ev)
             |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             |       CAST(max(abs(r1 * n2 - r2 * n1)) AS BIGINT) AS d_num,
             |       CAST(max(abs(r1 * n2 - r2 * n1)) AS DOUBLE) / (n1 * n2) AS d
             |FROM r CROSS JOIN n GROUP BY n1, n2""".stripMargin)),

    // Welch's unequal-variance t-test (click vs purchase values) — the
    // mean-shift companion to the KS distribution test. The sufficient
    // statistics are EXACT integers (n, Σcents, Σcents² — the 2-dp grid
    // again), so partial aggregation is lossless and order-independent at
    // any scale; the t statistic and Welch–Satterthwaite dof are one fixed
    // arithmetic expression over those integers, written identically in
    // both engines (t is scale-invariant, so cents cancel), with the 6-dp
    // round absorbing terminal ulp noise.
    "agg_ttest_welch" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"),
                  round(col("value") * 100).cast("bigint").as("c"))
        ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
               sum(col("c") * col("c")).as("q"))
          .agg(max(when(col("event_type") === "click", col("n"))).as("n1"),
               max(when(col("event_type") === "click", col("s"))).as("s1"),
               max(when(col("event_type") === "click", col("q"))).as("q1"),
               max(when(col("event_type") === "purchase", col("n"))).as("n2"),
               max(when(col("event_type") === "purchase", col("s"))).as("s2"),
               max(when(col("event_type") === "purchase", col("q"))).as("q2"))
          .select(col("n1"), col("n2"),
                  round(col("s1").cast("double") / col("n1") / 100, 6).as("mean1"),
                  round(col("s2").cast("double") / col("n2") / 100, 6).as("mean2"),
                  expr("""round((CAST(s1 AS DOUBLE)/n1 - CAST(s2 AS DOUBLE)/n2) /
                         | sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1
                         |     + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2),
                         | 6)""".stripMargin).as("t"),
                  expr("""round(pow((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1
                         |        + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2, 2)
                         | / (pow((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1, 2)/(n1-1)
                         |  + pow((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2, 2)/(n2-1)),
                         | 4)""".stripMargin).as("dof"))
      },
      Some("""WITH g AS (SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS q
             |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
             |        FROM events WHERE event_type IN ('click', 'purchase')) GROUP BY 1),
             |w AS (SELECT
             |  CAST(max(CASE WHEN event_type = 'click' THEN n END) AS BIGINT) AS n1,
             |  CAST(max(CASE WHEN event_type = 'click' THEN s END) AS BIGINT) AS s1,
             |  CAST(max(CASE WHEN event_type = 'click' THEN q END) AS BIGINT) AS q1,
             |  CAST(max(CASE WHEN event_type = 'purchase' THEN n END) AS BIGINT) AS n2,
             |  CAST(max(CASE WHEN event_type = 'purchase' THEN s END) AS BIGINT) AS s2,
             |  CAST(max(CASE WHEN event_type = 'purchase' THEN q END) AS BIGINT) AS q2
             |  FROM g)
             |SELECT n1, n2,
             |  round(CAST(s1 AS DOUBLE)/n1/100, 6) AS mean1,
             |  round(CAST(s2 AS DOUBLE)/n2/100, 6) AS mean2,
             |  round((CAST(s1 AS DOUBLE)/n1 - CAST(s2 AS DOUBLE)/n2) /
             |   sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1
             |       + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2),
             |   6) AS t,
             |  round(pow((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1
             |          + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2, 2)
             |   / (pow((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1, 2)/(n1-1)
             |    + pow((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2, 2)/(n2-1)),
             |   4) AS dof
             |FROM w""".stripMargin)),

    // Jensen–Shannon drift per source — "did src7's vocabulary drift from
    // the corpus?": JSD(source term distribution ‖ corpus term
    // distribution) in nats, the symmetric bounded cousin of
    // agg_mutual_info's KL machinery. Both distributions come from ONE
    // vocabulary-bounded (source, word) count aggregate; the corpus
    // marginal and the per-source totals are rollups of it, broadcast
    // back, and the zero-observed side (q>0, p=0 terms) comes from
    // crossing sources with the vocabulary — all KB-scale grids. The only
    // cross-engine surface is the per-source contribution sum, absorbed
    // by the 6-dp round (the agg_mutual_info precedent).
    "text_jsd_drift" -> Decl(
      (s, d) => {
        val cw = Pipeline.docsWithTokens(s, d)
          .select(col("source"), explode(col("toks")).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        val perSrc = cw.groupBy("source").agg(sum(col("c")).as("ns"))
        val vocab = cw.groupBy("w").agg(sum(col("c")).as("cg"))
        val tot = vocab.agg(sum(col("cg")).cast("double").as("n"))
        perSrc.crossJoin(vocab)
          .join(cw, Seq("source", "w"), "left")
          .crossJoin(broadcast(tot))
          .select(col("source"),
                  (coalesce(col("c"), lit(0L)).cast("double") / col("ns")).as("p"),
                  (col("cg") / col("n")).as("q"))
          .withColumn("m", (col("p") + col("q")) / 2)
          .withColumn("contrib",
            when(col("p") > 0, lit(0.5) * col("p") * log(col("p") / col("m")))
              .otherwise(0.0) +
            lit(0.5) * col("q") * log(col("q") / col("m")))
          .groupBy("source").agg(round(sum(col("contrib")), 6).as("jsd_nats"))
          .orderBy("source")
      },
      Some("""WITH cw AS (SELECT source, w.w AS w, count(*) AS c
             |            FROM documents, unnest(string_split(text, ' ')) w(w)
             |            GROUP BY source, w.w),
             |ps AS (SELECT source, sum(c) AS ns FROM cw GROUP BY source),
             |v AS (SELECT w, sum(c) AS cg FROM cw GROUP BY w),
             |t AS (SELECT CAST(sum(cg) AS DOUBLE) AS n FROM v),
             |grid AS (SELECT ps.source,
             |           CAST(coalesce(cw.c, 0) AS DOUBLE) / ps.ns AS p,
             |           v.cg / t.n AS q
             |         FROM ps CROSS JOIN v
             |         LEFT JOIN cw ON cw.source = ps.source AND cw.w = v.w
             |         CROSS JOIN t)
             |SELECT source,
             |  round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q)/2))
             |                 ELSE 0 END
             |            + 0.5 * q * ln(q / ((p + q)/2))), 6) AS jsd_nats
             |FROM grid GROUP BY source ORDER BY source""".stripMargin)),

    // Deterministic exact-k uniform sample — "give me exactly 100 docs,
    // uniformly, reproducibly": rank by a cryptographic hash of the key
    // and take the k smallest. TABLESAMPLE/rand() are neither exact-k nor
    // re-runnable; the hash ticket is both, and the plan is a
    // TakeOrderedAndProject (per-partition bounded heap + driver merge of
    // k·partitions candidates), never a global sort — the only scalable
    // shape for top-k at 100 TB.
    "sample_hash_exactk" -> Decl(
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("ticket"))
        .orderBy("ticket")
        .limit(100),
      Some("""SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ticket
             |FROM documents ORDER BY ticket LIMIT 100""".stripMargin)),

    // Registered-domain blocklist filter — the RefinedWeb/C4 URL-level
    // drop pass: extract the registered domain from each page's host and
    // anti-join a blocklist ON THE DOMAIN KEY (broadcast — blocklists are
    // KB–MB); subdomains (www., cdn.) are covered because the JOIN KEY is
    // the registered domain, not the full host — suffix semantics without
    // a per-entry LIKE scan, which is the non-scalable alternative. URLs
    // are synthesized from events the same way as dedup_url_canonical.
    "filter_domain_blocklist" -> Decl(
      (s, d) => {
        import s.implicits._
        val host = concat(
          when(pmod(col("event_id"), lit(2L)) === 0, "www.").otherwise("cdn."),
          lit("example"), pmod(col("user_id"), lit(5L)).cast("string"),
          lit(".com"))
        val block = Seq("example1.com", "example3.com").toDF("domain")
        Tables.events(s, d)
          .select(col("event_id"), host.as("host"))
          .withColumn("domain", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
          .join(broadcast(block), Seq("domain"), "left_anti")
          .select(col("event_id"), col("host"))
          .orderBy("event_id")
      },
      Some("""WITH u AS (SELECT event_id,
             |  (CASE WHEN event_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END) ||
             |  'example' || CAST(user_id % 5 AS VARCHAR) || '.com' AS host
             |  FROM events)
             |SELECT event_id, host FROM u
             |WHERE regexp_extract(host, '([^.]+\.[^.]+)$', 1)
             |      NOT IN ('example1.com', 'example3.com')
             |ORDER BY event_id""".stripMargin)),

    // Bollinger bands (rolling mean ± 2σ), winsorized
    // robust mean on the integer-cents grid, hourly grouped top-k, and a
    // deterministic hash-subsample jackknife for uncertainty estimation.

    // Bollinger bands — the rolling mean ± 2·stddev envelope, per user
    // over a trailing 16-event frame. Sufficient statistics (n, Σy, Σy²)
    // are exact BIGINT window sums sharing ONE user-partitioned sort with
    // window_rolling_slope's discipline; mean and the ±2σ bands are each
    // a single fixed double tree rounded to 6 dp (population σ — the
    // convention both engines compute identically from the same integers).
    // Full frames only, so the frame width is a constant of the query.
    "window_bollinger" -> Decl(
      (s, d) => {
        val f = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(-15, Window.currentRow)
        val n = lit(16L)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
                  round(col("value") * 100).cast("bigint").as("y"))
          .select(col("user_id"), col("event_id"),
                  count(lit(1)).over(f).as("cnt"),
                  sum(col("y")).over(f).as("sy"),
                  sum(col("y") * col("y")).over(f).as("syy"))
          .filter(col("cnt") === 16)
          .select(col("user_id"), col("event_id"),
                  round(col("sy").cast("double") / 16.0, 6).as("mid"),
                  round(col("sy").cast("double") / 16.0 +
                    sqrt((n * col("syy") - col("sy") * col("sy")).cast("double")) * 2.0 / 16.0, 6)
                    .as("band_up"),
                  round(col("sy").cast("double") / 16.0 -
                    sqrt((n * col("syy") - col("sy") * col("sy")).cast("double")) * 2.0 / 16.0, 6)
                    .as("band_dn"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id,
             |              CAST(round(value * 100) AS BIGINT) AS y
             |            FROM events),
             |f AS (SELECT user_id, event_id,
             |        count(*) OVER w AS cnt,
             |        CAST(sum(y) OVER w AS BIGINT) AS sy,
             |        CAST(sum(y * y) OVER w AS BIGINT) AS syy
             |      FROM ev
             |      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             |                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id,
             |       round(CAST(sy AS DOUBLE) / 16.0, 6) AS mid,
             |       round(CAST(sy AS DOUBLE) / 16.0 +
             |             2.0 * sqrt(CAST(16 * syy - sy * sy AS DOUBLE)) / 16.0, 6)
             |         AS band_up,
             |       round(CAST(sy AS DOUBLE) / 16.0 -
             |             2.0 * sqrt(CAST(16 * syy - sy * sy AS DOUBLE)) / 16.0, 6)
             |         AS band_dn
             |FROM f WHERE cnt = 16 ORDER BY user_id, event_id""".stripMargin)),

    // Winsorized mean — the robust location estimate after clamping tails
    // at the p10/p90 grid values. Thresholds are picked by INTEGER rank on
    // the bounded distinct-cents grid (smallest value whose cumulative
    // count reaches ceil(q·n) — the agg_weighted_median machinery, so no
    // interpolated quantile ever crosses engines), broadcast back, and the
    // clamped mean is an exact BIGINT sum with ONE terminal division
    // rounded to 6 dp. Scale: grid aggregate + broadcast threshold join —
    // the corpus is scanned twice, windowed never.
    "agg_winsorized_mean" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
        // Round-13: eager checkpoint — the grid has FIVE consumer subtrees
        // (GridCum's sample and map passes, its internal per-key totals,
        // `tot`, and the final clamped mean), each of which otherwise
        // re-runs the events scan + grid aggregate. The clamped mean is
        // DERIVED from the grid (Σ clamp(c)·w / Σ w — the same exact
        // BIGINTs the per-row scan folded), so events is read once.
        val grid = ev.groupBy("event_type", "c").agg(count(lit(1)).as("w"))
          .localCheckpoint(true)
        val tot = grid.groupBy("event_type").agg(sum(col("w")).as("n"))
        // distributed PrefixSum over the (type, cents) order — a
        // type-partitioned window would serialize the value grid onto
        // |enum| tasks (round-12 gate)
        val cum = GridCum.perKeyCumsum(grid, "event_type", "c", "w", "cum")
          .join(broadcast(tot), "event_type")
        val lo = cum.filter(col("cum") * 10 >= col("n"))
          .groupBy("event_type").agg(min(col("c")).as("lo"))
        val hi = cum.filter(col("cum") * 10 >= col("n") * 9)
          .groupBy("event_type").agg(min(col("c")).as("hi"))
        grid.join(broadcast(lo), "event_type").join(broadcast(hi), "event_type")
          .select(col("event_type"), col("w"),
                  greatest(col("lo"), least(col("hi"), col("c"))).as("cc"))
          .groupBy("event_type")
          .agg(sum(col("w")).as("n"), sum(col("cc") * col("w")).as("sum_c"))
          .select(col("event_type"), col("n"),
                  round(col("sum_c").cast("double") / col("n").cast("double"), 6)
                    .as("winsorized_mean"))
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
             |        FROM grid),
             |lo AS (SELECT event_type, min(c) AS lo FROM cum
             |       WHERE cum * 10 >= n GROUP BY 1),
             |hi AS (SELECT event_type, min(c) AS hi FROM cum
             |       WHERE cum * 10 >= n * 9 GROUP BY 1)
             |SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n,
             |       round(CAST(sum(greatest(lo.lo, least(hi.hi, ev.c))) AS DOUBLE) /
             |             CAST(count(*) AS DOUBLE), 6) AS winsorized_mean
             |FROM ev JOIN lo USING (event_type) JOIN hi USING (event_type)
             |GROUP BY 1 ORDER BY ev.event_type""".stripMargin)),

    // Hourly top-k — per 1-hour bucket, the 2 busiest event types with an
    // explicit (count desc, type asc) tie-break. The ranking window's
    // child is the hour×type AGGREGATE (bounded by 24·types rows per day,
    // never corpus-sized), which is exactly the aggregate-fed exemption
    // the low-cardinality window gate encodes; the corpus itself crosses
    // one partial-aggregating shuffle. The trending-now dashboard query at
    // any scale.
    "ts_hourly_topk" -> Decl(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000L").as("hr"), col("event_type"))
          .groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("hr")
          .orderBy(col("n").desc, col("event_type").asc)
        hourly.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 2)
          .select(col("hr"), col("rnk").cast("bigint").as("rnk"),
                  col("event_type"), col("n"))
          .orderBy("hr", "rnk")
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(ts) // 3600000000 AS hr, event_type,
             |         count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT hr, event_type, n,
             |        row_number() OVER (PARTITION BY hr
             |          ORDER BY n DESC, event_type ASC) AS rnk
             |      FROM hourly)
             |SELECT hr, CAST(rnk AS BIGINT) AS rnk, event_type,
             |       CAST(n AS BIGINT) AS n
             |FROM r WHERE rnk <= 2 ORDER BY hr, rnk""".stripMargin)),

    // Hash-subsample jackknife — uncertainty for a mean WITHOUT runtime
    // RNG (R8): 16 deterministic half-samples, membership decided by the
    // first hex digit of md5(resample ‖ event_id) (< '8' ⇔ an exact 1/2
    // Bernoulli on a uniform hash — reproducible on any engine, any
    // cluster size, any run). Each resample reports its exact count and
    // integer-sum mean; the spread across the 16 rows IS the uncertainty
    // estimate. Scale: one scan fans out ×16 via a broadcast resample
    // spine into one partial-aggregating shuffle of 16·|types| groups.
    "agg_subsample_jackknife" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), round(col("value") * 100).cast("bigint").as("c"))
        val spine = ev.sparkSession.range(0, 16).select(col("id").as("resample"))
        ev.crossJoin(broadcast(spine))
          .filter(substring(md5(concat(col("resample").cast("string"), lit(":"),
                                       col("event_id").cast("string"))), 1, 1)
                    .isin("0", "1", "2", "3", "4", "5", "6", "7"))
          .groupBy("resample")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"))
          .select(col("resample"), col("n"),
                  round(col("sum_c").cast("double") / col("n").cast("double"), 6)
                    .as("mean_c"))
          .orderBy("resample")
      },
      Some("""WITH spine AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),
             |               (8),(9),(10),(11),(12),(13),(14),(15)) s(resample)),
             |ev AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
             |       FROM events),
             |m AS (SELECT spine.resample, ev.c
             |      FROM ev CROSS JOIN spine
             |      WHERE substr(md5(CAST(spine.resample AS VARCHAR) || ':' ||
             |                       CAST(ev.event_id AS VARCHAR)), 1, 1)
             |            IN ('0','1','2','3','4','5','6','7'))
             |SELECT CAST(resample AS BIGINT) AS resample,
             |       CAST(count(*) AS BIGINT) AS n,
             |       round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |         AS mean_c
             |FROM m GROUP BY 1 ORDER BY resample""".stripMargin)),

    // The SQL-session ETL surface as a contract key,
    // two-component PCA by deflation, an integer-exact log-scale histogram,
    // and HLL set-intersection estimation by inclusion–exclusion.

    // Multi-statement ETL through the SQL session (graft.Sql + the
    // restart-surviving GraftCatalog): seed a warehouse table from one
    // slice, append two more slices with INSERT INTO … SELECT, read the
    // final table back and aggregate. The oracle recomputes the same
    // report straight from the base table — equality proves the
    // seed+append mutation path loses and duplicates nothing. This is the
    // reference's user-facing surface (DDL + DML + query in one session)
    // exercised as a declared key, not just in SqlSpec.
    "sql_insert_select_etl" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_etlwh")
        val wh = dir.toString
        // table name unique per invocation: GraftCatalog.restore keeps the
        // FIRST registered path on a name collision, so a session re-run
        // with a fixed name would silently append into the previous run's
        // table (the saveAsTable discipline from join_bucketed_colocated)
        val t = s"etl_sales_${dir.getFileName.toString.filter(_.isDigit)}"
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        Tables(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
          .write.mode("overwrite").parquet(s"$wh/$t")
        graft.GraftCatalog.restore(s, wh)
        Sql.execute(s, wh,
          s"""INSERT INTO $t
            |SELECT o_orderkey, o_orderstatus,
            |       CAST(round(o_totalprice * 100) AS BIGINT)
            |FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
        Sql.execute(s, wh,
          s"""INSERT INTO $t
            |SELECT o_orderkey, o_orderstatus,
            |       CAST(round(o_totalprice * 100) AS BIGINT)
            |FROM orders WHERE o_orderstatus = 'P'""".stripMargin)
        s.read.parquet(s"$wh/$t")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS cents
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // Two-component PCA by deflation: the Gram-state Aggregator collapses
    // the corpus to d + d(d+1)/2 doubles in one pass (the 100 TB shape —
    // state size is dimension-, not data-bounded); the driver runs the
    // deterministic power iteration, deflates (C − λ₁v₁v₁ᵀ), and re-runs
    // for the second component. Oracle-N (no eigen solver in DuckDB);
    // Round9iSpec pins orthogonality |v₁·v₂| ≈ 0, the eigen ordering
    // λ₁ ≥ λ₂ > 0, and both residuals — the spectral ladder past
    // vec_pca_topcomponent's single component.
    "vec_pca_top2_deflate" -> Decl(
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
        val trace = (0 until dim).map(i => cov(i)(i)).sum
        import s.implicits._
        (v1.zipWithIndex.map { case (w, i) =>
            (1L, i.toLong, math.rint(w * 1e6) / 1e6, math.rint(l1 / trace * 1e6) / 1e6) } ++
         v2.zipWithIndex.map { case (w, i) =>
            (2L, i.toLong, math.rint(w * 1e6) / 1e6, math.rint(l2 / trace * 1e6) / 1e6) })
          .toSeq.toDF("component", "dim", "weight", "var_share")
          .orderBy("component", "dim")
      },
      None),

    // Log₂-scale histogram — the heavy-tail profile (latency/price/size
    // distributions) with INTEGER-EXACT bucketing: bucket = ⌊log₂ c⌋
    // computed as length(bin(c)) − 1, a string-length identity with no
    // floating log anywhere (a float log2 would disagree between engines
    // within an ulp of each power of two — exactly the values every
    // bucket boundary sits on). One partial-aggregating shuffle over the
    // ~30-row bucket space.
    "agg_log2_histogram" -> Decl(
      (s, d) => {
        Tables(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("bigint").as("c"))
          .filter(col("c") >= 1)
          .select((length(bin(col("c"))) - 1).cast("bigint").as("bucket"), col("c"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), min(col("c")).as("min_c"), max(col("c")).as("max_c"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |           FROM lineitem),
             |b AS (SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS bucket, c
             |      FROM c WHERE c >= 1)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             |       CAST(min(c) AS BIGINT) AS min_c, CAST(max(c) AS BIGINT) AS max_c
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // HLL set-intersection estimate by inclusion–exclusion — "how many
    // users did BOTH X and Y" from mergeable per-segment sketches, without
    // re-scanning raw data: |A∩B| ≈ est(A) + est(B) − est(A ∪ B), the
    // union sketch merged from the two stored segment sketches. The sketch
    // path never shuffles user ids — each side collapses to a KB register
    // array. Oracle-N (sketch estimates are impl-defined); Round9iSpec
    // bounds every estimate against the exact distinct counts.
    "agg_hll_intersection" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
        val sk = ev.filter(col("event_type").isin("click", "purchase"))
          .groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        sk.agg(
            max(when(col("event_type") === "click", col("sk"))).as("ska"),
            max(when(col("event_type") === "purchase", col("sk"))).as("skb"))
          .select(
            expr("round(hll_sketch_estimate(ska))").cast("bigint").as("est_a"),
            expr("round(hll_sketch_estimate(skb))").cast("bigint").as("est_b"),
            expr("round(hll_sketch_estimate(hll_union(ska, skb)))").cast("bigint")
              .as("est_union"))
          .select(col("est_a"), col("est_b"), col("est_union"),
                  (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"))
      },
      None),

    // Exact mergeable distinct counting via bitmap
    // aggregates, and the language-ID confusion matrix (classifier
    // evaluation as a first-class operator).

    // Exact mergeable distinct — the roaring-bitmap pattern through
    // Spark's native bitmap aggregates: per (segment, bucket) a bitmap of
    // user-id bit positions, per-segment distinct = Σ bitmap_count, and
    // the ALL row merges the STORED per-segment bitmaps with
    // bitmap_or_agg — union cardinality without re-touching raw ids, the
    // exact complement to agg_hll_sketch_union's approximate rollup.
    // Unlike HLL this is oracle-Y: bitmap counting is exact, so DuckDB's
    // plain count(DISTINCT) must hash-match. Scale: state per group is
    // bucket-count × 4 KB bitmaps; ids shuffle once into (segment,
    // bucket) partials.
    "agg_bitmap_distinct" -> Decl(
      (s, d) => {
        val buckets = Tables.events(s, d)
          .select(col("event_type"),
                  expr("bitmap_bucket_number(user_id)").as("bkt"),
                  col("user_id"))
          .groupBy("event_type", "bkt")
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        val perType = buckets
          .groupBy("event_type")
          .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
        val allRow = buckets
          .groupBy("bkt")
          .agg(expr("bitmap_or_agg(bm)").as("bm"))
          .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
          .select(lit("ALL").as("event_type"), col("n_distinct"))
        perType.unionByName(allRow).orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             |         AS n_distinct
             |FROM events GROUP BY event_type
             |UNION ALL
             |SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
             |ORDER BY event_type""".stripMargin)),

    // Language-ID confusion matrix — classifier evaluation as an
    // operator: the (true, predicted) census of text_langid's stopword
    // voter plus per-truth recall in integer ppm (R14). Composes the
    // EXISTING declared key (query and oracle both reused, so the two
    // stay in lockstep if the classifier changes); output is bounded by
    // langs². The fixture languages share one vocabulary, so accuracy is
    // data-limited — the matrix is the point, not the score.
    "text_langid_confusion" -> Decl(
      (s, d) => {
        val pred = PipelineExt.decls("text_langid").query(s, d)
        val cells = pred.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        val tot = cells.groupBy("lang").agg(sum(col("n")).as("n_true"))
        cells.join(broadcast(tot), "lang")
          .select(col("lang"), col("predicted"), col("n"),
                  expr("(n * 2000000L + n_true) div (2 * n_true)").as("recall_ppm"))
          .orderBy("lang", "predicted")
      },
      Some {
        val inner = PipelineExt.decls("text_langid").oracle.get
        s"""WITH pred AS ($inner),
           |cells AS (SELECT lang, predicted, count(*) AS n
           |          FROM pred GROUP BY 1, 2),
           |tot AS (SELECT lang, sum(n) AS n_true FROM cells GROUP BY 1)
           |SELECT cells.lang, predicted, CAST(n AS BIGINT) AS n,
           |       CAST((n * 2000000 + n_true) // (2 * n_true) AS BIGINT)
           |         AS recall_ppm
           |FROM cells JOIN tot USING (lang)
           |ORDER BY cells.lang, predicted""".stripMargin
      }),

    // First-order Markov transition mining over
    // per-user event sequences, and the multimodal plumbing pieces composed
    // into one end-to-end per-document feature pipeline.

    // Markov transition matrix — P(next type | current type) from every
    // user's event sequence: the sequence-mining staple behind
    // next-action prediction and anomaly scoring. Transitions come from
    // ONE lag over the user partitioning (R2 tie-break), counts are
    // exact BIGINTs on the bounded type×type grid, and row-conditional
    // probabilities ship as integer ppm (R14). Scale: one window + one
    // bounded groupBy; the matrix is alphabet², never data-sized.
    "agg_markov_transitions" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        val pairs = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_micros(col("ts")).as("us"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
                   col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
        pairs.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
                  expr("(n * 2000000L + n_from) div (2 * n_from)").as("p_ppm"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |             epoch_us(ts) AS us,
             |             lead(event_type) OVER (PARTITION BY user_id
             |               ORDER BY epoch_us(ts), event_id) AS next_type
             |           FROM events),
             |p AS (SELECT event_type AS from_type, next_type AS to_type,
             |        count(*) AS n
             |      FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, sum(n) AS n_from FROM p GROUP BY 1)
             |SELECT p.from_type, to_type, CAST(n AS BIGINT) AS n,
             |       CAST((n * 2000000 + n_from) // (2 * n_from) AS BIGINT)
             |         AS p_ppm
             |FROM p JOIN t USING (from_type)
             |ORDER BY p.from_type, to_type""".stripMargin)),

    // End-to-end multimodal pipeline — the plumbing quartet composed into
    // one deliverable: binary payload in → 256-byte frame expansion
    // (typed mapPartitions, exactly where a decoder batches) → per-doc
    // feature aggregation (frame count, byte volume, mean head-byte as
    // integer ppm) joined back to the metadata. Proves the stages
    // compose as one lazy plan — the frame stage never materializes to
    // storage between steps.
    "multimodal_end2end" -> Decl(
      (s, d) => {
        val sp = s; import sp.implicits._
        val frames = Tables(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            rows.flatMap { case (id, payload) =>
              payload.grouped(256).zipWithIndex.map {
                case (frame, i) => (id, i, frame.length, frame(0) & 0xFF)
              }
            }
          }
          .toDF("doc_id", "frame_id", "frame_bytes", "head_byte")
        val feat = frames.groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
               sum(col("frame_bytes").cast("bigint")).as("total_bytes"),
               sum(col("head_byte").cast("bigint")).as("head_sum"))
          .select(col("doc_id"), col("n_frames"), col("total_bytes"),
                  expr("(head_sum * 2000000L + n_frames) div (2 * n_frames)")
                    .as("mean_head_ppm"))
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"))
          .join(feat, "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, i,
             |    least(256, n_chars - i * 256) AS fb,
             |    ascii(substr(text, i * 256 + 1, 1)) AS hb
             |  FROM documents,
             |    unnest(generate_series(0, CAST(ceil(n_chars / 256.0) AS INT) - 1)) t(i)
             |  WHERE i * 256 < n_chars),
             |g AS (SELECT doc_id, count(*) AS n_frames,
             |        sum(fb) AS total_bytes, sum(hb) AS head_sum
             |      FROM f GROUP BY 1)
             |SELECT d.doc_id, d.lang, CAST(n_frames AS BIGINT) AS n_frames,
             |       CAST(total_bytes AS BIGINT) AS total_bytes,
             |       CAST((head_sum * 2000000 + n_frames) // (2 * n_frames)
             |            AS BIGINT) AS mean_head_ppm
             |FROM documents d JOIN g USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Empirical-Bayes smoothed rates and permissive
    // CSV ingestion with corrupt-record accounting.

    // Laplace-smoothed rate — ranking segments by a rate when some have
    // tiny samples: the raw short-doc rate per source plus the
    // add-one-smoothed posterior mean (x+1)/(n+2), both as integer ppm
    // (R14) from exact counts — the empirical-Bayes fix that keeps a
    // 1-of-1 segment from ranking above a 99-of-100 one. One bounded
    // groupBy over the documents scan.
    "agg_laplace_rate" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
               sum(when(col("n_chars") < 200, 1L).otherwise(0L)).as("x"))
          .select(col("source"), col("n"), col("x"),
                  expr("(x * 2000000L + n) div (2 * n)").as("raw_ppm"),
                  expr("((x + 1) * 2000000L + (n + 2)) div (2 * (n + 2))")
                    .as("smoothed_ppm"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS x,
             |  CAST((sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) * 2000000
             |        + count(*)) // (2 * count(*)) AS BIGINT) AS raw_ppm,
             |  CAST(((sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) + 1) * 2000000
             |        + (count(*) + 2)) // (2 * (count(*) + 2)) AS BIGINT)
             |    AS smoothed_ppm
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Permissive CSV ingestion — the malformed-feed reality of any raw
    // intake: a CSV written from orders with every 11th row deliberately
    // truncated (field dropped), read back under PERMISSIVE mode so bad
    // rows surface as NULL-padded rows instead of killing the job; the
    // report counts clean vs corrupt and aggregates ONLY the clean
    // cents. The oracle derives all three numbers from the base table
    // and the corruption rule — proving permissive parsing recovered
    // every uncorrupted row bit-exactly and quarantined exactly the
    // corrupted ones.
    "source_csv_permissive" -> Decl(
      (s, d) => {
        val dir = Tables.scratchDir("graft_csvperm")
        val out = dir.resolve("orders_dirty.csv").toString
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"))
          // corrupt every 11th row: drop the cents field entirely
          .select(when(col("o_orderkey") % 11 === 0,
                       concat_ws(",", col("o_orderkey"), col("o_orderstatus")))
                    .otherwise(concat_ws(",", col("o_orderkey"),
                                         col("o_orderstatus"), col("cents")))
                    .as("line"))
          .coalesce(1).write.mode("overwrite").text(out)
        val schema = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
        val back = s.read
          .schema(schema)
          .option("mode", "PERMISSIVE")
          .csv(out)
        back.agg(
            count(when(col("cents").isNotNull, 1)).as("n_clean"),
            count(when(col("cents").isNull, 1)).as("n_corrupt"),
            sum(col("cents")).as("clean_cents"))
      },
      Some("""SELECT
             |  CAST(count(*) FILTER (WHERE o_orderkey % 11 <> 0) AS BIGINT)
             |    AS n_clean,
             |  CAST(count(*) FILTER (WHERE o_orderkey % 11 = 0) AS BIGINT)
             |    AS n_corrupt,
             |  CAST(sum(CASE WHEN o_orderkey % 11 <> 0
             |            THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
             |       AS BIGINT) AS clean_cents
             |FROM orders""".stripMargin)),

    // Four classical estimators the inventory still
    // lacked — the Wilcoxon signed-rank test (the nonparametric paired
    // twin of the t-test: does one user cohort systematically out-purchase
    // the other day by day?), the Jarque-Bera normality screen
    // (moment-based skewness/kurtosis — the gate every parametric model
    // on residuals should run first), Mood's median test (k-group
    // location comparison that only trusts counts above/below the grand
    // median — maximally robust to outliers and unequal variances), and
    // the Chapman capture-recapture estimator (population-size estimation
    // from two overlapping observation windows — the classical answer to
    // "how many users are there REALLY, given we only ever see a sample?").
    //
    // Determinism: signed ranks use the DOUBLED-rank trick (2·avgrank is
    // an integer even at ties) on the |diff| grid; JB moments come from
    // exact BIGINT power sums of l_quantity (x ≤ 50, so Σx⁴ fits at every
    // SF) pushed through identical IEEE trees; Mood's counts are integers
    // against a doubled grand median; Chapman is a ratio of integer
    // distinct-counts. Group/term folds ride the repo's sorted-fold
    // discipline; doubles round to 6 dp.
    //
    // Scale shape: every key reduces the corpus in ONE distributed
    // aggregate (day spine ≤ 30 rows, value grids bounded by the 2-dp
    // domain, distinct-user semi-joins shuffle ids once); no data-sized
    // window, no driver loop.

    // Wilcoxon signed-rank: paired daily purchase counts of the even-id
    // vs odd-id user cohorts over the 30-day spine. Zero differences
    // drop (the standard Wilcoxon convention); |d| ties get doubled
    // average ranks. z uses the large-sample normal approximation with
    // the identical expression tree in both engines.
    "agg_wilcoxon_signed_rank" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(when(pmod(col("user_id"), lit(2L)) === 0, 1L)
                     .otherwise(0L)).as("n0"),
               sum(when(pmod(col("user_id"), lit(2L)) === 1, 1L)
                     .otherwise(0L)).as("n1"))
          .select(col("t"), (col("n0") - col("n1")).as("diff"))
          .filter(col("diff") =!= 0)
        // doubled average ranks over the ≤30-row |diff| grid
        val w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
        val grid = daily.groupBy(abs(col("diff")).as("ad"))
          .agg(count(lit(1)).as("ct"),
               sum(when(col("diff") > 0, 1L).otherwise(0L)).as("pos"))
          .withColumn("before", coalesce(sum(col("ct")).over(w), lit(0L)))
          .withColumn("dr", lit(2) * col("before") + col("ct") + 1)
        grid.agg(
            sum(col("ct")).as("n_eff"),
            sum(col("pos") * col("dr")).as("wp2"),
            sum((col("ct") - col("pos")) * col("dr")).as("wm2"))
          .select(col("n_eff"),
                  (col("wp2").cast("double") / 2).as("w_plus"),
                  (col("wm2").cast("double") / 2).as("w_minus"),
                  col("n_eff").as("n"))
          .withColumn("z",
            (col("w_plus") - col("n").cast("double") * (col("n") + 1) / 4) /
              sqrt(col("n").cast("double") * (col("n") + 1) *
                   (col("n") * 2 + 1) / 24))
          .select(col("n_eff"), col("w_plus"), col("w_minus"),
                  round(col("z"), 6).as("z"),
                  (abs(round(col("z"), 6)) > 1.959964).as("reject_h0"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT) AS t,
             |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             |              AS BIGINT) -
             |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS diff
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |nz AS (SELECT * FROM daily WHERE diff <> 0),
             |grid AS (SELECT abs(diff) AS ad, count(*) AS ct,
             |                CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
             |                     AS BIGINT) AS pos
             |         FROM nz GROUP BY 1),
             |r AS (SELECT ad, ct, pos,
             |        coalesce(sum(ct) OVER (ORDER BY ad
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS before
             |      FROM grid),
             |agg AS (SELECT CAST(sum(ct) AS BIGINT) AS n_eff,
             |               CAST(sum(pos * (2 * before + ct + 1)) AS BIGINT)
             |                 AS wp2,
             |               CAST(sum((ct - pos) * (2 * before + ct + 1))
             |                    AS BIGINT) AS wm2
             |        FROM r)
             |SELECT n_eff,
             |       CAST(wp2 AS DOUBLE) / 2 AS w_plus,
             |       CAST(wm2 AS DOUBLE) / 2 AS w_minus,
             |       round((CAST(wp2 AS DOUBLE) / 2 -
             |              CAST(n_eff AS DOUBLE) * (n_eff + 1) / 4) /
             |             sqrt(CAST(n_eff AS DOUBLE) * (n_eff + 1) *
             |                  (2 * n_eff + 1) / 24), 6) AS z,
             |       abs(round((CAST(wp2 AS DOUBLE) / 2 -
             |              CAST(n_eff AS DOUBLE) * (n_eff + 1) / 4) /
             |             sqrt(CAST(n_eff AS DOUBLE) * (n_eff + 1) *
             |                  (2 * n_eff + 1) / 24), 6)) > 1.959964
             |         AS reject_h0
             |FROM agg""".stripMargin)),

    // Jarque-Bera normality test on l_quantity: skewness and excess
    // kurtosis from exact BIGINT raw power sums (quantity ≤ 50 keeps
    // Σx⁴ ≤ 6.25e6·n, inside BIGINT at any SF this engine targets),
    // central moments expanded from raw moments with the IDENTICAL
    // expression tree in both engines. Uniform-ish quantities are
    // decisively non-normal (negative excess kurtosis) — the point is
    // the exact statistic, not the verdict.
    "agg_jarque_bera" -> Decl(
      (s, d) => {
        Tables(s, d, "lineitem")
          .select(col("l_quantity").cast("bigint").as("x"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
               sum(col("x") * col("x")).as("s2"),
               sum(col("x") * col("x") * col("x")).as("s3"),
               sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
          .withColumn("nn", col("n").cast("double"))
          .withColumn("mu", col("s1").cast("double") / col("nn"))
          .withColumn("m2",
            col("s2").cast("double") / col("nn") - col("mu") * col("mu"))
          .withColumn("m3",
            col("s3").cast("double") / col("nn") -
              lit(3.0) * col("mu") * col("s2").cast("double") / col("nn") +
              lit(2.0) * col("mu") * col("mu") * col("mu"))
          .withColumn("m4",
            col("s4").cast("double") / col("nn") -
              lit(4.0) * col("mu") * col("s3").cast("double") / col("nn") +
              lit(6.0) * col("mu") * col("mu") *
                col("s2").cast("double") / col("nn") -
              lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
          .withColumn("skew", col("m3") / pow(col("m2"), 1.5))
          .withColumn("kurt", col("m4") / (col("m2") * col("m2")) - 3.0)
          .select(col("n"),
                  round(col("skew"), 6).as("skewness"),
                  round(col("kurt"), 6).as("kurtosis_excess"),
                  round(col("nn") / 6 *
                        (col("skew") * col("skew") +
                         col("kurt") * col("kurt") / 4), 6).as("jb"),
                  (round(col("nn") / 6 *
                         (col("skew") * col("skew") +
                          col("kurt") * col("kurt") / 4), 6) > 5.991)
                    .as("reject_normality"))
      },
      Some("""WITH s AS (
             |  SELECT count(*) AS n,
             |         CAST(sum(x) AS BIGINT) AS s1,
             |         CAST(sum(x * x) AS BIGINT) AS s2,
             |         CAST(sum(x * x * x) AS BIGINT) AS s3,
             |         CAST(sum(x * x * x * x) AS BIGINT) AS s4
             |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem)),
             |m AS (SELECT n, CAST(n AS DOUBLE) AS nn,
             |             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             |             CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
             |             CAST(s4 AS DOUBLE) AS d4
             |      FROM s),
             |c AS (SELECT n, nn, mu,
             |             d2 / nn - mu * mu AS m2,
             |             d3 / nn - 3.0 * mu * d2 / nn + 2.0 * mu * mu * mu
             |               AS m3,
             |             d4 / nn - 4.0 * mu * d3 / nn +
             |               6.0 * mu * mu * d2 / nn -
             |               3.0 * mu * mu * mu * mu AS m4
             |      FROM m),
             |k AS (SELECT n, nn,
             |             m3 / pow(m2, 1.5) AS skew,
             |             m4 / (m2 * m2) - 3.0 AS kurt
             |      FROM c)
             |SELECT n, round(skew, 6) AS skewness,
             |       round(kurt, 6) AS kurtosis_excess,
             |       round(nn / 6 * (skew * skew + kurt * kurt / 4), 6) AS jb,
             |       round(nn / 6 * (skew * skew + kurt * kurt / 4), 6) > 5.991
             |         AS reject_normality
             |FROM k""".stripMargin)),

    // Mood's median test across the five event types: counts strictly
    // above the DOUBLED grand median (integral even at interpolated
    // medians; ties with the median land in the "not above" cell, the
    // classical convention), chi-squared on the 2×k table with
    // margin-derived expectations, per-group terms folded in group
    // order. dof = k−1 = 4 → 9.488 at α = 0.05.
    "agg_mood_median_test" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type").as("g"),
                  round(col("value") * 100).cast("bigint").as("c"))
        val med = ev.agg((median(col("c")) * 2).cast("bigint").as("dmed"))
        val cells = ev.crossJoin(broadcast(med))
          .groupBy("g")
          .agg(count(lit(1)).as("ng"),
               sum(when(col("c") * 2 > col("dmed"), 1L).otherwise(0L))
                 .as("above"))
        val glob = cells.agg(sum(col("ng")).as("n"),
                             sum(col("above")).as("a"),
                             count(lit(1)).as("k"))
        cells.crossJoin(broadcast(glob))
          .withColumn("ea",
            col("ng").cast("double") * col("a") / col("n"))
          .withColumn("eb",
            col("ng").cast("double") * (col("n") - col("a")) / col("n"))
          .withColumn("term",
            (col("above") - col("ea")) * (col("above") - col("ea")) / col("ea") +
            ((col("ng") - col("above")) - col("eb")) *
              ((col("ng") - col("above")) - col("eb")) / col("eb"))
          .groupBy("n", "k")
          .agg(expr("round(aggregate(array_sort(collect_list(struct(g, term))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term), 6)")
                 .as("chi2"))
          .select(col("k").cast("bigint").as("k_groups"),
                  col("n").cast("bigint").as("n"),
                  col("chi2"),
                  (col("chi2") > 9.488).as("reject_h0"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type AS g,
             |         CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |med AS (SELECT CAST(median(c) * 2 AS BIGINT) AS dmed FROM ev),
             |cells AS (SELECT g, count(*) AS ng,
             |                 CAST(sum(CASE WHEN c * 2 > dmed THEN 1 ELSE 0
             |                          END) AS BIGINT) AS above
             |          FROM ev CROSS JOIN med GROUP BY g),
             |gl AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
             |              CAST(sum(above) AS BIGINT) AS a,
             |              count(*) AS k FROM cells),
             |terms AS (
             |  SELECT g, k, n,
             |         (above - CAST(ng AS DOUBLE) * a / n) *
             |         (above - CAST(ng AS DOUBLE) * a / n) /
             |           (CAST(ng AS DOUBLE) * a / n) +
             |         ((ng - above) - CAST(ng AS DOUBLE) * (n - a) / n) *
             |         ((ng - above) - CAST(ng AS DOUBLE) * (n - a) / n) /
             |           (CAST(ng AS DOUBLE) * (n - a) / n) AS term
             |  FROM cells CROSS JOIN gl)
             |SELECT CAST(k AS BIGINT) AS k_groups, n,
             |       round(list_sum(list(term ORDER BY g)), 6) AS chi2,
             |       round(list_sum(list(term ORDER BY g)), 6) > 9.488
             |         AS reject_h0
             |FROM terms GROUP BY k, n""".stripMargin)),

    // Chapman capture-recapture: "capture" = users seen in the first
    // 15 days, "recapture" = users seen in the last 15; the Chapman
    // form (n1+1)(n2+1)/(m+1) − 1 is the bias-corrected classic and is
    // exact integer arithmetic until one final division.
    "agg_capture_recapture" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"),
                  datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                    .cast("bigint").as("t"))
        val first = ev.filter(col("t") <= 15).select("user_id").distinct()
        val second = ev.filter(col("t") >= 16).select("user_id").distinct()
        val n1 = first.agg(count(lit(1)).as("n1"))
        val n2 = second.agg(count(lit(1)).as("n2"))
        val m = first.join(second, Seq("user_id"), "left_semi")
          .agg(count(lit(1)).as("m_both"))
        n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
          .select(col("n1"), col("n2"), col("m_both"),
                  round((col("n1") + 1).cast("double") * (col("n2") + 1) /
                          (col("m_both") + 1) - 1.0, 6).as("n_hat"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id,
             |         CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT) AS t
             |  FROM events),
             |f AS (SELECT DISTINCT user_id FROM ev WHERE t <= 15),
             |s AS (SELECT DISTINCT user_id FROM ev WHERE t >= 16),
             |c AS (SELECT (SELECT count(*) FROM f) AS n1,
             |             (SELECT count(*) FROM s) AS n2,
             |             (SELECT count(*) FROM f WHERE user_id IN
             |                (SELECT user_id FROM s)) AS m_both)
             |SELECT n1, n2, m_both,
             |       round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m_both + 1)
             |             - 1.0, 6) AS n_hat
             |FROM c""".stripMargin)),

    // Penalized and robust regression — closed-form
    // ridge regression along a λ path (the L2-shrunk OLS every feature
    // pipeline reaches for when predictors collinear: slope shrinks
    // smoothly toward 0 as λ grows) and quantile regression through the
    // origin by grid search (the τ-pinball-loss line that answers "what
    // slope bounds the τ-quantile of price per unit quantity" — median
    // and tail fits in one operator, no IRLS, no iterations).
    //
    // Determinism: both consume only exact BIGINT sums. Ridge is ONE
    // scan producing (n, Σx, Σy, Σx², Σxy), then a 3-point broadcast λ
    // grid through the identical closed-form IEEE tree in both engines.
    // The quantile fit keeps the ENTIRE objective integral: pinball loss
    // scaled by 10 (τ ∈ {.1,.5,.9} → integer weights 1/5/9 on positive
    // and 9/5/1 on negative residuals), so the argmin over the 41-slope
    // grid compares BIGINTs — no float order anywhere.
    //
    // Scale shape: ridge is one aggregate. The quantile grid fans each
    // row out 41× (a broadcast crossJoin — constant factor, no shuffle
    // until the 41·3-group aggregate); argmin is a min(struct) over 123
    // rows. No data-sized window, no driver iteration.

    // Ridge path for extendedprice-cents ~ quantity at λ ∈ {0, 1e6,
    // 1e8} (λ in squared-cents, applied to the CENTERED normal
    // equation: slope_λ = Sxy_c / (Sxx_c + λ), with Sxy_c = n·Σxy −
    // Σx·Σy etc. kept in the n-scaled integer form so no fraction
    // forms early). λ=0 row IS the OLS fit; shrinkage = slope_λ /
    // slope_0 decreases in λ.
    "agg_ridge_regression" -> Decl(
      (s, d) => {
        val sums = Tables(s, d, "lineitem")
          .select(col("l_quantity").cast("bigint").as("x"),
                  round(col("l_extendedprice") * 100).cast("bigint").as("yc"))
          .agg(count(lit(1)).as("n"),
               sum(col("x")).as("sx"), sum(col("yc")).as("sy"),
               sum(col("x") * col("x")).as("sxx"),
               sum((col("x") * col("yc")).cast("decimal(38,0)")).as("sxy"))
        val lam = s.range(1).select(
          explode(array(lit(0L), lit(1000000L), lit(100000000L))).as("lambda"))
        sums.crossJoin(broadcast(lam))
          .withColumn("num",
            (col("n").cast("decimal(38,0)") * col("sxy") -
             col("sx").cast("decimal(38,0)") * col("sy")).cast("double"))
          .withColumn("den",
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") +
              col("lambda").cast("double") * col("n").cast("double"))
          .withColumn("den0",
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .withColumn("slope", col("num") / col("den"))
          .select(col("lambda"),
                  round(col("slope"), 6).as("slope"),
                  round((col("sy").cast("double") - col("slope") *
                           col("sx").cast("double")) / col("n"), 6)
                    .as("intercept_cents"),
                  round(col("slope") / (col("num") / col("den0")), 6)
                    .as("shrinkage"))
          .orderBy("lambda")
      },
      Some("""WITH s AS (
             |  SELECT count(*) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx,
             |         CAST(sum(yc) AS BIGINT) AS sy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx,
             |         sum(CAST(x * yc AS DECIMAL(38,0))) AS sxy
             |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
             |               CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
             |        FROM lineitem)),
             |lam AS (SELECT unnest([0, 1000000, 100000000]) AS lambda),
             |t AS (SELECT lambda,
             |             CAST(CAST(n AS DECIMAL(38,0)) * sxy -
             |                  CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
             |               AS num,
             |             CAST(n * sxx - sx * sx AS DOUBLE) +
             |               CAST(lambda AS DOUBLE) * CAST(n AS DOUBLE) AS den,
             |             CAST(n * sxx - sx * sx AS DOUBLE) AS den0,
             |             CAST(sy AS DOUBLE) AS syd,
             |             CAST(sx AS DOUBLE) AS sxd, n
             |      FROM s CROSS JOIN lam)
             |SELECT CAST(lambda AS BIGINT) AS lambda,
             |       round(num / den, 6) AS slope,
             |       round((syd - (num / den) * sxd) / n, 6) AS intercept_cents,
             |       round((num / den) / (num / den0), 6) AS shrinkage
             |FROM t ORDER BY lambda""".stripMargin)),

    // Quantile regression through the origin: for τ ∈ {0.1, 0.5, 0.9}
    // pick the slope s (cents per unit, 41-point grid 0..4000 step
    // 100) minimizing the 10×-scaled pinball loss
    //   Σ [10τ·r⁺ + 10(1−τ)·r⁻],  r = yc − s·x
    // — every term is a BIGINT, so the argmin is an integer
    // comparison; ties (none on this data, but defined anyway) break
    // toward the smaller slope via min(struct(loss, slope)).
    "agg_quantile_regression_grid" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_quantity").cast("bigint").as("x"),
                  round(col("l_extendedprice") * 100).cast("bigint").as("yc"))
        val grid = s.range(41).select((col("id") * 100).as("slope"))
        val tau = s.range(1).select(
          explode(array(lit(1L), lit(5L), lit(9L))).as("w10"))
        li.crossJoin(broadcast(grid)).crossJoin(broadcast(tau))
          .select(col("slope"), col("w10"),
                  (col("yc") - col("slope") * col("x")).as("r"))
          .groupBy("w10", "slope")
          .agg(sum(when(col("r") >= 0, col("w10") * col("r"))
                     .otherwise((col("w10") - 10L) * col("r")))
                 .as("loss"))
          .groupBy("w10")
          .agg(min(struct(col("loss"), col("slope"))).as("best"))
          .select((col("w10").cast("double") / 10).as("tau"),
                  col("best.slope").as("slope_cents"),
                  col("best.loss").as("pinball_x10"))
          .orderBy("tau")
      },
      Some("""WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             |                   CAST(round(l_extendedprice * 100) AS BIGINT)
             |                     AS yc
             |            FROM lineitem),
             |grid AS (SELECT unnest(range(0, 4100, 100)) AS slope),
             |tau AS (SELECT unnest([1, 5, 9]) AS w10),
             |loss AS (
             |  SELECT w10, slope,
             |         CAST(sum(CASE WHEN yc - slope * x >= 0
             |                       THEN w10 * (yc - slope * x)
             |                       ELSE (w10 - 10) * (yc - slope * x) END)
             |              AS BIGINT) AS loss
             |  FROM li CROSS JOIN grid CROSS JOIN tau
             |  GROUP BY w10, slope),
             |best AS (
             |  SELECT w10, slope, loss,
             |         row_number() OVER (PARTITION BY w10
             |                            ORDER BY loss, slope) AS rn
             |  FROM loss)
             |SELECT CAST(w10 AS DOUBLE) / 10 AS tau,
             |       CAST(slope AS BIGINT) AS slope_cents,
             |       loss AS pinball_x10
             |FROM best WHERE rn = 1 ORDER BY tau""".stripMargin)),

    // Resampling and empirical-Bayes inference — a
    // deterministic PERMUTATION test of the cohort spend difference (the
    // assumption-free significance answer when nothing about the
    // distribution is trusted: re-randomize labels B=200 times, count how
    // often the permuted |difference| beats the observed one) and
    // beta-binomial shrinkage of daily conversion rates (the
    // empirical-Bayes fix for "day 7 had 3 events and looks like a 100%
    // conversion day": method-of-moments prior from the 30-day rate
    // spread, posterior-mean shrinkage toward it).
    //
    // Determinism: permutation labels are the PARITY OF THE LAST HEX
    // CHAR of md5(event_id:b) — the same string in every engine, so the
    // B=200 re-randomizations are identical everywhere; each permuted
    // difference flows through the same exact-integer-sums → one-double
    // tree as the observed one, so the ≥ comparisons agree bit-for-bit.
    // The beta prior folds Σp and Σ(p−p̄)² in day order (sorted-fold
    // rule); everything else is integer counts.
    //
    // Scale shape: the permutation fan-out is a broadcast crossJoin (one
    // scan read B times map-side, combined to B×2 partial sums before the
    // only shuffle — 400 rows cross the wire, not B×N). The shrinkage key
    // reduces the corpus to the 30-day spine in one aggregate.

    // Two-sided permutation test, B = 200: is the even-user cohort's
    // mean purchase (cents) different from the odd-user cohort's?
    // p = (1 + #{|T_b| ≥ |T_obs|}) / (B + 1), the add-one-in rule that
    // keeps the p-value valid at any B.
    "agg_permutation_test" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"),
                  round(col("value") * 100).cast("bigint").as("c"),
                  (pmod(col("user_id"), lit(2L)) === 0).as("isA"))
        def diff(sa: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
                 sb: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
          sa.cast("double") / na - sb.cast("double") / nb
        val obs = ev.agg(
            sum(when(col("isA"), col("c")).otherwise(0L)).as("sa"),
            sum(when(col("isA"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("isA"), col("c")).otherwise(0L)).as("sb"),
            sum(when(!col("isA"), 1L).otherwise(0L)).as("nb"))
          .select(col("na"), col("nb"),
                  diff(col("sa"), col("na"), col("sb"), col("nb")).as("t_obs"))
        val perms = s.range(200).select(col("id").as("b"))
        val permT = ev.crossJoin(broadcast(perms))
          .withColumn("lab",
            substring(md5(concat(col("event_id").cast("string"), lit(":"),
                                 col("b").cast("string"))), 32, 1)
              .isin("0", "2", "4", "6", "8", "a", "c", "e"))
          .groupBy("b")
          .agg(sum(when(col("lab"), col("c")).otherwise(0L)).as("sa"),
               sum(when(col("lab"), 1L).otherwise(0L)).as("na"),
               sum(when(!col("lab"), col("c")).otherwise(0L)).as("sb"),
               sum(when(!col("lab"), 1L).otherwise(0L)).as("nb"))
          .select(col("b"),
                  diff(col("sa"), col("na"), col("sb"), col("nb")).as("t"))
        permT.crossJoin(broadcast(obs))
          .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
               round(first(col("t_obs")), 6).as("t_obs"),
               count(lit(1)).as("b_perms"),
               sum(when(abs(col("t")) >= abs(col("t_obs")), 1L).otherwise(0L))
                 .as("exceed"))
          .withColumn("p_value",
            round((col("exceed") + 1).cast("double") / (col("b_perms") + 1), 6))
      },
      Some("""WITH ev AS (
             |  SELECT event_id,
             |         CAST(round(value * 100) AS BIGINT) AS c,
             |         user_id % 2 = 0 AS isa
             |  FROM events WHERE event_type = 'purchase'),
             |obs AS (
             |  SELECT CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
             |           AS n_a,
             |         CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT)
             |           AS n_b,
             |         CAST(CAST(sum(CASE WHEN isa THEN c ELSE 0 END)
             |                   AS BIGINT) AS DOUBLE) /
             |           CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) -
             |         CAST(CAST(sum(CASE WHEN NOT isa THEN c ELSE 0 END)
             |                   AS BIGINT) AS DOUBLE) /
             |           CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)
             |                AS BIGINT) AS t_obs
             |  FROM ev),
             |perms AS (SELECT unnest(range(0, 200)) AS b),
             |lab AS (
             |  SELECT b,
             |         substr(md5(CAST(event_id AS VARCHAR) || ':' ||
             |                    CAST(b AS VARCHAR)), 32, 1)
             |           IN ('0','2','4','6','8','a','c','e') AS lab,
             |         c
             |  FROM ev CROSS JOIN perms),
             |pt AS (
             |  SELECT b,
             |         CAST(CAST(sum(CASE WHEN lab THEN c ELSE 0 END)
             |                   AS BIGINT) AS DOUBLE) /
             |           CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) -
             |         CAST(CAST(sum(CASE WHEN NOT lab THEN c ELSE 0 END)
             |                   AS BIGINT) AS DOUBLE) /
             |           CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END)
             |                AS BIGINT) AS t
             |  FROM lab GROUP BY b)
             |SELECT obs.n_a, obs.n_b, round(obs.t_obs, 6) AS t_obs,
             |       count(*) AS b_perms,
             |       CAST(sum(CASE WHEN abs(pt.t) >= abs(obs.t_obs)
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS exceed,
             |       round(CAST(CAST(sum(CASE WHEN abs(pt.t) >= abs(obs.t_obs)
             |                               THEN 1 ELSE 0 END) AS BIGINT) + 1
             |                  AS DOUBLE) / (count(*) + 1), 6) AS p_value
             |FROM pt CROSS JOIN obs
             |GROUP BY obs.n_a, obs.n_b, obs.t_obs""".stripMargin)),

    // Beta-binomial empirical-Bayes shrinkage of the daily purchase
    // share: MoM prior (α̂, β̂) from the 30 daily rates, posterior-mean
    // shrunk_t = (conv_t + α̂)/(n_t + α̂ + β̂). Low-n days move most —
    // the spec asserts the contraction property per day.
    "agg_beta_binomial_shrinkage" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
                 .as("conv"))
          .withColumn("p", col("conv").cast("double") / col("n"))
        val prior = daily.agg(
            count(lit(1)).as("tt"),
            expr("aggregate(array_sort(collect_list(struct(t, p))), " +
                 "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.p)").as("sp"),
            expr("aggregate(array_sort(collect_list(struct(t, p))), " +
                 "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.p * x.p)").as("spp"))
          .withColumn("pbar", col("sp") / col("tt"))
          .withColumn("v",
            (col("spp") - col("sp") * col("sp") / col("tt")) /
              (col("tt") - 1))
          .withColumn("m",
            col("pbar") * (lit(1.0) - col("pbar")) / col("v") - 1)
          .select((col("pbar") * col("m")).as("alpha"),
                  ((lit(1.0) - col("pbar")) * col("m")).as("beta"))
        daily.crossJoin(broadcast(prior))
          .select(col("t"), col("n"), col("conv"),
                  round(col("p"), 6).as("rate_raw"),
                  round((col("conv") + col("alpha")) /
                        (col("n") + col("alpha") + col("beta")), 6)
                    .as("rate_shrunk"),
                  round(col("alpha"), 6).as("alpha"),
                  round(col("beta"), 6).as("beta"))
          .orderBy("t")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT)
             |           AS t,
             |         count(*) AS n,
             |         CAST(sum(CASE WHEN event_type = 'purchase'
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS conv
             |  FROM events GROUP BY 1),
             |r AS (SELECT t, n, conv, CAST(conv AS DOUBLE) / n AS p
             |      FROM daily),
             |prior AS (
             |  SELECT count(*) AS tt,
             |         list_sum(list(p ORDER BY t)) AS sp,
             |         list_sum(list(p * p ORDER BY t)) AS spp
             |  FROM r),
             |ab AS (
             |  SELECT (sp / tt) *
             |           ((sp / tt) * (1 - sp / tt) /
             |            ((spp - sp * sp / tt) / (tt - 1)) - 1) AS alpha,
             |         (1 - sp / tt) *
             |           ((sp / tt) * (1 - sp / tt) /
             |            ((spp - sp * sp / tt) / (tt - 1)) - 1) AS beta
             |  FROM prior)
             |SELECT t, n, conv,
             |       round(p, 6) AS rate_raw,
             |       round((conv + alpha) / (n + alpha + beta), 6)
             |         AS rate_shrunk,
             |       round(alpha, 6) AS alpha,
             |       round(beta, 6) AS beta
             |FROM r CROSS JOIN ab
             |ORDER BY t""".stripMargin)),

    // The Wilson score interval — the binomial CI
    // that actually behaves at small n and extreme rates, unlike the
    // Wald interval every naive dashboard ships. (CUPED and
    // diff-in-diff were drafted here too; the duplicate-key check caught
    // that both keys already existed — exactly the failure mode the loud
    // check exists for.)
    //
    // Determinism: integer (k, n) per group through identical IEEE
    // trees; the z constant is one literal in both engines.
    //
    // Scale shape: one per-group hash aggregate, then ≤5-row arithmetic.

    // Wilson 95% score interval for the even-user share per event
    // type: integer (k, n) per group, one literal z in both engines.
    "agg_wilson_ci" -> Decl(
      (s, d) => {
        val per = Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(when(pmod(col("user_id"), lit(2L)) === 0, 1L)
                     .otherwise(0L)).as("k"))
          .withColumn("p", col("k").cast("double") / col("n"))
          .withColumn("z2n", lit(Z) * lit(Z) / col("n"))
          .withColumn("center", (col("p") + col("z2n") / 2) / (lit(1.0) + col("z2n")))
          .withColumn("half",
            lit(Z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
                          col("z2n") / (lit(4.0) * col("n"))) /
              (lit(1.0) + col("z2n")))
        per.select(col("event_type"), col("n"), col("k"),
                   round(col("p"), 6).as("p_hat"),
                   round(col("center") - col("half"), 6).as("ci_lo"),
                   round(col("center") + col("half"), 6).as("ci_hi"))
          .orderBy("event_type")
      },
      Some(s"""WITH per AS (
             |  SELECT event_type, count(*) AS n,
             |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS k
             |  FROM events GROUP BY event_type),
             |t AS (SELECT event_type, n, k,
             |             CAST(k AS DOUBLE) / n AS p,
             |             $Z * $Z / n AS z2n
             |      FROM per)
             |SELECT event_type, n, k,
             |       round(p, 6) AS p_hat,
             |       round((p + z2n / 2) / (1.0 + z2n) -
             |             $Z * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)) /
             |               (1.0 + z2n), 6) AS ci_lo,
             |       round((p + z2n / 2) / (1.0 + z2n) +
             |             $Z * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)) /
             |               (1.0 + z2n), 6) AS ci_hi
             |FROM t ORDER BY event_type""".stripMargin)),

    // Χ² independence over a bounded contingency grid,
    // the 1-D Wasserstein (earth-mover) and energy distances between two
    // price distributions via the distributed PrefixSum CDF (no global
    // window anywhere — the round-11 verdict's grid discipline), and a
    // two-model uplift readout in exact ppm integers.

    // χ² test of independence on the orders priority × status contingency
    // grid (bounded 5×3 — a driver-safe enum cross). Empty cells are
    // materialized via the row×col cross join (χ² charges (0−e)²/e for
    // them). Exact-integer core: d = N·o − rt·ct is a BIGINT; the only
    // doubles are one multiply and one divide per cell, folded in sorted
    // (prio, status) order so both engines add in the same sequence.
    "agg_chisq_independence" -> Decl(
      (s, d) => {
        val cells = Tables(s, d, "orders")
          .groupBy(col("o_orderpriority").as("prio"),
                   col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("o"))
        val rt = cells.groupBy("prio").agg(sum(col("o")).as("rt"))
        val ct = cells.groupBy("st").agg(sum(col("o")).as("ct"))
        val n = cells.agg(sum(col("o")).as("n"))
        val full = rt.crossJoin(ct).join(cells, Seq("prio", "st"), "left")
          .na.fill(0L, Seq("o"))
          .crossJoin(broadcast(n))
          .withColumn("dd",
            (col("n") * col("o") - col("rt") * col("ct")).cast("double"))
          .withColumn("term",
            col("dd") * col("dd") /
              (col("n") * col("rt") * col("ct")).cast("double"))
        val nr = rt.agg(count(lit(1)).as("nr"))
        val nc = ct.agg(count(lit(1)).as("nc"))
        full.agg(first(col("n")).as("n"),
                 array_sort(collect_list(struct(col("prio"), col("st"),
                                                col("term")))).as("cells"))
          .crossJoin(broadcast(nr)).crossJoin(broadcast(nc))
          .select(col("n"),
                  ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
                  expr("aggregate(cells, CAST(0.0 AS DOUBLE), " +
                       "(acc, c) -> acc + c.term)").as("chi2"),
                  col("nr"), col("nc"))
          .select(col("n"), col("dof"), round(col("chi2"), 6).as("chi2"),
                  round(sqrt(col("chi2") /
                    (col("n") * least(col("nr") - 1, col("nc") - 1))
                      .cast("double")), 6).as("cramers_v"))
      },
      Some("""WITH cells AS (
             |  SELECT o_orderpriority AS prio, o_orderstatus AS st,
             |         count(*) AS o
             |  FROM orders GROUP BY 1, 2),
             |rt AS (SELECT prio, CAST(sum(o) AS BIGINT) AS rt
             |       FROM cells GROUP BY prio),
             |ct AS (SELECT st, CAST(sum(o) AS BIGINT) AS ct
             |       FROM cells GROUP BY st),
             |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |fullgrid AS (
             |  SELECT rt.prio, ct.st,
             |         CAST(coalesce(cells.o, 0) AS BIGINT) AS o,
             |         rt.rt, ct.ct, n.n
             |  FROM rt CROSS JOIN ct CROSS JOIN n
             |  LEFT JOIN cells ON cells.prio = rt.prio AND cells.st = ct.st),
             |terms AS (
             |  SELECT n,
             |         CAST(n * o - rt * ct AS DOUBLE) *
             |         CAST(n * o - rt * ct AS DOUBLE) /
             |         CAST(n * rt * ct AS DOUBLE) AS term,
             |         prio, st
             |  FROM fullgrid),
             |agg AS (
             |  SELECT any_value(n) AS n,
             |         list_sum(list(term ORDER BY prio, st)) AS chi2
             |  FROM terms),
             |dims AS (SELECT (SELECT count(*) FROM rt) AS nr,
             |                (SELECT count(*) FROM ct) AS nc)
             |SELECT agg.n,
             |       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
             |       round(chi2, 6) AS chi2,
             |       round(sqrt(chi2 / CAST(agg.n * least(nr - 1, nc - 1)
             |                              AS DOUBLE)), 6) AS cramers_v
             |FROM agg CROSS JOIN dims""".stripMargin)),

    // 1-D Wasserstein-1 (earth mover) distance between the R and A price
    // distributions: W1 = ∫|F_R − F_A| dx over the empirical CDFs. The
    // integrand is piecewise-constant on the distinct-cents grid, so the
    // whole integral is the EXACT BIGINT Σ |cum_r·n_a − cum_a·n_r|·gap
    // (order-independent — safely a distributed sum), divided once at the
    // end by n_r·n_a. CDF via distributed PrefixSum; gap via rank+1
    // equi-self-join. Unit: cents.
    "agg_wasserstein_1d" -> Decl(
      (s, d) => {
        cdfGrid(s, d).crossJoin(broadcast(classTotals(s, d)))
          .agg(first(col("n_r")).as("n_r"), first(col("n_a")).as("n_a"),
               sum(abs(col("cum_r") * col("n_a") - col("cum_a") * col("n_r"))
                   * col("gap")).as("scaled"))
          .select(col("n_r"), col("n_a"),
                  round(col("scaled").cast("double") /
                        (col("n_r") * col("n_a")).cast("double"), 6)
                    .as("w1_cents"))
      },
      Some(s"""WITH $oracleGrid
             |SELECT any_value(t.n_r) AS n_r, any_value(t.n_a) AS n_a,
             |       round(CAST(CAST(sum(abs(g.cum_r * t.n_a -
             |                               g.cum_a * t.n_r) * g.gap)
             |                       AS BIGINT) AS DOUBLE) /
             |             CAST(t.n_r * t.n_a AS DOUBLE), 6) AS w1_cents
             |FROM gaps g CROSS JOIN tot t
             |GROUP BY t.n_r, t.n_a""".stripMargin)),

    // 1-D energy distance D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| between the
    // same two price distributions. Each expectation over a sorted grid
    // is an exact scaled BIGINT via the CDF identity
    // Σ|a_i − b_j| = Σ_gaps cumA·(n_b − cumB)·gap + cumB·(n_a − cumA)·gap
    // (and Σ|x−x'| = Σ 2·cum·(n − cum)·gap) — three distributed integer
    // sums off ONE PrefixSum grid, three exact divisions at the end.
    "agg_energy_distance_1d" -> Decl(
      (s, d) => {
        cdfGrid(s, d).crossJoin(broadcast(classTotals(s, d)))
          .agg(first(col("n_r")).as("n_r"), first(col("n_a")).as("n_a"),
               sum((col("cum_r") * (col("n_a") - col("cum_a")) +
                    col("cum_a") * (col("n_r") - col("cum_r")))
                   * col("gap")).as("sxy"),
               sum(lit(2L) * col("cum_r") * (col("n_r") - col("cum_r"))
                   * col("gap")).as("sxx"),
               sum(lit(2L) * col("cum_a") * (col("n_a") - col("cum_a"))
                   * col("gap")).as("syy"))
          .select(col("n_r"), col("n_a"),
                  round(lit(2.0) * col("sxy").cast("double") /
                          (col("n_r") * col("n_a")).cast("double") -
                        col("sxx").cast("double") /
                          (col("n_r") * col("n_r")).cast("double") -
                        col("syy").cast("double") /
                          (col("n_a") * col("n_a")).cast("double"), 6)
                    .as("energy_dist_cents"))
      },
      Some(s"""WITH $oracleGrid,
             |sums AS (
             |  SELECT any_value(t.n_r) AS n_r, any_value(t.n_a) AS n_a,
             |         CAST(sum((g.cum_r * (t.n_a - g.cum_a) +
             |                   g.cum_a * (t.n_r - g.cum_r)) * g.gap)
             |              AS BIGINT) AS sxy,
             |         CAST(sum(2 * g.cum_r * (t.n_r - g.cum_r) * g.gap)
             |              AS BIGINT) AS sxx,
             |         CAST(sum(2 * g.cum_a * (t.n_a - g.cum_a) * g.gap)
             |              AS BIGINT) AS syy
             |  FROM gaps g CROSS JOIN tot t
             |  GROUP BY t.n_r, t.n_a)
             |SELECT n_r, n_a,
             |       round(2.0 * CAST(sxy AS DOUBLE) /
             |               CAST(n_r * n_a AS DOUBLE) -
             |             CAST(sxx AS DOUBLE) / CAST(n_r * n_r AS DOUBLE) -
             |             CAST(syy AS DOUBLE) / CAST(n_a * n_a AS DOUBLE),
             |             6) AS energy_dist_cents
             |FROM sums""".stripMargin)),

    // Two-model uplift readout by user segment: treated = odd user_ids
    // (bit 0 set), segment = (user_id % 6) div 2,
    // outcome = user ever fired a purchase event. Rates land as EXACT ppm
    // integer divisions — no doubles anywhere, so the twin is trivially
    // hash-stable. The per-user collapse is one hash aggregation; the
    // segment rollup is 3 groups.
    "agg_uplift_by_segment" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
                 .as("conv"))
          .select(pmod(col("user_id"), lit(6L)).cast("bigint").as("m6"),
                  col("conv"))
          .select((col("m6") % 2).as("treated"),
                  expr("m6 div 2").as("segment"), col("conv"))
          .groupBy("segment")
          .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
               sum(when(col("treated") === 1, col("conv")).otherwise(0L))
                 .as("conv_t"),
               sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
               sum(when(col("treated") === 0, col("conv")).otherwise(0L))
                 .as("conv_c"))
          .select(col("segment"), col("n_t"), col("conv_t"), col("n_c"),
                  col("conv_c"),
                  (expr("(conv_t * 1000000) div n_t") -
                   expr("(conv_c * 1000000) div n_c")).as("uplift_ppm"))
          .orderBy("segment")
      },
      Some("""WITH per_user AS (
             |  SELECT user_id,
             |         CAST(max(CASE WHEN event_type = 'purchase'
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS conv
             |  FROM events GROUP BY user_id),
             |lab AS (
             |  SELECT (user_id % 6) % 2 AS treated,
             |         (user_id % 6) // 2 AS segment, conv
             |  FROM per_user)
             |SELECT CAST(segment AS BIGINT) AS segment,
             |       CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_t,
             |       CAST(sum(CASE WHEN treated = 1 THEN conv ELSE 0 END)
             |            AS BIGINT) AS conv_t,
             |       CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_c,
             |       CAST(sum(CASE WHEN treated = 0 THEN conv ELSE 0 END)
             |            AS BIGINT) AS conv_c,
             |       CAST(sum(CASE WHEN treated = 1 THEN conv ELSE 0 END)
             |            AS BIGINT) * 1000000 //
             |         CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
             |              AS BIGINT) -
             |       CAST(sum(CASE WHEN treated = 0 THEN conv ELSE 0 END)
             |            AS BIGINT) * 1000000 //
             |         CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
             |              AS BIGINT) AS uplift_ppm
             |FROM lab GROUP BY segment ORDER BY segment""".stripMargin)),

    // The 2×2 association-measure suite (odds ratio,
    // relative risk, Yule's Q, phi coefficient) over an exposure×outcome
    // table, and Cochran's Q for k = 3 paired binary treatments — both
    // exact-integer cores (ppm floor divisions / one fixed double tree),
    // no data-dependent libm anywhere.

    // 2×2 epidemiology measures: exposure = customer account balance
    // above 5000.00 (literal), outcome = the customer placed at least
    // one 1-URGENT order. The four cell counts a/b/c/d aggregate in one
    // pass; OR, RR and Yule's Q land as exact ppm BIGINTs, phi as one
    // fixed double tree (sqrt only — IEEE-exact). Per-customer collapse
    // is a co-partitioned left semi-style aggregate, linear at any SF.
    "agg_epi_2x2_measures" -> Decl(
      (s, d) => {
        val urgent = Tables(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("ck")).distinct()
        val t = Tables(s, d, "customer")
          .select(col("c_custkey").as("ck"),
                  (col("c_acctbal") > 5000.0).as("exposed"))
          .join(urgent.withColumn("outcome", lit(1L)), Seq("ck"), "left")
          .na.fill(0L, Seq("outcome"))
          .agg(
            sum(when(col("exposed") && col("outcome") === 1, 1L)
              .otherwise(0L)).as("a"),
            sum(when(col("exposed") && col("outcome") === 0, 1L)
              .otherwise(0L)).as("b"),
            sum(when(!col("exposed") && col("outcome") === 1, 1L)
              .otherwise(0L)).as("c"),
            sum(when(!col("exposed") && col("outcome") === 0, 1L)
              .otherwise(0L)).as("d"))
        t.select(col("a"), col("b"), col("c"), col("d"),
            expr("(a * d * 1000000) div nullif(b * c, 0)").as("odds_ratio_ppm"),
            expr("(a * (c + d) * 1000000) div nullif(c * (a + b), 0)")
              .as("rel_risk_ppm"),
            expr("((a * d - b * c) * 1000000) div nullif(a * d + b * c, 0)")
              .as("yule_q_ppm"),
            round((col("a") * col("d") - col("b") * col("c")).cast("double") /
                  sqrt(((col("a") + col("b")) * (col("c") + col("d")) *
                        (col("a") + col("c")) * (col("b") + col("d")))
                    .cast("double")), 6).as("phi"))
      },
      Some("""WITH urgent AS (
             |  SELECT DISTINCT o_custkey AS ck FROM orders
             |  WHERE o_orderpriority = '1-URGENT'),
             |t AS (
             |  SELECT c_acctbal > 5000.0 AS exposed,
             |         CASE WHEN urgent.ck IS NULL THEN 0 ELSE 1 END AS outcome
             |  FROM customer LEFT JOIN urgent ON urgent.ck = c_custkey),
             |cells AS (
             |  SELECT CAST(sum(CASE WHEN exposed AND outcome = 1
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |         CAST(sum(CASE WHEN exposed AND outcome = 0
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |         CAST(sum(CASE WHEN NOT exposed AND outcome = 1
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |         CAST(sum(CASE WHEN NOT exposed AND outcome = 0
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS d
             |  FROM t)
             |SELECT a, b, c, d,
             |       a * d * 1000000 // nullif(b * c, 0) AS odds_ratio_ppm,
             |       a * (c + d) * 1000000 // nullif(c * (a + b), 0)
             |         AS rel_risk_ppm,
             |       (a * d - b * c) * 1000000 // nullif(a * d + b * c, 0)
             |         AS yule_q_ppm,
             |       round(CAST(a * d - b * c AS DOUBLE) /
             |             sqrt(CAST((a + b) * (c + d) * (a + c) * (b + d)
             |                       AS DOUBLE)), 6) AS phi
             |FROM cells""".stripMargin)),

    // Cochran's Q for k = 3 paired binary treatments per user (heavy
    // clicker / heavy viewer / heavy purchaser — ≥ 14 events of the
    // type, a literal near the fixture median so the binaries genuinely
    // vary): Q = (k−1)·(k·ΣCj² −
    // (ΣCj)²) / (k·ΣRi − ΣRi²) — numerator and denominator are EXACT
    // BIGINTs (column totals Cj from one grouped pass, row-sum moments
    // ΣRi, ΣRi² from the same per-user aggregate), one double division
    // at the end. dof = k−1 = 2.
    "agg_cochran_q" -> Decl(
      (s, d) => {
        val per = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(when(sum(when(col("event_type") === "click", 1L)
                 .otherwise(0L)) >= 14, 1L).otherwise(0L).as("t1"),
               when(sum(when(col("event_type") === "view", 1L)
                 .otherwise(0L)) >= 14, 1L).otherwise(0L).as("t2"),
               when(sum(when(col("event_type") === "purchase", 1L)
                 .otherwise(0L)) >= 14, 1L).otherwise(0L).as("t3"))
        per.agg(count(lit(1)).as("n_users"),
                sum(col("t1")).as("c1"), sum(col("t2")).as("c2"),
                sum(col("t3")).as("c3"),
                sum(col("t1") + col("t2") + col("t3")).as("sr"),
                sum((col("t1") + col("t2") + col("t3")) *
                    (col("t1") + col("t2") + col("t3"))).as("sr2"))
          .select(col("n_users"), col("c1"), col("c2"), col("c3"),
            lit(2L).as("dof"),
            round(lit(2.0) *
              (lit(3L) * (col("c1") * col("c1") + col("c2") * col("c2") +
                          col("c3") * col("c3")) -
               (col("c1") + col("c2") + col("c3")) *
               (col("c1") + col("c2") + col("c3"))).cast("double") /
              nullif((lit(3L) * col("sr") - col("sr2")).cast("double"),
                     lit(0.0)), 6).as("q_stat"))
      },
      Some("""WITH per AS (
             |  SELECT user_id,
             |         CASE WHEN sum(CASE WHEN event_type = 'click'
             |                           THEN 1 ELSE 0 END) >= 14
             |              THEN 1 ELSE 0 END AS t1,
             |         CASE WHEN sum(CASE WHEN event_type = 'view'
             |                           THEN 1 ELSE 0 END) >= 14
             |              THEN 1 ELSE 0 END AS t2,
             |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
             |                           THEN 1 ELSE 0 END) >= 14
             |              THEN 1 ELSE 0 END AS t3
             |  FROM events GROUP BY user_id),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_users,
             |         CAST(sum(t1) AS BIGINT) AS c1,
             |         CAST(sum(t2) AS BIGINT) AS c2,
             |         CAST(sum(t3) AS BIGINT) AS c3,
             |         CAST(sum(t1 + t2 + t3) AS BIGINT) AS sr,
             |         CAST(sum((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT)
             |           AS sr2
             |  FROM per)
             |SELECT n_users, c1, c2, c3, CAST(2 AS BIGINT) AS dof,
             |       round(2.0 * CAST(3 * (c1 * c1 + c2 * c2 + c3 * c3) -
             |                        (c1 + c2 + c3) * (c1 + c2 + c3)
             |                        AS DOUBLE) /
             |             nullif(CAST(3 * sr - sr2 AS DOUBLE), 0.0), 6)
             |         AS q_stat
             |FROM m""".stripMargin)),

    // The Jonckheere-Terpstra ordered-alternative trend
    // test (doubled-units exact integers via ONE PrefixSum pass carrying
    // all five group CDFs), Cliff's delta effect size (same CDF-grid
    // machinery, exact ppm), Goodman-Kruskal gamma + Somers' D over the
    // bounded quantity×discount ordinal grid (domain-bounded self-join —
    // 550 cells, never corpus rows), and bivariate Mahalanobis top
    // outliers via the closed-form 2×2 covariance inverse.

    // Jonckheere-Terpstra trend across the 5 ORDERED priority groups
    // (dose = priority rank, response = order total in cents). For every
    // group pair i<j, U_ij = #{x∈G_i < y∈G_j} + ½·ties — kept exact in
    // DOUBLED units. One distributed PrefixSum pass over the cents grid
    // carries all five per-group cumulative counts, so each of the 10
    // pair sums is a plain integer aggregate over the grid rows; the
    // normal-approximation z uses the no-ties variance (labeled as such)
    // through one fixed double tree.
    "agg_jonckheere_trend" -> Decl(
      (s, d) => {
        val base = Tables(s, d, "orders")
          .select(expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
                    .as("g"),
                  expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                    .as("cents"))
        val gcols = (1 to 5).map(i =>
          sum(when(col("g") === i, 1L).otherwise(0L)).as(s"c$i"))
        val grid = base.groupBy("cents").agg(gcols.head, gcols.tail: _*)
        val cum = PrefixSum.cumsumLongs(grid, Seq(col("cents")),
          (1 to 5).map(i => (col(s"c$i"), s"u$i")))
        // doubled U_ij contribution at value v:
        //   c_j(v) · (2·(cum_i(v) − c_i(v)) + c_i(v))
        val jt = (for (i <- 1 to 5; j <- (i + 1) to 5) yield
            col(s"c$j") * (lit(2L) * (col(s"u$i") - col(s"c$i")) +
                           col(s"c$i"))
          ).reduce(_ + _)
        val moments = base.groupBy("g").agg(count(lit(1)).as("n"))
          .agg(sum(col("n")).as("nn"),
               sum(col("n") * col("n")).as("s2"),
               sum(col("n") * col("n") * (lit(2L) * col("n") + 3L))
                 .as("s23"))
        cum.agg(sum(jt).as("jt_doubled"))
          .crossJoin(broadcast(moments))
          .select(col("jt_doubled"), col("nn").as("n"),
                  ((col("nn") * col("nn") - col("s2"))).as("e_jt_doubled"),
                  round((col("jt_doubled") - (col("nn") * col("nn") -
                          col("s2"))).cast("double") / 2 /
                        sqrt((col("nn") * col("nn") *
                              (lit(2L) * col("nn") + 3L) - col("s23"))
                               .cast("double") / 72), 6).as("z_no_ties"))
      },
      Some {
        val terms = (for (i <- 1 to 5; j <- (i + 1) to 5) yield
          s"c$j * (2 * (u$i - c$i) + c$i)").mkString(" + ")
        val ccols = (1 to 5).map(i =>
          s"CAST(sum(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
          .mkString(",\n             |         ")
        val ucols = (1 to 5).map(i =>
          s"CAST(sum(c$i) OVER (ORDER BY cents) AS BIGINT) AS u$i")
          .mkString(",\n             |         ")
        s"""WITH base AS (
             |  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |grid AS (
             |  SELECT cents,
             |         $ccols
             |  FROM base GROUP BY cents),
             |cum AS (
             |  SELECT *,
             |         $ucols
             |  FROM grid),
             |jt AS (
             |  SELECT CAST(sum($terms) AS BIGINT) AS jt_doubled FROM cum),
             |m AS (
             |  SELECT CAST(sum(n) AS BIGINT) AS nn,
             |         CAST(sum(n * n) AS BIGINT) AS s2,
             |         CAST(sum(n * n * (2 * n + 3)) AS BIGINT) AS s23
             |  FROM (SELECT count(*) AS n FROM base GROUP BY g))
             |SELECT jt_doubled, nn AS n,
             |       nn * nn - s2 AS e_jt_doubled,
             |       round(CAST(jt_doubled - (nn * nn - s2) AS DOUBLE) / 2 /
             |             sqrt(CAST(nn * nn * (2 * nn + 3) - s23
             |                       AS DOUBLE) / 72), 6) AS z_no_ties
             |FROM jt CROSS JOIN m""".stripMargin
      }),

    // Cliff's delta between the R and A price distributions: δ =
    // (#(x>y) − #(x<y)) / (n_r·n_a), the dominance effect size behind
    // the Mann-Whitney U. The greater/less/tie counts come off the SAME
    // distributed CDF-grid shape as the Wasserstein key (one PrefixSum
    // pass carrying both cumulative counts) — all BIGINT, delta as an
    // exact ppm floor division.
    "agg_cliff_delta" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
                    .as("cents"),
                  col("l_returnflag").as("f"))
        val grid = li.groupBy("cents")
          .agg(sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"),
               sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"))
        val cum = PrefixSum.cumsumLongs(grid, Seq(col("cents")),
          Seq(col("cr") -> "cum_r", col("ca") -> "cum_a"))
        val tot = li.agg(
          sum(when(col("f") === "R", 1L).otherwise(0L)).as("n_r"),
          sum(when(col("f") === "A", 1L).otherwise(0L)).as("n_a"))
        cum.crossJoin(broadcast(tot))
          .agg(first(col("n_r")).as("n_r"), first(col("n_a")).as("n_a"),
               // r strictly above a at value v: a's count × r's upper tail
               sum(col("ca") * (col("n_r") - col("cum_r"))).as("gt"),
               sum(col("ca") * (col("cum_r") - col("cr"))).as("lt"),
               sum(col("ca") * col("cr")).as("ties"))
          .select(col("n_r"), col("n_a"), col("gt"), col("lt"), col("ties"),
                  expr("((gt - lt) * 1000000) div (n_r * n_a)")
                    .as("cliff_delta_ppm"))
      },
      Some("""WITH vals AS (
             |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |         l_returnflag AS f
             |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
             |tot AS (
             |  SELECT CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_r,
             |         CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_a
             |  FROM vals),
             |grid AS (
             |  SELECT cents,
             |         CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END)
             |              AS BIGINT) AS cr,
             |         CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END)
             |              AS BIGINT) AS ca
             |  FROM vals GROUP BY cents),
             |cum AS (
             |  SELECT cr, ca,
             |         CAST(sum(cr) OVER (ORDER BY cents) AS BIGINT) AS cum_r
             |  FROM grid),
             |agg AS (
             |  SELECT any_value(t.n_r) AS n_r, any_value(t.n_a) AS n_a,
             |         CAST(sum(ca * (t.n_r - cum_r)) AS BIGINT) AS gt,
             |         CAST(sum(ca * (cum_r - cr)) AS BIGINT) AS lt,
             |         CAST(sum(ca * cr) AS BIGINT) AS ties
             |  FROM cum CROSS JOIN tot t GROUP BY t.n_r, t.n_a)
             |SELECT n_r, n_a, gt, lt, ties,
             |       (gt - lt) * 1000000 // (n_r * n_a) AS cliff_delta_ppm
             |FROM agg""".stripMargin)),

    // Goodman-Kruskal gamma and Somers' D_yx over the quantity (x, ≤50
    // values) × discount-percent (y, 11 values) ordinal grid. Concordant
    // / discordant / tie pair counts come from a DOMAIN-BOUNDED
    // self-join over ≤550 cells (the grid saturates with the value
    // domains, never with corpus rows) plus margin aggregates — every
    // count an exact BIGINT, both measures exact ppm.
    "agg_gamma_somers_d" -> Decl(
      (s, d) => {
        val cells = Tables(s, d, "lineitem")
          .groupBy(col("l_quantity").cast("bigint").as("q"),
                   expr("CAST(round(l_discount * 100) AS BIGINT)").as("dc"))
          .agg(count(lit(1)).as("m"))
        val cd = cells.as("a")
          .join(cells.as("b"), col("b.q") > col("a.q") &&
                               col("b.dc") =!= col("a.dc"))
          .agg(sum(when(col("b.dc") > col("a.dc"),
                        col("a.m") * col("b.m")).otherwise(0L)).as("conc"),
               sum(when(col("b.dc") < col("a.dc"),
                        col("a.m") * col("b.m")).otherwise(0L)).as("disc"))
        val margins = cells.agg(sum(col("m")).as("n"))
        val rowt = cells.groupBy("q").agg(sum(col("m")).as("nr"))
          .agg(sum(expr("nr * (nr - 1) div 2")).as("t_x"))
        cd.crossJoin(broadcast(margins)).crossJoin(broadcast(rowt))
          .select(col("conc"), col("disc"),
                  expr("n * (n - 1) div 2").as("pairs"),
                  col("t_x"),
                  expr("((conc - disc) * 1000000) div (conc + disc)")
                    .as("gamma_ppm"),
                  expr("((conc - disc) * 1000000) div " +
                       "(n * (n - 1) div 2 - t_x)").as("somers_dyx_ppm"))
      },
      Some("""WITH cells AS (
             |  SELECT CAST(l_quantity AS BIGINT) AS q,
             |         CAST(round(l_discount * 100) AS BIGINT) AS dc,
             |         count(*) AS m
             |  FROM lineitem GROUP BY 1, 2),
             |cd AS (
             |  SELECT CAST(sum(CASE WHEN b.dc > a.dc THEN a.m * b.m
             |                       ELSE 0 END) AS BIGINT) AS conc,
             |         CAST(sum(CASE WHEN b.dc < a.dc THEN a.m * b.m
             |                       ELSE 0 END) AS BIGINT) AS disc
             |  FROM cells a JOIN cells b
             |    ON b.q > a.q AND b.dc <> a.dc),
             |m AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM cells),
             |rt AS (SELECT CAST(sum(nr * (nr - 1) // 2) AS BIGINT) AS t_x
             |       FROM (SELECT CAST(sum(m) AS BIGINT) AS nr
             |             FROM cells GROUP BY q))
             |SELECT conc, disc,
             |       n * (n - 1) // 2 AS pairs, t_x,
             |       (conc - disc) * 1000000 // (conc + disc) AS gamma_ppm,
             |       (conc - disc) * 1000000 // (n * (n - 1) // 2 - t_x)
             |         AS somers_dyx_ppm
             |FROM cd CROSS JOIN m CROSS JOIN rt""".stripMargin)),

    // Bivariate Mahalanobis top-10 outliers on (quantity, whole-dollar
    // price): the 2×2 covariance inverts in closed form, so d² per row
    // is ONE fixed double tree over exact integer sums (n, Σx, Σy, Σx²,
    // Σy², Σxy all BIGINT — dollars, not cents, keep Σy² < 2⁶³ at every
    // probed SF). The moments broadcast onto the scan; top-10 is a
    // bounded heap (orderBy+limit), tie-broken by key for determinism.
    "agg_mahalanobis_top_outliers" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("l_quantity").cast("bigint").as("x"),
                  expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
        val mo = li.agg(count(lit(1)).as("n"),
                        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
                        sum(col("x") * col("x")).as("sxx"),
                        sum(col("y") * col("y")).as("syy"),
                        sum(col("x") * col("y")).as("sxy"))
        li.crossJoin(broadcast(mo))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("vx", col("sxx").cast("double") / col("nd") -
            col("sx").cast("double") * col("sx") / col("nd") / col("nd"))
          .withColumn("vy", col("syy").cast("double") / col("nd") -
            col("sy").cast("double") * col("sy") / col("nd") / col("nd"))
          .withColumn("cxy", col("sxy").cast("double") / col("nd") -
            col("sx").cast("double") * col("sy") / col("nd") / col("nd"))
          .withColumn("dx", col("x").cast("double") -
            col("sx").cast("double") / col("nd"))
          .withColumn("dy", col("y").cast("double") -
            col("sy").cast("double") / col("nd"))
          .withColumn("d2",
            (col("vy") * col("dx") * col("dx") -
             lit(2.0) * col("cxy") * col("dx") * col("dy") +
             col("vx") * col("dy") * col("dy")) /
            (col("vx") * col("vy") - col("cxy") * col("cxy")))
          .select(col("l_orderkey"), col("l_linenumber"), col("x"),
                  col("y"), round(col("d2"), 6).as("d2"))
          .orderBy(col("d2").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(10)
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_linenumber,
             |         CAST(l_quantity AS BIGINT) AS x,
             |         CAST(round(l_extendedprice) AS BIGINT) AS y
             |  FROM lineitem),
             |mo AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx,
             |         CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx,
             |         CAST(sum(y * y) AS BIGINT) AS syy,
             |         CAST(sum(x * y) AS BIGINT) AS sxy
             |  FROM li),
             |sc AS (
             |  SELECT li.*, CAST(n AS DOUBLE) AS nd,
             |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             |         CAST(sxx AS DOUBLE) AS sxxd,
             |         CAST(syy AS DOUBLE) AS syyd,
             |         CAST(sxy AS DOUBLE) AS sxyd
             |  FROM li CROSS JOIN mo),
             |dd AS (
             |  SELECT l_orderkey, l_linenumber, x, y,
             |         sxxd / nd - sxd * sxd / nd / nd AS vx,
             |         syyd / nd - syd * syd / nd / nd AS vy,
             |         sxyd / nd - sxd * syd / nd / nd AS cxy,
             |         CAST(x AS DOUBLE) - sxd / nd AS dx,
             |         CAST(y AS DOUBLE) - syd / nd AS dy
             |  FROM sc)
             |SELECT l_orderkey, l_linenumber, x, y,
             |       round((vy * dx * dx - 2.0 * cxy * dx * dy +
             |              vx * dy * dy) /
             |             (vx * vy - cxy * cxy), 6) AS d2
             |FROM dd
             |ORDER BY d2 DESC, l_orderkey, l_linenumber
             |LIMIT 10""".stripMargin)),

    // Cook's-distance top influencers and the
    // Goldfeld-Quandt heteroscedasticity ratio for the quantity→price
    // regression (every SSE comes from EXACT integer moment sums through
    // one fixed double tree — no distributed sum of per-row double
    // residuals anywhere), and Page's L trend test over day-blocks ×
    // event-type treatments in exact doubled-rank integers.

    // Cook's distance top-10 for OLS price~quantity: leverage h_i and
    // residual e_i are per-row fixed double trees over the broadcast
    // integer moments (n, Σx, Σy, Σxx, Σyy, Σxy); s² = (S_yy − b·S_xy)/
    // (n−2) comes from the same moments, so NO corpus-sized double sum
    // exists in the plan. D_i = e_i²·h_i / (p·s²·(1−h_i)²), p = 2.
    "agg_cooks_distance_top" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("l_quantity").cast("bigint").as("x"),
                  expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
        val mo = li.agg(count(lit(1)).as("n"),
                        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
                        sum(col("x") * col("x")).as("sxx"),
                        sum(col("y") * col("y")).as("syy"),
                        sum(col("x") * col("y")).as("sxy"))
        li.crossJoin(broadcast(mo))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("sxc", col("sxx").cast("double") -
            col("sx").cast("double") * col("sx") / col("nd"))
          .withColumn("b", (col("sxy").cast("double") -
            col("sx").cast("double") * col("sy") / col("nd")) / col("sxc"))
          .withColumn("a", col("sy").cast("double") / col("nd") -
            col("b") * col("sx") / col("nd"))
          .withColumn("s2", ((col("syy").cast("double") -
              col("sy").cast("double") * col("sy") / col("nd")) -
            col("b") * (col("sxy").cast("double") -
              col("sx").cast("double") * col("sy") / col("nd"))) /
            (col("nd") - 2))
          .withColumn("e", col("y").cast("double") - col("a") -
            col("b") * col("x").cast("double"))
          .withColumn("h", lit(1.0) / col("nd") +
            (col("x").cast("double") - col("sx").cast("double") / col("nd")) *
            (col("x").cast("double") - col("sx").cast("double") / col("nd")) /
            col("sxc"))
          .withColumn("cooks", col("e") * col("e") * col("h") /
            (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
             (lit(1.0) - col("h"))))
          .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
                  round(col("cooks"), 6).as("cooks_d"))
          .orderBy(col("cooks_d").desc, col("l_orderkey"),
                   col("l_linenumber"))
          .limit(10)
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_linenumber,
             |         CAST(l_quantity AS BIGINT) AS x,
             |         CAST(round(l_extendedprice) AS BIGINT) AS y
             |  FROM lineitem),
             |mo AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx,
             |         CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx,
             |         CAST(sum(y * y) AS BIGINT) AS syy,
             |         CAST(sum(x * y) AS BIGINT) AS sxy
             |  FROM li),
             |sc AS (
             |  SELECT li.*, CAST(n AS DOUBLE) AS nd,
             |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             |         CAST(sxx AS DOUBLE) AS sxxd,
             |         CAST(syy AS DOUBLE) AS syyd,
             |         CAST(sxy AS DOUBLE) AS sxyd
             |  FROM li CROSS JOIN mo),
             |reg AS (
             |  SELECT *, sxxd - sxd * sxd / nd AS sxc,
             |         (sxyd - sxd * syd / nd) / (sxxd - sxd * sxd / nd) AS b
             |  FROM sc),
             |reg2 AS (
             |  SELECT *, syd / nd - b * sxd / nd AS a,
             |         ((syyd - syd * syd / nd) -
             |          b * (sxyd - sxd * syd / nd)) / (nd - 2) AS s2
             |  FROM reg),
             |dd AS (
             |  SELECT l_orderkey, l_linenumber, x, y,
             |         CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE) AS e,
             |         1.0 / nd + (CAST(x AS DOUBLE) - sxd / nd) *
             |                    (CAST(x AS DOUBLE) - sxd / nd) / sxc AS h,
             |         s2
             |  FROM reg2)
             |SELECT l_orderkey, l_linenumber, x, y,
             |       round(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)),
             |             6) AS cooks_d
             |FROM dd
             |ORDER BY cooks_d DESC, l_orderkey, l_linenumber
             |LIMIT 10""".stripMargin)),

    // Goldfeld-Quandt heteroscedasticity ratio: fit price~quantity
    // separately on the low-quantity (x ≤ 25) and high-quantity halves;
    // F = s²_high / s²_low with each SSE from that half's EXACT integer
    // moments (S_yy − b·S_xy — one fixed tree per half, no residual
    // sums). The literal split point keeps both engines byte-identical.
    "agg_goldfeld_quandt" -> Decl(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select((col("l_quantity") > 25.0).as("hi"),
                  col("l_quantity").cast("bigint").as("x"),
                  expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
        li.groupBy("hi")
          .agg(count(lit(1)).as("n"),
               sum(col("x")).as("sx"), sum(col("y")).as("sy"),
               sum(col("x") * col("x")).as("sxx"),
               sum(col("y") * col("y")).as("syy"),
               sum(col("x") * col("y")).as("sxy"))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("sse", (col("syy").cast("double") -
              col("sy").cast("double") * col("sy") / col("nd")) -
            (col("sxy").cast("double") -
              col("sx").cast("double") * col("sy") / col("nd")) *
            (col("sxy").cast("double") -
              col("sx").cast("double") * col("sy") / col("nd")) /
            (col("sxx").cast("double") -
              col("sx").cast("double") * col("sx") / col("nd")))
          .agg(max(when(col("hi"), col("n"))).as("n_hi"),
               max(when(!col("hi"), col("n"))).as("n_lo"),
               max(when(col("hi"), col("sse"))).as("sse_hi"),
               max(when(!col("hi"), col("sse"))).as("sse_lo"))
          .select(col("n_hi"), col("n_lo"),
                  round(col("sse_hi"), 4).as("sse_hi"),
                  round(col("sse_lo"), 4).as("sse_lo"),
                  round((col("sse_hi") / (col("n_hi") - 2)) /
                        (col("sse_lo") / (col("n_lo") - 2)), 6)
                    .as("f_ratio"))
      },
      Some("""WITH li AS (
             |  SELECT l_quantity > 25.0 AS hi,
             |         CAST(l_quantity AS BIGINT) AS x,
             |         CAST(round(l_extendedprice) AS BIGINT) AS y
             |  FROM lineitem),
             |mo AS (
             |  SELECT hi, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx,
             |         CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx,
             |         CAST(sum(y * y) AS BIGINT) AS syy,
             |         CAST(sum(x * y) AS BIGINT) AS sxy
             |  FROM li GROUP BY hi),
             |sse AS (
             |  SELECT hi, n,
             |         (CAST(syy AS DOUBLE) -
             |          CAST(sy AS DOUBLE) * sy / CAST(n AS DOUBLE)) -
             |         (CAST(sxy AS DOUBLE) -
             |          CAST(sx AS DOUBLE) * sy / CAST(n AS DOUBLE)) *
             |         (CAST(sxy AS DOUBLE) -
             |          CAST(sx AS DOUBLE) * sy / CAST(n AS DOUBLE)) /
             |         (CAST(sxx AS DOUBLE) -
             |          CAST(sx AS DOUBLE) * sx / CAST(n AS DOUBLE)) AS sse
             |  FROM mo)
             |SELECT max(CASE WHEN hi THEN n END) AS n_hi,
             |       max(CASE WHEN NOT hi THEN n END) AS n_lo,
             |       round(max(CASE WHEN hi THEN sse END), 4) AS sse_hi,
             |       round(max(CASE WHEN NOT hi THEN sse END), 4) AS sse_lo,
             |       round((max(CASE WHEN hi THEN sse END) /
             |              (max(CASE WHEN hi THEN n END) - 2)) /
             |             (max(CASE WHEN NOT hi THEN sse END) /
             |              (max(CASE WHEN NOT hi THEN n END) - 2)), 6)
             |         AS f_ratio
             |FROM sse""".stripMargin)),

    // Page's L trend test: blocks = calendar days, treatments = the 5
    // event types in FIXED alphabetical order 1..5; within each day the
    // types are ranked by event count (DOUBLED ranks — the repo's exact
    // tie idiom, computed by a bounded 5×5 per-day census join); L₂ =
    // Σ_j j·R₂_j. E[L] and the no-ties variance close the z through one
    // fixed double tree. Everything until z is an exact BIGINT.
    "ts_page_trend_test" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
                   col("event_type"))
          .agg(count(lit(1)).as("c"))
        val ranked = daily.as("a")
          .join(daily.as("b"), col("a.day") === col("b.day"))
          .groupBy(col("a.day").as("day"),
                   col("a.event_type").as("event_type"))
          .agg((sum(when(col("b.c") < col("a.c"), 2L)
                 .when(col("b.c") === col("a.c"), 1L).otherwise(0L)) + 1L)
                 .as("r2"))
        val tIdx = typedLit(Seq("click", "error", "purchase", "signup",
                                "view"))
        val rj = ranked
          .withColumn("j",
            (array_position(tIdx, col("event_type"))).cast("bigint"))
          .groupBy("j").agg(sum(col("r2")).as("r2j"),
                            count(lit(1)).as("b_days"))
        rj.agg(sum(col("j") * col("r2j")).as("l2"),
               max(col("b_days")).as("b"),
               count(lit(1)).as("k"))
          .select(col("l2"), col("b"), col("k"),
                  expr("b * k * (k + 1) * (k + 1) div 2").as("e_l2"),
                  round((col("l2") - col("b") * col("k") * (col("k") + 1) *
                          (col("k") + 1) / 2).cast("double") / 2 /
                        sqrt((col("b").cast("double") * col("k") * col("k") *
                              (col("k") + 1) *
                              (col("k") * col("k") - 1)) / 144), 6)
                    .as("z_no_ties"))
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |         event_type, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |ranked AS (
             |  SELECT a.day, a.event_type,
             |         CAST(sum(CASE WHEN b.c < a.c THEN 2
             |                       WHEN b.c = a.c THEN 1
             |                       ELSE 0 END) + 1 AS BIGINT) AS r2
             |  FROM daily a JOIN daily b ON a.day = b.day
             |  GROUP BY a.day, a.event_type),
             |rj AS (
             |  SELECT CASE event_type
             |           WHEN 'click' THEN 1 WHEN 'error' THEN 2
             |           WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
             |           WHEN 'view' THEN 5 END AS j,
             |         CAST(sum(r2) AS BIGINT) AS r2j,
             |         CAST(count(*) AS BIGINT) AS b_days
             |  FROM ranked GROUP BY 1),
             |agg AS (
             |  SELECT CAST(sum(j * r2j) AS BIGINT) AS l2,
             |         CAST(max(b_days) AS BIGINT) AS b,
             |         CAST(count(*) AS BIGINT) AS k
             |  FROM rj)
             |SELECT l2, b, k,
             |       b * k * (k + 1) * (k + 1) // 2 AS e_l2,
             |       round(CAST(l2 - b * k * (k + 1) * (k + 1) // 2
             |                  AS DOUBLE) / 2 /
             |             sqrt(CAST(b AS DOUBLE) * k * k * (k + 1) *
             |                  (k * k - 1) / 144), 6) AS z_no_ties
             |FROM agg""".stripMargin)),

    // Quade's weighted block-design test (the
    // range-weighted Friedman companion) over day-blocks × event-type
    // treatments — every score an exact QUARTER-UNIT integer (doubled
    // within-block ranks × doubled across-block range ranks), so
    // A, B and the F statistic reduce to one double division.

    // Blocks = calendar days, treatments = the 5 event types. Within
    // each day the treatments get DOUBLED ranks by count (5×5 bounded
    // census); each day gets a DOUBLED rank of its count RANGE across
    // days (calendar×calendar census, ≤ b² with b = days). The
    // quarter-unit score s₄ = q₂·(r₂ − (k+1)) keeps A = Σs², B = Σ_j S_j²/b
    // exact: F = (b−1)·ΣS₄_j² / (b·ΣΣs₄² − ΣS₄_j²).
    "agg_quade_test" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
                   col("event_type"))
          .agg(count(lit(1)).as("c"))
        val r2 = daily.as("a")
          .join(daily.as("b"), col("a.day") === col("b.day"))
          .groupBy(col("a.day").as("day"),
                   col("a.event_type").as("event_type"))
          .agg((sum(when(col("b.c") < col("a.c"), 2L)
                 .when(col("b.c") === col("a.c"), 1L).otherwise(0L)) + 1L)
                 .as("r2"))
        val rng = daily.groupBy("day")
          .agg((max(col("c")) - min(col("c"))).as("rng"))
        val q2 = rng.as("a")
          .join(rng.as("b"), lit(true))
          .groupBy(col("a.day").as("day"))
          .agg((sum(when(col("b.rng") < col("a.rng"), 2L)
                 .when(col("b.rng") === col("a.rng"), 1L).otherwise(0L))
                 + 1L).as("q2"))
        val s4 = r2.join(q2, "day")
          .select(col("event_type"),
                  (col("q2") * (col("r2") - 6L)).as("s4"))
        val a16 = s4.agg(sum(col("s4") * col("s4")).as("a16"),
                         countDistinct(col("event_type")).as("k"))
        val b16 = s4.groupBy("event_type").agg(sum(col("s4")).as("s4j"))
          .agg(sum(col("s4j") * col("s4j")).as("b16"),
               count(lit(1)).as("k2"))
        val bb = rng.agg(count(lit(1)).as("b"))
        a16.crossJoin(broadcast(b16)).crossJoin(broadcast(bb))
          .select(col("b"), col("k"), col("a16"), col("b16"),
                  round((col("b") - 1).cast("double") * col("b16") /
                        (col("b") * col("a16") - col("b16")).cast("double"),
                        6).as("f_quade"))
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |         event_type, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |r2 AS (
             |  SELECT a.day, a.event_type,
             |         CAST(sum(CASE WHEN b.c < a.c THEN 2
             |                       WHEN b.c = a.c THEN 1
             |                       ELSE 0 END) + 1 AS BIGINT) AS r2
             |  FROM daily a JOIN daily b ON a.day = b.day
             |  GROUP BY a.day, a.event_type),
             |rng AS (
             |  SELECT day, CAST(max(c) - min(c) AS BIGINT) AS rng
             |  FROM daily GROUP BY day),
             |q2 AS (
             |  SELECT a.day,
             |         CAST(sum(CASE WHEN b.rng < a.rng THEN 2
             |                       WHEN b.rng = a.rng THEN 1
             |                       ELSE 0 END) + 1 AS BIGINT) AS q2
             |  FROM rng a CROSS JOIN rng b
             |  GROUP BY a.day),
             |s4 AS (
             |  SELECT r2.event_type, q2.q2 * (r2.r2 - 6) AS s4
             |  FROM r2 JOIN q2 USING (day)),
             |a16 AS (
             |  SELECT CAST(sum(s4 * s4) AS BIGINT) AS a16,
             |         CAST(count(DISTINCT event_type) AS BIGINT) AS k
             |  FROM s4),
             |b16 AS (
             |  SELECT CAST(sum(s4j * s4j) AS BIGINT) AS b16
             |  FROM (SELECT CAST(sum(s4) AS BIGINT) AS s4j
             |        FROM s4 GROUP BY event_type)),
             |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM rng)
             |SELECT b, k, a16, b16,
             |       round(CAST(b - 1 AS DOUBLE) * b16 /
             |             CAST(b * a16 - b16 AS DOUBLE), 6) AS f_quade
             |FROM a16 CROSS JOIN b16 CROSS JOIN bb""".stripMargin)),

    // Herfindahl-Hirschman concentration per nation,
    // and score-calibration metrics (Brier score, expected calibration
    // error, decile lift) over a deterministic md5-derived model score —
    // every numerator an exact BIGINT, one division per output.

    // HHI per nation over supplier revenue shares (KILOdollars keep
    // Σd²·10⁶ inside BIGINT at every probed SF — whole dollars overflow
    // already at sf0.001): hhi_ppm = Σd²·10⁶ div (Σd)²
    // — 10 000 ppm = the antitrust "10 equal firms" line. One join, one
    // grouped pass, 25 output rows.
    "agg_herfindahl_hhi" -> Decl(
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(expr("CAST(round(l_extendedprice / 1000) AS BIGINT)"))
                 .as("dol"))
        rev.join(Tables(s, d, "supplier"),
                 col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables(s, d, "nation")),
                col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_suppliers"),
               sum(col("dol")).as("tot"),
               sum(col("dol") * col("dol")).as("sq"))
          .select(col("n_name"), col("n_suppliers"),
                  expr("(sq * 1000000) div (tot * tot)").as("hhi_ppm"))
          .orderBy("n_name")
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |         CAST(sum(CAST(round(l_extendedprice / 1000) AS BIGINT))
             |              AS BIGINT) AS dol
             |  FROM lineitem GROUP BY l_suppkey)
             |SELECT n_name,
             |       CAST(count(*) AS BIGINT) AS n_suppliers,
             |       CAST(sum(dol * dol) AS BIGINT) * 1000000 //
             |         (CAST(sum(dol) AS BIGINT) * CAST(sum(dol) AS BIGINT))
             |         AS hhi_ppm
             |FROM rev
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Brier score and 10-bin expected calibration error for the hash
    // score against the purchase outcome. Brier = Σ(k − 1000y)² /
    // (10⁶·N) and ECE = Σ_b |1000·Σy_b − Σk_b| / (1000·N) — BOTH
    // numerators exact BIGINTs (k ∈ [0,1000), y ∈ {0,1}), so each
    // metric is one final division.
    "agg_brier_ece" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(score1000.as("k"),
                  when(col("event_type") === "purchase", 1L).otherwise(0L)
                    .as("y"))
        val bins = ev.groupBy(expr("k div 100").as("bin"))
          .agg(count(lit(1)).as("n_b"), sum(col("y")).as("sy"),
               sum(col("k")).as("sk"))
        bins.agg(sum(col("n_b")).as("n"),
                 sum(abs(lit(1000L) * col("sy") - col("sk"))).as("ece_num"))
          .crossJoin(broadcast(
            ev.agg(sum((col("k") - lit(1000L) * col("y")) *
                       (col("k") - lit(1000L) * col("y"))).as("brier_num"))))
          .select(col("n"),
                  round(col("brier_num").cast("double") /
                        (lit(1000000.0) * col("n")), 6).as("brier"),
                  round(col("ece_num").cast("double") /
                        (lit(1000.0) * col("n")), 6).as("ece_10bin"))
      },
      Some(s"""WITH ev AS (
             |  SELECT $oracleScore AS k,
             |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |           AS y
             |  FROM events),
             |bins AS (
             |  SELECT k // 100 AS bin, CAST(count(*) AS BIGINT) AS n_b,
             |         CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(k) AS BIGINT) AS sk
             |  FROM ev GROUP BY 1),
             |b AS (SELECT CAST(sum((k - 1000 * y) * (k - 1000 * y))
             |                  AS BIGINT) AS brier_num FROM ev)
             |SELECT CAST(sum(n_b) AS BIGINT) AS n,
             |       round(CAST(any_value(brier_num) AS DOUBLE) /
             |             (1000000.0 * sum(n_b)), 6) AS brier,
             |       round(CAST(sum(abs(1000 * sy - sk)) AS DOUBLE) /
             |             (1000.0 * sum(n_b)), 6) AS ece_10bin
             |FROM bins CROSS JOIN b""".stripMargin)),

    // Decile lift curve: events bucketed by hash-score decile; lift of
    // decile d = conversion-rate(d) / overall rate, exact ppm via
    // conv_d·N·10⁶ div (n_d·conv). The classic model-eval table, 10
    // bounded rows.
    "agg_lift_curve_decile" -> Decl(
      (s, d) => {
        val evBase = Tables.events(s, d)
          .select(score1000.as("k"),
                  when(col("event_type") === "purchase", 1L).otherwise(0L)
                    .as("y"))
        val byD = evBase.groupBy(expr("k div 100").as("decile"))
          .agg(count(lit(1)).as("n_d"), sum(col("y")).as("conv_d"))
        val tot = byD.agg(sum(col("n_d")).as("n"),
                          sum(col("conv_d")).as("conv"))
        byD.crossJoin(broadcast(tot))
          .select(col("decile"), col("n_d"), col("conv_d"),
                  expr("(conv_d * 1000000) div n_d").as("rate_ppm"),
                  expr("(conv_d * n * 1000000) div (n_d * conv)")
                    .as("lift_ppm"))
          .orderBy("decile")
      },
      Some(s"""WITH ev AS (
             |  SELECT ($oracleScore) // 100 AS decile,
             |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |           AS y
             |  FROM events),
             |byd AS (
             |  SELECT decile, CAST(count(*) AS BIGINT) AS n_d,
             |         CAST(sum(y) AS BIGINT) AS conv_d
             |  FROM ev GROUP BY decile),
             |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n,
             |               CAST(sum(conv_d) AS BIGINT) AS conv FROM byd)
             |SELECT decile, n_d, conv_d,
             |       conv_d * 1000000 // n_d AS rate_ppm,
             |       conv_d * n * 1000000 // (n_d * conv) AS lift_ppm
             |FROM byd CROSS JOIN tot ORDER BY decile""".stripMargin))
  )
}
